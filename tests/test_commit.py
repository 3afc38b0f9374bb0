"""The table commit record (``pathio.commit``): a replaced or grown table
is data written under new names — generation directories, or files below
partition directories — and ``_live.json``, written last, names the live
ones relative to the table root.

The CDC replicator, resumable-migrate and export-sink tests are collected
here a second time, with ``commit_mode`` set to ``hadoop`` (``file://``
URIs, the ``file`` scheme routed through HadoopPathIO) and ``norename``
(``os.replace``/``os.rename`` raise for any directory argument); their own
modules run them with bare local paths. The bucketed-table suites (the
components maintainer, the rollup/SCD2 upsert, compaction) run again in
``norename`` mode only: they read and write with in-process pyarrow and
``os`` calls, which need a local disk.
"""

from __future__ import annotations

import functools
import os
import re
import shutil

import pytest

import test_components_stage as cs
import test_migrate as mg
import test_round3_ops as r3
import test_streaming_cdc as sc
from scylla_migrator_spark import pathio
from test_export_swap import test_crash_removing_previous_export_leaves_complete_export  # noqa: F401
from test_savepoints import (  # noqa: F401
    test_fresh_resumable_reread_matches_fresh_read,
    test_migrate_resumable_chunk_committed_but_savepoint_lagging,
    test_migrate_resumable_crash_in_chunk_commit_loses_nothing,
    test_migrate_resumable_infers_source_schema_once,
    test_migrate_resumable_survives_interruption,
    test_resumable_reread_infers_outside_a_fresh_flat_run,
    test_validate_repairs_a_resumable_target_by_commit,
)
from test_streaming_cdc import (  # noqa: F401
    test_crash_between_swap_renames_loses_nothing,
    test_empty_batch_records_no_counts,
    test_op_counts_observed_and_unknown_op_recounted,
    test_remove_deletes_key,
    test_replay_is_idempotent,
    test_schema_drift_rejected_when_disabled,
    test_schema_drift_survives_replicator_restart,
    test_schema_drift_tolerant_upserts,
    test_second_drain_reads_pinned_schema,
    test_stream_replay_matches_batch_state,
    test_torn_staging_write_is_ignored,
    test_unreadable_state_raises,
)


def _norename(test):
    """``test`` collected again with directory renames refused."""

    @functools.wraps(test)
    def run(*args, **kwargs):
        return test(*args, **kwargs)

    run = pytest.mark.parametrize("commit_mode", ["norename"])(run)
    return pytest.mark.usefixtures("table_path")(run)


for _test in (
    cs.test_crash_in_commit_leaves_one_generation,
    cs.test_compact_components_stage_folds_journal,
    cs.test_retract_oversized_component_stays_distributed,
    cs.test_replayed_batch_is_idempotent,
    cs.test_missing_stage_raises_and_rebuilds,
    cs.test_rebuild_crash_never_pins_new_geometry_on_old_keys,
    cs.test_distributed_upsert_matches_local_path,
    cs.test_spark_and_in_process_branches_agree,
    sc.test_upsert_crash_in_commit_leaves_one_generation,
    sc.test_upsert_rewrites_only_affected_buckets,
    sc.test_upsert_replay_is_idempotent,
    r3.test_incremental_scd2_matches_batch,
    mg.test_compact_parquet_merges_small_files,
    mg.test_compact_parquet_preserves_partitioned_layout,
    mg.test_compact_bucketed_crash_in_commit_leaves_one_table,
):
    globals()[_test.__name__] = _norename(_test)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scylla_migrator_spark")


@pytest.fixture(params=["hadoop", "norename"])
def commit_mode(request) -> str:
    return request.param


@pytest.fixture(params=["local", "memory", "hadoop"])
def table_root(request, spark, tmp_path):
    if request.param == "memory":
        yield "memory://commit-test/t"
        pathio.MemoryPathIO.reset("commit-test")
    elif request.param == "hadoop":
        pathio.register_pathio("file", pathio.HadoopPathIO(spark))
        yield f"file:{tmp_path}/t"
        pathio.register_pathio("file", None)
    else:
        yield str(tmp_path / "t")


def test_commit_sweeps_all_but_live_and_underscore_entries(table_root):
    io = pathio.for_path(table_root)
    assert pathio.live_names(table_root) is None
    assert pathio.live_paths(table_root) == [table_root]
    for gen in ("g-1", "g-2"):
        io.create_directories(io.join(table_root, f"{gen}/sub"))
        io.write_utf8_atomically(io.join(table_root, f"{gen}/sub/part.parquet"), b"x")
    io.write_utf8_atomically(io.join(table_root, "_meta.json"), b"{}")

    pathio.commit(table_root, ["g-2"])
    assert sorted(io.list_file_names(table_root)) == ["_live.json", "_meta.json", "g-2"]
    assert pathio.live_names(table_root) == ["g-2"]
    assert pathio.live_paths(table_root) == [io.join(table_root, "g-2")]
    files = io.list_files(pathio.live_paths(table_root)[0])
    assert [f.rsplit("/", 2)[-2:] for f in files] == [["sub", "part.parquet"]]
    io.delete(table_root)
    assert not io.exists(table_root)
    io.delete(table_root)  # absent: a no-op


def test_record_names_files_below_partitions(table_root):
    """A record may name data files below partition directories, with a
    small ``meta``. The sweep deletes the files it does not name and every
    directory left without a live entry (a dropped partition, a crashed
    write's ``_temporary``), and keeps the ``_`` files at any depth."""
    io = pathio.for_path(table_root)
    for rel in (
        "b=1/old.parquet",
        "b=1/new.parquet",
        "b=2/old.parquet",
        "_sub/k=1/new.parquet",
        "_sub/_pin.json",
        "_temporary/0/part.parquet",
        "_pin.json",
    ):
        path = io.join(table_root, rel)
        io.create_directories(path.rsplit("/", 1)[0])
        io.write_utf8_atomically(path, b"x")
    assert pathio.unnamed_files(table_root) == [
        "_sub/k=1/new.parquet", "b=1/new.parquet", "b=1/old.parquet", "b=2/old.parquet"
    ]
    live = ["b=1/new.parquet", "_sub/k=1/new.parquet"]
    pathio.commit(table_root, live, {"applied": {"batch_id": 3}})
    assert pathio.record(table_root) == {"live": live, "meta": {"applied": {"batch_id": 3}}}
    base = io.normalize(table_root).rstrip("/") + "/"
    left = sorted(f[len(base) :] for f in io.list_files(table_root))
    assert [f for f in left if not f.rsplit("/", 1)[-1].startswith(".")] == [
        "_live.json", "_pin.json", "_sub/_pin.json", *sorted(live)
    ]
    assert pathio.unnamed_files(table_root) == []


def test_sweep_keeps_the_checksums_of_live_files(tmp_path):
    """A Hadoop local write leaves a ``.<name>.crc`` beside each file: the
    sweep keeps those of the files that stay and deletes the others."""
    root = tmp_path / "t"
    (root / "b=1").mkdir(parents=True)
    for name in ("old.parquet", ".old.parquet.crc", "new.parquet", ".new.parquet.crc"):
        (root / "b=1" / name).write_bytes(b"x")
    pathio.commit(str(root), ["b=1/new.parquet"])
    assert sorted(os.listdir(root / "b=1")) == [".new.parquet.crc", "new.parquet"]


def test_record_names_generations_relative_to_the_root(tmp_path):
    """A copied table reads its own generations (perfbench copies the CDC
    state with ``shutil.copytree``)."""
    root = str(tmp_path / "t")
    with pathio.generation(root) as gen:
        os.makedirs(gen)
    copy = shutil.copytree(root, str(tmp_path / "copy"))
    assert pathio.live_paths(copy) == [os.path.join(copy, os.path.basename(gen))]


def test_failed_generation_write_is_deleted(tmp_path):
    root = str(tmp_path / "t")
    with pytest.raises(RuntimeError):
        with pathio.generation(root) as gen:
            os.makedirs(gen)
            raise RuntimeError("write failed")
    assert not os.path.exists(root)  # a failed first write leaves no table


def test_cdc_replicator_drains_two_batches_on_file_uri(spark, tmp_path):
    from scylla_migrator_spark.streaming.cdc import CdcReplicator

    log = str(tmp_path / "log")
    schema = "user_id long, ts long, event_id long, op string, value double"
    for rows in ([(1, 1, 1, "INSERT", 1.0)], [(1, 2, 2, "MODIFY", 2.0), (2, 2, 3, "INSERT", 3.0)]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(log)
    rep = CdcReplicator(f"file://{tmp_path}/state", ["user_id"], ["value"])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(log)
    rep.attach(stream, checkpoint=str(tmp_path / "ckpt")).awaitTermination(120)
    assert len(rep.metrics) == 2
    assert sorted(tuple(r) for r in rep.current(spark).select("user_id", "value").collect()) == [
        (1, 2.0),
        (2, 3.0),
    ]


def test_migrate_resumable_file_uri_migrates_every_row(spark, tmp_path):
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate_resumable

    spark.range(0, 90).selectExpr("id", "id * 2 AS v").repartition(3).write.parquet(
        str(tmp_path / "src")
    )
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"file://{tmp_path}/src"},
            "target": {"type": "parquet", "path": f"file://{tmp_path}/out"},
            "primaryKey": ["id"],
            "savepoints": {"path": f"file://{tmp_path}/sp", "intervalSeconds": 3600},
        }
    )
    out = migrate_resumable(spark, cfg, files_per_chunk=2)
    assert out.count() == out.select("id").distinct().count() == 90


COMMITTED_WRITERS = (
    "streaming/cdc.py",
    "streaming/components_cdc.py",
    "streaming/rollup.py",
    "streaming/scd_cdc.py",
    "plans/migrate.py",
    "sinks/parquet.py",
    "sinks/s3export.py",
    "sinks/training_manifest.py",
    "sources/parquet.py",
)


def test_committed_writers_use_no_rename_protocol():
    """The writers of committed tables go through ``pathio`` only, and the
    staging-directory and crash-manifest protocols are gone from the
    package."""
    for rel in COMMITTED_WRITERS:
        with open(os.path.join(PKG, rel), encoding="utf-8") as f:
            src = f.read()
        found = re.findall(r"os\.replace|os\.rename|\bglob\b|shutil\.move", src)
        assert not found, (rel, found)
    for d, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    src = f.read()
                assert ".staging" not in src and ".inprogress" not in src, name
                assert "__pending" not in src and "__old_" not in src, name
