"""The table commit record (``pathio.commit``): every generation of a
replaced or grown table is a new immutable directory, and ``_live.json``,
written last, names the live ones by name relative to the table root.

The CDC replicator, resumable-migrate and export-sink tests are collected
here a second time, with ``commit_mode`` set to ``hadoop`` (``file://``
URIs, the ``file`` scheme routed through HadoopPathIO) and ``norename``
(``os.replace``/``os.rename`` raise for any directory argument); their own
modules run them with bare local paths.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

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
    "plans/migrate.py",
    "sinks/s3export.py",
    "sinks/training_manifest.py",
    "sources/parquet.py",
)


def test_committed_writers_use_no_rename_protocol():
    """The writers of committed tables go through ``pathio`` only, and the
    staging-directory protocols are gone from the package."""
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
