"""Savepoint manager tests (reference SavepointsManagerConcurrencyTest /
naming semantics, SavepointsManager.scala:231-246,433-472)."""

from __future__ import annotations

import os

import pytest

from scylla_migrator_spark.savepoints import SavepointsManager, _decode_name, diff_token_ranges


def test_monotonic_names_and_resume(tmp_path):
    d = str(tmp_path / "sp")
    mgr = SavepointsManager(d, config={"source": {"type": "parquet"}})
    mgr.complete_files(["a.parquet"])
    p1 = mgr.dump()
    mgr.complete_files(["b.parquet"])
    mgr.complete_segments([0, 2])
    mgr.complete_token_ranges([(10, 20)])
    p2 = mgr.dump()
    assert os.path.basename(p1) < os.path.basename(p2)  # lexical == chronological

    resumed = SavepointsManager.resume(d)
    assert resumed.skip_files == {"a.parquet", "b.parquet"}
    assert resumed.skip_segments == {0, 2}
    assert resumed.skip_token_ranges == {(10, 20)}
    assert resumed.config == {"source": {"type": "parquet"}}


def test_seq_increments_within_same_millisecond(tmp_path):
    mgr = SavepointsManager(str(tmp_path / "sp"))
    names = [os.path.basename(mgr.dump()) for _ in range(3)]
    assert names == sorted(names) and len(set(names)) == 3
    decoded = [_decode_name(n) for n in names]
    assert all(d is not None for d in decoded)


def test_resume_empty_dir(tmp_path):
    mgr = SavepointsManager.resume(str(tmp_path / "nothing"))
    assert mgr.skip_files == set()


def test_token_range_diff():
    assert diff_token_ranges([(0, 1), (1, 2), (2, 3)], {(1, 2)}) == [(0, 1), (2, 3)]


def test_migration_resume_end_to_end(spark, tmp_path):
    """F9: resumed run processes only the complement; final row set equals an
    uninterrupted run."""
    from scylla_migrator_spark.sources.parquet import list_parquet_files, read_parquet

    src_dir = str(tmp_path / "multi_src")
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(8).write.parquet(src_dir)
    files = list_parquet_files(src_dir)
    assert len(files) >= 8

    d = str(tmp_path / "sp")
    mgr = SavepointsManager(d)
    mgr.complete_files(files[:4])  # first run "finished" half
    mgr.dump()

    resumed = SavepointsManager.resume(d)
    remaining = read_parquet(spark, src_dir, skip_files=sorted(resumed.skip_files))
    done = read_parquet(spark, src_dir, skip_files=[f for f in files if f not in resumed.skip_files])
    assert remaining.count() + done.count() == 1000
    union = remaining.unionByName(done)
    assert union.exceptAll(spark.read.parquet(src_dir)).count() == 0


def test_periodic_dumper_dumps_and_terminal(tmp_path):
    """Z1 scheduler: periodic dumps on an interval, terminal dump on stop,
    resume sees the final skip sets."""
    import time as _time

    from scylla_migrator_spark.savepoints import PeriodicDumper, SavepointsManager

    mgr = SavepointsManager(str(tmp_path / "sp"))
    with PeriodicDumper(mgr, interval_seconds=0.05) as dumper:
        mgr.complete_files(["f1"])
        _time.sleep(0.2)  # several periodic dumps land
        mgr.complete_files(["f2"])
    assert dumper.dump_count >= 2  # >=1 periodic + the terminal dump
    resumed = SavepointsManager.resume(str(tmp_path / "sp"))
    assert resumed.skip_files == {"f1", "f2"}


def test_signal_triggered_dump(tmp_path):
    """SIGUSR2 triggers an on-demand dump (SavepointsManager.scala:248-322)."""
    import os as _os
    import signal as _signal
    import time as _time

    from scylla_migrator_spark.savepoints import PeriodicDumper, SavepointsManager

    mgr = SavepointsManager(str(tmp_path / "sp2"))
    dumper = PeriodicDumper(mgr, interval_seconds=60, install_signal_handler=True).start()
    try:
        mgr.complete_segments([7])
        _os.kill(_os.getpid(), _signal.SIGUSR2)
        _time.sleep(0.1)
        assert dumper.dump_count >= 1
        resumed = SavepointsManager.resume(str(tmp_path / "sp2"))
        assert resumed.skip_segments == {7}
    finally:
        dumper.stop()


def test_migrate_resumable_survives_interruption(spark, sf_dir, tmp_path, table_path):
    """Kill the chunked migration mid-run; the resumed run completes the
    remaining files with no duplicates and no re-work."""
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate_resumable
    from scylla_migrator_spark.savepoints import SavepointsManager

    # a multi-file source: orders split into 6 files
    src_dir = table_path(tmp_path / "orders6")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(6).write.parquet(src_dir)
    n_src = orders.count()

    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src_dir, "where": "o_totalprice > 0"},
            "target": {"type": "parquet", "path": table_path(tmp_path / "out")},
            "primaryKey": ["o_orderkey"],
            "savepoints": {"path": table_path(tmp_path / "sp"), "intervalSeconds": 3600},
        }
    )
    # first run dies after 1 chunk (2 files)
    partial_df = migrate_resumable(spark, cfg, files_per_chunk=2, stop_after_chunks=1)
    mgr = SavepointsManager.resume(table_path(tmp_path / "sp"))
    assert len(mgr.skip_files) == 2  # per-chunk savepoint recorded the chunk
    partial = partial_df.count()
    assert 0 < partial < n_src

    # resume: completes the remaining 4 files, exact row parity, no dupes
    out = migrate_resumable(spark, cfg, files_per_chunk=2)
    assert out.count() == n_src
    assert out.select("o_orderkey").distinct().count() == n_src
    mgr2 = SavepointsManager.resume(table_path(tmp_path / "sp"))
    assert len(mgr2.skip_files) == 6


def test_migrate_resumable_chunk_committed_but_savepoint_lagging(
    spark, sf_dir, tmp_path, table_path
):
    """Worst-case kill: a chunk's commit landed but the process died
    BEFORE that chunk's savepoint dump (the savepoint on disk lags by one
    chunk). The resumed run must recognize the chunk the record names and
    not duplicate its rows."""
    import os

    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate_resumable
    from scylla_migrator_spark.savepoints import SavepointsManager

    src_dir = table_path(tmp_path / "orders4")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(4).write.parquet(src_dir)
    n_src = orders.count()

    sp = str(tmp_path / "sp")
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src_dir},
            "target": {"type": "parquet", "path": table_path(tmp_path / "out")},
            "primaryKey": ["o_orderkey"],
            "savepoints": {"path": table_path(sp), "intervalSeconds": 3600},
        }
    )
    migrate_resumable(spark, cfg, files_per_chunk=2, stop_after_chunks=2)
    # roll the savepoint back one chunk: delete every savepoint after the
    # first — chunk 2's commit is now unrecorded, exactly the kill window
    names = sorted(n for n in os.listdir(sp) if n.startswith("savepoint_"))
    assert len(names) >= 2
    for n in names[1:]:
        os.remove(os.path.join(sp, n))
    assert len(SavepointsManager.resume(table_path(sp)).skip_files) == 2

    out = migrate_resumable(spark, cfg, files_per_chunk=2)
    assert out.count() == n_src
    assert out.select("o_orderkey").distinct().count() == n_src


def _resumable_cfg(
    src: str, tmp_path, table_path, source: dict | None = None, target: dict | None = None
):
    from scylla_migrator_spark.config import MigratorConfig

    return MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src, **(source or {})},
            "target": {"type": "parquet", "path": table_path(tmp_path / "out"), **(target or {})},
            "primaryKey": ["id"],
            "savepoints": {"path": table_path(tmp_path / "sp"), "intervalSeconds": 3600},
        }
    )


@pytest.mark.parametrize("companions", [False, True], ids=["plain", "meta_companions"])
def test_fresh_resumable_reread_matches_fresh_read(
    spark, tmp_path, table_path, assert_as_fresh_read, companions
):
    """A fresh chunked run returns the schema and rows of a fresh read of
    its target, with and without __meta_ companions."""
    from scylla_migrator_spark.plans.migrate import migrate_resumable

    src = table_path(tmp_path / "src")
    cols = ["id", "id * 2 AS v"]
    if companions:
        cols += ["cast(id AS int) AS v_ttl", "id * 1000 AS v_writetime"]
    spark.range(0, 120).selectExpr(*cols).repartition(4).write.parquet(src)
    cfg = _resumable_cfg(
        src, tmp_path, table_path, source={"type": "cql-fixture", "preserveTimestamps": True}
    )
    out = migrate_resumable(spark, cfg, files_per_chunk=2)
    assert ("__meta_v_ttl" in out.columns) == companions
    assert out.count() == 120
    # chunks commit as generation directories: a fresh read reads the live ones
    assert_as_fresh_read(out, cfg.target.path)


@pytest.mark.parametrize("case", ["resumed", "merge_schema", "partition_by"])
def test_resumable_reread_infers_outside_a_fresh_flat_run(
    spark, tmp_path, table_path, write_jobs, assert_as_fresh_read, case
):
    """A resumed run (chunks committed before the kill), an evolved source
    read with mergeSchema and a partitionBy layout: the final read infers
    the schema (a job runs after the last write) and matches a fresh read."""
    from scylla_migrator_spark.plans.migrate import migrate_resumable

    src = table_path(tmp_path / "src")
    base = spark.range(0, 80).selectExpr("id", "id % 3 AS grp")
    source, target, options = {}, {}, {}
    if case == "merge_schema":
        # files written before column `extra` existed, then files with it
        base.filter("id < 40").repartition(2).write.parquet(src)
        base.filter("id >= 40").selectExpr("*", "id * 10 AS extra").repartition(2).write.mode(
            "append"
        ).parquet(src)
        source = {"mergeSchema": True}
        options["mergeSchema"] = "true"
    else:
        base.repartition(4).write.parquet(src)
    if case == "partition_by":
        # chunks append in place under the partition directories
        target = {"partitionBy": ["grp"]}
    cfg = _resumable_cfg(src, tmp_path, table_path, source=source, target=target)
    if case == "resumed":
        migrate_resumable(spark, cfg, files_per_chunk=2, stop_after_chunks=1)
    with write_jobs:
        out = migrate_resumable(spark, cfg, files_per_chunk=2)
        assert write_jobs.after_last_write() >= 1
    assert out.count() == 80
    if case == "merge_schema":
        assert out.filter("extra IS NULL").count() == 40
    assert_as_fresh_read(out, cfg.target.path, **options)


def test_migrate_resumable_crash_in_chunk_commit_loses_nothing(
    spark, tmp_path, table_path, crash_commit
):
    """A kill after a chunk's data write or during its record write leaves
    a chunk directory the record does not name (a torn write): the resumed
    run rewrites that chunk over it, and the target ends with every row
    once and nothing the record does not name."""
    import os

    from scylla_migrator_spark.pathio import live_names
    from scylla_migrator_spark.plans.migrate import migrate_resumable

    src = table_path(tmp_path / "src")
    spark.range(0, 120).selectExpr("id", "id * 2 AS v").repartition(6).write.parquet(src)
    for point in ("after_write", "record_write"):
        cfg = _resumable_cfg(src, tmp_path / point, table_path)
        out = cfg.target.path
        migrate_resumable(spark, cfg, files_per_chunk=2, stop_after_chunks=1)
        with crash_commit(out, point):
            migrate_resumable(spark, cfg, files_per_chunk=2)
        on_disk = sorted(e for e in os.listdir(tmp_path / point / "out") if e.startswith("chunk-"))
        assert len(on_disk) == 2 and len(live_names(out)) == 1, point

        df = migrate_resumable(spark, cfg, files_per_chunk=2)
        assert df.count() == df.select("id").distinct().count() == 120, point
        on_disk = sorted(e for e in os.listdir(tmp_path / point / "out") if e.startswith("chunk-"))
        assert on_disk == sorted(live_names(out)) and len(on_disk) == 3, point


def test_migrate_resumable_infers_source_schema_once(spark, tmp_path, table_path):
    """Without mergeSchema the first chunk's source schema is pinned for the
    others: a fresh 4-chunk run issues one footer job plus one write job per
    chunk (and its re-read none)."""
    import uuid

    from scylla_migrator_spark.plans.migrate import migrate_resumable

    src = table_path(tmp_path / "src")
    spark.range(0, 160).selectExpr("id", "id * 2 AS v").repartition(8).write.parquet(src)
    cfg = _resumable_cfg(src, tmp_path, table_path)
    sc, group = spark.sparkContext, f"resumable-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "resumable jobs")
    try:
        out = migrate_resumable(spark, cfg, files_per_chunk=2)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert len(jobs) == 1 + 4
    assert out.count() == 160


def test_validate_repairs_a_resumable_target_by_commit(spark, tmp_path, table_path):
    """``run_validation`` reads a resumable migrate's target through its
    record, and a repair into it commits a new live generation (a bare
    append beside the generations would be invisible to readers)."""
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.pathio import live_names
    from scylla_migrator_spark.plans.migrate import migrate_resumable
    from scylla_migrator_spark.plans.validate import run_validation

    src = table_path(tmp_path / "src")
    spark.range(0, 120).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(src)
    cfg = _resumable_cfg(src, tmp_path, table_path, source={"where": "id < 100"})
    migrate_resumable(spark, cfg, files_per_chunk=2)
    assert len(live_names(cfg.target.path)) == 2

    full = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "target": {"type": "parquet", "path": cfg.target.path},
            "primaryKey": ["id"],
            "validation": {"copyMissingRows": True},
        }
    )
    report = run_validation(spark, full)
    assert report.counts_by_kind == {"MissingTargetRow": 20} and report.repaired_rows == 20
    assert len(live_names(cfg.target.path)) == 3
    assert run_validation(spark, full).counts_by_kind == {}
