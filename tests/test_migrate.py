"""End-to-end migration slice: parquet -> rename + where + null-PK drop -> parquet.

Mirrors the reference's BasicMigrationTest / RenamedItemsTest shapes
(tests/.../scylla/BasicMigrationTest.scala:18-45).
"""

from __future__ import annotations

import pytest

from scylla_migrator_spark.config import ConfigError, MigratorConfig, validate_where_filter
from scylla_migrator_spark.plans.migrate import migrate


def test_parquet_roundtrip_with_renames_and_filter(spark, sf_dir, tmp_path):
    cfg = MigratorConfig.from_dict(
        {
            "source": {
                "type": "parquet",
                "path": f"{sf_dir}/lineitem.parquet",
                "where": "l_quantity > 10",
            },
            "target": {"type": "parquet", "path": str(tmp_path / "out")},
            "renames": [{"from": "l_orderkey", "to": "order_id"}],
            "primaryKey": ["order_id", "l_linenumber"],
        }
    )
    out = migrate(spark, cfg)
    assert "order_id" in out.columns and "l_orderkey" not in out.columns
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    expected = src.filter("l_quantity > 10").count()
    assert out.count() == expected


def test_null_pk_rows_dropped(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None), (None, None)], "id bigint, v string"
    )
    src_path = str(tmp_path / "src")
    df.write.parquet(src_path)
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src_path},
            "target": {"type": "scylla-fixture", "path": str(tmp_path / "tgt")},
            "primaryKey": ["id"],
        }
    )
    out = migrate(spark, cfg)
    assert out.count() == 2
    assert out.filter("id IS NULL").count() == 0


def test_where_sanitizer_rejects_dangerous():
    for bad in [
        "1=1; DROP TABLE t",
        "x > 1 -- comment",
        "x > 1 /* c */",
        "id IN (SELECT id FROM t UNION SELECT 1)",
        "name = 'it\\'s'",
        "sleep(10) > 0",
    ]:
        with pytest.raises(ConfigError):
            validate_where_filter(bad)
    assert validate_where_filter("l_quantity > 10 AND l_returnflag = 'A'")


def test_rename_collision_detected():
    from scylla_migrator_spark.config import Rename, build_rename_map

    # case-only collision with a surviving column must error
    # (schema/SchemaResolver.scala:46-61)
    with pytest.raises(ConfigError):
        build_rename_map([Rename("a", "B")], ["a", "b"])
    # case-insensitive source resolution works
    assert build_rename_map([Rename("A", "x")], ["a", "b"]) == {"a": "x"}


import pytest as _pytest


@_pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_file_format_roundtrip(spark, sf_dir, tmp_path, fmt):
    """csv/json/orc migrate targets and sources: orders -> fmt -> validate
    clean against the original."""
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate
    from scylla_migrator_spark.plans.validate import validate

    out_dir = str(tmp_path / f"out_{fmt}")
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"{sf_dir}/orders.parquet"},
            "target": {"type": fmt, "path": out_dir, "compression": "gzip" if fmt != "orc" else "snappy"},
            "primaryKey": ["o_orderkey"],
        }
    )
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = migrate(spark, cfg)
    # timestamp column fidelity differs per format (csv parses back as
    # timestamp via the provided schema); compare a stable projection
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    report = validate(src.select(*cols), out.select(*cols), ["o_orderkey"])
    assert report.counts_by_kind == {}

    # and read back through the source dispatch (schema pinned via DDL)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out.schema.fields)
    cfg2 = MigratorConfig.from_dict(
        {
            "source": {
                "type": fmt,
                "path": out_dir,
                "schemaDdl": ddl,
                "options": {"header": "true"} if fmt == "csv" else {},
            },
            "target": {"type": "parquet", "path": str(tmp_path / f"back_{fmt}")},
            "primaryKey": ["o_orderkey"],
        }
    )
    back = migrate(spark, cfg2)
    assert back.count() == src.count()


def test_partitioned_layout_target(spark, sf_dir, tmp_path):
    """partitionBy layout on the parquet target: downstream filtered reads
    are partition-pruned, and pre-write clustering bounds file counts."""
    import glob

    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate

    out = str(tmp_path / "by_status")
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"{sf_dir}/orders.parquet"},
            "target": {
                "type": "parquet",
                "path": out,
                "partitionBy": ["o_orderstatus"],
                "repartitionColumns": ["o_orderstatus"],
            },
            "primaryKey": ["o_orderkey"],
        }
    )
    migrate(spark, cfg)
    dirs = sorted(glob.glob(f"{out}/o_orderstatus=*"))
    assert len(dirs) == 3  # F / O / P
    # clustering: each partition dir holds one file, not one per task
    for d in dirs:
        files = [f for f in glob.glob(f"{d}/*.parquet")]
        assert len(files) == 1, d
    src_n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert spark.read.parquet(out).count() == src_n


def test_sql_source_migration(spark, sf_dir, tmp_path):
    """The 'sql' source type: config-declared views + ANSI query -> target."""
    from scylla_migrator_spark.config import ConfigError, MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate

    cfg = MigratorConfig.from_dict(
        {
            "source": {
                "type": "sql",
                "tables": {"o": f"{sf_dir}/orders.parquet", "c": f"{sf_dir}/customer.parquet"},
                "query": """
                    SELECT c_mktsegment, count(*) AS n_orders,
                           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
                    FROM o JOIN c ON o_custkey = c_custkey GROUP BY c_mktsegment
                """,
            },
            "target": {"type": "parquet", "path": str(tmp_path / "sql_out")},
        }
    )
    out = migrate(spark, cfg)
    assert out.count() == 5  # mktsegments
    assert set(out.columns) == {"c_mktsegment", "n_orders", "total"}

    import pytest as __pytest

    with __pytest.raises(ConfigError):
        MigratorConfig.from_dict(
            {"source": {"type": "sql", "query": "SELECT 1"}, "target": {"type": "parquet", "path": "/tmp/x"}}
        )


def test_merge_schema_evolved_table(spark, sf_dir, tmp_path):
    """Schema evolution: files written before a column existed read as null
    under mergeSchema; the pipeline runs over the union schema."""
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate

    src_dir = str(tmp_path / "evolved")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o.select("o_orderkey", "o_totalprice").write.parquet(src_dir)
    o.select("o_orderkey", "o_totalprice", "o_orderstatus").write.mode("append").parquet(src_dir)

    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src_dir, "mergeSchema": True},
            "target": {"type": "parquet", "path": str(tmp_path / "evolved_out")},
        }
    )
    out = migrate(spark, cfg)
    assert "o_orderstatus" in out.columns
    n = o.count()
    assert out.count() == 2 * n
    assert out.filter(out["o_orderstatus"].isNull()).count() == n


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction: many small files -> few target-sized files, identical row
    set, atomic swap (old generation gone, no stray tmp dirs)."""
    import os

    from scylla_migrator_spark.sinks.parquet import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(0, 10_000).selectExpr("id", "id * 2 AS v").repartition(64).write.parquet(path)
    before = spark.read.parquet(path)
    before_rows = {(r["id"], r["v"]) for r in before.collect()}

    stats = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(path)
    assert {(r["id"], r["v"]) for r in after.collect()} == before_rows
    # no leftover generations
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if "__compact_" in d or "__old_" in d] == []


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """Compacting a hive-partitioned serving table must merge files WITHIN
    each partition dir, keep the directory layout + bucket-pinning meta
    intact, and leave the table upsertable (regression: a whole-table
    rewrite would flatten the partition column and break the upsert). The
    table is fragmented the way a plain partitioned writer leaves it:
    several appends with no commit record, plus the bucket pin; compaction
    gives it its first record."""
    import os

    from scylla_migrator_spark.sinks.parquet import compact_parquet
    from scylla_migrator_spark.streaming.rollup import (
        BUCKET_COL,
        _bucket_expr,
        _write_meta,
        upsert_parquet,
    )

    path = str(tmp_path / "serving_compact")
    for gen in range(3):  # three appends -> several files per bucket
        g = spark.createDataFrame(
            [(k, k * 10 + gen) for k in range(12)], "k int, total int"
        )
        g.withColumn(BUCKET_COL, _bucket_expr(["k"], 4)).repartition(2).write.mode(
            "append"
        ).partitionBy(BUCKET_COL).parquet(path)
    _write_meta(path, 4)

    before_rows = {(r["k"], r["total"]) for r in spark.read.parquet(path).collect()}
    dirs_before = sorted(e for e in os.listdir(path) if e.startswith("__bucket="))
    stats = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == len(dirs_before)  # one file per partition
    assert os.path.exists(os.path.join(path, "_sgs_upsert_meta.json"))
    assert sorted(e for e in os.listdir(path) if e.startswith("__bucket=")) == dirs_before
    after = spark.read.parquet(path)
    assert {(r["k"], r["total"]) for r in after.collect()} == before_rows
    # still upsertable with the pinned modulus: every version of key 3
    # sits in its mod-4 bucket, which the upsert must rewrite
    g = spark.createDataFrame([(3, 999)], "k int, total int")
    upsert_parquet(g, path, ["k"], n_buckets=7)  # pinned 4 wins
    rows = [r["total"] for r in spark.read.parquet(path).collect() if r["k"] == 3]
    assert rows == [999]


def test_compacted_partitioned_target_reads_and_grows_through_its_record(spark, tmp_path):
    """Compacting a partitionBy migrate target gives it a record naming
    files below its partition directories. Validation reads it through the
    record with its partition column, an appending migrate adds its files
    to the record, and a repair writes in the target's layout: no row
    becomes invisible, and the next compaction keeps them all."""
    from scylla_migrator_spark import pathio
    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.migrate import migrate
    from scylla_migrator_spark.plans.validate import run_validation
    from scylla_migrator_spark.sinks.parquet import compact_parquet

    tgt = str(tmp_path / "tgt")

    def source(name, lo, hi):
        path = str(tmp_path / name)
        spark.range(lo, hi).selectExpr(
            "id", "concat('g', id % 3) AS grp", "id * 2 AS v"
        ).repartition(3).write.parquet(path)
        return path

    def cfg(src, mode="overwrite", repair=False):
        return MigratorConfig.from_dict(
            {
                "source": {"type": "parquet", "path": src},
                "target": {"type": "parquet", "path": tgt, "mode": mode, "partitionBy": ["grp"]},
                "primaryKey": ["id"],
                "validation": {"copyMissingRows": repair},
            }
        )

    migrate(spark, cfg(source("first", 0, 60)))
    compact_parquet(spark, tgt)
    assert all(n.startswith("grp=") and n.count("/") == 1 for n in pathio.live_names(tgt))
    assert run_validation(spark, cfg(str(tmp_path / "first"))).counts_by_kind == {}

    out = migrate(spark, cfg(source("more", 60, 90), mode="append"))
    assert out.count() == 90 and "grp" in out.columns
    full = source("full", 0, 120)
    report = run_validation(spark, cfg(full, repair=True))
    assert report.counts_by_kind == {"MissingTargetRow": 30} and report.repaired_rows == 30
    assert run_validation(spark, cfg(full)).counts_by_kind == {}
    assert all(n.startswith("grp=") for n in pathio.live_names(tgt))

    compact_parquet(spark, tgt)
    rows = pathio.read_live(spark.read, tgt).select("id", "grp", "v").collect()
    assert sorted(tuple(r) for r in rows) == [(i, f"g{i % 3}", i * 2) for i in range(120)]
    assert run_validation(spark, cfg(full)).counts_by_kind == {}


def test_compact_bucketed_crash_in_commit_leaves_one_table(
    spark, tmp_path, table_path, crash_commit, data_files
):
    """A compaction of a bucketed table that dies after its data write,
    while writing the record, or while sweeping the files it replaced
    leaves the record naming the old files, or (only the sweep cut) the
    new ones: the same rows either way. The next compaction leaves no
    unnamed file."""
    from scylla_migrator_spark import pathio
    from scylla_migrator_spark.sinks.parquet import compact_parquet
    from scylla_migrator_spark.streaming.rollup import upsert_parquet

    def record_rows(path):
        df = pathio.read_live(spark.read, path)
        return sorted(tuple(r) for r in df.select("k", "total").collect())

    for point in crash_commit.points:
        local = str(tmp_path / point)
        path = table_path(local)
        for gen in range(2):
            g = spark.createDataFrame([(k, k + gen) for k in range(12)], "k int, total int")
            upsert_parquet(g, path, ["k"], n_buckets=4)
        rows, old = record_rows(path), set(pathio.live_names(path))
        with crash_commit(path, point):
            compact_parquet(spark, path)
        live = set(pathio.live_names(path))
        assert live.isdisjoint(old) if point == "sweep" else live == old, point
        assert record_rows(path) == rows, point
        compact_parquet(spark, path)
        assert record_rows(path) == rows, point
        assert data_files(local) == set(pathio.live_names(path)), point


def _stamped_source(spark, path: str) -> None:
    """A ``cql-fixture`` table: per-cell TTL/WRITETIME companions, a
    timestamp to widen and a decimal with trailing zeros, in two files."""
    import datetime as dt
    from decimal import Decimal

    spark.createDataFrame(
        [
            ("p1", 1, "av", 100, 1_000, Decimal("1.500"), 100, 1_000, dt.datetime(2024, 1, 2), 100, 1_000),
            ("p2", 1, "av2", 200, 2_000, Decimal("2.000"), 100, 1_000, None, None, None),
            ("p3", 2, "av3", None, None, Decimal("3.250"), 300, 3_000, dt.datetime(2023, 5, 6), 300, 3_000),
            ("p4", 3, None, None, None, None, None, None, dt.datetime(2022, 7, 8), None, 4_000),
        ],
        "pk string, ck int, a string, a_ttl int, a_writetime long, "
        "d decimal(10,3), d_ttl int, d_writetime long, ts timestamp, ts_ttl int, ts_writetime long",
    ).repartition(2).write.parquet(path)


@pytest.mark.parametrize(
    "preserve, target",
    [
        (False, {"type": "parquet"}),
        (True, {"type": "parquet"}),  # companions written as __meta_*
        (
            True,
            {
                "type": "scylla-fixture",
                "explodedTimestampWrite": True,
                "ttl": 3600,
                "writetime_us": 1_700_000_000_000_000,
                "stripTrailingZerosForDecimals": True,
            },
        ),
    ],
    ids=["parquet", "parquet_meta_companions", "scylla_fixture_exploded"],
)
def test_overwrite_reread_matches_fresh_read(spark, tmp_path, assert_as_fresh_read, preserve, target):
    """The frame migrate() returns after an overwrite has the schema and
    rows of a fresh read of the target."""
    src, out_path = str(tmp_path / "src"), str(tmp_path / "out")
    _stamped_source(spark, src)
    cfg = MigratorConfig.from_dict(
        {
            "source": {"type": "cql-fixture", "path": src, "preserveTimestamps": preserve},
            "target": {**target, "path": out_path},
            "primaryKey": ["pk", "ck"],
        }
    )
    out = migrate(spark, cfg)
    if preserve and target["type"] == "parquet":
        assert "__meta_a_ttl" in out.columns
    assert_as_fresh_read(out, out_path)


@pytest.mark.parametrize("layout", ["append", "partition_by"])
def test_reread_infers_when_target_is_not_only_this_write(
    spark, tmp_path, write_jobs, assert_as_fresh_read, layout
):
    """An append re-read sees the earlier rows too, and a partitionBy layout
    takes its partition column from the directory names: both re-reads
    infer the schema (a job runs after the write) and match a fresh read."""
    src, out_path = str(tmp_path / "src"), str(tmp_path / "out")
    spark.range(0, 40).selectExpr("id", "id % 3 AS grp", "cast(id AS string) AS v").write.parquet(src)
    target = {"type": "parquet", "path": out_path}
    if layout == "append":
        spark.range(100, 110).selectExpr("id", "id % 3 AS grp", "'old' AS v").write.parquet(out_path)
        target["mode"] = "append"
    else:
        target["partitionBy"] = ["grp"]
    cfg = MigratorConfig.from_dict(
        {"source": {"type": "parquet", "path": src}, "target": target, "primaryKey": ["id"]}
    )
    with write_jobs:
        out = migrate(spark, cfg)
        assert write_jobs.after_last_write() >= 1
    assert out.count() == (50 if layout == "append" else 40)
    assert_as_fresh_read(out, out_path)


def test_reread_runs_no_job_after_write(spark, tmp_path, write_jobs):
    """migrate() and a fresh migrate_resumable re-read what they just wrote
    with its written schema: no footer job runs between the last write and
    the return."""
    from scylla_migrator_spark.plans.migrate import migrate_resumable

    src = str(tmp_path / "src")
    spark.range(0, 200).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(src)
    for resumable in (False, True):
        out_path = str(tmp_path / f"out_{resumable}")
        cfg = MigratorConfig.from_dict(
            {
                "source": {"type": "parquet", "path": src},
                "target": {"type": "parquet", "path": out_path},
                "primaryKey": ["id"],
                "savepoints": {"path": str(tmp_path / f"sp_{resumable}"), "intervalSeconds": 3600},
            }
        )
        with write_jobs:
            out = (
                migrate_resumable(spark, cfg, files_per_chunk=2)
                if resumable
                else migrate(spark, cfg)
            )
            assert write_jobs.after_last_write() == 0, f"resumable={resumable}"
        assert out.count() == 200
