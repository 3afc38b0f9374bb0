"""Validator core tests — F6 fixture shapes (SURVEY §2.11, FIXTURES.md F6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scylla_migrator_spark.config import Validation
from scylla_migrator_spark.operators import comparators as C
from scylla_migrator_spark.plans.validate import (
    FAILURES_COL,
    joined_diff,
    missing_source_rows,
    refine_hash_mismatches,
    validate,
)


def _pair(spark):
    src = spark.createDataFrame(
        [
            (1, "a", 1.0, 100, 1_000_000),
            (2, "b", 2.0, 200, 2_000_000),
            (3, "c", 3.0, 300, 3_000_000),
            (4, "d", 4.0, 400, 4_000_000),
        ],
        "id bigint, s string, d double, v_ttl int, v_writetime bigint",
    )
    tgt = spark.createDataFrame(
        [
            (1, "a", 1.0005, 100, 1_000_000),       # within tolerance 0.001
            (2, "b", 2.5, 200, 2_000_000),          # outside tolerance
            (3, "c", 3.0, 300 + 70_000, 3_000_000), # ttl outside 60000ms tolerance
            (5, "e", 5.0, 500, 5_000_000),          # extra target row
        ],
        "id bigint, s string, d double, v_ttl int, v_writetime bigint",
    )
    return src, tgt


def test_validation_failure_taxonomy(spark):
    src, tgt = _pair(spark)
    report = validate(src, tgt, ["id"], Validation())
    assert report.counts_by_kind[C.MISSING_TARGET_ROW] == 1  # id=4
    assert report.counts_by_kind[C.DIFFERING_FIELD_VALUES] == 1  # id=2 d
    assert report.counts_by_kind[C.DIFFERING_TTLS] == 1  # id=3
    assert report.counts_by_kind[C.EXTRA_TARGET_ROW] == 1  # id=5
    assert C.DIFFERING_WRITETIMES not in report.counts_by_kind
    assert report.exit_code == 1
    # the sample holds the failing rows that have a source side
    assert sorted(r["src_id"] for r in report.sample_failures) == [2, 3, 4]
    assert report.sample_failures[0].__fields__ == [
        *("src_" + c for c in src.columns), *("tgt_" + c for c in tgt.columns), FAILURES_COL
    ]


def test_tolerances_respected(spark):
    src, tgt = _pair(spark)
    # huge tolerances: only missing/extra remain
    v = Validation(floating_point_tolerance=10.0, ttl_tolerance_millis=10**9)
    report = validate(src, tgt, ["id"], v)
    assert C.DIFFERING_FIELD_VALUES not in report.counts_by_kind
    assert C.DIFFERING_TTLS not in report.counts_by_kind


def test_writetime_tolerance_is_micros(spark):
    src = spark.createDataFrame([(1, "a", 5_000_000)], "id bigint, s string, v_writetime bigint")
    # writetimeToleranceMillis=1000 -> 1_000_000 µs allowed
    tgt_ok = spark.createDataFrame([(1, "a", 5_900_000)], "id bigint, s string, v_writetime bigint")
    tgt_bad = spark.createDataFrame([(1, "a", 6_100_000)], "id bigint, s string, v_writetime bigint")
    assert validate(src, tgt_ok, ["id"]).total_failures == 0
    assert validate(src, tgt_bad, ["id"]).counts_by_kind[C.DIFFERING_WRITETIMES] == 1


def test_nan_inf_and_integral_exactness(spark):
    nan, inf = float("nan"), float("inf")
    src = spark.createDataFrame(
        [(1, nan, 10), (2, inf, 20), (3, -inf, 30), (4, 1.0, 40)],
        "id bigint, d double, n bigint",
    )
    tgt = spark.createDataFrame(
        [(1, nan, 10), (2, inf, 20), (3, inf, 30), (4, 1.0, 41)],
        "id bigint, d double, n bigint",
    )
    report = validate(src, tgt, ["id"], Validation(floating_point_tolerance=100.0))
    # NaN==NaN ok; +Inf==+Inf ok; -Inf vs +Inf differs; integral 40 vs 41 is
    # EXACT compare — tolerance deliberately not applied (NumericComparison:81-85)
    assert report.counts_by_kind[C.DIFFERING_FIELD_VALUES] == 2


def test_detect_widen_policy(spark):
    src = spark.createDataFrame([(1, 1.5)], "id bigint, x float")
    tgt_ok = spark.createDataFrame([(1, 1.5)], "id bigint, x double")
    tgt_lossy = spark.createDataFrame([(1, 1.5000001)], "id bigint, x double")
    assert validate(src, tgt_ok, ["id"], Validation(numeric_type_policy="detect-widen")).total_failures == 0
    r = validate(src, tgt_lossy, ["id"], Validation(numeric_type_policy="detect-widen", floating_point_tolerance=1.0))
    assert r.counts_by_kind[C.DIFFERING_FIELD_VALUES] == 1
    # strict-type flags the column as a schema-level numeric mismatch
    r2 = validate(src, tgt_ok, ["id"], Validation(numeric_type_policy="strict-type"))
    assert r2.type_mismatch_columns == ["x"]


def test_set_columns_order_insensitive(spark):
    src = spark.createDataFrame([(1, [3, 1, 2])], "id bigint, s array<int>")
    tgt = spark.createDataFrame([(1, [1, 2, 3])], "id bigint, s array<int>")
    assert validate(src, tgt, ["id"], set_columns={"s"}).total_failures == 0
    assert validate(src, tgt, ["id"]).total_failures == 1  # order-sensitive by default


def test_content_hash_and_refinement(spark):
    src, tgt = _pair(spark)
    v = Validation(hash_columns=["s", "d"])
    diff, _ = joined_diff(src, tgt, ["id"], v)
    failing = diff.filter(F.size(FAILURES_COL) > 0)
    # hash mode: id=1 now fails too (digest is exact; 1.0 vs 1.0005 differ)
    ids = {r["src_id"] for r in failing.collect()}
    assert {1, 2, 4} <= ids
    mismatched = failing.filter(F.col("tgt_id").isNotNull()).select(F.col("src_id").alias("id"))
    refined = refine_hash_mismatches(src, tgt, mismatched, ["id"], v)
    ref_ids = {r["src_id"] for r in refined.collect()}
    # direct compare clears id=1 (within tolerance); id=2 (real value diff)
    # and id=3 (ttl diff) remain
    assert ref_ids == {2, 3}


def test_repair_missing_rows(spark):
    src, tgt = _pair(spark)
    missing = missing_source_rows(src, tgt, ["id"])
    assert [r["id"] for r in missing.collect()] == [4]
    captured = []
    v = Validation(copy_missing_rows=True)
    report = validate(src, tgt, ["id"], v, repair_writer=captured.append)
    assert report.repaired_rows == 1 and len(captured) == 1
    # run_validation appends this frame to the target by position: exactly
    # the source's columns, in the source's order, no prefix or marker
    [repair] = captured
    assert repair.columns == src.columns
    assert repair.collect() == src.filter(F.col("id") == 4).collect()


def test_schema_mismatch_reported_not_crash(spark):
    """A target missing/renaming a column yields MismatchedColumnNames +
    common-column diff, not an AnalysisException."""
    src = spark.createDataFrame([(1, "a", 2.0)], "id bigint, s string, d double")
    tgt = spark.createDataFrame([(1, "a", 2.0)], "id bigint, zzz string, d double")
    report = validate(src, tgt, ["id"])
    assert report.schema_failures == [C.MISMATCHED_COLUMN_NAMES]
    assert report.exit_code == 1
    assert report.counts_by_kind == {}  # common columns all match


def test_repair_writetime_strategies(spark):
    """RepairWritetimeStrategy semantics (ScyllaValidator.scala:275-303):
    source = passthrough, coordinator = now-µs, config = fixed value."""
    from scylla_migrator_spark.plans.validate import apply_repair_writetime

    df = spark.createDataFrame(
        [(1, "a", 111, 222)], "id long, v string, v_ttl long, v_writetime long"
    )
    src = apply_repair_writetime(df, "source").collect()[0]
    assert (src["v_writetime"], src["v_ttl"]) == (222, 111)

    coord = apply_repair_writetime(df, "coordinator", now_us=9_999).collect()[0]
    assert coord["v_writetime"] == 9_999
    assert coord["v_ttl"] == 111  # TTL untouched

    fixed = apply_repair_writetime(df, "config", value_us=1_234_567).collect()[0]
    assert fixed["v_writetime"] == 1_234_567

    import pytest as _pytest

    with _pytest.raises(ValueError):
        apply_repair_writetime(df, "config")  # value required


def test_repair_writetime_config_via_validate(spark):
    """End-to-end: copyMissingRows with the 'config' strategy stamps the
    repaired rows' writetime companions."""
    src = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, v string, v_writetime long"
    )
    tgt = src.filter(F.col("id") == 1)
    captured = []
    v = Validation(
        copy_missing_rows=True,
        repair_writetime_strategy="config",
        repair_writetime_value=777,
    )
    report = validate(src, tgt, ["id"], v, repair_writer=lambda d: captured.append(d.collect()))
    assert report.repaired_rows == 1
    [rows] = captured
    assert rows[0]["id"] == 2 and rows[0]["v_writetime"] == 777


def test_invalid_repair_strategy_rejected():
    import pytest as _pytest

    from scylla_migrator_spark.config import ConfigError

    with _pytest.raises(ConfigError):
        Validation(repair_writetime_strategy="bogus")
    with _pytest.raises(ConfigError):
        Validation(repair_writetime_strategy="config")  # missing value


def test_hash_validation_counts_match_direct_compare(spark):
    """With hash_columns set, digest mismatches go through the refinement
    probe: a float change inside the tolerance (id=1) is not a failure,
    and every kind is counted as the direct compare counts it."""
    src, tgt = _pair(spark)
    direct = validate(src, tgt, ["id"], Validation())
    hashed = validate(src, tgt, ["id"], Validation(hash_columns=["s", "d"]))
    assert hashed.counts_by_kind == direct.counts_by_kind


def _semantics_case(spark, case):
    """Source/target pairs whose keys are null or duplicated."""
    if case == "null_target_pk":
        src = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
        tgt = spark.createDataFrame([(1, "a"), (2, "b"), (None, "z")], "id bigint, s string")
        return src, tgt, ["id"]
    if case == "null_source_pk":
        src = spark.createDataFrame([(1, "a"), (None, "n")], "id bigint, s string")
        tgt = spark.createDataFrame([(1, "a")], "id bigint, s string")
        return src, tgt, ["id"]
    if case == "composite_null_target_a":
        schema = "a bigint, b bigint, s string"
        src = spark.createDataFrame([(1, 1, "x"), (2, 2, "y")], schema)
        tgt = spark.createDataFrame([(1, 1, "x"), (None, 2, "y")], schema)
        return src, tgt, ["a", "b"]
    assert case == "duplicate_target_key"
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id bigint, s string")
    tgt = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "B"), (4, "d"), (4, "d")], "id bigint, s string"
    )
    return src, tgt, ["id"]


@pytest.mark.parametrize(
    "case, counts, repaired",
    [
        # a target row whose PK is null matches nothing: it is extra, and
        # no source row is reported missing because of it
        ("null_target_pk", {C.EXTRA_TARGET_ROW: 1}, 0),
        # a source row whose PK is null is missing and gets repaired
        ("null_source_pk", {C.MISSING_TARGET_ROW: 1}, 1),
        # (null, 2) on the target does not match (2, 2) on the source
        ("composite_null_target_a", {C.MISSING_TARGET_ROW: 1, C.EXTRA_TARGET_ROW: 1}, 1),
        # key 2 pairs with both target copies (one differs); key 4 is
        # extra twice; key 3 is missing
        (
            "duplicate_target_key",
            {C.DIFFERING_FIELD_VALUES: 1, C.EXTRA_TARGET_ROW: 2, C.MISSING_TARGET_ROW: 1},
            1,
        ),
    ],
)
def test_null_and_duplicate_key_semantics(spark, case, counts, repaired):
    src, tgt, pk = _semantics_case(spark, case)
    written = []
    report = validate(
        src, tgt, pk, Validation(copy_missing_rows=True),
        repair_writer=lambda df: written.append(df.collect()),
    )
    assert report.counts_by_kind == counts
    assert report.repaired_rows == repaired
    assert sum(len(rows) for rows in written) == repaired


def test_validation_reads_each_input_once(spark, tmp_path):
    """run_validation with copyMissingRows reads each input once: the
    missing, extra and differing rows come from one join, and the repair
    appends at most defaultParallelism files."""
    import glob

    from scylla_migrator_spark.config import MigratorConfig
    from scylla_migrator_spark.plans.validate import run_validation

    n = 3000
    src = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("s"), (F.col("id") * 0.5).alias("d")
    )
    tgt = (
        src.filter(F.col("id") % 50 != 0)  # 60 missing
        .withColumn("d", F.when(F.col("id") % 33 == 0, F.col("d") + 1).otherwise(F.col("d")))
        .unionByName(spark.range(n, n + 20).select(  # 20 extra
            F.col("id"), F.lit("x").alias("s"), F.lit(0.0).alias("d")))
    )
    src_path, tgt_path = str(tmp_path / "src"), str(tmp_path / "tgt")
    src.repartition(3).write.parquet(src_path)
    tgt.repartition(3).write.parquet(tgt_path)
    n_src = spark.read.parquet(src_path).count()
    n_tgt = spark.read.parquet(tgt_path).count()
    files_before = len(glob.glob(f"{tgt_path}/*.parquet"))
    cfg = MigratorConfig.from_dict({
        "source": {"type": "parquet", "path": src_path},
        "target": {"type": "parquet", "path": tgt_path},
        "primaryKey": ["id"],
        "validation": {"copyMissingRows": True},
    })

    sc = spark.sparkContext
    group = "validation-one-pass"
    sc.setJobGroup(group, "run_validation")
    try:
        report = run_validation(spark, cfg)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    assert report.counts_by_kind == {
        C.MISSING_TARGET_ROW: 60, C.EXTRA_TARGET_ROW: 20, C.DIFFERING_FIELD_VALUES: 89,
    }
    assert report.repaired_rows == 60
    store = sc._jsc.sc().statusStore()
    stages = {
        sid
        for jid in sc.statusTracker().getJobIdsForGroup(group)
        for sid in sc.statusTracker().getJobInfo(jid).stageIds
    }
    read = sum(store.lastStageAttempt(sid).inputRecords() for sid in stages)
    assert read <= 1.05 * (n_src + n_tgt), (read, n_src, n_tgt)
    added = len(glob.glob(f"{tgt_path}/*.parquet")) - files_before
    assert 1 <= added <= sc.defaultParallelism
