"""Validation plan: distributed join-diff of source vs target with typed
tolerances, failure sampling, extra/missing detection, repair, and
hash-refinement.

Reference parity (§2.11 + §3.2):
* prefix src_/tgt_ + outer join on PK — MySQLToScyllaValidator.scala:792-811 (J3)
* per-row failure production — :846-919 and RowComparisonFailure.scala:83-205 (V1)
* extra-target rows via left_anti — validation/core/ExtraRowDetector.scala:8-31 (J4)
* missing-row repair via left_anti + write — :953-983 (J5/V5)
* content-hash compare + targeted refinement probe — :988-1097 (V4/J6)
* bounded failure sampling — :150-212 (A5)

Plan shape at scale: ONE full-outer shuffle on the PK (AQE picks SMJ or
shuffled-hash). Each side carries a presence marker, so missing rows (no
target side), extra rows (no source side) and differing rows all come out
of that one join; the diff itself is a pure column expression (codegen).
``validate`` caches the failing rows once and serves the counts, the sample
and the repair input from that cache, so each input is read once. With
hash_columns set, wide payload columns are collapsed into one digest before
the shuffle and only digest-mismatched keys are re-read by the refinement
probe.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from scylla_migrator_spark.config import Validation
from scylla_migrator_spark.operators import comparators as C
from scylla_migrator_spark.operators.content_hash import CONTENT_HASH_COL, add_content_hash
from scylla_migrator_spark.pathio import generation, live_names, read_live
from scylla_migrator_spark.plans.migrate import build_plan
from scylla_migrator_spark.schema import WRITETIME_SUFFIX, prefix_columns, resolve_columns
from scylla_migrator_spark.sinks.parquet import write_parquet

SRC = "src_"
TGT = "tgt_"
FAILURES_COL = "__failures"
# presence markers: true where that side of the outer join has a row (a
# null PK value cannot stand in for an absent side)
SRC_PRESENT = "__src_present"
TGT_PRESENT = "__tgt_present"


@dataclass
class ValidationReport:
    counts_by_kind: dict[str, int]
    sample_failures: list[Row]
    type_mismatch_columns: list[str] = field(default_factory=list)
    schema_failures: list[str] = field(default_factory=list)
    repaired_rows: int = 0

    @property
    def total_failures(self) -> int:
        return sum(self.counts_by_kind.values())

    @property
    def exit_code(self) -> int:
        """Non-zero on any failure (Validator.scala:67-104)."""
        return 1 if (self.total_failures or self.schema_failures or self.type_mismatch_columns) else 0


def schema_level_failures(source: DataFrame, target: DataFrame) -> list[str]:
    """Column count/name mismatch checks, case-insensitive
    (RowComparisonFailure.scala:96-117)."""
    src_cols = {c.lower() for c in source.columns}
    tgt_cols = {c.lower() for c in target.columns}
    failures = []
    if len(source.columns) != len(target.columns):
        failures.append(C.MISMATCHED_COLUMN_COUNT)
    if src_cols != tgt_cols:
        failures.append(C.MISMATCHED_COLUMN_NAMES)
    return failures


def joined_diff(
    source: DataFrame,
    target: DataFrame,
    primary_key: list[str],
    v: Validation,
    set_columns: set[str] | None = None,
) -> tuple[DataFrame, list[str]]:
    """The core diff frame: src_/tgt_ prefixed full outer join on the PK
    with the ``SRC_PRESENT``/``TGT_PRESENT`` markers and a ``__failures``
    array<struct<column,kind>> column: ``MissingTargetRow`` without a
    target side, ``ExtraTargetRow`` without a source side, else the
    column diffs."""
    pk = resolve_columns(source.columns, primary_key)

    if v.hash_columns:
        hash_cols = resolve_columns(source.columns, v.hash_columns)
        source = add_content_hash(source, hash_cols)
        target = add_content_hash(target, resolve_columns(target.columns, hash_cols))

    comparisons, type_mismatches = C.build_column_comparisons(
        source.schema, SRC, TGT, pk, v, tgt_schema=target.schema, set_columns=set_columns
    )

    s = prefix_columns(source, SRC).withColumn(SRC_PRESENT, F.lit(True))
    t = prefix_columns(target, TGT).withColumn(TGT_PRESENT, F.lit(True))
    cond = [s[SRC + k] == t[TGT + k] for k in pk]
    joined = s.join(t, on=cond, how="full_outer")

    def whole_row(kind: str) -> Column:
        return F.array(F.struct(F.lit("").alias("column"), F.lit(kind).alias("kind")))

    entries = [
        F.when(
            ~comp.equal,
            F.struct(F.lit(comp.name).alias("column"), F.lit(comp.kind).alias("kind")),
        )
        for comp in comparisons
    ]
    diffs = F.filter(F.array(*entries), lambda x: x.isNotNull()) if entries else F.array()
    failures = (
        F.when(F.col(TGT_PRESENT).isNull(), whole_row(C.MISSING_TARGET_ROW))
        .when(F.col(SRC_PRESENT).isNull(), whole_row(C.EXTRA_TARGET_ROW))
        .otherwise(diffs)
    )
    return joined.withColumn(FAILURES_COL, failures), type_mismatches


def extra_target_rows(source: DataFrame, target: DataFrame, primary_key: list[str]) -> DataFrame:
    """Rows only in the target: key-projected left_anti (ExtraRowDetector:8-31).
    Key-only projections keep the shuffle narrow. Serves the registry's J4
    row; ``validate`` takes its extra rows from the ``joined_diff`` join."""
    pk = resolve_columns(source.columns, primary_key)
    return target.select(*pk).join(source.select(*pk).distinct(), on=pk, how="left_anti")


def missing_source_rows(source: DataFrame, target: DataFrame, primary_key: list[str]) -> DataFrame:
    """Full source rows absent from the target (repair input, J5). Serves
    the registry's J5 row; ``validate`` takes its repair input from the
    ``joined_diff`` join."""
    pk = resolve_columns(source.columns, primary_key)
    return source.join(target.select(*pk).distinct(), on=pk, how="left_anti")


def refine_hash_mismatches(
    source: DataFrame,
    target: DataFrame,
    mismatched_keys: DataFrame,
    primary_key: list[str],
    v: Validation,
    set_columns: set[str] | None = None,
) -> DataFrame:
    """Hash-refinement probe (V4/J6): given the (small) PK set of rows whose
    digests differed, inner-join both full-payload sides against the key set
    (small side auto-broadcast) and produce per-column diffs."""
    pk = resolve_columns(source.columns, primary_key)
    keys = F.broadcast(mismatched_keys.select(*pk).distinct())
    src_probe = source.join(keys, on=pk, how="inner")
    tgt_probe = target.join(keys, on=pk, how="inner")
    refine_v = Validation(
        compare_timestamps=v.compare_timestamps,
        ttl_tolerance_millis=v.ttl_tolerance_millis,
        writetime_tolerance_millis=v.writetime_tolerance_millis,
        timestamp_ms_tolerance=v.timestamp_ms_tolerance,
        floating_point_tolerance=v.floating_point_tolerance,
        failures_to_fetch=v.failures_to_fetch,
        numeric_type_policy=v.numeric_type_policy,
        hash_columns=[],  # direct compare on the probe
    )
    diff, _ = joined_diff(src_probe, tgt_probe, pk, refine_v, set_columns=set_columns)
    return diff.filter(F.size(FAILURES_COL) > 0)


def apply_repair_writetime(
    df: DataFrame, strategy: str = "source", value_us: int | None = None, now_us: int | None = None
) -> DataFrame:
    """Stamp the ``*_writetime`` companion columns of repair rows
    (RepairWritetimeStrategy.scala, applied at ScyllaValidator.scala:275-303):

    - ``source``: keep the source row's writetimes (no-op) — the repaired
      cell is indistinguishable from an original migration.
    - ``coordinator``: stamp "now" in epoch-µs — what a plain CQL INSERT
      without USING TIMESTAMP would get. ``now_us`` injectable for tests.
    - ``config``: stamp the fixed configured value.

    A column expression rewrite (single projection, stays in codegen); the
    non-writetime columns pass through untouched."""
    if strategy == "source":
        return df
    if strategy == "coordinator":
        stamp = now_us if now_us is not None else int(time.time() * 1_000_000)
    elif strategy == "config":
        if value_us is None:
            raise ValueError("repair_writetime_strategy 'config' requires a value")
        stamp = value_us
    else:
        raise ValueError(f"unknown repair writetime strategy {strategy!r}")
    wt_cols = [c for c in df.columns if c.endswith(WRITETIME_SUFFIX)]
    return df.select(
        *[
            F.lit(stamp).cast("long").alias(c) if c in wt_cols else F.col(c)
            for c in df.columns
        ]
    )


def _count_kinds(failures: DataFrame) -> dict[str, int]:
    """Failure counts per kind of an exploded ``f`` struct column."""
    return {
        r["kind"]: r["cnt"]
        for r in failures.groupBy(F.col("f.kind").alias("kind"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }


def validate(
    source: DataFrame,
    target: DataFrame,
    primary_key: list[str],
    v: Validation | None = None,
    set_columns: set[str] | None = None,
    repair_writer=None,
) -> ValidationReport:
    """Run the full validation; optionally repair missing rows via
    ``repair_writer(missing_df)`` when ``v.copy_missing_rows``. The repair
    frame has the source's columns in the source's order."""
    v = v or Validation()
    schema_failures = schema_level_failures(source, target)

    diff, type_mismatches = joined_diff(source, target, primary_key, v, set_columns)
    failing = diff.filter(F.size(FAILURES_COL) > 0).persist()
    try:
        failures = failing.select(F.explode(FAILURES_COL).alias("f"))
        if not v.hash_columns:
            counts = _count_kinds(failures)
        else:
            # a digest mismatch only says SOME hashed column differs: count
            # the unhashed columns' failures here and let the refinement
            # probe report the hashed ones with their own tolerances
            counts = _count_kinds(failures.filter(F.col("f.column") != CONTENT_HASH_COL))
            pk = resolve_columns(source.columns, primary_key)
            hashed = resolve_columns(source.columns, v.hash_columns)
            mismatched = failing.filter(
                F.exists(FAILURES_COL, lambda f: f["column"] == CONTENT_HASH_COL)
            ).select(*[F.col(SRC + k).alias(k) for k in pk])
            refined = refine_hash_mismatches(
                source, target, mismatched, pk, v, set_columns
            ).select(F.explode(FAILURES_COL).alias("f"))
            for kind, n in _count_kinds(
                refined.filter(F.col("f.column").isin(*hashed))
            ).items():
                counts[kind] = counts.get(kind, 0) + n
        sample = (
            failing.filter(F.col(SRC_PRESENT).isNotNull())
            .drop(SRC_PRESENT, TGT_PRESENT)
            .limit(v.failures_to_fetch)
            .collect()
        )

        repaired = 0
        if v.copy_missing_rows and repair_writer is not None:
            repaired = counts.get(C.MISSING_TARGET_ROW, 0)
            if repaired:
                # the cached join keeps every shuffle partition; coalesce so
                # the append writes no more files than there are cores
                missing = (
                    failing.filter(F.col(TGT_PRESENT).isNull())
                    .select(*[F.col(SRC + c).alias(c) for c in source.columns])
                    .coalesce(failing.sparkSession.sparkContext.defaultParallelism)
                )
                repair_writer(
                    apply_repair_writetime(
                        missing, v.repair_writetime_strategy, v.repair_writetime_value
                    )
                )
    finally:
        failing.unpersist()

    return ValidationReport(
        counts_by_kind=counts,
        sample_failures=sample,
        type_mismatch_columns=type_mismatches,
        schema_failures=schema_failures,
        repaired_rows=repaired,
    )


def run_validation(spark: SparkSession, config) -> ValidationReport:
    """Config-driven validation (Validator.main analog, Validator.scala:40-105):
    load source and target per the config, validate with the configured
    tolerances, optionally repair missing rows into the target."""
    # the EXACT frame migrate writes (shared _apply_transforms pipeline):
    # using read_source + renames here would falsely flag rows migrate
    # deliberately drops (null-PK filtering) as MISSING_TARGET_ROW and
    # mis-handle DynamoDB item frames whose renames are map-key renames
    source = build_plan(spark, config)
    target = read_live(spark.read, config.target.path)

    def repair(missing: DataFrame) -> None:
        path, by = config.target.path, config.target.partition_by
        live = live_names(path)
        if live is None or by:
            # in place, in the target's layout (joining its record if any)
            write_parquet(missing, path, mode="append", partition_by=by)
        else:  # a committed flat table: the repair is one more live generation
            with generation(path, keep=live) as gen:
                missing.write.parquet(gen)

    return validate(
        source,
        target,
        config.primary_key,
        config.validation,
        repair_writer=repair if config.validation.copy_missing_rows else None,
    )
