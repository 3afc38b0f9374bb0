"""Incremental SCD2 maintenance over a CDC stream — type-2 warehouse
ingestion (T6 extension; the reference's replication is last-writer-wins,
DynamoStreamReplication.scala:42-114 — this keeps the version history).

Pattern:

    readStream(change feed) -> foreachBatch:
        affected = batch's distinct keys
        prior  = served history rows of affected keys, reverted to their
                 change-log rows ((valid_from, tie, attrs) per version)
        recomputed = scd2_history(prior UNION batch rows)   # per-key
        upsert: replace affected keys' history, keep everyone else's

Correctness invariant (checked by the oracle): after any prefix of the
stream, the serving table equals the batch ``scd2_history`` over all events
seen so far, PROVIDED arrivals are per-key monotone ACROSS batches (any
disorder WITHIN a batch is fine — the recompute sorts). That is the CDC
log-offset / watermark property every real change feed provides. It is also
necessary: a cross-batch late event can split an already-collapsed run, and
the run's interior members are exactly what collapsing discarded — SCD2
rows are a sufficient statistic only for tail appends. For feeds with
bounded cross-batch lateness, widen the state to raw events within the
watermark and collapse only rows older than it.

Scale notes:
- per batch, only AFFECTED keys are recomputed, and a key's recompute cost
  is proportional to its number of VERSIONS (the collapsed change log), not
  its event count — the sufficient-statistic property of SCD2 rows under
  tail appends.
- the serving table is hash-bucket-partitioned (streaming/rollup.py):
  BOTH the prior-version fetch here AND the upsert rewrite touch only the
  bucket partitions the batch's keys hash into (partition pruning on the
  read, the affected buckets' files swapped by one commit record on the
  write) — per-batch cost is
  O(affected buckets), never O(table). On a lakehouse this becomes a
  ``MERGE`` with a delete-then-insert of the affected keys' partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark.operators.scd import scd2_history
from scylla_migrator_spark.streaming.rollup import (
    BUCKET_COL,
    DEFAULT_BUCKETS,
    _upsert,
    affected_buckets,
    open_table,
)

_TIE_OUT = "__tie"


def scd2_upsert_batch(
    batch_df: DataFrame,
    serving_path: str,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tie_col: str,
) -> None:
    """foreachBatch body: fold one micro-batch of change rows into the
    served SCD2 table (see module docstring)."""

    spark = batch_df.sparkSession
    new_rows = batch_df.select(*key_cols, *attr_cols, ts_col, tie_col)
    buckets = None
    exists = open_table(serving_path)
    if exists:
        # one cheap distinct over the raw batch (not the windowed hist)
        # gives the affected bucket set for BOTH the prior-fetch prune and
        # the upsert; the first generation needs neither
        buckets, _n = affected_buckets(new_rows, key_cols, serving_path)
        # prune the serving scan to the bucket partitions the batch's keys
        # hash into — the prior-fetch never reads untouched buckets
        served = (
            spark.read.parquet(serving_path)
            .filter(F.col(BUCKET_COL).isin(buckets))
            .drop(BUCKET_COL)
        )
        affected = new_rows.select(*key_cols).distinct().alias("af")
        sv = served.alias("sv")
        # null-safe semi join: a null key must still find its own history
        cond = None
        for k in key_cols:
            c = sv[k].eqNullSafe(affected[k])
            cond = c if cond is None else (cond & c)
        prior = sv.join(affected, on=cond, how="left_semi").select(
            *key_cols,
            *attr_cols,
            F.col("valid_from").alias(ts_col),
            F.col(_TIE_OUT).alias(tie_col),
        )
        union = new_rows.unionByName(prior)
    else:
        union = new_rows
    hist = scd2_history(union, key_cols, ts_col, attr_cols, tie_col, tie_out=_TIE_OUT)
    # hist's key set == the batch's key set (prior rows share the batch's
    # keys), so its bucket set is exactly the one computed for the
    # prior-fetch prune — pass it through to skip a distinct job over hist
    _upsert(hist, serving_path, key_cols, exists, None, DEFAULT_BUCKETS, buckets)


def incremental_scd2(
    stream: DataFrame,
    serving_path: str,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tie_col: str,
    checkpoint: str,
):
    """Drive a change-row stream into an incrementally-maintained SCD2
    serving table; returns the started query. Read the result with
    ``spark.read.parquet(serving_path)`` (drop the ``__tie`` bookkeeping
    column)."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda bdf, _bid: scd2_upsert_batch(
                bdf, serving_path, key_cols, ts_col, attr_cols, tie_col
            )
        )
        .trigger(availableNow=True)
        .start()
    )
