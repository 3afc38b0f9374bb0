"""Continuous aggregate: a streaming time-bucket rollup materialized by
foreachBatch upserts — the incremental twin of the batch
``time_bucket_rollup`` query (hypertable-style continuous aggregate).

Pattern (T6 extension; the reference's streaming path is stateless
per-record replication, DynamoStreamReplication.scala:42-114):

    readStream -> groupBy(entity, time_bucket).agg(...) in UPDATE mode
      -> foreachBatch: upsert the changed groups into the serving table

Update-mode streaming aggregation keeps per-group running state in the
checkpointed state store; each micro-batch emits only the groups that
changed, and the upsert replaces those keys in the serving table. After any
prefix of the stream, the serving table equals the batch aggregate over the
events seen so far — the correctness invariant the oracle checks.

Scale design — partition-scoped upsert:
- the serving table is laid out hive-partitioned by a deterministic
  key-hash bucket (``__bucket=N/``, N = pmod(xxhash64(keys), n_buckets)).
  A micro-batch touches only the buckets its keys hash into: the merge
  reads existing rows for THOSE buckets only (partition pruning prunes the
  scan to the affected directories) and replaces ONLY those buckets' files.
  Per-batch cost is O(affected buckets), not O(table) — the
  property the reference's streaming writer has (it touches only the
  batch's items, DynamoStreamReplication.scala:42-114). Untouched bucket
  directories are never read or rewritten (byte-identical across batches,
  pinned by test).
- at 100 TB, raise ``n_buckets`` (e.g. 4096) so each bucket directory stays
  a few GB; a micro-batch with K distinct keys rewrites ≤K buckets. On a
  real lakehouse the foreachBatch body becomes ``MERGE INTO serving USING
  batch ON keys`` against Delta/Iceberg — same batch DataFrame, same keys.
- crash semantics: the table is the files its commit record names
  (``pathio.commit``). An upsert writes its buckets' new files in place
  under unique names, then one record write swaps them in for the
  affected buckets' old files, which the sweep deletes: a crash leaves the
  whole previous table or the whole new one, and files no record names are
  deleted by the next upsert's opening sweep. The record's ``dirty`` list
  keeps that listing O(affected buckets) too: an upsert marks the whole
  table dirty before it writes, lists only the affected buckets to commit
  and leaves only them dirty, so the table is walked whole only after a
  crash. The checkpointed foreachBatch
  replays the micro-batch, and the upsert is idempotent (last-writer-wins
  replace of the batch's keys) — the at-least-once + idempotent-upsert
  contract (T4).
- sums use DECIMAL so merged results are bit-identical regardless of how
  the stream was chopped into batches (double sums are order-dependent).
- state is bounded by adding a watermark on the event-time column when
  buckets age out (not needed for the bounded fixture replay).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark import pathio

BUCKET_COL = "__bucket"
DEFAULT_BUCKETS = 16  # fixture scale; thousands at 100 TB
_META_FILE = "_sgs_upsert_meta.json"  # leading "_": ignored by Spark listing


def _bucket_expr(keys: list[str], n_buckets: int):
    # xxhash64 is null-tolerant and deterministic; cast to int to match the
    # type partition discovery infers for the directory values.
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


_M64 = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_long(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of ONE long column, on the driver: XXH64 of
    the value's 8 bytes with Spark's seed 42 (XxHash64Function processes
    a long as a single 8-byte block). Returned as Spark's SIGNED long.
    Pinned property-style against the engine's own xxhash64
    (tests/test_components_stage.py::test_driver_bucket_matches_spark) —
    it lets the maintainers derive a handful of bucket ids from a
    driver-resident component set without scheduling a local-relation
    Spark job per micro-batch."""
    h = ((seed & _M64) + _XXP5 + 8) & _M64
    k1 = (_rotl64((value & _M64) * _XXP2 & _M64, 31) * _XXP1) & _M64
    h ^= k1
    h = (_rotl64(h, 27) * _XXP1 + _XXP4) & _M64
    h ^= h >> 33
    h = h * _XXP2 & _M64
    h ^= h >> 29
    h = h * _XXP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_int(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of ONE *int* column, on the driver: Spark
    hashes IntegerType as a 4-byte XXH64 input (XxHash64Function.hashInt),
    which takes the 32-bit tail path, not the 8-byte block path."""
    h = ((seed & _M64) + _XXP5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _XXP1) & _M64
    h = (_rotl64(h, 23) * _XXP2 + _XXP3) & _M64
    h ^= h >> 33
    h = h * _XXP2 & _M64
    h ^= h >> 29
    h = h * _XXP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of_combo_key(combo_id: int, key_val: int, n_buckets: int) -> int:
    """Driver-side twin of ``_bucket_expr(["combo_id", "key_val"], n)``
    for the union-key stage layout (combo_id int, key_val long): Spark's
    multi-column xxhash64 chains each column's hash as the next column's
    seed, so ``xxhash64(c, k) = xxh64_long(k, seed=xxh64_int(c, 42))``.
    Pinned bit-for-bit against the engine's own xxhash64
    (tests/test_components_stage.py::test_driver_bucket_matches_spark) —
    it lets a micro-batch derive its probe's key-bucket prune list from
    driver-resident keys without a local-relation Spark job."""
    return xxh64_long(key_val, seed=xxh64_int(combo_id)) % n_buckets


def bucket_of_long(value: int, n_buckets: int) -> int:
    """Driver-side twin of ``_bucket_expr([one_long_col], n)`` — pmod of
    the signed xxhash64, matching Spark's pmod semantics."""
    return xxh64_long(value) % n_buckets


def _table_buckets(path: str, n_buckets: int) -> int:
    """Pin n_buckets at table creation so later upserts can't silently use a
    different modulus (which would mis-prune)."""
    meta = os.path.join(path, _META_FILE)
    if os.path.exists(meta):
        return int(json.loads(pathio.for_path(meta).read_utf8(meta))["n_buckets"])
    return n_buckets


def _write_meta(path: str, n_buckets: int) -> None:
    """Pin ``n_buckets`` for the table ``path`` being created; atomic: a
    truncated pin would kill every later _table_buckets."""
    os.makedirs(path, exist_ok=True)
    meta = os.path.join(path, _META_FILE)
    payload = json.dumps({"n_buckets": n_buckets}).encode("utf-8")
    pathio.for_path(meta).write_utf8_atomically(meta, payload)


def table_exists(path: str) -> bool:
    """Whether ``path`` holds a bucketed serving table: whether its commit
    record names any file. The single source of truth for the layout
    probe — the SCD2 maintainer and the upsert must agree on it."""
    return bool(pathio.live_names(path))


def open_table(path: str) -> bool:
    """Start a write of the bucketed table ``path`` (``pathio.begin``:
    sweep what the last write may have left, then mark the table dirty)
    and say whether it exists. A table written without a record (by an
    earlier version, or a plain ``partitionBy`` write) is adopted: its
    data files become its first record. An absent table stays absent; its
    first writer calls ``pathio.begin``."""
    if pathio.record(path) is None and not pathio.unnamed_files(path):
        return False
    pathio.begin(path)
    return table_exists(path)


def commit_buckets(
    root: str, dropped: list[str], appended: list[str] = (), meta: dict | None = None
) -> None:
    """Commit what was written below ``root`` since :func:`open_table` (or
    ``pathio.begin``): the record's files under each directory of
    ``dropped`` (relative to ``root``: the rewritten or emptied buckets)
    leave it, the data files no record names under ``dropped`` and
    ``appended`` (directories written without dropping, ``""`` for all of
    ``root``) enter it, and ``meta`` updates the record's meta. Only those
    directories are listed, and the sweep walks only ``dropped``."""
    rec = pathio.record(root)
    if rec is None or rec["meta"].get(pathio.DIRTY) != [""]:
        raise RuntimeError(f"{root}: a bucketed commit without open_table or pathio.begin")
    gone = tuple(d + "/" for d in dropped)
    live = [n for n in rec["live"] if not n.startswith(gone)]
    new = pathio.unnamed_files(root, [*dropped, *appended])
    meta = {**rec["meta"], **(meta or {}), pathio.DIRTY: sorted(dropped)}
    pathio.commit(root, live + new, meta)


def upsert_parquet(
    batch_df: DataFrame,
    path: str,
    keys: list[str],
    existing: DataFrame | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    affected: list[int] | None = None,
) -> None:
    """Replace rows matching ``keys`` with the batch's rows (last-writer-wins
    upsert, K7 semantics), rewriting ONLY the key-hash bucket partitions the
    batch touches (see module docstring). The affected buckets' new files
    are written in place under new names, then one commit record swaps
    them in, so readers of the record never observe a partial upsert and a
    crash leaves the previous table or the new one.

    The anti-join is NULL-SAFE: group/dimension keys can legitimately be
    null, and a null-unsafe condition would never match an existing
    null-key row — every upsert would duplicate it instead of replacing it.
    Callers that already read the current table (after ``open_table``)
    pass it as ``existing``; it is pruned to the affected buckets before
    the merge. Callers that already know the batch's bucket set (e.g. the
    SCD2 maintainer, whose output keys are exactly its input batch's keys)
    pass ``affected`` to skip the distinct-buckets job over the batch
    frame."""
    _upsert(batch_df, path, keys, open_table(path), existing, n_buckets, affected)


def _upsert(
    batch_df: DataFrame,
    path: str,
    keys: list[str],
    exists: bool,
    existing: DataFrame | None,
    n_buckets: int,
    affected: list[int] | None,
) -> None:
    """:func:`upsert_parquet` into the table ``path`` its caller opened
    (``exists``: what :func:`open_table` said)."""
    spark = batch_df.sparkSession
    n_buckets = _table_buckets(path, n_buckets) if exists else n_buckets
    batch_df = batch_df.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets)).persist()
    try:
        if exists:
            if affected is None:
                affected = sorted(
                    r[0] for r in batch_df.select(BUCKET_COL).distinct().collect()
                )
            if existing is None:
                existing = spark.read.parquet(path)
            elif BUCKET_COL not in existing.columns:
                existing = existing.withColumn(
                    BUCKET_COL, _bucket_expr(keys, n_buckets)
                )
            # partition pruning: only the affected bucket dirs are scanned
            existing = existing.filter(F.col(BUCKET_COL).isin(affected))
            new_keys = batch_df.select(*keys).dropDuplicates(keys).alias("nk")
            ex = existing.alias("ex")
            cond = None
            for k in keys:
                c = ex[k].eqNullSafe(new_keys[k])
                cond = c if cond is None else (cond & c)
            merged = ex.join(new_keys, on=cond, how="left_anti").unionByName(batch_df)
        else:
            merged = batch_df  # first generation: no prune list needed
            pathio.begin(path)
            _write_meta(path, n_buckets)
        # cluster each bucket into one task/file: without this, every
        # shuffle partition opens a writer per bucket it touches
        # (tasks x buckets small files) and the dynamic-partition sort
        # runs per task
        merged.repartition(F.col(BUCKET_COL)).write.mode("append").partitionBy(
            BUCKET_COL
        ).parquet(path)
        commit_buckets(
            path, [f"{BUCKET_COL}={b}" for b in affected or ()], [] if exists else [""]
        )
    finally:
        batch_df.unpersist()


def affected_buckets(
    batch_df: DataFrame, keys: list[str], path: str, n_buckets: int = DEFAULT_BUCKETS
) -> tuple[list[int], int]:
    """The bucket ids a batch's keys hash into under the table's pinned
    modulus — callers use this to prune their own reads of the serving
    table to the affected partitions (e.g. the SCD2 prior-version fetch)."""
    n = _table_buckets(path, n_buckets)
    rows = (
        batch_df.select(_bucket_expr(keys, n).alias(BUCKET_COL))
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows), n


def continuous_rollup(
    stream_agg: DataFrame, target_path: str, keys: list[str], checkpoint: str
):
    """Drive an update-mode streaming aggregate into a parquet serving table
    via partition-scoped foreachBatch upserts; returns the started query."""
    return (
        stream_agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(lambda bdf, _bid: upsert_parquet(bdf, target_path, keys))
        .trigger(availableNow=True)
        .start()
    )
