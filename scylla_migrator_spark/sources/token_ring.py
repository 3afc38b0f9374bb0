"""Cassandra Murmur3 token ring: token computation, ring splitting, and
token-range-unit scanning over the fixture CQL source.

Reference parity (S1/Z2/E1): the reference's CQL scan is planned in token
ranges — the connector turns cluster metadata into per-range Spark
partitions, the savepoint manager records completed ``(start, end]`` pairs,
and a resumed run filters them out before planning
(readers/Cassandra.scala:342-441 ``tokenRangesToSkip``;
CqlSavepointsManager.scala:39-83 range diff). The sandbox has no live
cluster, but the token MATH is pure public knowledge — Cassandra's
``Murmur3Partitioner`` (MurmurHash3 x64_128, Appleby's algorithm with
Cassandra's signed-byte tail quirk, first 64-bit half, ``MIN_VALUE``
normalized to ``MAX_VALUE``) — so this module implements it for real and
gives the parquet-backed fixture genuine token-range semantics:

* :func:`murmur3_token` — the partitioner token of a serialized key
  (pinned against publicly documented ``token()`` values);
* :func:`serialize_pk_bigint` / :func:`serialize_pk_text` /
  :func:`serialize_pk_composite` — CQL partition-key serialization
  (big-endian fixed ints; UTF-8 text; the 2-byte-length + component +
  0x00 composite framing);
* :func:`full_ring_ranges` — an even n-way split of the Murmur3 ring
  ``(-2^63, 2^63-1]``, the fixture analog of cluster-metadata ranges;
* :func:`assign_token_ranges` — a vectorized Arrow pass stamping each row
  with its token and owning range index (the fixture's "which Spark
  partition would scan this row");
* :func:`migrate_token_ranges` — the chunked, savepoint-resumable
  migration loop in TOKEN-RANGE units (the CQL twin of
  ``plans/migrate.migrate_resumable``'s file units): ranges completed →
  ``skip_token_ranges``; a resumed run plans only the complement (F3 as
  scan-planning pruning, not runtime filtering).

Scale notes: token stamping is one Arrow ``mapInPandas`` pass (Python is
the fixture stand-in for the connector's JVM-side partitioner); range
membership then drives ordinary partition-pruned filters. Range count
follows the reference's ``splitCount`` posture — many more ranges than
executors so stragglers rebalance.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_TOKEN = -(2**63)
MAX_TOKEN = 2**63 - 1
_MASK = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK
    k ^= k >> 33
    return k


def _signed_byte(b: int) -> int:
    return b - 256 if b >= 128 else b


def murmur3_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3 x64_128, Cassandra variant: identical to Appleby's
    reference EXCEPT tail bytes are SIGN-EXTENDED (Java ``(long) byte``)
    before shifting — the well-known compatibility quirk every Cassandra
    driver reimplements. Returns the two unsigned 64-bit halves."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    length = len(data)
    nblocks = length // 16
    h1 = h2 = seed
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * c1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * c2) & _MASK
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _MASK
        h1 = (h1 * 5 + 0x52DCE729) & _MASK
        k2 = (k2 * c2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * c1) & _MASK
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _MASK
        h2 = (h2 * 5 + 0x38495AB5) & _MASK

    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    for i in range(len(tail) - 1, 7, -1):  # bytes 8..15 fold into k2
        k2 ^= (_signed_byte(tail[i]) << ((i - 8) * 8)) & _MASK
    if len(tail) > 8:
        k2 = (k2 * c2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * c1) & _MASK
        h2 ^= k2
    for i in range(min(len(tail), 8) - 1, -1, -1):  # bytes 0..7 fold into k1
        k1 ^= (_signed_byte(tail[i]) << (i * 8)) & _MASK
    if tail:
        k1 = (k1 * c1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * c2) & _MASK
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    return h1, h2


def murmur3_token(key_bytes: bytes) -> int:
    """Murmur3Partitioner.getToken: signed first 64-bit half, with the
    reserved minimum normalized to MAX (Murmur3Partitioner.java)."""
    h1, _ = murmur3_128(key_bytes)
    token = h1 - (1 << 64) if h1 >= (1 << 63) else h1
    return MAX_TOKEN if token == MIN_TOKEN else token


# -- CQL partition-key serialization ----------------------------------------


def serialize_pk_bigint(v: int) -> bytes:
    return struct.pack(">q", v)


def serialize_pk_text(v: str) -> bytes:
    return v.encode("utf-8")


def serialize_pk_composite(components: list[bytes]) -> bytes:
    """CompositeType framing for multi-column partition keys: per component
    a 2-byte big-endian length, the bytes, and a 0x00 end-of-component."""
    out = b""
    for c in components:
        out += struct.pack(">H", len(c)) + c + b"\x00"
    return out


def token_of_bigint(v: int) -> int:
    return murmur3_token(serialize_pk_bigint(v))


# -- ring splitting ----------------------------------------------------------


def full_ring_ranges(n: int) -> list[tuple[int, int]]:
    """Split the Murmur3 ring ``(MIN_TOKEN, MAX_TOKEN]`` into ``n``
    contiguous ``(start, end]`` ranges of near-equal width (the fixture
    analog of cluster-metadata token ranges + splitCount subsplitting).
    Every token in ``[MIN_TOKEN+1, MAX_TOKEN]`` falls in exactly one
    range."""
    if n < 1:
        raise ValueError("n must be >= 1")
    span = (1 << 64) - 1  # number of tokens in (MIN, MAX]
    bounds = [MIN_TOKEN + (span * i) // n for i in range(n + 1)]
    bounds[-1] = MAX_TOKEN
    return [(bounds[i], bounds[i + 1]) for i in range(n)]


def range_index_of(token: int, ranges: list[tuple[int, int]]) -> int:
    """The owning range's index for a token (ranges are (start, end])."""
    for i, (s, e) in enumerate(ranges):
        if s < token <= e:
            return i
    raise ValueError(f"token {token} outside every range")


# -- DataFrame integration ---------------------------------------------------


def assign_token_ranges(
    df: DataFrame, pk_col: str, ranges: list[tuple[int, int]]
) -> DataFrame:
    """Stamp each row with its Murmur3 token and owning range index (bigint
    single-column partition key — the fixture tables' shape). One Arrow
    ``mapInPandas`` pass; downstream per-range work uses ordinary filters
    on ``__range`` (and at scale, a ``repartition('__range')`` gives the
    connector's partition-per-range layout)."""
    schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("__token", T.LongType(), False),
            T.StructField("__range", T.IntegerType(), False),
        ]
    )
    bounds = [e for (_s, e) in ranges[:-1]]  # ascending inner boundaries

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bisect

        for pdf in batches:
            toks = [token_of_bigint(int(v)) for v in pdf[pk_col]]
            idx = [bisect.bisect_left(bounds, t) for t in toks]
            out = pdf.copy()
            out["__token"] = toks
            out["__range"] = idx
            yield out

    return df.mapInPandas(run, schema)


def migrate_token_ranges(
    spark,
    config,
    n_ranges: int | None = None,
    ranges_per_chunk: int = 2,
    stop_after_chunks: int | None = None,
) -> DataFrame:
    """Token-range-unit resumable migration — the CQL twin of
    ``plans/migrate.migrate_resumable`` (which chunks by FILE): plan the
    ring, prune ranges already recorded in the savepoint
    (``skip_token_ranges``, F3/E1), migrate the remainder in chunks, and
    record each chunk's ranges the moment its append commits (Z2). A run
    killed between chunks resumes with zero re-work; target layout is
    partitioned by ``__range`` so a chunk commit is a per-partition append
    and completed ranges' files are never rewritten."""
    from scylla_migrator_spark.plans.migrate import build_plan
    from scylla_migrator_spark.savepoints import SavepointsManager

    sp_dir = config.savepoints.path if config.savepoints and config.savepoints.path else None
    if sp_dir is None:
        raise ValueError("migrate_token_ranges requires savepoints.path")
    if not config.primary_key:
        raise ValueError("migrate_token_ranges requires a primaryKey")

    if n_ranges is None:
        # reference splitCount posture: configured ring splits, defaulting
        # to a multiple of the parallelism so stragglers rebalance
        n_ranges = config.source.split_count or 8
    ranges = full_ring_ranges(n_ranges)
    mgr = SavepointsManager.resume(sp_dir)
    todo = [r for r in ranges if tuple(r) not in mgr.skip_token_ranges]

    src = build_plan(spark, config)
    stamped = assign_token_ranges(src, config.primary_key[0], ranges)

    done_chunks = 0
    for at in range(0, len(todo), ranges_per_chunk):
        if stop_after_chunks is not None and done_chunks >= stop_after_chunks:
            break
        chunk = todo[at : at + ranges_per_chunk]
        idxs = [ranges.index(r) for r in chunk]
        part = stamped.filter(F.col("__range").isin(idxs)).drop("__token")
        part.write.mode("append").partitionBy("__range").parquet(config.target.path)
        mgr.complete_token_ranges(chunk)
        mgr.dump()  # savepoint never lags a committed chunk
        done_chunks += 1

    return spark.read.parquet(config.target.path).drop("__range")
