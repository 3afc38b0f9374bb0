"""Query registry: every SURVEY §2 operator exposed as a (spark, sf_dir) ->
DataFrame callable with a DuckDB-oracle SQL twin.

Contract (driver): column names must match the oracle exactly; values are
hash-compared order-insensitively. Therefore every computed column is aliased
identically on both sides, double aggregates go through decimal casts (exact
cross-engine arithmetic), and ratios are rounded to 6 dp.

Determinism notes are inline per query.
"""

from __future__ import annotations

import graphlib
import hashlib
import inspect
import itertools
import json
import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics import components as CMOD
from scylla_migrator_spark.analytics import dedup as D
from scylla_migrator_spark.analytics import multimodal as MM
from scylla_migrator_spark.analytics import sampling as SAMP
from scylla_migrator_spark.analytics import similarity as SIM
from scylla_migrator_spark.analytics import text as TXT
from scylla_migrator_spark.analytics import tokenizer as TOK
from scylla_migrator_spark.config import Rename, Validation
from scylla_migrator_spark.operators.content_hash import add_content_hash
from scylla_migrator_spark.operators.explode_timestamps import explode_by_timestamp_groups
from scylla_migrator_spark.operators.filters import apply_where, drop_null_pk_rows
from scylla_migrator_spark.operators.renames import apply_renames
from scylla_migrator_spark.plans import validate as V
from scylla_migrator_spark.streaming import components_cdc as CC
from scylla_migrator_spark.streaming.rollup import _bucket_expr

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _session_proof(spark: SparkSession) -> None:
    """Pin the session confs every query assumes, at runtime.

    The driver's harness builds a vanilla SparkSession (not ours from
    ``session.build_session``), so any conf we rely on must be set here:

    - ``spark.sql.legacy.parquet.nanosAsLong``: when events.parquet stores
      ts as TIMESTAMP(NANOS) (early fixture generations), without this flag
      the read dies with PARQUET_TYPE_ILLEGAL. Runtime-settable (it is read
      at scan planning, not session build). Harmless for micros fixtures.
    - ``spark.sql.session.timeZone``: oracle hashes on timestamp-bearing
      queries are computed under UTC; a non-UTC driver session would shift
      rendered timestamps, and the ntz->nanos normalization in
      ``_ts_nanos`` relies on UTC wall-clock interpretation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ts_nanos(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize an event-time column to epoch-nanos BIGINT, whatever the
    physical parquet type of the fixture generation.

    The engine's internal convention for event time is epoch-nanos LongType
    (the reference's widen-to-long rule taken one step further,
    Cassandra.scala:191-208 — a 64-bit integer never overflows Spark's
    µs-TimestampType range and compares exactly). Fixture generations have
    stored ts as TIMESTAMP(NANOS) (surfaced as LongType under nanosAsLong)
    and as timestamp[us] (surfaced as TIMESTAMP_NTZ); both, plus a tz-aware
    TIMESTAMP, normalize to the same nanos long here. Column position is
    preserved (withColumn replaces in place)."""
    dt = dict(df.dtypes).get(col)
    if dt in ("timestamp", "timestamp_ntz"):
        # ntz -> timestamp is an identity reinterpretation under the UTC
        # session timezone pinned by _session_proof.
        df = df.withColumn(
            col, (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).alias(col)
        )
    return df


# Session-scoped READER cache for IMMUTABLE paths. `spark.read.parquet(path)`
# costs ~130 ms per call (mostly parquet footer schema inference) and the
# registry pays it 1-4x per scenario; the resolved DataFrame is a lazy plan
# object — every action on it still scans parquet fresh, so caching it
# changes planning time only. ONLY immutable paths belong here: the
# read-only fixture tables and published stages (atomic rename + _READY;
# never rewritten for a given key). Maintenance/serving dirs that scenarios
# REWRITE mid-run (the components stage/serving layouts) must keep fresh
# reads — a cached plan pins the file listing and would serve a swapped
# directory stale. Keyed per SparkSession so a fresh session never sees
# another's plans. The cached frames hold their session, so an entry is
# dropped explicitly once its session has stopped (`_session_readers`).
_READER_CACHE: dict[SparkSession, dict] = {}


def _session_readers(spark: SparkSession) -> dict:
    """`spark`'s reader-cache entry. Entries of stopped sessions (their
    SparkContext no longer has a JVM handle) are dropped first, so a
    stopped session's plans do not outlive it."""
    for s in list(_READER_CACHE):
        if s._sc._jsc is None:
            _READER_CACHE.pop(s, None)
    return _READER_CACHE.setdefault(spark, {})


def _read_parquet_immutable(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` for a path whose contents never change
    within a session (fixture tables, published stages): resolved once per
    (session, path), reused as a plan object thereafter."""
    per = _session_readers(spark)
    df = per.get(path)
    if df is None:
        df = spark.read.parquet(path)
        df._sgs_immutable_path = path  # lets _staged_rows read footer counts
        per[path] = df
    return df


def _staged_rows(df: DataFrame) -> int | None:
    """Exact row count of a `_read_parquet_immutable` frame from parquet
    FOOTERS — a driver-side pyarrow metadata read, no Spark job. Returns
    None for frames that did not come through the immutable reader. Used
    as `connected_components(edge_rows_hint=...)` so corpus-scale staged
    edge lists skip the take(cap+1) probe instead of computing the edge
    pipeline twice."""
    path = getattr(df, "_sgs_immutable_path", None)
    if path is None:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except Exception:  # noqa: BLE001 - a hint is optional; fall back to probing
        return None


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per = _session_readers(spark)
    key = ("_t", sf_dir, name)
    df = per.get(key)
    if df is None:
        _session_proof(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = _ts_nanos(df)
        per[key] = df
    return df


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with its on-disk schema (no ts normalization) — for
    streaming sites that must pass the file's physical schema to
    ``readStream.schema``."""
    _session_proof(spark)
    return _read_parquet_immutable(spark, f"{sf_dir}/events.parquet")


def _stage_tag(sf_dir: str, table: str = "events") -> str:
    """Fingerprint a fixture table by (size, mtime) of its file, so that
    regenerating the testdata (new rows, new physical ts type) changes
    every key derived from it."""
    st = os.stat(f"{sf_dir}/{table}.parquet")
    return f"{os.path.basename(sf_dir.rstrip('/'))}_{st.st_size}_{st.st_mtime_ns}"


def _stage_root() -> str:
    """Root directory for published stages. Defaults to /tmp;
    `$SGS_STAGE_ROOT` overrides it (the bench's `stage_build_cold` row
    rebuilds every stage into a throwaway root). Per-run scenario
    outputs/checkpoints stay on /tmp regardless."""
    return os.environ.get("SGS_STAGE_ROOT", "/tmp")


def _fan(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to every core before compute-heavy per-row work.

    The driver fixtures are single-file single-row-group parquet, so the scan
    stage cannot split and any expensive projection chained onto it (JSON
    codec, digests, shingling) runs serially. A real 100 TB table is tens of
    thousands of files/row-groups and parallelizes at the scan, so this
    round-robin repartition reproduces the cluster plan shape locally. It is
    applied AFTER filters/column pruning so pushdown still reaches the scan
    and the shuffle carries only the pruned columns."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# ===========================================================================
# Stage registry: build-once artifacts shared across queries
# ===========================================================================

STAGES: dict[str, "_Stage"] = {}
_BUILDING = threading.local()  # per thread: the stages whose builds are running


def _source(obj) -> str:
    """The source text a stage key covers for a module or function."""
    return inspect.getsource(obj)


def _digest(parts) -> str:
    return hashlib.md5("\0".join(parts).encode()).hexdigest()[:16]


def _publish_stage(stage: str, build) -> str:
    """Build-and-atomically-publish a stage directory.

    ``build(tmp_dir)`` writes the stage content into a private tmp dir; on
    success a ``_READY`` marker is added and the dir is renamed into place
    (atomic — readers only ever see a complete stage). A failed build
    removes its tmp dir instead of leaking it; a failed rename is tolerated
    only when a concurrent winner already published the stage — any other
    rename error propagates rather than deleting the only good copy and
    masking the cause."""
    import shutil

    if os.path.exists(os.path.join(stage, "_READY")):
        return stage
    tmp_stage = f"{stage}__build_{os.getpid()}"
    try:
        build(tmp_stage)
        open(os.path.join(tmp_stage, "_READY"), "w").close()
        os.replace(tmp_stage, stage)
    except OSError:
        shutil.rmtree(tmp_stage, ignore_errors=True)
        if not os.path.exists(os.path.join(stage, "_READY")):
            raise
    except Exception:
        shutil.rmtree(tmp_stage, ignore_errors=True)
        raise
    return stage


class _Stage:
    """A declared build-once artifact; calling it returns the published
    stage, building it first if no stage exists under its current key."""

    def __init__(self, name: str, build, tables=(), inputs=(), code=()):
        self.name, self.build = name, build
        self.tables, self.inputs, self.code = tuple(tables), tuple(inputs), tuple(code)
        self.kind = build.__annotations__.get("return")
        self._code_digest: str | None = None

    def key(self, sf_dir: str) -> str:
        """Digest of the fixture tags of the declared tables, the keys of
        the declared input stages, and the source of the builder and of
        every declared `code` module or function."""
        if self._code_digest is None:
            self._code_digest = _digest(_source(o) for o in (self.build, *self.code))
        return _digest(
            [
                self.name,
                self._code_digest,
                *(_stage_tag(sf_dir, t) for t in self.tables),
                *(i.key(sf_dir) for i in self.inputs),
            ]
        )

    def __call__(self, spark: SparkSession, sf_dir: str):
        running = getattr(_BUILDING, "stack", None)
        if running and self not in running[-1].inputs:
            raise RuntimeError(
                f"stage {running[-1].name!r} reads stage {self.name!r}, "
                "which it does not declare in its inputs"
            )
        path = os.path.join(_stage_root(), f"sgs_{self.name}_{self.key(sf_dir)}")
        path = _publish_stage(path, lambda tmp: self._build(spark, sf_dir, tmp))
        if self.kind == "DataFrame":
            return _read_parquet_immutable(spark, path)
        if self.kind == "None":
            return path
        with open(os.path.join(path, "value.json")) as fh:
            return json.load(fh)

    def _build(self, spark: SparkSession, sf_dir: str, tmp: str) -> None:
        _BUILDING.stack = [*getattr(_BUILDING, "stack", []), self]
        try:
            if self.kind == "None":
                self.build(spark, sf_dir, tmp)
            elif self.kind == "DataFrame":
                self.build(spark, sf_dir).write.mode("overwrite").parquet(tmp)
            else:
                value = self.build(spark, sf_dir)
                os.makedirs(tmp, exist_ok=True)
                with open(os.path.join(tmp, "value.json"), "w") as fh:
                    json.dump(value, fh)
        finally:
            _BUILDING.stack = _BUILDING.stack[:-1]


def stage(name: str, tables=(), inputs=(), code=()):
    """Declare the decorated builder as the stage ``name``.

    The stage's key covers the fixture tables it reads (``tables``), the
    stages it reads (``inputs`` — reading an undeclared stage while
    building raises), its builder's own source and the source of every
    module or function in ``code`` — list every helper the builder reaches
    outside this function, so that editing it invalidates the stage. The
    builder's return annotation says what callers get:

    - ``-> DataFrame``: ``build(spark, sf_dir)`` returns a frame, written
      as parquet; callers get it back through the immutable reader;
    - ``-> None``: ``build(spark, sf_dir, out)`` writes the directory
      ``out`` itself; callers get the published path;
    - anything else: ``build(spark, sf_dir)`` returns a JSON value;
      callers get it back from JSON.

    Builders must be deterministic: a stage changes wall-clock, never
    values."""

    def deco(build) -> _Stage:
        if name in STAGES:
            raise ValueError(f"stage {name!r} is declared twice")
        STAGES[name] = _Stage(name, build, tables, inputs, code)
        return STAGES[name]

    return deco


def _stage_waves() -> list[list[_Stage]]:
    """Every registered stage, in dependency waves derived from the
    declared inputs (a topological sort): each stage sits in a later wave
    than all of its inputs, so the stages of one wave can build
    concurrently once the earlier waves have published."""
    order = list(STAGES.values())
    ts = graphlib.TopologicalSorter({st: st.inputs for st in order})
    ts.prepare()
    waves = []
    while ts.is_active():
        wave = sorted(ts.get_ready(), key=order.index)
        waves.append(wave)
        ts.done(*wave)
    return waves


# ===========================================================================
# Oracle SQL builders: the DuckDB shapes several oracles share, spelled once
# ===========================================================================

# Whitespace tokens of a row's `text` (the tokenization TXT.* replays).
_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"


def _trigrams(pad: bool) -> str:
    """Word-trigram shingles of `text` as a list; ``pad`` keeps a doc
    shorter than 3 tokens as one shingle (callers that don't pad filter
    such docs out)."""
    n = f"greatest(len({_TOKENS}) - 2, 1)" if pad else f"len({_TOKENS}) - 2"
    return f"""list_transform(
               generate_series(1, {n}),
               i -> array_to_string(list_slice({_TOKENS}, i, i + 2), ' ')
             )"""


def _md5_hashes(tokens: str, hex_width: int = 8) -> str:
    """Each token's md5 prefix of ``hex_width`` hex digits as a BIGINT."""
    return f"""list_transform({tokens},
                            w -> CAST('0x' || substr(md5(w), 1, {hex_width}) AS BIGINT))"""


def _simhash_fold(bits: int) -> str:
    """Majority-bit fold of the token hashes `hs` into a ``bits``-bit SimHash."""
    return f"""list_sum(list_transform(generate_series(0, {bits - 1}),
          b -> CASE WHEN len(list_filter(hs, x -> (x & (1::BIGINT << b)) <> 0)) * 2 > len(hs)
                    THEN (1::BIGINT << b) ELSE 0 END))::BIGINT"""


def _simhash_cte(bits: int = 32, rel: str = "documents", source: bool = True) -> str:
    """`h` (token hashes `hs`) and `fp` (fingerprint `sh`) per doc_id of
    ``rel``, carrying `source` when asked. The hash width is
    D.simhash_fingerprints' rule: (bits + 3) // 4 hex digits."""
    keys = "doc_id, source" if source else "doc_id"
    return f"""h AS (
      SELECT {keys},
             {_md5_hashes(_TOKENS, (bits + 3) // 4)} AS hs
      FROM {rel}),
    fp AS (
      SELECT {keys},
        {_simhash_fold(bits)} AS sh
      FROM h)"""


def _hamming_join(h: int, *group: str, rel: str = "fp") -> str:
    """FROM/WHERE of the ``rel a JOIN rel b`` pairs (a.doc_id < b.doc_id,
    equal on every ``group`` column) whose `sh` fingerprints differ in at
    most ``h`` bits."""
    on = "".join(f"a.{c} = b.{c} AND " for c in group)
    return f"""FROM {rel} a JOIN {rel} b ON {on}a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= {h}"""


def _dup_pairs_cte(bits: int, name: str, rel: str = "documents") -> str:
    """The near-dup pair graph of ``rel``: the `h`/`fp` SimHash CTEs and
    ``name``(id_a, id_b), the same-source doc pairs whose ``bits``-bit
    fingerprints are within Hamming distance 8."""
    return f"""{_simhash_cte(bits, rel)},
    {name} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      {_hamming_join(8, "source")})"""


def _closure_cte(pairs: str, edges: str = "edges") -> str:
    """Transitive closure of the (id_a, id_b) CTE ``pairs``: undirected
    ``edges`` (s, d), `verts` and `reach(v, u)`; min(u) per v is v's
    component label (the min doc_id of its component)."""
    return f"""{edges} AS (SELECT id_a AS s, id_b AS d FROM {pairs}
              UNION SELECT id_b, id_a FROM {pairs}),
    verts AS (SELECT DISTINCT s AS v FROM {edges}),
    reach(v, u) AS (
      SELECT v, v FROM verts
      UNION
      SELECT r.v, e.d FROM reach r JOIN {edges} e ON r.u = e.s)"""


# The pairs CTE `pairs` closed into clusters: each paired doc, its
# canonical keeper (min doc_id) and its cluster's size.
_CLUSTERS_SQL = f"""{_closure_cte("pairs", "e2")},
    comp AS (SELECT v AS doc_id, min(u)::BIGINT AS canonical_id
             FROM reach GROUP BY v)
    SELECT c.doc_id, c.canonical_id, s.cluster_size
    FROM comp c JOIN (
      SELECT canonical_id, count(*)::BIGINT AS cluster_size
      FROM comp GROUP BY canonical_id) s
    ON c.canonical_id = s.canonical_id
    """


def _minhash_sig_cte(rel: str = "documents", num_hashes: int = 16) -> str:
    """Per doc of ``rel``: word-trigram shingles `shd(doc_id, g)` (a doc
    under 3 tokens is one shingle), their md5 hashes and the MinHash
    signature `sig(doc_id, m0..)` under the affine family
    h_i(x) = (x * (2i+1) + 7919 * (i+1)) mod 4294967311 (text.AFFINE_COEFFS)."""
    mins = ", ".join(
        f"min((h*{2 * i + 1} + {7919 * (i + 1)}) % 4294967311) AS m{i}"
        for i in range(num_hashes)
    )
    return f"""toks AS (SELECT doc_id, {_TOKENS} AS t
                  FROM {rel}),
    sh AS (
      SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs
      FROM toks),
    shd AS (SELECT DISTINCT doc_id, g FROM sh, UNNEST(gs) AS u(g)),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h FROM shd),
    sig AS (SELECT doc_id,
           {mins}
      FROM h GROUP BY doc_id)"""


# The signature's 4 bands of 4 hashes: `bands(doc_id, band_id, bh)`.
_MINHASH_BANDS_CTE = """bands AS (
      SELECT doc_id, 0 AS band_id, [m0,m1,m2,m3] AS bh FROM sig
      UNION ALL SELECT doc_id, 1 AS band_id, [m4,m5,m6,m7] AS bh FROM sig
      UNION ALL SELECT doc_id, 2 AS band_id, [m8,m9,m10,m11] AS bh FROM sig
      UNION ALL SELECT doc_id, 3 AS band_id, [m12,m13,m14,m15] AS bh FROM sig)"""


# The image replay of _image_dhash_fp: each doc's first 61 bytes as the
# synthetic 16x16 image `h(doc_id, hx, nb)` (empty payloads excluded) and
# its nearest-neighbour 8x8 gray grid `g(doc_id, y, x, gray)`.
_DHASH_GRID_CTE = """h AS (
      SELECT doc_id, hex(encode(substr(text, 1, 61))) AS hx,
             octet_length(encode(substr(text, 1, 61))) AS nb
      FROM documents
      WHERE octet_length(encode(substr(text, 1, 61))) > 0),
    g AS (
      SELECT doc_id, ys.y AS y, xs.x AS x,
        (CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 1) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 2) % nb) + 1, 2) AS INT)) // 3 AS gray
      FROM h
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs)"""

# The grid's 56-bit dHash `dh(doc_id, sh)` (bit y*7+x set where
# gray(x, y) < gray(x+1, y)) and its 8 bands of 7 bits
# `bands(doc_id, sh, band_id, band_val)`.
_DHASH_BANDS_CTE = _DHASH_GRID_CTE + """,
    dh AS (
      SELECT l.doc_id,
             CAST(sum(CASE WHEN l.gray < r.gray
                           THEN 1::BIGINT << (l.y * 7 + l.x)
                           ELSE 0::BIGINT END) AS BIGINT) AS sh
      FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.y = r.y AND r.x = l.x + 1
      GROUP BY l.doc_id),
    bands AS (
      SELECT doc_id, sh, bs.b AS band_id, (sh >> (7 * bs.b)) & 127 AS band_val
      FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bs)"""


# Each doc's bigrams scored under the corpus's interpolated Kneser-Ney
# bigram LM (discount 0.75, text.kn_doc_nll): `scored(doc_id, nll)`, the
# -ln P_KN(w2|w1) terms truncated to DECIMAL(18,9).
_KN_NLL_CTE = f"""toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    c2 AS MATERIALIZED (
      SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY w1, w2),
    pre AS (SELECT w1, sum(c)::BIGINT AS cp, count(*)::BIGINT AS n_fwd
            FROM c2 GROUP BY w1),
    cont AS (SELECT w2, count(*)::BIGINT AS n_bwd FROM c2 GROUP BY w2),
    nb AS (SELECT count(*)::BIGINT AS nbig FROM c2),
    scored AS (
      SELECT doc_id,
             CAST(-ln((c - CAST(0.75 AS DOUBLE)) / cp
                      + CAST(0.75 AS DOUBLE) * n_fwd / cp * n_bwd / nbig)
                  AS DECIMAL(18,9)) AS nll
      FROM bg JOIN c2 USING (w1, w2) JOIN pre USING (w1) JOIN cont USING (w2), nb)"""


# Per event type: daily event counts `daily(event_type, day_idx, y)` and
# their day order `seq(event_type, y, rn)`.
_DAILY_SEQ_CTE = """daily AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn
      FROM daily)"""


# Per event type, the 64-register HyperLogLog of its distinct user_ids:
# md5 hashes `h(event_type, hv)`, the registers `reg(event_type, bucket, r)`
# and the exact integer harmonic sum `s(event_type, s_int, v)` (2^27-scaled;
# v = empty registers).
_HLL_CTE = """h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events),
    b AS (
      SELECT event_type, (hv % 64)::BIGINT AS bucket,
             CASE WHEN hv // 64 = 0 THEN 27
                  ELSE 27 - length(bin((hv // 64)::BIGINT)) END AS rho
      FROM h),
    reg AS (SELECT event_type, bucket, max(rho)::BIGINT AS r FROM b GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             (sum(1::BIGINT << (27 - r))
              + (64 - count(*)) * 134217728)::BIGINT AS s_int,
             (64 - count(*))::BIGINT AS v
      FROM reg GROUP BY 1)"""


def _signed_bow_fold(dim: int) -> str:
    """Signed feature hashing of the token hashes `hs` into ``dim``
    buckets: bucket h % dim, sign from the next hash bit."""
    return f"""list_transform(generate_series(0, {dim - 1}),
               j -> CAST(coalesce(list_sum(list_transform(hs,
                      h -> CASE WHEN h % {dim} = j
                           THEN (CASE WHEN (h // {dim}) % 2 = 0 THEN 1 ELSE -1 END)
                           ELSE 0 END)), 0) AS BIGINT))"""


def _hashed_emb_cte(dim: int) -> str:
    """Shared oracle CTEs for the signed feature-hashing embedding: token
    md5 hashes -> bucket h % dim, sign from the next hash bit, INTEGER
    sums (exactly replayable — no float order to pin)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    h AS (SELECT doc_id,
                 {_md5_hashes("t")} AS hs
          FROM toks),
    emb AS (
      SELECT doc_id,
             {_signed_bow_fold(dim)} AS v
      FROM h)"""


# The query text 'spark join window' embedded like the documents: `qe.qv`.
_QUERY_TOKENS = r"regexp_split_to_array('spark join window', '\s+')"
_QUERY_EMB_CTE = f"""qh AS (SELECT {_md5_hashes(_QUERY_TOKENS)} AS hs),
    qe AS (SELECT {_signed_bow_fold(16)} AS qv
           FROM qh)"""


def _bm25_dense_tops_cte(limit: int) -> str:
    """The two rankings of the query 'spark join window' the hybrid
    retrieval oracles fuse or grade, each its top ``limit``: BM25
    `bmtop(doc_id, bm25)` (Lucene idf, k1 = 1.2, b = 0.75, per-term
    scores truncated to DECIMAL(18,9)) and the hashed-embedding cosine
    `dtop(doc_id, cos)`."""
    return _hashed_emb_cte(16) + f""",
    lens AS (
      SELECT doc_id, len({_TOKENS}) AS dl
      FROM documents),
    sc AS (SELECT count(*)::BIGINT AS n, sum(dl) / count(*) AS avgdl FROM lens),
    tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM
             (SELECT doc_id, unnest({_TOKENS}) AS w
              FROM documents)
           WHERE w IN ('spark', 'join', 'window') GROUP BY doc_id, w),
    dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
    bmsc AS (
      SELECT tf.doc_id,
             CAST(ln(1.0 + (sc.n - dfq.df + 0.5) / (dfq.df + 0.5))
                  * tf.tf * 2.2
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / sc.avgdl))
                  AS DECIMAL(18,9)) AS ts
      FROM tf JOIN dfq USING (w) JOIN lens USING (doc_id), sc),
    bmtop AS (
      SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 6) AS bm25
      FROM bmsc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT {limit}),
    {_QUERY_EMB_CTE},
    dtop AS (
      SELECT doc_id,
             round(list_cosine_similarity(CAST(emb.v AS DOUBLE[]),
                                          CAST(qe.qv AS DOUBLE[])), 6) AS cos
      FROM emb, qe ORDER BY cos DESC, doc_id LIMIT {limit})"""


def _union_keys_cte(bits: int, blocks: int, max_hamming: int) -> str:
    """The Manku block-union keys `keys(source, cid, key_val)` of the
    DISTINCT (source, SimHash) units `dfp`. The geometry `cmb` is built
    here, apart from dedup.union_key_geometry, so the oracle checks the
    engine's: widths base+1 for the first bits % blocks blocks, combo ids
    in itertools.combinations order, key packed as val_i * 2^w_j + val_j."""
    base_w, rem = divmod(bits, blocks)
    widths = [base_w + 1 if i < rem else base_w for i in range(blocks)]
    offsets = [sum(widths[:i]) for i in range(blocks)]
    combos = itertools.combinations(range(blocks), blocks - max_hamming)
    rows = ", ".join(
        f"({cid}, {offsets[i]}, {widths[i]}, {offsets[j]}, {widths[j]})"
        for cid, (i, j) in enumerate(combos)
    )
    return f"""
    WITH {_simhash_cte(bits)},
    dfp AS (SELECT DISTINCT source, sh FROM fp),
    cmb AS (SELECT * FROM (VALUES {rows}) t(cid, oi, wi, oj, wj)),
    keys AS (
      SELECT d.source, c.cid,
             (((d.sh >> c.oi) & ((1::BIGINT << c.wi) - 1)) * (1::BIGINT << c.wj)
              + ((d.sh >> c.oj) & ((1::BIGINT << c.wj) - 1)))::BIGINT AS key_val
      FROM dfp d CROSS JOIN cmb c)"""


# ===========================================================================
# Migration surface (SURVEY S6, P1, F1/F2, F6, K5)
# ===========================================================================


@_register(
    "migrate_rename_filter",
    """
    SELECT o_orderkey AS order_id, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice > 1000
    """,
)
def migrate_rename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+P1+F2: scan -> where (pushed to parquet) -> rename -> project."""
    df = _t(spark, sf_dir, "orders")
    df = apply_where(df, "o_totalprice > 1000")
    df = apply_renames(df, [Rename("o_orderkey", "order_id")])
    return df.select("order_id", "o_custkey", "o_orderstatus", "o_totalprice")


@_register(
    "null_pk_drop",
    """
    SELECT count(*) AS cnt FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def null_pk_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: rows with any null PK component are dropped (and counted via
    observe). Nulls are derived deterministically for the fixture."""
    df = _t(spark, sf_dir, "orders").withColumn(
        "pk", F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderkey"))
    )
    out = drop_null_pk_rows(df, ["pk"], observe=False)
    return out.agg(F.count("*").alias("cnt"))


# ===========================================================================
# Validator surface (J3/J4/J5/J7, V1-V3, A4)
# ===========================================================================


def _perturbed_target(df: DataFrame) -> DataFrame:
    """Deterministic perturbation of orders: remove %97 keys, +0.5 price on
    %13 (outside 0.001 tolerance), +0.0005 on %10 (inside tolerance), flip
    status on %31."""
    k = F.col("o_orderkey")
    return (
        df.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 13 == 0, F.col("o_totalprice") + 0.5)
            .when(k % 10 == 0, F.col("o_totalprice") + 0.0005)
            .otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus", F.when(k % 31 == 0, F.lit("X")).otherwise(F.col("o_orderstatus"))
        )
    )


@_register(
    "validation_diff_counts",
    """
    WITH src AS (SELECT * FROM orders)
    SELECT 'MissingTargetRow' AS kind, count(*)::BIGINT AS cnt
      FROM src WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT 'DifferingFieldValues' AS kind,
           (count(*) FILTER (WHERE o_orderkey % 13 = 0)
            + count(*) FILTER (WHERE o_orderkey % 31 = 0))::BIGINT AS cnt
      FROM src WHERE o_orderkey % 97 <> 0
    """,
)
def validation_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V3/J3: the full join-diff with tolerances; output = failure counts
    by kind. The +0.0005 perturbation stays inside floatingPointTolerance
    (0.001) and must NOT be reported.

    No _fan here: the comparison expressions evaluate AFTER the join's own
    key shuffle, which already spreads the work across all cores — an extra
    repartition ahead of it measured ~35% slower at sf0.1."""
    src = _t(spark, sf_dir, "orders")
    tgt = _perturbed_target(src)
    diff, _ = V.joined_diff(src, tgt, ["o_orderkey"], Validation())
    # no pre-filter on size(failures) > 0: explode already drops empty
    # arrays, and skipping the filter halves the (wide) comparison
    # expression's evaluations — it would otherwise run in both Filter
    # and Project within the same codegen stage
    return (
        diff.select(F.explode(V.FAILURES_COL).alias("f"))
        .groupBy(F.col("f.kind").alias("kind"))
        .agg(F.count("*").alias("cnt"))
    )


@_register(
    "validation_failure_breakdown",
    """
    WITH src AS (SELECT * FROM orders)
    SELECT '' AS col, 'MissingTargetRow' AS kind, count(*)::BIGINT AS cnt
      FROM src WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT 'o_totalprice' AS col, 'DifferingFieldValues' AS kind, count(*)::BIGINT
      FROM src WHERE o_orderkey % 97 <> 0 AND o_orderkey % 13 = 0
    UNION ALL
    SELECT 'o_orderstatus' AS col, 'DifferingFieldValues' AS kind, count(*)::BIGINT
      FROM src WHERE o_orderkey % 97 <> 0 AND o_orderkey % 31 = 0
    """,
)
def validation_failure_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN failure histogram (V3 drill-down): the same join-diff as
    validation_diff_counts, but grouped by (column, kind) — the report an
    operator actually acts on ("o_totalprice diverges on 5k rows" names the
    broken transform; a kind-only total doesn't). Same single-shuffle diff
    plan; the breakdown is one extra narrow aggregation over the exploded
    failure entries."""
    src = _t(spark, sf_dir, "orders")
    tgt = _perturbed_target(src)
    diff, _ = V.joined_diff(src, tgt, ["o_orderkey"], Validation())
    return (
        diff.select(F.explode(V.FAILURES_COL).alias("f"))
        .groupBy(F.col("f.column").alias("col"), F.col("f.kind").alias("kind"))
        .agg(F.count("*").alias("cnt"))
    )


@_register(
    "extra_target_rows",
    """
    SELECT o_orderkey + 10000000 AS o_orderkey FROM orders WHERE o_orderkey % 101 = 0
    """,
)
def extra_target_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: key-level left_anti — rows present only in the target."""
    src = _t(spark, sf_dir, "orders")
    extras = src.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    tgt = src.unionByName(extras)
    return V.extra_target_rows(src, tgt, ["o_orderkey"])


@_register(
    "missing_rows_repair",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def missing_rows_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/V5: the repair input — full source rows absent from the target."""
    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    tgt = src.filter(F.col("o_orderkey") % 97 != 0)
    return V.missing_source_rows(src, tgt, ["o_orderkey"])


@_register(
    "semi_join_probe",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
)
def semi_join_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: key-driven lookup as a left_semi join (KeyDrivenLookup.scala:48-62)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100_000)
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(), "c_custkey", "left_semi"
    ).select("c_custkey", "c_name")


@_register(
    "except_setop",
    """
    SELECT o_orderkey FROM orders
    EXCEPT
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2: set difference on key projections (token-range diff analog)."""
    orders = _t(spark, sf_dir, "orders")
    all_keys = orders.select("o_orderkey")
    done = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return all_keys.exceptAll(done).distinct()


@_register(
    "content_hash",
    """
    SELECT c_custkey,
      sha256(concat_ws('|',
        CASE WHEN c_mktsegment IS NULL THEN sha256('1|') ELSE sha256('0|' || c_mktsegment) END,
        CASE WHEN c_name       IS NULL THEN sha256('1|') ELSE sha256('0|' || c_name) END,
        CASE WHEN c_nationkey  IS NULL THEN sha256('1|') ELSE sha256('0|' || CAST(c_nationkey AS VARCHAR)) END
      )) AS content_hash
    FROM customer
    """,
)
def content_hash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/C4: the digest pipeline — sha2 per column with null sentinel,
    case-insensitive column order, concat_ws join (ContentHashJoiner:16-65)."""
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    hashed = add_content_hash(customer, ["c_name", "c_nationkey", "c_mktsegment"])
    return hashed.select("c_custkey", F.col("__content_hash").alias("content_hash"))


# ===========================================================================
# Aggregations / windows / rollup (Spark-free analytics surface, SURVEY §2.6)
# ===========================================================================


@_register(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
      count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Decimal casts before summing make the arithmetic exact
    and cross-engine identical; map-side partial aggregation applies."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(disc).cast("double").alias("sum_disc_price"),
        F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@_register(
    "window_top_order_per_cust",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def window_top_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-1 per key with deterministic tiebreak."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@_register(
    "rollup_sales_region_nation",
    """
    SELECT r_name, n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_sales_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join + ROLLUP. nation/region are broadcast (small dims); the only
    shuffle is orders-customer."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price")
    )


@_register(
    "distinct_supp_per_flag",
    """
    SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_supp_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct aggregation (expand + two-phase agg in Spark)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_suppkey").alias("n_supp"))
    )


# ===========================================================================
# Row explosion (X1/X2)
# ===========================================================================


@_register(
    "explode_timestamp_groups",
    """
    WITH src AS (
      SELECT o_orderkey AS pk, o_orderstatus AS a,
             100::INT AS a_ttl, (1000 * (o_orderkey % 3))::BIGINT AS a_writetime,
             o_orderpriority AS b,
             100::INT AS b_ttl, (1000 * (o_orderkey % 2))::BIGINT AS b_writetime
      FROM orders)
    SELECT pk, a, TRUE AS a__set,
           CASE WHEN b_writetime = a_writetime THEN b END AS b,
           (b_writetime = a_writetime) AS b__set,
           a_ttl AS ttl, a_writetime AS writetime
    FROM src
    UNION ALL
    SELECT pk, NULL AS a, FALSE AS a__set, b, TRUE AS b__set,
           b_ttl AS ttl, b_writetime AS writetime
    FROM src WHERE b_writetime <> a_writetime
    """,
)
def explode_timestamp_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: the signature explode — one row per distinct (ttl, writetime)
    group with tri-state cells. Companions derived deterministically."""
    k = F.col("o_orderkey")
    src = _t(spark, sf_dir, "orders").select(
        k.alias("pk"),
        F.col("o_orderstatus").alias("a"),
        F.lit(100).cast("int").alias("a_ttl"),
        (F.lit(1000) * (k % 3)).cast("long").alias("a_writetime"),
        F.col("o_orderpriority").alias("b"),
        F.lit(100).cast("int").alias("b_ttl"),
        (F.lit(1000) * (k % 2)).cast("long").alias("b_writetime"),
    )
    return explode_by_timestamp_groups(src, ["pk"])


# ===========================================================================
# Streaming CDC batch-equivalence (T1-T5)
# ===========================================================================

def cdc_op_column():
    """Map event_type to the stream-replication change model
    (DynamoStreamReplication.scala:36-40): INSERT/MODIFY -> put, REMOVE -> delete."""
    return (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "REMOVE")
        .otherwise("MODIFY")
    )

_CDC_ORACLE = """
    WITH ops AS (
      SELECT user_id, event_id, value, ts,
             CASE WHEN event_type = 'signup' THEN 'INSERT'
                  WHEN event_type = 'error' THEN 'REMOVE'
                  ELSE 'MODIFY' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_event_id, value AS last_value, op AS last_op
    FROM ops WHERE rn = 1 AND op <> 'REMOVE'
"""


@_register("cdc_last_state", _CDC_ORACLE)
def cdc_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/T4 batch equivalence: upsert/delete change stream applied in event
    order with last-writer-wins; REMOVE deletes the key. The streaming path
    (foreachBatch) reuses exactly this merge in streaming/cdc.py."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events").withColumn("op", cdc_op_column())
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "REMOVE"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            F.col("op").alias("last_op"),
        )
    )


# ===========================================================================
# Analytics: dedup / text / similarity
# ===========================================================================


@_register(
    "dedup_exact",
    """
    SELECT sha256(text) AS digest, min(doc_id) AS keeper_id, count(*) AS dup_count
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups; shuffle key is the 32-byte digest, not the text."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_register(
    "funnel_conversion",
    """
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id),
    flags AS (
      SELECT user_id,
             t_view IS NOT NULL AS s1,
             t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view AS s2,
             t_view IS NOT NULL AND t_click IS NOT NULL AND t_click > t_view
               AND t_purchase IS NOT NULL AND t_purchase > t_click AS s3
      FROM stages)
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
           CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
           CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase,
           round(sum(CASE WHEN s3 THEN 1 ELSE 0 END) * 1.0
                 / nullif(sum(CASE WHEN s1 THEN 1 ELSE 0 END), 0), 6) AS conversion
    FROM flags
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): a user reaches a
    stage only if its FIRST occurrence strictly follows the first occurrence
    of the previous stage — the sequence-constrained conversion the events
    product teams query daily. One conditional-min aggregation per user
    (map-side combined, single shuffle on user_id), then pure flag
    arithmetic and a scalar rollup — no self-joins, no window over the raw
    event stream, so at 100 TB the cost is one pass over events."""
    ev = _fan(_t(spark, sf_dir, "events"))
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    flags = stages.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    )
    one = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint")  # noqa: E731
    return flags.agg(
        F.count("*").alias("n_users"),
        one("s1").alias("reached_view"),
        one("s2").alias("reached_click"),
        one("s3").alias("reached_purchase"),
        F.round(
            one("s3") * 1.0 / F.nullif(one("s1").cast("double"), F.lit(0.0)), 6
        ).alias("conversion"),
    )


@_register(
    "join_key_skew_stats",
    """
    WITH per AS (SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey)
    SELECT count(*) AS n_keys,
           max(c)::BIGINT AS max_per_key,
           min(c)::BIGINT AS min_per_key,
           round(avg(c), 6) AS avg_per_key,
           round(max(c) * 1.0 / avg(c), 6) AS skew_factor
    FROM per
    """,
)
def join_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: per-key cardinality stats + the
    max/avg skew factor for the orders.o_custkey join key — the number an
    engineer checks BEFORE choosing broadcast/salting/AQE-skew-join for a
    big join. One partial-agg pass to per-key counts, then a scalar rollup
    over the (already tiny) key-count frame."""
    per = (
        _fan(_t(spark, sf_dir, "orders"))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c"))
    )
    return per.agg(
        F.count("*").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_per_key"),
        F.min("c").cast("bigint").alias("min_per_key"),
        F.round(F.avg("c"), 6).alias("avg_per_key"),
        F.round(F.max("c") * 1.0 / F.avg("c"), 6).alias("skew_factor"),
    )


@_register(
    "column_completeness_profile",
    """
    SELECT 'o_orderdate' AS col,
           count(*) AS n_rows,
           count(o_orderdate) AS n_present,
           round(1.0 - count(o_orderdate) * 1.0 / count(*), 6) AS null_rate
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           round(1.0 - count(o_totalprice) * 1.0 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           round(1.0 - count(o_orderstatus) * 1.0 / count(*), 6)
    FROM orders
    """,
)
def column_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness profile (schema-drift detector): per-column
    present/null rates in ONE aggregation pass — count(col) skips nulls, so
    the whole profile is a single scan with one conditional count per
    column, unpivoted to the reporting shape afterwards (the tiny 1-row
    frame, not the table)."""
    o = _fan(_t(spark, sf_dir, "orders"))
    cols = ["o_orderdate", "o_totalprice", "o_orderstatus"]
    aggs = [F.count("*").alias("n_rows")] + [
        F.count(c).alias(f"p_{c}") for c in cols
    ]
    one = o.agg(*aggs)
    rows = [
        one.select(
            F.lit(c).alias("col"),
            F.col("n_rows"),
            F.col(f"p_{c}").alias("n_present"),
            F.round(1.0 - F.col(f"p_{c}") * 1.0 / F.col("n_rows"), 6).alias(
                "null_rate"
            ),
        )
        for c in cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@_register(
    "cross_source_dup_matrix",
    """
    WITH d AS (SELECT doc_id, source, sha256(text) AS dg FROM documents)
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS dup_pairs,
           count(DISTINCT a.dg) AS dup_texts
    FROM d a JOIN d b ON a.dg = b.dg AND a.doc_id < b.doc_id
    WHERE a.source <= b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    exact-duplicate document pairs (and distinct duplicated texts) they
    share — the report that decides which feed is re-crawling which (and
    whether a source should be dropped before mixing). Digest-keyed
    self-join: the shuffle carries 32-byte digests, never text; the join
    explodes only within duplicate groups (work ∝ sum dup-group²)."""
    d = _fan(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.sha2(F.col("text"), 256).alias("dg")
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, on=[F.col("a.dg") == F.col("b.dg"), F.col("a.doc_id") < F.col("b.doc_id")])
        .filter(F.col("a.source") <= F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count("*").alias("dup_pairs"),
            F.count_distinct(F.col("a.dg")).alias("dup_texts"),
        )
    )


@_register(
    "boilerplate_prefix_groups",
    """
    WITH p AS (
      SELECT doc_id, source,
             array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:8], ' ')
               AS prefix
      FROM documents)
    SELECT prefix, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS keeper_id
    FROM p GROUP BY prefix HAVING count(*) > 1
    """,
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: documents sharing an identical 8-token PREFIX
    (site headers, license banners, template intros — the highest-yield
    cheap dedup signal after exact hashing). Groups with >1 member get a
    deterministic keeper; the shuffle key is the short prefix string, not
    the document. At 100 TB swap the prefix string for its xxhash64 to
    shrink the shuffle further — same plan shape."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    prefix = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8), " "
    )
    return (
        docs.select("doc_id", "source", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@_register(
    "weekly_event_drift",
    """
    WITH w AS (
      SELECT event_type, (epoch_us(ts) // 604800000000)::BIGINT AS week,
             count(*) AS n
      FROM events GROUP BY event_type, week)
    SELECT event_type, week, n,
           coalesce(n - lag(n) OVER (PARTITION BY event_type ORDER BY week), 0)::BIGINT
             AS wow_change
    FROM w
    """,
)
def weekly_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal drift monitor: weekly event counts per type with
    week-over-week change — the distribution-shift alarm a training-data
    ingest pipeline watches (a collapsing event type upstream means a
    skewed corpus downstream). One partial-agg shuffle to (type, week)
    grains, then a lag window over the TINY aggregated frame — the window
    never sees raw events."""
    from pyspark.sql.window import Window

    week_ns = 604_800_000_000_000  # 7 days in nanos (fixture ts is nanos)
    w = (
        _fan(_t(spark, sf_dir, "events"))
        .groupBy("event_type", F.expr(f"ts DIV {week_ns}").alias("week"))
        .agg(F.count("*").alias("n"))
    )
    win = Window.partitionBy("event_type").orderBy("week")
    return w.select(
        "event_type",
        "week",
        "n",
        F.coalesce(F.col("n") - F.lag("n").over(win), F.lit(0))
        .cast("bigint")
        .alias("wow_change"),
    )


@_register(
    "zscore_value_outliers",
    """
    WITH m AS (
      SELECT event_type, count(*)::BIGINT AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type),
    s AS (
      SELECT event_type, sx / n AS mean,
             sqrt(sxx / n - (sx / n) * (sx / n)) AS std
      FROM m WHERE sxx / n - (sx / n) * (sx / n) > 0)
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mean) / s.std, 6) AS z
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mean) / s.std) > 3
    """,
)
def zscore_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric data-quality gate: per-event-type z-score outliers
    (|z| > 3). Moments come from ONE map-side-combined pass of
    DECIMAL-exact (n, sum x, sum x^2) partials — shuffle-order-independent,
    so mean/std (computed in double from the exact sums, the same op chain
    on both engines) are reproducible; the flagging pass broadcasts the
    tiny per-type stats back onto the scan. The pattern every ingest
    pipeline runs before trusting a numeric column."""
    ev = _fan(_t(spark, sf_dir, "events"))
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,8)"))
        .cast("double")
        .alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    var = F.col("sxx") / F.col("n") - mean * mean
    s = m.filter(var > 0).select(
        "event_type", mean.alias("mean"), F.sqrt(var).alias("std")
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@_register(
    "cohort_retention",
    """
    WITH wk AS (SELECT user_id, (epoch_us(ts) // 604800000000)::BIGINT AS w
                FROM events),
    firsts AS (SELECT user_id, min(w) AS cw FROM wk GROUP BY user_id),
    acts AS (SELECT DISTINCT user_id, w FROM wk)
    SELECT cw AS cohort_week, (w - cw)::BIGINT AS week_offset,
           count(*)::BIGINT AS n_users
    FROM acts JOIN firsts USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity week,
    counted in every later week they return — the standard engagement /
    data-freshness readout. Plan: ONE events scan to the (user, week)
    distinct grains, then the cohort week is a window-min over the same
    user partition — no second scan, no self-join; the retention matrix
    itself is cohort x offset (tiny)."""
    from pyspark.sql.window import Window

    week_ns = 604_800_000_000_000
    acts = (
        _fan(_t(spark, sf_dir, "events"))
        .select("user_id", F.expr(f"ts DIV {week_ns}").alias("w"))
        .distinct()
    )
    cw = F.min("w").over(Window.partitionBy("user_id"))
    return (
        acts.select("user_id", "w", cw.alias("cw"))
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).cast("bigint").alias("week_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


@_register(
    "event_path_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS e3
      FROM events)
    SELECT e1, e2, e3, count(*)::BIGINT AS n
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step behavioral path counts over per-user event sequences —
    the second-order drill-down under event_transition_matrix (a Markov-1
    matrix cannot distinguish view->click->purchase from
    search->click->purchase; path mining can). Same deterministic order
    convention: (ts_us, event_id), microsecond time like the oracle's
    epoch_us, id tie-break for simultaneous events.

    ONE window pass produces both leads (same partition+order spec, so
    Spark plans a single Window operator and one user-keyed shuffle);
    the aggregate is over the |types|^3 path alphabet — never
    row-shaped."""
    from pyspark.sql.window import Window

    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = _fan(_events_us(spark, sf_dir)).select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(win).alias("e2"),
        F.lead("event_type", 2).over(win).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
    )


@_register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events)
    SELECT prev_type AS from_type, event_type AS to_type,
           count(*)::BIGINT AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event sequences
    (lag window ordered by (ts_us, event_id) — MICROsecond time like the
    oracle's epoch_us, so a nanos-grained fixture generation cannot order
    sub-microsecond ties differently across engines; the id tie-break
    makes simultaneous events deterministic): the behavioral-sequence
    summary funnels and next-event models start from. One user-keyed
    window pass, then a partial-agg shuffle on the (from, to) alphabet —
    the matrix is |types|^2, never row-shaped."""
    from pyspark.sql.window import Window

    win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = (
        _fan(_events_us(spark, sf_dir))
        .select(
            "user_id",
            "event_type",
            F.lag("event_type").over(win).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    return seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count("*").cast("bigint").alias("n"))


@_register(
    "incremental_ingest_dedup",
    """
    WITH d AS (SELECT source, doc_id, sha256(text) AS dg FROM documents),
    idx AS (SELECT DISTINCT dg FROM d WHERE doc_id % 2 = 0),
    nb AS (SELECT source, dg, dg IN (SELECT dg FROM idx) AS hit
           FROM d WHERE doc_id % 2 = 1)
    SELECT source, count(*) AS n_new,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_index,
           count(DISTINCT CASE WHEN NOT hit THEN dg END) AS new_unique
    FROM nb GROUP BY source
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion dedup: a NEW batch (odd doc_ids) is
    deduped against the digest INDEX of the already-ingested corpus (even
    doc_ids) — the standing-pipeline form of exact dedup, where every
    ingestion run anti-joins its batch against the persisted digest table
    and appends only the survivors' digests.

    Scale shape: the index carries 32-byte digests, never documents; the
    probe is a digest-keyed join (broadcast when the batch's digest set is
    small, shuffle otherwise), and per-source ingestion stats come out of
    the same pass — at 100 TB this is one scan of the new batch plus a
    digest-table join, independent of corpus text volume."""
    docs = _fan(_t(spark, sf_dir, "documents")).select(
        "source", "doc_id", F.sha2(F.col("text"), 256).alias("dg")
    )
    index = docs.filter(F.col("doc_id") % 2 == 0).select("dg").distinct()
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    hit = batch.join(
        index.withColumn("__hit", F.lit(True)), on="dg", how="left"
    ).withColumn("hit", F.col("__hit").isNotNull())
    return hit.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("dup_vs_index"),
        F.count_distinct(F.when(~F.col("hit"), F.col("dg"))).alias("new_unique"),
    )


@_register(
    "mixing_temperature_weights",
    """
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens
      FROM documents GROUP BY source),
    p AS (SELECT source, n_docs, n_tokens,
                 CAST(pow(n_tokens, 0.5) AS DECIMAL(28,9)) AS pw FROM per),
    t AS (SELECT sum(pw) AS total FROM p)
    SELECT source, n_docs, n_tokens,
           round(CAST(pw AS DOUBLE) / CAST(total AS DOUBLE), 6) AS weight,
           round(CAST(pw AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 / n_tokens, 6)
             AS epochs_at_1m_budget
    FROM p, t
    """,
)
def mixing_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing temperature weights (the multi-source sampling op of
    LLM pretraining): per-source sampling weight ∝ n_tokens^alpha with
    alpha=0.5 — upweights small sources relative to proportional sampling —
    plus the implied epochs over each source at a fixed token budget
    (epochs > 1 = the source will repeat).

    Shape: one partial-agg pass for per-source token counts (map-side
    combined), a DECIMAL sum of the 4-ish pow terms broadcast back as a
    scalar (order-independent — a double sum of the pows would be
    engine/order-dependent in the last bit), then pure arithmetic. At
    100 TB the whole query is the token-count scan; everything after is
    constant-size."""
    per = (
        _fan(_t(spark, sf_dir, "documents"))
        .select("source", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("t")).cast("bigint").alias("n_tokens"),
        )
        .withColumn("pw", F.pow(F.col("n_tokens"), 0.5).cast("decimal(28,9)"))
    )
    total = per.agg(F.sum("pw").alias("total"))
    w = F.col("pw").cast("double") / F.col("total").cast("double")
    return per.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("weight"),
        F.round(w * 1_000_000 / F.col("n_tokens"), 6).alias("epochs_at_1m_budget"),
    )


@_register(
    "span_corruption_plan",
    """
    WITH d AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    p AS (
      SELECT doc_id, n_tokens,
             least(64, greatest(1, CAST(floor(n_tokens * 0.15 / 3) AS INT)))
               AS n_spans
      FROM d WHERE n_tokens >= 3),
    s AS (
      SELECT doc_id, n_tokens, gs.i AS span_id,
             CAST(CAST('0x' || substr(md5(doc_id || ':' || gs.i), 1, 8) AS BIGINT)
                  % (n_tokens - 2) AS INT) AS start
      FROM p, generate_series(0, 63) AS gs(i) WHERE gs.i < n_spans)
    SELECT doc_id, span_id, start, CAST(3 AS INT) AS span_len, n_tokens
    FROM s
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN: for each document, deterministic mask
    spans covering ~15% of tokens in length-3 spans — span starts derive
    from md5(doc_id:span_id), so the same document always gets the same
    masks (reproducible pretraining batches without an RNG state to ship).
    Overlapping spans are allowed (the standard implementations merge at
    apply time); spans per document cap at 64 (= docs of ~1280+ tokens —
    chunk longer documents first), the SAME cap the oracle's
    generate_series bound applies. Pure column arithmetic + one bounded
    explode — no shuffle, fuses into the scan; the apply step composes
    with doc_chunking's slice machinery."""
    docs = _fan(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    planned = docs.filter(F.col("n_tokens") >= 3).withColumn(
        "n_spans",
        F.least(
            F.lit(64),
            F.greatest(F.lit(1), F.floor(F.col("n_tokens") * 0.15 / 3).cast("int")),
        ),
    )
    sp = planned.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("span_id"),
    )
    start = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("span_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % (F.col("n_tokens") - 2)
    ).cast("int")
    return sp.select(
        "doc_id",
        "span_id",
        start.alias("start"),
        F.lit(3).cast("int").alias("span_len"),
        "n_tokens",
    )


@_register(
    "vocab_coverage_oov",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 20),
    marked AS (
      SELECT t.doc_id, (t.w IN (SELECT w FROM vocab)) AS known FROM toks t)
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN NOT known THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS oov_rate
    FROM marked GROUP BY doc_id
    """,
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage gate: per-document out-of-vocabulary rate against
    the corpus's own top-20 token vocabulary (the garbled-text /
    wrong-tokenizer detector of curation pipelines — high OOV = drop or
    re-tokenize).

    Shape: the vocabulary is a TakeOrdered top-k over partial-agg token
    counts, then BROADCAST into the per-token membership pass — the corpus
    tokens never shuffle for the join. Integer OOV counts; the rate divides
    once per doc (engine-stable)."""
    toks = (
        _fan(_t(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(20)
        .select("w")
    )
    marked = toks.join(
        F.broadcast(vocab.withColumn("__known", F.lit(True))), on="w", how="left"
    )
    oov = F.when(F.col("__known").isNull(), 1).otherwise(0)
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov) * 1.0 / F.count("*"), 6).alias("oov_rate"),
    )


@_register(
    "text_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t, text FROM documents)
    SELECT doc_id,
      length(text) AS n_chars_computed,
      len(t) AS n_tokens,
      round(list_sum(list_transform(t, x -> length(x))) / len(t), 6) AS avg_token_len,
      round(len(list_filter(t, x -> x IN ('the','a','of','to','and','in','is','it'))) / len(t), 6)
        AS stopword_ratio,
      round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6) AS alpha_ratio
    FROM toks
    """,
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = TXT.quality_features(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_chars_computed", "n_tokens", "avg_token_len", "stopword_ratio", "alpha_ratio"
    )


@_register(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('the','a','of','and','is'))) AS s_en,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('le','la','les','et','est'))) AS s_fr,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('el','la','los','y','es'))) AS s_es
      FROM documents)
    SELECT doc_id,
      CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           WHEN s_fr >= s_es THEN 'fr'
           ELSE 'es' END AS lang_pred
    FROM scored
    """,
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = TXT.language_id(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred")


@_register(
    "doc_fingerprint",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents)
    SELECT doc_id,
      CASE WHEN len(t) < 3
           THEN CAST('0x' || substr(md5(array_to_string(t, ' ')), 1, 8) AS BIGINT)
           ELSE list_min(list_transform(generate_series(1, len(t) - 2),
                i -> CAST('0x' || substr(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 8) AS BIGINT)))
      END AS fingerprint
    FROM toks
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = TXT.fingerprint(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "fingerprint")


@_register(
    "hashed_bow_embeddings",
    _hashed_emb_cte(16)
    + "\n    SELECT doc_id, array_to_string(v, ',') AS v_csv FROM emb",
)
def hashed_bow_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text -> vector bridge: signed feature-hashing bag-of-words
    embedding (Weinberger et al. 2009) as a pure scan-stage column
    expression (text.hashed_bow_embedding) — integer-summed array<long>,
    so the whole vector is value-hash oracle-checked. The query surface
    serializes the vector to a comma-joined string (scalar output
    contract: no container-typed columns leave a registry query — see
    tests/test_registry_lint.py); internal vector consumers (ANN,
    SemDedup, centroids) use the raw array builder directly."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.concat_ws(
            ",", TXT.hashed_bow_embedding(F.col("text"), dim=16)
        ).alias("v_csv"),
    )


@_register(
    "levenshtein_near_pairs",
    """
    WITH k AS (
      SELECT doc_id, source, lower(substr(text, 1, 32)) AS key
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.key, b.key)::INT AS dist
    FROM k a JOIN k b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE levenshtein(a.key, b.key) <= 3
    """,
)
def levenshtein_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup for string keys (title/header/prefix fuzzing
    — the dedup family token-set methods miss: single-character typos, OCR
    noise): same-source pairs whose lowercased 32-char prefixes are within
    Levenshtein distance K=3.

    Scale shape — the Gravano et al. (VLDB 2001) q-gram COUNT FILTER: an
    edit operation destroys at most q of a string's (len-q+1) overlapping
    character q-grams, so ed(a, b) <= K implies the MULTISET q-gram
    intersection is >= max(len_a, len_b) - q + 1 - K*q. Candidates come
    from an inverted-index equi-join on (source, gram, occurrence-rank)
    (multiset semantics: the k-th 'abcd' only matches the k-th 'abcd', so
    COUNT(*) per pair is exactly sum(min(tf_a, tf_b)) = the multiset
    intersection), filtered by the count bound — never an all-pairs join.
    Keys too short for a positive bound (len <= K*q + q - 1 = 15) pair
    all-to-all within (source, short) — a bounded fringe. Verification
    uses Spark's THRESHOLDED levenshtein (early-exit above K,
    O(min(len)*K) not O(len^2)). The oracle checks the same pair set from
    the unblocked definition, proving the filter loses nothing.

    Implementation shared with the capped variant:
    ``analytics.dedup.edit_distance_pairs`` (this query runs it
    UNCAPPED — every drop count is zero and the relaxed bound reduces to
    the plain Gravano count filter)."""
    keys = _fan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).select(
        "doc_id",
        "source",
        F.lower(F.substring(F.col("text"), 1, 32)).alias("key"),
    )
    return D.edit_distance_pairs(keys, q=4, k_max=3, max_key_freq=None)


@_register("levenshtein_capped_pairs", ORACLES["levenshtein_near_pairs"])
def levenshtein_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """levenshtein_near_pairs with the STOP-GRAM cap engaged — the
    production form of the q-gram count filter whose absence the uncapped
    query documents as its scale caveat.

    A (source, gram, occurrence-rank) index key held by more than
    ``max_key_freq`` strings is a stop gram: its join bucket is quadratic
    in corpus size (the hot-key failure class ngram_jaccard_pairs caps
    with max_doc_freq). ``edit_distance_pairs`` drops such keys from the
    inverted index LOSSLESSLY: the pair-level count bound is relaxed by
    ``least(drop_a, drop_b)`` (a dropped key shrinks the visible
    intersection only when BOTH strings held it), and a string whose own
    dropped-gram budget is exhausted (``drop > len - q - K*q`` — a true
    match might share ONLY stop grams and never meet in the join) is
    routed to the bounded all-pairs fringe. The oracle is the UNBLOCKED
    pair definition — the same one the uncapped query proves itself
    against — so this entry is the machine-checked proof that the cap
    loses nothing on a corpus where it genuinely fires (pinned in
    tests/test_round5_ops.py: the fixtures' boilerplate prefixes produce
    hot grams at this cap)."""
    keys = _fan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).select(
        "doc_id",
        "source",
        F.lower(F.substring(F.col("text"), 1, 32)).alias("key"),
    )
    return D.edit_distance_pairs(keys, q=4, k_max=3, max_key_freq=8)


@_register(
    "tfidf_hashed_features",
    r"""
    WITH tc AS (
      SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      GROUP BY doc_id, w),
    dfw AS (SELECT w, count(*)::BIGINT AS dfc FROM tc GROUP BY w),
    n AS (SELECT count(*)::BIGINT AS nd FROM documents),
    terms AS (
      SELECT tc.doc_id,
             (CAST('0x' || substr(md5(tc.w), 1, 8) AS BIGINT) % 16)::INT AS bucket,
             tf * (CASE WHEN (CAST('0x' || substr(md5(tc.w), 1, 8) AS BIGINT) // 16) % 2 = 0
                        THEN 1 ELSE -1 END)
               * CAST(ln(n.nd * 1.0 / dfw.dfc) AS DECIMAL(18,9)) AS t
      FROM tc JOIN dfw ON tc.w = dfw.w, n)
    SELECT doc_id, bucket, round(CAST(sum(t) AS DOUBLE), 6) AS w
    FROM terms GROUP BY doc_id, bucket
    """,
)
def tfidf_hashed_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-aware weighted feature hashing (text.tfidf_hashed_features):
    sign(h) * ln(N/df) per token into h % 16 buckets — the standard TF-IDF
    representation for text similarity/clustering, with broadcast df/N
    tables and decimal-truncated terms (the unigram_nll idiom) so the
    per-(doc, bucket) reduction is shuffle-order and engine independent."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.tfidf_hashed_features(docs, "text", "doc_id", dim=16)


@_register(
    "hashed_ann_topk",
    _hashed_emb_cte(64)
    + """,
    q AS (SELECT CAST(v AS DOUBLE[]) AS qv FROM emb WHERE doc_id = 0),
    scored AS (
      SELECT doc_id,
        round(
          list_dot_product(CAST(v AS DOUBLE[]), qv)
          / (sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM emb, q)
    SELECT doc_id, cos FROM scored ORDER BY cos DESC, doc_id ASC LIMIT 10
    """,
)
def hashed_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-text similarity search with NO model: hash-embed every
    document (dim 64, scan-stage integer vectors), then exact cosine top-10
    against document 0's vector — the composed text -> embedding -> ANN
    pipeline entirely in-engine, fully SQL-replayed. The scale path is
    identical to the float-embedding ANN suite (LSH buckets / IVF
    partitions over the hashed vectors)."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    emb = docs.select(
        "doc_id", TXT.hashed_bow_embedding(F.col("text"), dim=64).alias("v")
    )
    qv = [float(x) for x in emb.filter(F.col("doc_id") == 0).head()["v"]]
    out = SIM.brute_force_topk(emb, qv, "doc_id", "v", k=10)
    return out.select("doc_id", "cos")


@_register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
        round(
          list_dot_product(CAST(embedding AS DOUBLE[]), qv)
          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM embeddings, q)
    SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exactness baseline; LSH variant in
    analytics/similarity.py). Query = embedding of vec_id 0."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return SIM.brute_force_topk(emb, [float(x) for x in qv], "vec_id", "embedding", k=10)


@_register(
    "hard_negative_mining",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS ql
               FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, label,
        round(
          list_dot_product(CAST(embedding AS DOUBLE[]), qv)
          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM embeddings, q WHERE label <> q.ql)
    SELECT vec_id, label, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training data prep): the top-k most
    query-similar vectors whose LABEL DIFFERS from the query's — exactly
    the near-miss negatives a retrieval/embedding trainer wants. Same
    TakeOrdered no-global-sort shape as ann_cosine_topk; the label filter
    lands in the scan stage (predicate pushdown), so at 100 TB the mining
    pass costs one pruned scan per query batch — and batches of queries
    share it via a block-keyed join (knn_graph's shape)."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding", "label").head()
    qv = [float(x) for x in qrow["embedding"]]
    negatives = emb.filter(F.col("label") != qrow["label"])
    scored = negatives.select(
        "vec_id",
        "label",
        F.round(
            SIM.cosine(
                F.col("embedding").cast("array<double>"),
                F.array(*[F.lit(x) for x in qv]),
            ),
            6,
        ).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(10)


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


# ===========================================================================
# Batch 2: join-heavy TPC-H shapes, sessionization, quantiles, sorted sets,
# near-dup / similarity (LSH variants are approximate -> rows-only checks)
# ===========================================================================


@_register(
    "tpch_q3_shipping_priority",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           epoch_ms(o_orderdate) AS orderdate_ms
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) DESC, o_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: 3-way join + agg + top-k. customer side is filter-reduced
    and broadcast; lineitem->orders join shuffles on the orderkey."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(F.sum(rev).alias("rev_dec"))
    return (
        agg.orderBy(F.desc("rev_dec"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            # parquet TIMESTAMP(isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ;
            # session TZ is pinned UTC so the cast is lossless
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
        )
    )


@_register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way star join; dims broadcast, facts shuffle once."""
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, (li.l_suppkey == supplier.s_suppkey) & (supplier.s_nationkey == cust.c_nationkey))
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(F.sum(rev).cast("double").alias("revenue"))


@_register(
    "bpe_token_count",
    """
    SELECT doc_id,
      list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                              w -> CAST(ceil(length(w) / 4.0) AS INT)))::BIGINT AS n_bpe_tokens
    FROM documents
    """,
)
def bpe_token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", TXT.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"))
    )


def _inject_pii(txt, doc_id):
    """Deterministic PII injection (the synthetic corpus carries none): a
    doc_id-derived email / IPv4 / phone suffix, replayed verbatim in the
    DuckDB oracle so the redaction is value-checkable end to end."""
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        txt,
        F.when(
            doc_id % 7 == 0,
            F.concat(F.lit(" contact u"), s(doc_id), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 == 0,
            F.concat(F.lit(" from 10."), s(doc_id % 200), F.lit(".0."), s(doc_id % 250)),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                s(F.lit(100) + doc_id % 900),
                F.lit("-"),
                s(F.lit(1000) + doc_id % 9000),
            ),
        ).otherwise(F.lit("")),
    )


_PII_INJECT_SQL = """
      text
      || CASE WHEN doc_id % 7 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                   || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              ELSE '' END
"""


@_register(
    "pii_redaction",
    f"""
    WITH injected AS (
      SELECT doc_id, {_PII_INJECT_SQL} AS text FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
      len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS n_ipv4,
      len(regexp_extract_all(text, '\\b\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b')) AS n_phone,
      md5(
        regexp_replace(
          regexp_replace(
            regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
            '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g'),
          '\\b\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '[PHONE]', 'g')
      ) AS redacted_md5
    FROM injected
    """,
)
def pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus with per-kind audit counts. Counts use
    regexp_count on the pre-redaction text; the redacted text is md5'd so the
    oracle value-checks the full replacement chain, not just the counts."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _inject_pii(F.col("text"), F.col("doc_id")).alias("text")
    )
    out = TXT.redact_pii(docs, "text", "text_redacted")
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


@_register(
    "sequence_packing",
    """
    WITH toks AS (
      SELECT source, doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens,
        COALESCE(sum(n_tokens) OVER (
          PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ob
      FROM toks)
    SELECT source, doc_id, n_tokens,
      CAST(floor(ob / 512) AS BIGINT) AS bin_id,
      CAST(ob % 512 AS BIGINT) AS bin_offset
    FROM packed
    """,
)
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for pretraining batches: per-shard
    token-offset cumsum, bin = offset DIV capacity. One window, partitioned by
    shard — no global sort at 100 TB."""
    return TXT.pack_sequences(
        _t(spark, sf_dir, "documents"), capacity=512, id_col="doc_id",
        text_col="text", shard_col="source",
    ).select(
        "source", "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "bin_id", "bin_offset",
    )


@_register(
    "repetition_filter",
    # Documents with < 2 tokens have no bigram and are excluded on both sides.
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    g AS (
      SELECT doc_id, len(t) AS n_tokens,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks WHERE len(t) >= 2),
    c AS (
      SELECT doc_id, n_tokens, gram, count(*) AS cnt
      FROM g GROUP BY doc_id, n_tokens, gram)
    SELECT doc_id, n_tokens,
           max(cnt) AS top_bigram_count,
           round(max(cnt) / (n_tokens - 1), 6) AS top_bigram_frac,
           round(max(cnt) / (n_tokens - 1), 6) > 0.2 AS is_repetitive
    FROM c GROUP BY doc_id, n_tokens
    """,
)
def repetition_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: top-bigram fraction per document
    (explode + lead window, not an O(n^2) HOF fold)."""
    return TXT.repetition_stats(_t(spark, sf_dir, "documents"))


@_register(
    "corpus_mixing_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8) AS BIGINT)
          < CASE source
              WHEN 'src0' THEN CAST(round(1.00 * 4294967296) AS BIGINT)
              WHEN 'src1' THEN CAST(round(0.50 * 4294967296) AS BIGINT)
              WHEN 'src2' THEN CAST(round(0.25 * 4294967296) AS BIGINT)
              ELSE CAST(round(0.10 * 4294967296) AS BIGINT) END
    """,
)
def corpus_mixing_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing downsample: per-source deterministic keep rates (e.g.
    keep all of a curated source, 10% of crawl). Plans as one codegen'd CASE
    filter inside the scan stage — no shuffle, no count pass, reproducible
    under retries, and nested across rates (a 10% sample is a subset of the
    50% sample), which is what progressive data-scaling runs need."""
    docs = _t(spark, sf_dir, "documents")
    return SAMP.weighted_mix(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        group_col="source",
        key_col="doc_id",
        default_rate=0.10,
    ).select("doc_id", "source")


@_register(
    "train_val_test_split",
    """
    WITH h AS (
      SELECT source,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8) AS BIGINT) AS hv
      FROM documents)
    SELECT source,
      CASE WHEN hv < CAST(round(0.05 * 4294967296) AS BIGINT) THEN 'val'
           WHEN hv < CAST(round(0.10 * 4294967296) AS BIGINT) THEN 'test'
           ELSE 'train' END AS split,
      count(*) AS n_docs
    FROM h GROUP BY source, split
    """,
)
def train_val_test_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-range train/val/test assignment (5/5/90): membership is a pure
    function of doc_id, so adding/removing documents never reshuffles other
    rows' splits, and val⊂larger-val nesting holds if fractions grow.
    Aggregated per (source, split) to value-check the assignment."""
    docs = _t(spark, sf_dir, "documents")
    return (
        SAMP.assign_splits(docs, key_col="doc_id", val_frac=0.05, test_frac=0.05)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@_register(
    "ngram_jaccard_block_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct({_trigrams(True)}) AS s
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) > 0
    """,
)
def ngram_jaccard_block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over source-blocked pairs via the inverted-index
    join (dedup.ngram_jaccard_pairs) — work scales with shared-shingle
    co-occurrences, not all-pairs array intersects."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", block_col="source", n=3)


@_register(
    "ngram_novelty_score",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct({_trigrams(False)}) AS s
      FROM documents
      WHERE len({_TOKENS}) >= 3),
    g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
    dfc AS (SELECT gram, count(*)::BIGINT AS dfc FROM g GROUP BY gram)
    SELECT g.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN dfc.dfc = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           round(sum(CASE WHEN dfc.dfc = 1 THEN 1 ELSE 0 END) / count(*), 6)
             AS novelty
    FROM g JOIN dfc USING (gram)
    GROUP BY g.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a document's distinct word
    3-grams that occur in NO other document — the inverse signal of the
    duplication suite (substring_dup_fraction measures how much of a doc
    is copied; this measures how much is unique to it). Low-novelty,
    low-dup docs are assembled from corpus-common phrasing — the
    templated middle that mixing policies often downweight.

    Shape: one shingle pass -> per-doc distinct -> corpus df table ->
    one join back. The shuffle carries (gram, doc) pairs of distinct
    shingles only; df == 1 test needs no second scan. Docs with fewer
    than 3 tokens have no 3-grams and are excluded on both engines."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = (
        docs.filter(F.size(TXT.tokens(F.col("text"))) >= 3)
        .select(
            "doc_id",
            F.array_distinct(TXT.shingles(F.col("text"), 3)).alias("s"),
        )
        .select("doc_id", F.explode("s").alias("gram"))
    )
    dfc = sh.groupBy("gram").agg(F.count("*").alias("dfc"))
    return (
        sh.join(dfc, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("dfc") == 1).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


@_register(
    "flesch_readability",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
             AS n_sentences,
           len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
             AS n_syllables,
           round(206.835
                 - 1.015 * len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
                         / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                 - 84.6 * len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
                        / len(regexp_split_to_array(trim(text), '\s+')), 6)
             AS flesch
    FROM documents
    """,
)
def flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability gate
    (very high = fragment soup, very low = run-on machine text), with the
    standard deterministic approximations: sentences = runs of [.!?]
    (floored at 1), syllables = vowel-group runs in the lowercased text.
    Pure scan-stage column expressions — three regex counters and one
    arithmetic projection per row, zero shuffles, zero Python."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    n_words = F.size(TXT.tokens(F.col("text")))
    n_sent = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    n_syl = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    flesch = F.round(TXT.flesch_score(F.col("text")), 6)
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )


@_register(
    "numeric_corr_matrix",
    """
    WITH d AS (
      SELECT CAST(l_quantity AS DECIMAL(19,6)) AS q,
             CAST(l_extendedprice AS DECIMAL(19,6)) AS p,
             CAST(l_discount AS DECIMAL(19,6)) AS dc,
             CAST(l_tax AS DECIMAL(19,6)) AS tx
      FROM lineitem),
    s AS (
      SELECT count(*)::BIGINT AS n,
             CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
             CAST(sum(dc) AS DOUBLE) AS sd, CAST(sum(tx) AS DOUBLE) AS st,
             CAST(sum(q*q) AS DOUBLE) AS sqq, CAST(sum(p*p) AS DOUBLE) AS spp,
             CAST(sum(dc*dc) AS DOUBLE) AS sdd, CAST(sum(tx*tx) AS DOUBLE) AS stt,
             CAST(sum(q*p) AS DOUBLE) AS sqp, CAST(sum(q*dc) AS DOUBLE) AS sqd,
             CAST(sum(q*tx) AS DOUBLE) AS sqt, CAST(sum(p*dc) AS DOUBLE) AS spd,
             CAST(sum(p*tx) AS DOUBLE) AS spt, CAST(sum(dc*tx) AS DOUBLE) AS sdt
      FROM d)
    SELECT * FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             round((n*sqp - sq*sp) / sqrt((n*sqq - sq*sq) * (n*spp - sp*sp)), 6) AS r FROM s
      UNION ALL SELECT 'l_quantity', 'l_discount',
             round((n*sqd - sq*sd) / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)), 6) FROM s
      UNION ALL SELECT 'l_quantity', 'l_tax',
             round((n*sqt - sq*st) / sqrt((n*sqq - sq*sq) * (n*stt - st*st)), 6) FROM s
      UNION ALL SELECT 'l_extendedprice', 'l_discount',
             round((n*spd - sp*sd) / sqrt((n*spp - sp*sp) * (n*sdd - sd*sd)), 6) FROM s
      UNION ALL SELECT 'l_extendedprice', 'l_tax',
             round((n*spt - sp*st) / sqrt((n*spp - sp*sp) * (n*stt - st*st)), 6) FROM s
      UNION ALL SELECT 'l_discount', 'l_tax',
             round((n*sdt - sd*st) / sqrt((n*sdd - sd*sd) * (n*stt - st*st)), 6) FROM s)
    """,
)
def numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over lineitem's numeric measures in
    ONE aggregation pass — the profiling matrix that flags redundant or
    mechanically-linked columns before feature selection.

    Distributed one-pass form: every moment (n, Σx, Σx², Σxy) accumulates
    in EXACT decimal (map-side combined; sums of DECIMAL(19,6) products
    — 19 digits forces exact int128 multiply paths on both engines —
    are order-independent), and the correlation arithmetic happens once
    per pair on the double conversions of those exact sums — so shuffle
    order cannot move a digit, unlike a naive double-sum corr(). One scan,
    one 1-row aggregate, six projected rows; no shuffle carries data."""
    li = _fan(_t(spark, sf_dir, "lineitem"))
    cols = {
        "q": "l_quantity",
        "p": "l_extendedprice",
        "dc": "l_discount",
        "tx": "l_tax",
    }
    d = {k: F.col(v).cast("decimal(19,6)") for k, v in cols.items()}
    keys = list(cols)
    aggs = [F.count("*").alias("n")]
    for k in keys:
        aggs.append(F.sum(d[k]).cast("double").alias(f"s_{k}"))
        aggs.append(F.sum(d[k] * d[k]).cast("double").alias(f"ss_{k}"))
    pairs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(d[a] * d[b]).cast("double").alias(f"sp_{a}_{b}"))
    base = li.agg(*aggs)
    n = F.col("n").cast("double")

    def corr_row(a: str, b: str):
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        va = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        vb = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        return base.select(
            F.lit(cols[a]).alias("col_a"),
            F.lit(cols[b]).alias("col_b"),
            F.round(num / F.sqrt(va * vb), 6).alias("r"),
        )

    out = corr_row(*pairs[0])
    for a, b in pairs[1:]:
        out = out.unionByName(corr_row(a, b))
    return out


@_register(
    "value_trend_slope",
    """
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS DECIMAL(19,4)) AS x,
             CAST(value AS DECIMAL(19,4)) AS y
      FROM events),
    s AS (
      SELECT event_type, count(*)::BIGINT AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
      FROM d GROUP BY event_type)
    SELECT event_type, n,
           round((n*sxy - sx*sy) / (n*sxx - sx*sx), 9) AS slope_per_hour,
           round(sy / n - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx / n, 6)
             AS intercept
    FROM s
    """,
)
def value_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of event value over time per event_type —
    the drift DIRECTION under the weekly-counts drift monitor (is a
    metric decaying or growing, and how fast). x = epoch-hour so the
    slope reads as per-hour change.

    Same one-pass exact-moment discipline as numeric_corr_matrix: all
    sums accumulate in DECIMAL(19,4) int128 arithmetic (order-exact),
    the slope/intercept arithmetic runs once per group on double
    conversions of the exact sums. One scan, one map-side-combined
    aggregate, zero joins."""
    ev = _fan(_t(spark, sf_dir, "events"))
    x = F.expr("ts DIV 1000 DIV 3600000000").cast("decimal(19,4)")
    y = F.col("value").cast("decimal(19,4)")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "event_type",
        "n",
        F.round(slope, 9).alias("slope_per_hour"),
        F.round(F.col("sy") / n - slope * F.col("sx") / n, 6).alias("intercept"),
    )


@_register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                            '[1-9]') AS digit
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND CAST(o_totalprice AS DECIMAL(18,2)) >= 0.01),
    c AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY digit),
    t AS (SELECT sum(n_obs)::BIGINT AS total FROM c)
    SELECT digit, n_obs,
           round(ln(1.0 + 1.0 / CAST(digit AS INT)) / ln(10.0), 6) AS expected_p,
           round(pow(n_obs - total * (ln(1.0 + 1.0 / CAST(digit AS INT)) / ln(10.0)), 2)
                 / (total * (ln(1.0 + 1.0 / CAST(digit AS INT)) / ln(10.0))), 6)
             AS chi2_term
    FROM c, t
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of o_totalprice: observed leading-digit counts
    against the log-law expectation P(d) = log10(1 + 1/d), with each
    digit's chi-square contribution — the classic fabricated-numbers /
    corrupted-column smoke test for financial-shaped data.

    The leading digit is extracted from the DECIMAL(18,2) string form
    (plain positional notation on both engines — a raw double would
    stringify differently), so the counting pass is integer-exact; only
    the expectation arithmetic touches floats, computed identically per
    group from exact counts. One scan + one 9-group aggregate. The
    eligibility guard is on the ROUNDED decimal (>= 0.01): a sub-cent
    raw value passes > 0 but rounds to 0.00 and has no leading digit."""
    od = _fan(_t(spark, sf_dir, "orders")).filter(
        F.col("o_totalprice").isNotNull()
        & (F.col("o_totalprice").cast("decimal(18,2)") >= 0.01)
    )
    digit = F.regexp_extract(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), "[1-9]", 0
    )
    c = od.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    t = c.agg(F.sum("n_obs").alias("total"))
    exp_p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("int")) / F.log(
        F.lit(10.0)
    )
    return (
        c.join(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            F.round(exp_p, 6).alias("expected_p"),
            F.round(
                F.pow(F.col("n_obs") - F.col("total") * exp_p, F.lit(2))
                / (F.col("total") * exp_p),
                6,
            ).alias("chi2_term"),
        )
    )


@_register(
    "rfm_segmentation",
    """
    WITH base AS (
      SELECT user_id,
             max(epoch_us(ts) // 86400000000)::BIGINT AS last_day,
             count(*)::BIGINT AS freq,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS monetary
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, last_day, freq,
             CAST(monetary AS DOUBLE) AS monetary,
             ntile(4) OVER (ORDER BY last_day, user_id) AS r_score,
             ntile(4) OVER (ORDER BY freq, user_id) AS f_score,
             ntile(4) OVER (ORDER BY monetary, user_id) AS m_score
      FROM base)
    SELECT user_id, last_day, freq, round(monetary, 6) AS monetary,
           r_score::INT AS r_score, f_score::INT AS f_score,
           m_score::INT AS m_score,
           (r_score * 100 + f_score * 10 + m_score)::INT AS rfm
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation: recency (last active epoch-day), frequency
    (event count), monetary (purchase value sum) per user, each cut into
    deterministic quartiles — the standard behavioral-cohort labeling
    (444 = best customers). Quartiles use ntile(4) over a TOTAL order
    (metric, user_id), so ties cannot reshuffle bucket membership
    between engines or runs; the monetary sum accumulates in
    DECIMAL(18,6) so shuffle order cannot move the double.

    Shape: one user-keyed aggregation, then three ntile windows over the
    USER table (corpus-of-users sized, orders of magnitude smaller than
    events). At 100 TB the global ntile sort on the user table is the
    one global-ordering step; the events scan itself never sorts."""
    ev = _fan(_t(spark, sf_dir, "events"))
    from pyspark.sql.window import Window

    base = ev.groupBy("user_id").agg(
        F.expr("max(ts DIV 1000 DIV 86400000000)").cast("long").alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("monetary_dec"),
    )
    scored = base.select(
        "user_id",
        "last_day",
        "freq",
        F.col("monetary_dec").cast("double").alias("monetary"),
    )
    r_w = Window.orderBy("last_day", "user_id")
    f_w = Window.orderBy("freq", "user_id")
    m_w = Window.orderBy("monetary", "user_id")
    out = scored.select(
        "user_id",
        "last_day",
        "freq",
        "monetary",
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
    )
    return out.select(
        "user_id",
        "last_day",
        "freq",
        F.round("monetary", 6).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm"),
    )


@_register(
    "jaccard_prefix_filter_pairs",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
             AS jaccard
    FROM tk a JOIN tk b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 2
          >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """,
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 1/2 join by PREFIX FILTERING
    (dedup.jaccard_prefix_pairs, All-Pairs/PPJoin family): under the
    rare-first global order a set only indexes its first
    s - ceil(t*s) + 1 tokens, so FREQUENT tokens never enter the index —
    the stop-token hot-bucket blowup structurally cannot form. The
    rational threshold keeps every filter integer-exact; the oracle is
    the unblocked pairwise definition, proving the prefix filter loses
    nothing.

    Bench note: on the dup-heavy fixture corpus this query is
    OUTPUT-bound, not overhead-bound — at sf0.1 the filter emits ~548k
    candidates of which ~445k verify as true >= 1/2-Jaccard pairs (81%
    precision); wall time tracks the qualifying-pair count, which is a
    property of the corpus, not the plan."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.jaccard_prefix_pairs(
        docs, "text", "doc_id", block_col="source", threshold_num=1, threshold_den=2
    )


@_register(
    "containment_prefix_pairs",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::BIGINT AS overlap,
           round(len(list_intersect(a.s, b.s)) / len(a.s), 6) AS containment
    FROM tk a JOIN tk b ON a.source = b.source AND a.doc_id != b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 10 >= len(a.s) * 9
    """,
)
def containment_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED token-set containment >= 9/10 join (dedup.containment_pairs):
    the asymmetric dedup operator Jaccard cannot express — a quoted
    excerpt inside a long page has near-zero Jaccard but containment 1.0,
    so this is the detector for embedded duplication (quotes, boilerplate
    reposts, chunk-level training leaks). Probe-side rare-first prefix
    filter keeps hot tokens out of the join's probe side; integer-exact
    rational threshold; the oracle is the unblocked pairwise definition,
    proving the prefix filter lossless."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.containment_pairs(
        docs, "text", "doc_id", block_col="source", threshold_num=9, threshold_den=10
    )


@_register(
    "winnowing_fingerprint_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKENS} AS t
      FROM documents),
    sh AS (
      SELECT doc_id, source,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(generate_series(1, len(t) - 2),
                       i -> array_to_string(list_slice(t, i, i + 2), ' '))
             END AS s
      FROM toks),
    hs AS (
      SELECT doc_id, source,
             list_transform(s, g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)) AS h
      FROM sh),
    fps AS (
      SELECT doc_id, source,
             list_distinct(CASE WHEN len(h) < 4 THEN [list_min(h)]
                  ELSE list_transform(generate_series(1, len(h) - 3),
                       i -> list_min(list_slice(h, i, i + 3)))
             END) AS f
      FROM hs),
    flat AS (SELECT doc_id, source, unnest(f) AS fp FROM fps)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared_fps
    FROM flat a JOIN flat b
      ON a.source = b.source AND a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing / MOSS near-dup detection (dedup.winnowing_fingerprints,
    Schleimer et al. SIGMOD 2003): same-source document pairs sharing at
    least one selected window-minimum fingerprint, with the shared count.
    The third fingerprinting family beside MinHash (set resemblance) and
    SimHash (weighted-bit distance): winnowing GUARANTEES any shared run
    of >= window + k - 1 tokens yields an identical selected fingerprint,
    so local verbatim overlap cannot slip through sampling — while
    shuffling only ~2/window of the window population."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.winnowing_pairs(docs, "text", "doc_id", "source", k=3, window=4)


@_register(
    "overlap_coefficient_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(CASE
               WHEN len({_TOKENS}) < 3
               THEN [array_to_string({_TOKENS}, ' ')]
               ELSE list_transform(
                 generate_series(1, len({_TOKENS}) - 2),
                 i -> array_to_string(list_slice({_TOKENS}, i, i + 2), ' '))
             END) AS s
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))
                 / least(len(a.s), len(b.s)), 6) AS overlap
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 5 >= 4 * least(len(a.s), len(b.s))
    """,
)
def overlap_coefficient_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-containment pairs: Szymkiewicz-Simpson overlap
    coefficient |A∩B| / min(|A|, |B|) >= 4/5 over distinct 3-gram
    shingles — the quote/subset detector symmetric Jaccard misses (a
    short doc fully embedded in a long one has tiny Jaccard but overlap
    ~1). Rational threshold keeps the filter integer-exact.

    Shape: dedup.overlap_pairs — a readout over the SAME
    _shingle_pair_intersections core as ngram_jaccard_pairs (work ~
    shared-shingle co-occurrences, never all-pairs). This query runs the
    uncapped form so the unblocked oracle is exact; the library call
    takes the same max_doc_freq stop-shingle cap as the Jaccard family
    for hot-shingle corpora at scale (overlap is then computed
    consistently over the retained-shingle universe)."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.overlap_pairs(
        docs, "text", "doc_id", "source", n=3, threshold_num=4, threshold_den=5
    )


@_register(
    "ngram_jaccard_capped_pairs",
    # Oracle replays the stop-shingle prune: shingles with per-block document
    # frequency > 2 are removed BEFORE pairing, and both set sizes recount
    # retained shingles only (consistent Jaccard over the pruned universe).
    f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct({_trigrams(True)}) AS s
      FROM documents),
    ex AS (SELECT doc_id, source, unnest(s) AS g FROM sh),
    keep AS (SELECT source, g FROM ex GROUP BY source, g HAVING count(*) <= 2),
    fx AS (SELECT ex.* FROM ex JOIN keep USING (source, g)),
    sz AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
      FROM fx a JOIN fx b ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(n / (sa.sz + sb.sz - n), 6) AS jaccard
    FROM inter
    JOIN sz sa ON inter.id_a = sa.doc_id
    JOIN sz sb ON inter.id_b = sb.doc_id
    """,
)
def ngram_jaccard_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB skew-guard variant: stop-shingles (per-block document
    frequency > 2) are pruned before the inverted-index self-join, bounding
    the worst join key at O(cap^2) rows instead of O(hot_df^2)."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return D.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_col="source", n=3, max_doc_freq=2
    )


@_register(
    "simhash_docs",
    f"""
    WITH h AS (
      SELECT doc_id, {_md5_hashes(_TOKENS)} AS hs FROM documents)
    SELECT doc_id, {_simhash_fold(32)} AS simhash
    FROM h
    """,
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", D.simhash(F.col("text"), bits=32).alias("simhash"))
    )


@_register(
    "events_sessionization",
    """
    WITH marked AS (
      SELECT user_id, epoch_ns(ts) AS tns,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                       > 1800000000000 OR
                       lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM marked GROUP BY user_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap). The reference has no
    session semantics (T6) — this is the analytics extension, kept as a
    window expression so the streaming variant can reuse session_window."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")  # ts is epoch-nanos long (nanosAsLong)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    marked = ev.withColumn(
        "new_session",
        (
            F.col("ts") - F.lag("ts").over(w) > gap_ns
        ).cast("int").isNull().cast("int")  # placeholder, replaced below
    )
    marked = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(F.col("prev_ts").isNull() | (F.col("ts") - F.col("prev_ts") > gap_ns), 1).otherwise(0),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"), F.count("*").alias("n_events")
    )


@_register(
    "session_overlap_pairs",
    """
    WITH marked AS (
      SELECT user_id, event_id, epoch_ns(ts) AS tns,
             CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                       OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
    sids AS (
      SELECT user_id, tns,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY tns, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    iv AS (SELECT user_id, sid, min(tns) AS t0, max(tns) AS t1
           FROM sids GROUP BY user_id, sid)
    SELECT a.user_id AS user_id_a, a.sid::BIGINT AS sid_a,
           b.user_id AS user_id_b, b.sid::BIGINT AS sid_b,
           (least(a.t1, b.t1) - greatest(a.t0, b.t0))::BIGINT AS overlap_ns
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
    """,
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-INTERVAL overlap join (operators/range_join.py::
    interval_overlap_pairs): which users' 30-min-gap sessions were
    CONCURRENT — the two-sided sibling of the as-of/range joins
    (co-activity detection, booking conflicts, concurrency analysis).
    Intervals explode into the coarse hour buckets they span, candidates
    come from a plain bucket equi-join (shuffle machinery + AQE apply —
    never a theta join), the exact overlap predicate filters, and a
    DISTINCT dedups multi-bucket matches; overlap_ns is integer-exact.
    The oracle is the unblocked pairwise inequality join, proving the
    bucketing lossless."""
    from pyspark.sql.window import Window

    from scylla_migrator_spark.operators.range_join import interval_overlap_pairs

    ev = _t(spark, sf_dir, "events")  # ts is epoch-nanos long
    gap_ns = 30 * 60 * 1_000_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull() | (F.col("ts") - F.col("prev_ts") > gap_ns), 1
        ).otherwise(0),
    )
    sids = marked.withColumn(
        "sid",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = sids.groupBy("user_id", "sid").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    return interval_overlap_pairs(
        iv, ["user_id", "sid"], "t0", "t1", antisym_col="user_id"
    )


@_register(
    "skipgram_cooccurrence_pmi",
    f"""
    WITH toks AS (
      SELECT {_TOKENS} AS t FROM documents),
    prs AS (
      SELECT t[i] AS w1, t[i + o] AS w2
      FROM toks, unnest(generate_series(1, 3)) AS g(o),
           unnest(generate_series(1, len(t) - o)) AS u(i)
      UNION ALL
      SELECT t[i + o] AS w1, t[i] AS w2
      FROM toks, unnest(generate_series(1, 3)) AS g(o),
           unnest(generate_series(1, len(t) - o)) AS u(i)),
    cnt AS MATERIALIZED (
      SELECT w1, w2, count(*)::BIGINT AS cooc FROM prs GROUP BY w1, w2),
    marg AS (SELECT w1, sum(cooc)::BIGINT AS cm FROM cnt GROUP BY w1),
    tot AS (SELECT sum(cooc)::BIGINT AS t FROM cnt)
    SELECT c.w1, c.w2, c.cooc,
           round(ln(CAST(c.cooc AS DOUBLE) * tot.t
                    / (CAST(ma.cm AS DOUBLE) * mb.cm)), 6) AS pmi
    FROM cnt c
    JOIN marg ma ON c.w1 = ma.w1
    JOIN marg mb ON c.w2 = mb.w1, tot
    WHERE c.cooc >= 5 AND c.w1 < c.w2
    """,
)
def skipgram_cooccurrence_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed skip-gram co-occurrence PMI (text.skipgram_cooccurrence_pmi,
    window=3): the word2vec/GloVe preprocessing matrix — SGNS factorizes
    exactly this shifted-PMI matrix (Levy & Goldberg 2014);
    collocation_pmi_pairs is the window=1 special case. One corpus scan
    (all shifted-slice zips concatenated, single explode), map-side pair
    aggregation, min_count before the AQE-chosen marginal joins."""
    docs = _fan(_t(spark, sf_dir, "documents").select("text"))
    return TXT.skipgram_cooccurrence_pmi(docs, "text", window=3, min_count=5)


@_register(
    "bm25_sparse_topk",
    r"""
    WITH lens AS (
      SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS dl
      FROM documents),
    sc AS (SELECT count(*)::BIGINT AS n, sum(dl) / count(*) AS avgdl FROM lens),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents),
    tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM toks
           WHERE w IN ('spark', 'join', 'window') GROUP BY doc_id, w),
    dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id,
             CAST(ln(1.0 + (sc.n - dfq.df + 0.5) / (dfq.df + 0.5))
                  * tf.tf * 2.2
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / sc.avgdl))
                  AS DECIMAL(18,9)) AS ts
      FROM tf JOIN dfq USING (w) JOIN lens USING (doc_id), sc)
    SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 6) AS bm25
    FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def bm25_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (text.bm25_topk, Lucene idf form) for the query
    bag {spark, join, window} — the SPARSE half of a hybrid retrieval
    stack (dense half: the ANN family; fusion: rrf_hybrid_retrieval).
    The token stream filters to the query terms at the scan (the
    posting-list read), so all downstream work is sized by matching
    documents, not the corpus; decimal-truncated per-term scores;
    TakeOrderedAndProject top-k."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.bm25_topk(docs, ["spark", "join", "window"], "text", "doc_id", k=10)


def _rrf_hybrid_sql() -> str:
    """Oracle for hybrid retrieval: BM25 top-30 + hashed-dense top-30,
    fused by reciprocal rank. Reuses the shared hashed-embedding CTEs for
    the dense side; the query embedding is the same md5 math applied to
    the literal query text."""
    return (
        _bm25_dense_tops_cte(30)
        + """,
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bmtop),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM dtop),
    f AS (SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, r1.r AS ra, r2.r AS rb
          FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id)
    SELECT doc_id,
           round(coalesce(1.0 / (60 + ra), 0.0) + coalesce(1.0 / (60 + rb), 0.0), 6) AS rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT 10"""
    )


@_register("rrf_hybrid_retrieval", _rrf_hybrid_sql())
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: BM25 sparse top-30 (text.bm25_topk) and
    hashed-embedding dense cosine top-30 for the SAME query text, fused
    by reciprocal-rank fusion (similarity.rrf_fuse; Cormack 2009) —
    score-free fusion is the production answer to incomparable
    sparse/dense score scales. The corpus-sized work happens inside each
    retriever (posting-list-filtered BM25; scan-stage hashed embeddings);
    ranking and fusion operate on k-bounded shortlists. Fully
    SQL-replayed including the query-text embedding."""
    q_text = "spark join window"
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    sparse = TXT.bm25_topk(docs, q_text.split(), "text", "doc_id", k=30)
    emb = docs.select(
        "doc_id", TXT.hashed_bow_embedding(F.col("text"), dim=16).alias("v")
    )
    qv = [
        float(x)
        for x in spark.range(1)
        .select(TXT.hashed_bow_embedding(F.lit(q_text), dim=16).alias("q"))
        .head()["q"]
    ]
    dense = SIM.brute_force_topk(emb, qv, "doc_id", "v", k=30)
    return SIM.rrf_fuse(
        [SIM.rank_by(sparse, "bm25"), SIM.rank_by(dense, "cos")],
        "doc_id",
        k=10,
        c=60,
    )


@_register(
    "psi_value_drift",
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    binned AS (
      SELECT event_type,
             CASE WHEN epoch_ns(ts) < cut THEN 0 ELSE 1 END AS half,
             least(greatest(CAST(floor(value / 40.0) AS BIGINT), 0), 9) AS bin
      FROM events, med),
    counts AS (
      SELECT event_type, half, bin, count(*)::BIGINT AS c
      FROM binned GROUP BY 1, 2, 3),
    grid AS (SELECT DISTINCT event_type, bin FROM counts),
    tot AS (SELECT event_type, half, sum(c)::BIGINT AS t FROM counts GROUP BY 1, 2),
    nb AS (SELECT event_type, count(*)::BIGINT AS nbins FROM grid GROUP BY 1),
    pr AS (
      SELECT g.event_type, g.bin,
             (coalesce(cr.c, 0) + 0.5) / (tr.t + 0.5 * nb.nbins) AS p_ref,
             (coalesce(cc.c, 0) + 0.5) / (tc.t + 0.5 * nb.nbins) AS p_cur
      FROM grid g
      JOIN nb ON g.event_type = nb.event_type
      JOIN tot tr ON g.event_type = tr.event_type AND tr.half = 0
      JOIN tot tc ON g.event_type = tc.event_type AND tc.half = 1
      LEFT JOIN counts cr ON g.event_type = cr.event_type AND g.bin = cr.bin AND cr.half = 0
      LEFT JOIN counts cc ON g.event_type = cc.event_type AND g.bin = cc.bin AND cc.half = 1)
    SELECT event_type,
           round(sum(CAST((p_cur - p_ref) * ln(p_cur / p_ref) AS DECIMAL(18,9)))::DOUBLE, 6)
             AS psi
    FROM pr GROUP BY event_type
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (the industry-standard ML-monitoring
    drift metric; cf. Karakoulas 2004 credit-scoring practice) of the
    event-value distribution, first time-half (reference) vs second
    (current), per event type:

        PSI = sum_bins (p_cur - p_ref) * ln(p_cur / p_ref)

    with fixed-width value bins (clamped decile-ish grid) and +0.5
    add-half smoothing over the observed-bin grid so empty bins stay
    finite. <0.1 = stable, 0.1-0.25 = moderate shift, >0.25 = act — the
    JS-divergence twin in the units practitioners already alert on.

    Scale shape: one map-side-combined (type, half, bin) count; the grid,
    totals, and bin-count tables all derive from it (bounded by
    types x bins — broadcastable, but left AQE-chosen); per-bin terms
    truncate to DECIMAL(18,9) pre-sum. The time split point is an
    integer-exact (min+max)//2 epoch-nanos midpoint, one broadcast
    scalar."""
    ev = _t(spark, sf_dir, "events")
    # `div` = integer division: (min+max) ~ 3.4e18 exceeds double-exact
    # range, so a /2-through-double midpoint could differ from the
    # oracle's // by a few hundred ns and flip a row's half
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    binned = ev.join(F.broadcast(med)).select(
        "event_type",
        F.when(F.col("ts") < F.col("cut"), F.lit(0)).otherwise(F.lit(1)).alias("half"),
        F.least(
            F.greatest(F.floor(F.col("value") / F.lit(40.0)).cast("long"), F.lit(0)),
            F.lit(9),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count("*").alias("c")
    )
    counts = counts.localCheckpoint(eager=False)  # grid/totals/nbins all derive
    grid = counts.select("event_type", "bin").distinct()
    tot = counts.groupBy("event_type", "half").agg(F.sum("c").alias("t"))
    nb = grid.groupBy("event_type").agg(F.count("*").alias("nbins"))
    cr = counts.filter(F.col("half") == 0).select(
        "event_type", "bin", F.col("c").alias("c_ref")
    )
    cc = counts.filter(F.col("half") == 1).select(
        "event_type", "bin", F.col("c").alias("c_cur")
    )
    tr = tot.filter(F.col("half") == 0).select("event_type", F.col("t").alias("t_ref"))
    tc = tot.filter(F.col("half") == 1).select("event_type", F.col("t").alias("t_cur"))
    p_ref = (F.coalesce(F.col("c_ref"), F.lit(0)) + F.lit(0.5)) / (
        F.col("t_ref") + F.lit(0.5) * F.col("nbins")
    )
    p_cur = (F.coalesce(F.col("c_cur"), F.lit(0)) + F.lit(0.5)) / (
        F.col("t_cur") + F.lit(0.5) * F.col("nbins")
    )
    term = ((p_cur - p_ref) * F.log(p_cur / p_ref)).cast("decimal(18,9)")
    pr = (
        grid.join(nb, "event_type")
        .join(tr, "event_type")
        .join(tc, "event_type")
        .join(cr, ["event_type", "bin"], "left")
        .join(cc, ["event_type", "bin"], "left")
        .select("event_type", term.alias("term"))
    )
    return pr.groupBy("event_type").agg(
        F.round(F.sum("term").cast("double"), 6).alias("psi")
    )


@_register(
    "sorted_neighborhood_blocking",
    """
    WITH k AS (SELECT doc_id, lower(substr(text, 1, 24)) AS key FROM documents),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rn FROM k)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, (b.rn - a.rn)::BIGINT AS rank_gap
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
    """,
)
def sorted_neighborhood_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (Hernandez & Stolfo
    SIGMOD'95 merge/purge; dedup.sorted_neighborhood_pairs): candidate
    pairs within 3 positions of the key-sorted order — catches near-dups
    whose keys are lexicographically ADJACENT (leading-field typos, serial
    ids) that token-set blockers miss. The global rank comes from
    operators/ranking.py::distributed_row_number (range partitioner +
    per-partition offsets — never the single-reducer orderBy window), and
    the within-window join is an equi-join on the rank bucket; the oracle
    is the plain global row_number + inequality join."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring(F.col("text"), 1, 24)).alias("key")
    )
    return D.sorted_neighborhood_pairs(docs, "key", "doc_id", window=3)


@_register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, sum(c) / count(*) AS mu FROM daily GROUP BY 1),
    cs AS (
      SELECT d.event_type, d.day_idx,
             sum(d.c - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.day_idx
                                   ROWS UNBOUNDED PRECEDING) AS cusum
      FROM daily d JOIN m USING (event_type)),
    ranked AS (
      SELECT event_type, day_idx, cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, day_idx) AS rn
      FROM cs)
    SELECT event_type, day_idx AS changepoint_day,
           round(abs(cusum), 6) AS max_abs_cusum
    FROM ranked WHERE rn = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954) per event type: the day
    where the cumulative deviation of daily volume from its mean peaks —
    the classic single-changepoint estimator for level shifts in a
    monitored series (pipeline-volume regressions, ingest anomalies).
    Everything runs at DAY grain: the corpus collapses to (type, day)
    counts in one map-side-combined pass, and the running-sum/argmax
    windows operate on ~30 rows per type — no data-sized window, no
    global sort. Integer day index (epoch-days) avoids date types;
    deterministic tie-break on earliest day."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    # `div` is 64-bit INTEGER division — ts/8.64e13 through a double would
    # lose ulps at epoch-nanos magnitude and could flip a boundary day
    daily = ev.groupBy(
        "event_type",
        F.expr("ts div 86400000000000").alias("day_idx"),
    ).agg(F.count("*").alias("c"))
    m = daily.groupBy("event_type").agg(
        (F.sum("c") / F.count("*")).alias("mu")
    )
    wsum = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = daily.join(m, "event_type").withColumn(
        "cusum", F.sum(F.col("c") - F.col("mu")).over(wsum)
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("day_idx")
    )
    return (
        cs.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_idx").alias("changepoint_day"),
            F.round(F.abs(F.col("cusum")), 6).alias("max_abs_cusum"),
        )
    )


@_register(
    "basket_item_pair_lift",
    """
    WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    n AS (SELECT count(DISTINCT bk)::BIGINT AS n FROM items),
    sup AS (SELECT it, count(*)::BIGINT AS s FROM items GROUP BY it),
    pairs AS (
      SELECT a.it AS item_a, b.it AS item_b, count(*)::BIGINT AS pair_count
      FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
      GROUP BY a.it, b.it
      HAVING count(*) >= 3)
    SELECT item_a, item_b, pair_count,
           round(pair_count / sa.s, 6) AS confidence,
           round(pair_count * n.n / (sa.s * sb.s), 6) AS lift
    FROM pairs
    JOIN sup sa ON pairs.item_a = sa.it
    JOIN sup sb ON pairs.item_b = sb.it, n
    """,
)
def basket_item_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (analytics/basket.py::
    item_pair_lift; Agrawal-Srikant pairwise level): parts co-purchased
    in >= 3 orders with confidence and lift — the candidate generator for
    frequently-bought-together surfaces. The pair join keys on the
    BASKET, so fan-out is bounded by basket width, never item popularity;
    min_support filters before the catalog-sized support joins (which
    stay AQE-chosen, no forced broadcast); exact integer counts, two
    6 dp double divisions."""
    from scylla_migrator_spark.analytics.basket import item_pair_lift

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return item_pair_lift(li, "l_orderkey", "l_partkey", min_support=3)


@_register(
    "median_value_by_event_type",
    """
    SELECT event_type, round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.95), 6) AS p95_value
    FROM events GROUP BY event_type
    """,
)
def median_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (approx_percentile exists for the
    at-scale path; the exact form is the oracle-checkable baseline)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
    )


@_register(
    "rolling_active_users",
    """
    WITH du AS (
      SELECT DISTINCT (epoch_us(ts) // 86400000000)::BIGINT AS d, user_id
      FROM events),
    dd AS (SELECT DISTINCT d FROM du),
    expanded AS (
      SELECT dd.d AS d, du.d AS src_d, du.user_id
      FROM du JOIN dd ON dd.d BETWEEN du.d AND du.d + 6)
    SELECT d,
           count(DISTINCT CASE WHEN src_d = d THEN user_id END)::BIGINT AS dau,
           count(DISTINCT user_id)::BIGINT AS wau_7d
    FROM expanded GROUP BY d
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement profile: for every calendar day with events,
    the exact distinct-user count that day (DAU) and over the trailing
    7-day window (WAU) — the retention-adjacent health metric next to
    cohort_retention.

    Scale shape: the sliding window is NOT a range join — each distinct
    (day, user) pair fans out to the <=7 window anchors it serves
    (posexplode over a 7-element sequence), then a plain equi-shuffle
    groupBy(day) counts distinct users. Fan-out is a constant 7x of the
    (day, user) pair table (already collapsed from raw events by the
    first distinct), and anchors outside the observed day range are
    dropped by a broadcast semi-join against the tiny day dimension.
    DAU rides the same aggregate as a conditional distinct — one shuffle
    for both metrics. Days are epoch-day BIGINT indexes (the engine's
    event-time convention is epoch-nanos LongType; see _ts_nanos)."""
    ev = _fan(_t(spark, sf_dir, "events"))
    day = F.expr("ts DIV 1000 DIV 86400000000").cast("long")
    du = ev.select(day.alias("src_d"), "user_id").distinct()
    dd = du.select(F.col("src_d").alias("d")).distinct()
    expanded = du.select(
        "src_d",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
    ).select("src_d", "user_id", (F.col("src_d") + F.col("off")).alias("d"))
    windowed = expanded.join(F.broadcast(dd), "d", "left_semi")
    return windowed.groupBy("d").agg(
        F.count_distinct(
            F.when(F.col("src_d") == F.col("d"), F.col("user_id"))
        ).alias("dau"),
        F.count_distinct("user_id").alias("wau_7d"),
    )


@_register(
    "mad_value_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
    SELECT e.event_type,
           round(m.med, 6) AS median_value,
           round(d.mad, 6) AS mad,
           count(*) FILTER (abs(e.value - m.med) > 4.4478 * d.mad)::BIGINT
             AS n_outliers,
           count(*)::BIGINT AS n_rows
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY e.event_type, m.med, d.mad
    """,
)
def mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: median/MAD per event_type and the count of
    values beyond 3 robust sigmas (MAD * 1.4826 estimates sigma under
    normality; threshold 3 * 1.4826 = 4.4478) — the heavy-tail-safe
    complement to zscore_value_outliers, whose mean/std are themselves
    dragged by the outliers they hunt.

    Shape: two exact interpolated-percentile passes (median, then median
    absolute deviation) with the per-type scalars BROADCAST back onto the
    scan for the final counting pass — no row ever shuffles with its
    value, only the group key. At 100 TB the exact percentiles swap for
    approx_percentile on the same plan."""
    ev = _fan(_t(spark, sf_dir, "events"))
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type")
    return scored.groupBy(
        "event_type", F.col("med"), F.col("mad")
    ).agg(
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 4.4478 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
        F.count("*").alias("n_rows"),
    ).select(
        "event_type",
        F.round("med", 6).alias("median_value"),
        F.round("mad", 6).alias("mad"),
        "n_outliers",
        "n_rows",
    )


@_register(
    "sorted_status_sets",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list_distinct(list(o_orderstatus))), '|') AS statuses
    FROM orders GROUP BY o_custkey
    """,
)
def sorted_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 sorted-set encoding: collect_set + array_sort -> deterministic
    string (the SS canonicalization rule applied relationally)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.concat_ws("|", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"))
    )


@_register(
    "minhash_lsh_pairs",
    f"""
    WITH {_minhash_sig_cte()},
    {_MINHASH_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (banded signature equi-join — the
    100 TB dedup path). Every ingredient (whitespace shingles, md5-derived
    32-bit hash, affine rehash family, 4-row bands) is deterministic, so the
    oracle replays the EXACT pipeline in SQL — band equality compared on the
    raw 4-minhash tuple (Spark hashes the band only to narrow the shuffle
    key; equality is equivalent). Exact Jaccard verification of these pairs
    is ngram_jaccard_block_pairs."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return D.minhash_lsh_candidates(docs, "text", "doc_id", num_hashes=16, bands=4)


@_register(
    "embedding_near_dup_pairs",
    """
    WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    doubled AS (
      SELECT vec_id, label, v FROM base
      UNION ALL
      SELECT vec_id + 1000000, label,
             list_concat([v[1] + 0.01], v[2:]) AS v
      FROM base)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM doubled a JOIN doubled b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked by label. The fixture embeddings
    have no natural near-dups (max intra-label cosine ~0.47), so each vector
    gets a deterministic perturbed twin (+0.01 on dim 0, id + 1e6); the
    operator must find exactly the twin pairs at threshold 0.99. Output is
    the pair ids (not the cosine) so the check is float-rounding-proof."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    twin = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at("v", 1) + 0.01), F.slice("v", 2, F.size("v") - 1)
        ).alias("v"),
    )
    # fan BOTH join inputs: the probe side of the (broadcast) block join
    # inherits the single-file scan's 1-2 partitions otherwise, serializing
    # the O(sum block^2) pair work on two cores
    doubled = _fan(emb.unionByName(twin))
    return D.embedding_near_dup(
        doubled, "vec_id", "v", threshold=0.99, block_col=F.col("label")
    ).select("id_a", "id_b")


@_register(
    "simhash_hamming_pairs",
    f"""
    WITH {_simhash_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh))::INT AS hamming
    {_hamming_join(8, "source")}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: same-source pairs whose 32-bit fingerprints are
    within hamming distance 8. Fingerprint once per doc, then BLOCKED
    candidate generation via Manku block-union keys
    (dedup.simhash_blocked_pairs: distinct-fingerprint collapse, 45
    C(10,2) union-key probe tables, exact-popcount verify) — lossless for
    h<=8, so the pair set equals the all-pairs scan the oracle replays,
    with candidate comparisons bounded by union-key bucket population
    instead of O(m^2/|sources|)."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(docs, "text", "doc_id", carry_cols=["source"], bits=32)
    return D.simhash_blocked_pairs(
        fp, "doc_id", bits=32, blocks=10, max_hamming=8, group_col="source"
    ).select("id_a", "id_b", "hamming")


@_register(
    "simhash_banded_pairs",
    f"""
    WITH {_simhash_cte(source=False)},
    banded AS (
      SELECT doc_id, sh, gs.b AS band_id, (sh >> (gs.b * 8)) & 255 AS band_val
      FROM fp CROSS JOIN generate_series(0, 3) AS gs(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sha, b.sh AS shb
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, bit_count(xor(sha, shb))::INT AS hamming
    FROM cand WHERE bit_count(xor(sha, shb)) <= 3
    """,
)
def simhash_banded_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates via BAND-PREFIX LSH blocking — the scale
    path `simhash_hamming_pairs`' docstring names, now real: 4 bands of 8
    bits; hamming<=3 pairs agree on >= 1 band by pigeonhole, so candidates
    come from per-band equi-joins (bucketed shuffle keys), never a
    whole-block self-join; the exact popcount verifies candidates. Same
    bucket-then-verify shape as MinHash LSH."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    fp = D.simhash_fingerprints(docs, "text", "doc_id", bits=32)
    return D.simhash_banded_pairs(fp, "doc_id", bands=4, max_hamming=3)


@_register(
    "simhash_wide_blocked_pairs",
    # WIDE fingerprints (60-bit: 15-hex md5 token hashes, BIGINT-positive
    # in both engines) with the same hamming<=8 threshold; oracle = the
    # unblocked all-pairs popcount, lossless vs the Manku block-union join.
    f"""
    WITH {_simhash_cte(60)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh))::INT AS hamming
    {_hamming_join(8, "source")}
    """,
)
def simhash_wide_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE near-dup fingerprint shape: 60-bit SimHash (15-hex
    md5 token hashes) blocked with Manku block-union keys at full width —
    blocks=10 gives 6-bit blocks, so the C(10,2)=45 probe tables carry
    TRUE ~12-bit union keys (the selectivity the WWW'07 construction is
    designed around; 32-bit fingerprints cap union keys at ~6 bits, which
    is why the narrow family is fixture-scale semantics). Same
    bucket-then-verify plan as simhash_hamming_pairs — distinct-
    fingerprint collapse, exact-popcount verify, lossless for h<=8 — and
    the same unblocked all-pairs oracle. At hamming<=8 over 60 bits only
    genuinely near-duplicate documents pair (random fingerprints sit at
    expected hamming 30), so this is also the precision twin of the
    32-bit row's recall posture."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(
        docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    )
    return D.simhash_blocked_pairs(
        fp, "doc_id", bits=60, blocks=10, max_hamming=8, group_col="source"
    ).select("id_a", "id_b", "hamming")


def _hot_union_sql(bits: int = 32, blocks: int = 10, max_hamming: int = 8, cap: int = 8) -> str:
    """Oracle for simhash_blocked_hot_keys: replay the Manku block-union
    key exploder (_union_keys_cte), then the frequency histogram
    HAVING > cap."""
    return f"""{_union_keys_cte(bits, blocks, max_hamming)}
    SELECT source, cid::INT AS combo_id, key_val,
           count(*)::BIGINT AS n_fingerprints
    FROM keys GROUP BY 1, 2, 3 HAVING count(*) > {cap}
    """


def _blocked_budget_sql(bits: int = 32, blocks: int = 10, max_hamming: int = 8) -> str:
    """Oracle for simhash_blocked_candidate_budget: per-combo candidate
    counts from the bucket histogram (sum n*(n-1)/2 over buckets) — the
    same _union_keys_cte as _hot_union_sql."""
    return f"""{_union_keys_cte(bits, blocks, max_hamming)},
    hist AS (
      SELECT cid, count(*)::BIGINT AS n
      FROM keys GROUP BY source, cid, key_val)
    SELECT cid::INT AS combo_id,
           count(*)::BIGINT AS n_buckets,
           max(n) AS max_bucket,
           sum(n * (n - 1) // 2)::BIGINT AS n_candidates
    FROM hist GROUP BY cid
    """


@_register("simhash_blocked_candidate_budget", _blocked_budget_sql(32, 10, 8))
def simhash_blocked_candidate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost PRE-FLIGHT for the blocked hamming<=8 family (the
    lsh_candidate_budget posture applied to the Manku union-key space):
    per probe-combo bucket count, max bucket population, and the exact
    candidate-pair count the blocked join will plan (sum n(n-1)/2 over
    buckets) — computed from the key HISTOGRAM, so the answer costs one
    aggregation, not the join itself. A 100 TB operator reads this row to
    size blocks/max_key_freq (and to decide whether the fingerprint needs
    widening — see simhash_wide_blocked_pairs) before launching the
    sweep."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(docs, "text", "doc_id", carry_cols=["source"], bits=32)
    units = fp.select("source", "sh").distinct()
    keys = D._block_union_keys(
        units.select(F.col("source").alias("__grp"), F.col("sh").alias("__sh")),
        "__sh",
        32,
        10,
        8,
        ["__grp", "__sh"],
    )
    hist = keys.groupBy("__grp", "combo_id", "key_val").agg(
        F.count("*").alias("n")
    )
    return (
        hist.groupBy("combo_id")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
            # integral end to end (long * long >> 1, summed as long): a
            # double-typed sum loses exactness past 2^53, and this row's
            # whole point is an EXACT candidate count at corpus scale
            F.sum(F.shiftright(F.col("n") * (F.col("n") - 1), 1))
            .cast("long")
            .alias("n_candidates"),
        )
        .select("combo_id", "n_buckets", "max_bucket", "n_candidates")
    )


@_register("simhash_blocked_hot_keys", _hot_union_sql(32, 10, 8, 8))
def simhash_blocked_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine pre-flight for the blocked hamming<=8 family
    (dedup.simhash_hot_union_keys): every (source, combo, union-key)
    probe bucket whose DISTINCT-fingerprint population exceeds the cap —
    what a capped simhash_blocked_pairs(max_key_freq=8) would exclude,
    and the sizing evidence (bucket histogram tail) a 100 TB operator
    reads before choosing blocks/cap. The oracle replays the exact block
    geometry from a builder-generated VALUES table, so combo ids and key
    packing are pinned engine==oracle."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(docs, "text", "doc_id", carry_cols=["source"], bits=32)
    return D.simhash_hot_union_keys(
        fp, bits=32, blocks=10, max_hamming=8, group_col="source", max_key_freq=8
    ).select(
        "source",
        "combo_id",
        "key_val",
        F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
    )


def _kmeans_assign_cte(name: str, cent: str, base: str = "base") -> str:
    """Assignment CTE: nearest centroid by the same argmax the engine's
    ivf_assign computes (dot/|c| desc, ties by centroid index)."""
    return f"""{name} AS (
      SELECT vec_id, v, cidx AS centroid_id FROM (
        SELECT b.vec_id, b.v, c.cidx,
               row_number() OVER (PARTITION BY b.vec_id
                  ORDER BY list_dot_product(b.v, c.cv)
                           / sqrt(list_dot_product(c.cv, c.cv)) DESC, c.cidx) AS rn
        FROM {base} b CROSS JOIN {cent} c) WHERE rn = 1)"""


def _kmeans_train_parts(iters: int, n: int, dim: int, p: str = "") -> list[str]:
    """Shared DuckDB replay of similarity.kmeans_centroids — seed =
    lowest-``n`` ids, then ``iters`` unrolled (assign -> decimal-exact
    per-dim mean, round 6) rounds; the final centroid CTE is
    ``{p}cent{iters}``. Used by the IVF, SemDedup, doc-cluster AND
    (prefixed, once per subspace) product-quantization oracles so none
    can drift from the engine or each other. ``p`` prefixes every CTE
    name including the ``{p}base`` input relation."""
    parts = [
        f"""{p}cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
             FROM {p}base ORDER BY vec_id LIMIT {n})""",
    ]
    for t in range(iters):
        parts.append(_kmeans_assign_cte(f"{p}assign{t}", f"{p}cent{t}", f"{p}base"))
        parts.append(
            f"""{p}upd{t + 1} AS (
      SELECT a.centroid_id AS cidx, gs.i AS pos,
             round(CAST(sum(CAST(a.v[gs.i] AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS m
      FROM {p}assign{t} a CROSS JOIN generate_series(1, {dim}) AS gs(i)
      GROUP BY a.centroid_id, gs.i)"""
        )
        parts.append(
            f"{p}cent{t + 1}l AS (SELECT cidx, list(m ORDER BY pos) AS cv FROM {p}upd{t + 1} GROUP BY cidx)"
        )
        parts.append(
            f"""{p}cent{t + 1} AS (SELECT p.cidx, coalesce(u.cv, p.cv) AS cv
      FROM {p}cent{t} p LEFT JOIN {p}cent{t + 1}l u USING (cidx))"""
        )
    return parts


def _ivf_kmeans_sql(iters: int = 2, n: int = 16, nprobe: int = 4, dim: int = 64, k: int = 10) -> str:
    """DuckDB replay of the deterministic Lloyd's k-means IVF: seed =
    lowest-``n`` ids, then ``iters`` unrolled (assign -> decimal-exact
    per-dim mean) rounds, then probe + re-rank with the final centroids.
    Mirrors similarity.kmeans_centroids / ivf_topk expression for
    expression."""
    parts = [
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM base WHERE vec_id = 0)",
        *_kmeans_train_parts(iters, n, dim),
    ]
    final = f"cent{iters}"
    parts.append(
        f"""probe AS (SELECT cidx FROM {final}, q
              ORDER BY list_cosine_similarity(cv, qv) DESC, cidx LIMIT {nprobe})"""
    )
    parts.append(_kmeans_assign_cte("assigned", final))
    parts.append(
        "cand AS (SELECT a.vec_id, a.v FROM assigned a JOIN probe p ON a.centroid_id = p.cidx)"
    )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT vec_id, round(list_cosine_similarity(cand.v, q.qv), 6) AS cos
    FROM cand, q ORDER BY cos DESC, vec_id LIMIT {k}"""
    )


def _doc_cluster_sql(dim: int = 16, k: int = 8, iters: int = 2) -> str:
    """Oracle for model-free document clustering: the hashed-embedding CTE
    feeds the SAME shared Lloyd's training + assignment CTEs the IVF /
    SemDedup oracles use (base := hashed doc vectors, vec_id := doc_id)."""
    return (
        _hashed_emb_cte(dim)
        + ",\n    base AS (SELECT doc_id AS vec_id, CAST(v AS DOUBLE[]) AS v FROM emb),\n    "
        + ",\n    ".join(_kmeans_train_parts(iters, k, dim))
        + ",\n    "
        + _kmeans_assign_cte("assigned", f"cent{iters}")
        + "\n    SELECT vec_id AS doc_id, centroid_id::INT AS cluster_id FROM assigned"
    )


def _doc_emb16(docs: DataFrame) -> DataFrame:
    """(doc_id, v): each document's signed feature-hashed bag-of-words
    embedding (dim 16) — the vectors the document k-means trains on."""
    return docs.select(
        "doc_id",
        TXT.hashed_bow_embedding(F.col("text"), dim=16).cast("array<double>").alias("v"),
    )


@stage("doc_kmeans_8x2", tables=["documents"], code=[_doc_emb16, _fan, SIM, TXT])
def _doc_kmeans_staged(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic Lloyd's k-means centers (k=8, 2 rounds) of the
    document embeddings, shared by the cluster assignment, silhouette and
    NMI rows."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return SIM.kmeans_centroids(
        _doc_emb16(docs), n_centroids=8, iters=2, id_col="doc_id", vec_col="v"
    )


@_register("doc_cluster_assignments", _doc_cluster_sql())
def doc_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document CLUSTERING: hash-embed every document (signed
    feature hashing, dim 16) and train deterministic Lloyd's k-means (k=8,
    2 rounds) on the vectors — the composed text -> embedding -> clustering
    pipeline entirely in-engine (corpus bucketing for mixture analysis,
    curriculum grouping, or per-cluster sampling), every step SQL-replayed
    through the same shared training CTEs as the IVF and SemDedup oracles.
    At 100 TB: same one-pass-per-round training cost as IVF; write the
    corpus partitioned by cluster_id for per-cluster downstream jobs."""
    emb = _doc_emb16(_fan(_t(spark, sf_dir, "documents").select("doc_id", "text")))
    cents = _doc_kmeans_staged(spark, sf_dir)
    return SIM.ivf_assign(emb, cents, "doc_id", "v").select(
        "doc_id", F.col("centroid_id").cast("int").alias("cluster_id")
    )


@_register("ivf_ann_topk", _ivf_kmeans_sql())
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours: coarse-quantize to 16 k-means
    centroids (similarity.kmeans_centroids — deterministic Lloyd's, seeded
    from the 16 lowest ids, decimal-exact mean updates), probe the 4
    nearest, exact cosine re-rank inside the probed partitions
    (similarity.ivf_topk). The oracle replays seed, both Lloyd's rounds,
    assignment, probe and re-rank in SQL. The scale path pairs this with a
    table layout partitioned by centroid_id for partition-pruned probes."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return SIM.ivf_topk(
        emb,
        [float(x) for x in qv],
        "vec_id",
        "embedding",
        k=10,
        centroids=_kmeans_centroids_staged(spark, sf_dir),
    )


@_register(
    "lsh_ann_topk",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM base WHERE vec_id = 0),
    planes AS (
      SELECT p, list_transform(generate_series(0, 63),
               j -> (CAST('0x' || substr(md5(p || ':' || j), 1, 8) AS BIGINT)
                     / 4294967295.0) * 2.0 - 1.0) AS coeffs
      FROM generate_series(0, 3) AS g(p)),
    sides AS (
      SELECT b.vec_id,
             sum(CASE WHEN list_dot_product(b.v, pl.coeffs) >= 0
                      THEN (1 << (3 - pl.p)) ELSE 0 END) AS bkt
      FROM base b CROSS JOIN planes pl GROUP BY b.vec_id),
    qb AS (SELECT bkt AS qbkt FROM sides WHERE vec_id = 0)
    SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cos
    FROM base b JOIN sides s ON b.vec_id = s.vec_id, q, qb
    WHERE s.bkt = qb.qbkt
    ORDER BY cos DESC, b.vec_id LIMIT 10
    """,
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path for ann_cosine_topk).
    Hyperplanes are md5-derived -> the oracle reproduces the bucket
    partition and re-rank exactly in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return SIM.lsh_topk(emb, [float(x) for x in qv], "vec_id", "embedding", k=10, planes=4)


@stage("lsh_layout", tables=["embeddings"], code=[SIM])
def _lsh_layout_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The embeddings partitioned by their 4-plane LSH bucket
    (similarity.write_lsh_bucketed)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    SIM.write_lsh_bucketed(emb, out, dim=len(qv), planes=4)


# same result set as lsh_ann_topk — the bucketed layout is a physical
# optimization (partition-pruned probe), not a semantic change
@_register("lsh_ann_bucketed_topk", ORACLES["lsh_ann_topk"])
def lsh_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized-layout LSH path: materialize the corpus partitioned by
    bucket id once (write_lsh_bucketed), then probe with a partition filter
    that prunes all but 1 of 2^planes directories. Identical results to the
    compute-per-query form; the scan cost per repeated query drops from
    full-table to one partition."""
    emb = _t(spark, sf_dir, "embeddings")
    head = emb.select("vec_id", "embedding").filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in head["embedding"]]
    layout = _lsh_layout_stage(spark, sf_dir)
    return SIM.lsh_topk_bucketed(spark, layout, qv, k=10, planes=4)


# ===========================================================================
# Batch 3: scalar-function surface (C2/C3/C12) + skew-safe aggregation
# ===========================================================================


@_register(
    "widen_timestamps_orders",
    """
    SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate
    FROM orders
    """,
)
def widen_timestamps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: the CQL timestamp widening pass — TimestampType becomes
    epoch-millis LongType, recursively (schema.widen_timestamps)."""
    from scylla_migrator_spark.schema import widen_timestamps

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
    )
    return widen_timestamps(df)


@_register(
    "strip_trailing_zeros",
    """
    SELECT o_orderkey,
      CASE WHEN strpos(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR), '.') > 0
           THEN regexp_replace(regexp_replace(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR),
                                              '0+$', ''), '\\.$', '')
           ELSE CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) END AS price_stripped
    FROM orders
    """,
)
def strip_trailing_zeros_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: BigDecimal.stripTrailingZeros semantics on write
    (writers/Scylla.scala:344-355) — rendered without trailing zeros."""
    dec = F.col("o_totalprice").cast("decimal(18,4)").cast("string")
    stripped = F.when(
        dec.contains("."), F.regexp_replace(F.regexp_replace(dec, "0+$", ""), "\\.$", "")
    ).otherwise(dec)
    return _t(spark, sf_dir, "orders").select("o_orderkey", stripped.alias("price_stripped"))


@_register(
    "ddb_number_canon",
    """
    SELECT o_orderkey,
           CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) AS DECIMAL(38,10))::VARCHAR
             AS n_canon
    FROM orders
    """,
)
def ddb_number_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12/C9: DynamoDB string-encoded numbers parsed through the variant
    item codec and re-canonicalized (BigDecimal-equivalent normalization)."""
    from scylla_migrator_spark.functions.ddb_variant import item_canonical_sets, parse_item

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.lit('{"price":{"N":"'),
            F.col("o_totalprice").cast("decimal(18,4)").cast("string"),
            F.lit('"}}'),
        ).alias("item_json"),
    )
    canon = item_canonical_sets(parse_item(F.col("item_json")))
    return df.select(
        "o_orderkey", canon.getItem("price").getField("N").alias("n_canon")
    )


@_register(
    "salted_skew_aggregation",
    """
    SELECT o_orderstatus, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: salt the (low-cardinality, skewed)
    group key, pre-aggregate per (key, salt), then combine. At 100 TB this is
    the manual fallback when AQE skew handling can't apply (e.g. a single hot
    key in a groupBy); results identical to the direct aggregation."""
    from scylla_migrator_spark.operators.skew import salted_aggregate

    return salted_aggregate(
        _t(spark, sf_dir, "orders"),
        keys=["o_orderstatus"],
        aggs={
            "cnt": (F.count("*"), F.sum),
            "total": (F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.sum),
        },
        salt_buckets=8,
    ).select("o_orderstatus", F.col("cnt").cast("long"), F.col("total").cast("double"))


# ===========================================================================
# Batch 4: S3-export roundtrip (S8/K6/A6), DDB deep compare (V2/C9),
# real Structured Streaming (T6), cube, running totals, multimodal
# ===========================================================================


def _orders_ddb_item_json() -> "F.Column":
    """DynamoDB-JSON item encoding of an orders row (k/N, price/N,
    status/S, price canonicalized through decimal(18,2)) — the single
    definition shared by the S3-export codec path and the VARIANT path so
    the two C12 surfaces cannot diverge."""
    price = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    return F.to_json(
        F.struct(
            F.struct(F.col("o_orderkey").cast("string").alias("N")).alias("k"),
            F.struct(price.alias("N")).alias("price"),
            F.struct(F.col("o_orderstatus").alias("S")).alias("status"),
        )
    )


@_register(
    "s3export_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_canon
    FROM orders
    """,
)
def s3export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+K6+A6 end to end: encode orders as DynamoDB-JSON items, write a
    full S3 export (gzip JSON-lines data files + manifest-files +
    manifest-summary with per-file item counts), read it back through the
    export source, decode, and project the original columns. The manifest
    per-file counts are the A6 per-partition-count surface. The fan-out also
    parallelizes the gzip encode across data files (one per partition)."""
    from scylla_migrator_spark.functions.ddb_variant import key_field, parse_item
    from scylla_migrator_spark.sinks.s3export import write_s3_export
    from scylla_migrator_spark.sources.s3export import read_s3_export

    df = _fan(_t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus"))
    item_json = _orders_ddb_item_json()
    root = os.path.join("/tmp", f"spark_graft_s3export_{_stage_tag(sf_dir, 'orders')}")
    summary = write_s3_export(df.select(item_json.alias("item_json")), "item_json", root)
    assert summary["itemCount"] > 0
    it = F.col("item")
    return read_s3_export(spark, root).select(
        key_field(it, "k", "N").cast("bigint").alias("o_orderkey"),
        key_field(it, "status", "S").alias("o_orderstatus"),
        key_field(it, "price", "N").alias("price_canon"),
    )


@_register(
    "ddb_deep_compare",
    """
    SELECT (o_orderkey % 11 <> 0) AS items_equal, count(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def ddb_deep_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/C9: order-insensitive deep equality of DynamoDB items. The target
    re-encodes numbers at a different scale ('123.45' vs '123.4500') — the
    canonical compare treats those as EQUAL (BigDecimal semantics,
    RowComparisonFailure.scala:308-314); only genuinely different values
    (every 11th key gets +1) differ."""
    from scylla_migrator_spark.functions.ddb_variant import items_deep_equal, parse_item

    df = _fan(_t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus"))
    price = F.col("o_totalprice").cast("decimal(18,2)")
    src = parse_item(
        F.to_json(
            F.struct(
                F.struct(price.cast("string").alias("N")).alias("price"),
                F.struct(F.col("o_orderstatus").alias("S")).alias("status"),
            )
        )
    )
    tgt_price = F.when(F.col("o_orderkey") % 11 == 0, price + 1).otherwise(price)
    tgt = parse_item(
        F.to_json(
            F.struct(
                # different number formatting on purpose: scale 4 vs scale 2
                F.struct(tgt_price.cast("decimal(18,4)").cast("string").alias("N")).alias("price"),
                F.struct(F.col("o_orderstatus").alias("S")).alias("status"),
            )
        )
    )
    return (
        df.select(items_deep_equal(src, tgt).alias("items_equal"))
        .groupBy("items_equal")
        .agg(F.count("*").alias("cnt"))
    )


def _ts_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Event-time ops (watermark/window) need TimestampType; convert from
    whatever the source schema carries: epoch-nanos long (narrowed to µs),
    TIMESTAMP_NTZ (reinterpreted as UTC), or TimestampType (kept)."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _write_half_files(tmp_stage: str, halves: list[tuple[str, DataFrame]]) -> None:
    """Write each (suffix, slice) DataFrame as one parquet FILE
    ``half<suffix>.parquet`` directly under ``tmp_stage`` — the layout the
    maxFilesPerTrigger=1 file stream replays one slice per micro-batch
    (suffix order = delivery order: equal mtimes fall back to path order)."""
    import shutil

    for suffix, sdf in halves:
        part_dir = os.path.join(tmp_stage, f"h{suffix}")
        sdf.coalesce(1).write.mode("overwrite").parquet(part_dir)
        data = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        os.replace(
            os.path.join(part_dir, data[0]),
            os.path.join(tmp_stage, f"half{suffix}.parquet"),
        )
        shutil.rmtree(part_dir)


def _write_parity_halves(tmp_stage: str, df: DataFrame, id_col: str) -> None:
    """`_write_half_files` of ``df`` split by the parity of ``id_col``:
    even ids in the first file, odd ids in the second."""
    _write_half_files(
        tmp_stage, [(str(r), df.filter(F.col(id_col) % 2 == r)) for r in (0, 1)]
    )


@stage("events_halves", tables=["events"], code=[_ts_nanos, _write_parity_halves, _write_half_files])
def _events_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The events table as TWO parquet files (event_id parity halves), so
    a maxFilesPerTrigger=1 file stream replays it as two micro-batches.
    ts is canonicalized to nanos long before writing, so stream consumers
    bucket with integer DIV regardless of the fixture's physical ts type."""
    _write_parity_halves(out, _t(spark, sf_dir, "events"), "event_id")


@stage("events_thalves", tables=["events"], code=[_ts_nanos, _write_half_files])
def _events_time_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Events as TWO parquet files split at the MEDIAN event time:
    a maxFilesPerTrigger=1 replay then delivers every second-half event
    after every first-half event — the per-key cross-batch monotonicity a
    CDC log provides — while each half remains arbitrarily disordered
    internally. The split point is computed in epoch-MICROS, the same
    granularity the SCD2 collapse orders on: a nanos-granular split could
    put two same-microsecond events in different batches, breaking the
    monotonicity the consumer requires."""
    ev = _t(spark, sf_dir, "events")
    ts_us = F.expr("ts DIV 1000")
    m = int(ev.agg(F.percentile(ts_us, F.lit(0.5)).alias("m")).head()["m"])
    _write_half_files(out, [("0", ev.filter(ts_us <= m)), ("1", ev.filter(ts_us > m))])


def _link_events(sf_dir: str, out: str, names: tuple[str, ...]) -> None:
    """A directory of symlinks to the fixture's events file, one per name:
    the file streaming source needs a *directory*, and the testdata itself
    is read-only."""
    os.makedirs(out)
    for name in names:
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), os.path.join(out, name))


@stage("events", tables=["events"], code=[_link_events])
def _events_dir_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The events file as the only member of a directory."""
    _link_events(sf_dir, out, ("events.parquet",))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, ts surfaced as
    TimestampType regardless of the fixture's physical ts encoding."""
    batch = _events_raw(spark, sf_dir)
    stream = spark.readStream.schema(batch.schema).parquet(_events_dir_stage(spark, sf_dir))
    return _ts_event_time(stream)


from contextlib import contextmanager


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query's planning.

    Every stateful streaming operator creates ONE STATE STORE PER SHUFFLE
    PARTITION, per operator, touched on every micro-batch — at fixture scale
    the default 32 stores are pure task-scheduling + store-commit overhead
    (measured 3-4x the whole query: stream-stream join 9.5s -> 2.9s at
    sf0.1). The count is part of the checkpoint, so it must be chosen at
    query birth: size it to key cardinality / executor count on a real
    cluster (hundreds+), small for bounded replays. Restores the session
    value afterwards; queries run sequentially under the driver contract so
    the temporary session mutation cannot leak into a concurrent plan."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_available_now(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming plan to completion with the availableNow trigger and a
    memory sink; returns the materialized result table."""
    import tempfile
    import uuid

    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sgs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return stream_df.sparkSession.table(name)


@_register(
    "stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (our extension beyond the reference): real Structured Streaming —
    file source -> 1h watermark -> tumbling 1h window aggregation -> memory
    sink, driven to completion with Trigger.AvailableNow. Batch-equivalent to
    GROUP BY date_trunc('hour')."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = _run_available_now(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "event_type", "cnt")


@_register(
    "stream_windowed_dau",
    """
    SELECT date_trunc('day', ts) AS window_start,
           count(DISTINCT user_id)::BIGINT AS dau
    FROM events GROUP BY 1
    """,
)
def stream_windowed_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: EXACT daily distinct users on a stream via CHAINED stateful
    operators (Spark 4 multi-stateful support): dropDuplicates on
    (day-window, user) collapses each user to one row per day, then a
    windowed count aggregates the survivors — exact distinct without
    approx_count_distinct, the streaming twin of rolling_active_users'
    batch DAU. Dedup state is keyed by (window, user) and bounded by the
    watermark horizon; the downstream count state is one row per open
    day. Complete output mode so the final (watermark-unclosed) day is
    still emitted under the availableNow drain."""
    s = _events_stream(spark, sf_dir)
    daily = (
        s.withWatermark("ts", "1 hour")
        .select(F.window("ts", "1 day").alias("w"), F.col("ts"), F.col("user_id"))
        .dropDuplicates(["w", "user_id"])
    )
    agg = daily.groupBy("w").agg(F.count("*").alias("dau"))
    out = _run_available_now(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), F.col("dau").cast("long").alias("dau")
    )


@_register(
    "stream_dedup_watermark",
    """
    SELECT count(*) AS cnt, count(DISTINCT event_id) AS distinct_ids FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: dropDuplicatesWithinWatermark over a doubled stream (the same
    source unioned with itself — every event arrives exactly twice, the
    at-least-once delivery model of T4). The deduped stream equals the
    original table."""
    doubled = _events_stream(spark, sf_dir).union(_events_stream(spark, sf_dir))
    dedup = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = _run_available_now(dedup, "append")
    return out.agg(
        F.count("*").alias("cnt"), F.countDistinct("event_id").alias("distinct_ids")
    )


@_register(
    "cube_sales_region_status",
    """
    SELECT coalesce(r_name, '(all)') AS region, coalesce(o_orderstatus, '(all)') AS status,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY CUBE(r_name, o_orderstatus)
    """,
)
def cube_sales_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the region x status hierarchy. nation/region are broadcast
    (tiny dims); the single shuffle is the orders-customer join + cube agg."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        j.cube("r_name", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "cnt",
            "total",
        )
    )


@_register(
    "running_total_per_cust",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS running_total,
           lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_orderkey
    FROM orders
    """,
)
def running_total_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: per-customer running sum + lag over a
    deterministic (o_orderdate, o_orderkey) order. One shuffle on o_custkey;
    both windows share the same partitioning/sort."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@_register(
    "multimodal_asset_meta",
    """
    SELECT doc_id AS asset_id, 'image' AS kind,
           octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents
    """,
)
def multimodal_asset_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: wrap bytes into the asset struct convention and
    read ONLY metadata — the filter/projection never deserializes the blob
    (meta is a sibling column, prunable at the parquet scan)."""
    from scylla_migrator_spark.analytics.multimodal import make_asset_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("data")
    )
    assets = make_asset_table(docs, "doc_id", "data", kind="image", mime="image/png")
    return assets.select(
        "asset_id",
        F.col("asset.meta.kind").alias("kind"),
        F.octet_length("asset.data").cast("long").alias("n_bytes"),
    )


@_register(
    "multimodal_fake_features",
    # Full oracle: the fake decoder is deterministic byte arithmetic
    # (sum of every-8th byte mod 997, see analytics/multimodal._fake_decode),
    # replayed in DuckDB via hex-string byte extraction. The feature is
    # emitted as the scaled integer (f0 * 997 rounds back exactly: values
    # are n/997 with n in [0,996], well inside float32 precision).
    """
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
      FROM documents
    ), b AS (
      SELECT doc_id, gs.i AS i,
             CAST('0x' || substring(hx, 2*gs.i - 1, 2) AS INT) AS byte
      FROM h, LATERAL (SELECT unnest(generate_series(1, nb)) AS i) gs
    )
    SELECT h.doc_id AS asset_id, 'image' AS kind,
           CAST(h.nb AS BIGINT) AS n_bytes,
           CAST(COALESCE(s.f0, 0) AS INT) AS f0_scaled
    FROM h LEFT JOIN (
      SELECT doc_id, sum(CASE WHEN (i-1)%8=0 THEN byte END) % 997 AS f0
      FROM b GROUP BY doc_id
    ) s USING (doc_id)
    """,
)
def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path: Arrow-batched mapInPandas feature extraction
    with the deterministic fake decoder (real codecs stubbed — not in this
    container). Exercises schema, batching, and size-aware repartition."""
    from scylla_migrator_spark.analytics.multimodal import extract_features, make_asset_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("data")
    )
    assets = make_asset_table(docs, "doc_id", "data", kind="image", mime="image/png")
    feats = extract_features(assets, fake=True)
    return feats.select(
        "asset_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("feature", 1) * 997).cast("int").alias("f0_scaled"),
    )


@_register(
    "multimodal_wav_decode",
    # Oracle replays the deterministic construction: payload = UTF-8 text
    # bytes (8-bit PCM samples), sample_rate = 8000 + (doc_id%3)*4000.
    # The Spark side builds a REAL RIFF/WAVE container and parses it back
    # with the stdlib decoder; amp_sum (exact integer sum of sample bytes)
    # witnesses that the PCM payload was decoded, not just the header.
    """
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents
    ), b AS (
      SELECT doc_id,
             CAST('0x' || substring(hx, 2*gs.i - 1, 2) AS INT) AS byte
      FROM h, LATERAL (SELECT unnest(generate_series(1, nb)) AS i) gs
    )
    SELECT h.doc_id AS asset_id, 'audio' AS kind,
           CAST(h.rate AS INT) AS sample_rate,
           CAST((h.nb * 1000) // h.rate AS BIGINT) AS duration_ms,
           CAST(h.nb AS BIGINT) AS n_samples,
           CAST(COALESCE(s.total, 0) AS BIGINT) AS amp_sum
    FROM h LEFT JOIN (SELECT doc_id, sum(byte) AS total FROM b GROUP BY doc_id) s
      USING (doc_id)
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode: build genuine 8-bit PCM WAV files from
    document bytes (mapInPandas), then parse container + samples back with
    the stdlib RIFF/WAVE decoder (analytics/multimodal.decode_wav) — no
    fake path anywhere in this query."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        synth_wav_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (F.lit(8000) + (F.col("doc_id") % 3) * 4000).cast("int").alias("rate"),
    )
    wavs = synth_wav_assets(docs, "doc_id", "payload", "rate")
    assets = make_asset_table(wavs, "asset_id", "data", kind="audio", mime="audio/wav")
    meta = decode_assets_meta(assets)
    return meta.select(
        "asset_id", "kind", "sample_rate", "duration_ms", "n_samples", "amp_sum"
    )


@_register(
    "multimodal_jpeg_meta",
    # Oracle replays the deterministic geometry the Spark side encodes into
    # REAL baseline-JPEG marker streams and then parses back out of the SOF0
    # segment (analytics/multimodal.decode_jpeg): width/height/components
    # survive a genuine T.81 encode->decode round-trip.
    """
    SELECT doc_id AS asset_id, 'image' AS kind,
           CAST(16 + doc_id % 17 AS INT) AS width,
           CAST(16 + doc_id % 13 AS INT) AS height,
           CAST(1 + (doc_id % 2) * 2 AS INT) AS n_components
    FROM documents
    """,
)
def multimodal_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG header decode: build genuine baseline-JPEG marker streams
    (SOI/APP0 JFIF/SOF0/EOI) per document, then parse dimensions and
    component count back with the stdlib T.81 marker walker
    (analytics/multimodal.decode_jpeg) — the curation-filter metadata path
    for the most common training-image container."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        synth_jpeg_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(16) + F.col("doc_id") % 17).cast("int").alias("w"),
        (F.lit(16) + F.col("doc_id") % 13).cast("int").alias("h"),
        (F.lit(1) + (F.col("doc_id") % 2) * 2).cast("int").alias("c"),
    )
    jpegs = synth_jpeg_assets(docs, "doc_id", "w", "h", "c")
    assets = make_asset_table(jpegs, "asset_id", "data", kind="image", mime="image/jpeg")
    meta = decode_assets_meta(assets)
    return meta.select("asset_id", "kind", "width", "height", "n_components")


@_register(
    "multimodal_mp4_meta",
    # Oracle replays the deterministic duration/geometry the Spark side
    # encodes into REAL ISO BMFF box streams and parses back out of
    # mvhd/tkhd (analytics/multimodal.decode_mp4).
    """
    SELECT doc_id AS asset_id, 'video' AS kind,
           CAST(1000 + (doc_id % 50) * 250 AS BIGINT) AS duration_ms,
           CAST(320 + (doc_id % 4) * 320 AS INT) AS width,
           CAST(240 + (doc_id % 4) * 240 AS INT) AS height
    FROM documents
    """,
)
def multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP4/ISO-BMFF header decode: build genuine box streams
    (ftyp + moov{mvhd, trak{tkhd}}) per document, then parse duration and
    presentation dimensions back with the stdlib 14496-12 box walker
    (analytics/multimodal.decode_mp4) — the curation metadata path for the
    dominant training-video container."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        synth_mp4_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(1000) + (F.col("doc_id") % 50) * 250).cast("long").alias("dur"),
        (F.lit(320) + (F.col("doc_id") % 4) * 320).cast("int").alias("w"),
        (F.lit(240) + (F.col("doc_id") % 4) * 240).cast("int").alias("h"),
    )
    mp4s = synth_mp4_assets(docs, "doc_id", "dur", "w", "h")
    assets = make_asset_table(mp4s, "asset_id", "data", kind="video", mime="video/mp4")
    meta = decode_assets_meta(assets)
    return meta.select("asset_id", "kind", "duration_ms", "width", "height")


@_register(
    "multimodal_frame_sample_plan",
    """
    WITH m AS (
      SELECT doc_id AS asset_id,
             1000 + (doc_id % 50) * 250 AS duration_ms
      FROM documents)
    SELECT asset_id, CAST(gs.t AS BIGINT) AS frame_ts_ms
    FROM m, LATERAL (SELECT unnest(generate_series(0, duration_ms, 1000)) AS t) gs
    """,
)
def multimodal_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan over REAL decoded durations: synthesize MP4
    containers, parse duration out of mvhd (decode_mp4), then emit the
    1-second frame-timestamp grid per asset WITHOUT touching sample data —
    the plan that lets the expensive GPU frame decode partition per frame
    downstream (sample_frames' contract, now fed by a genuine container
    parse instead of trusted metadata)."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        synth_mp4_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(1000) + (F.col("doc_id") % 50) * 250).cast("long").alias("dur"),
        F.lit(320).alias("w"),
        F.lit(240).alias("h"),
    )
    mp4s = synth_mp4_assets(docs, "doc_id", "dur", "w", "h")
    assets = make_asset_table(mp4s, "asset_id", "data", kind="video", mime="video/mp4")
    meta = decode_assets_meta(assets)
    return meta.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("duration_ms"), F.lit(1000).cast("long"))
        ).alias("frame_ts_ms"),
    )


@_register(
    "multimodal_ppm_resize",
    # Oracle replays the whole chain in SQL: payload tiled to 8*8*3 RGB
    # bytes (byte i = payload[i % nb]), then nearest-neighbor 8x8 -> 4x4:
    # output pixel (x,y,c) samples source index ((y*8//4)*8 + x*8//4)*3 + c.
    # pixel_sum over the 48 resized bytes witnesses the real resample.
    """
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ), px AS (
      SELECT h.doc_id, h.hx, h.nb, gs.p,
             (((((gs.p // 3) // 4) * 8 // 4) * 8
               + ((gs.p // 3) % 4) * 8 // 4) * 3 + gs.p % 3) AS src
      FROM h, LATERAL (SELECT unnest(generate_series(0, 47)) AS p) gs
    )
    SELECT doc_id AS asset_id,
           CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
           CAST(sum(CAST('0x' || substring(hx, 2 * (src % nb) + 1, 2) AS INT))
                AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id
    """,
)
def multimodal_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize: build genuine P6 PPMs from document bytes, then
    nearest-neighbor downsample 8x8 -> 4x4 with the stdlib codec
    (analytics/multimodal.resize_ppm_nn), then decode the RESIZED container
    back — pixel_sum proves the resampled payload round-trips."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        resize_ppm_nn,
        synth_ppm_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    ppms = synth_ppm_assets(docs, "doc_id", "payload", width=8, height=8)
    assets = make_asset_table(ppms, "asset_id", "data", kind="image", mime="image/x-portable-pixmap")
    resized = resize_ppm_nn(assets, out_w=4, out_h=4)
    small = make_asset_table(resized, "asset_id", "data", kind="image", mime="image/x-portable-pixmap")
    meta = decode_assets_meta(small)
    return meta.select(
        "asset_id",
        F.col("width").alias("out_w"),
        F.col("height").alias("out_h"),
        F.col("amp_sum").alias("pixel_sum"),
    )


@_register("approx_aggregates")  # rows-only: approximate by construction
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for the 100 TB path: HLL++ distinct count and
    t-digest-style quantiles — constant memory per partition vs a full
    shuffle for exact distinct. Accuracy asserted within tolerance in
    tests/test_approx.py."""
    return _t(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_value"),
        F.percentile_approx("value", 0.99, 10000).alias("p99_value"),
    )


# ===========================================================================
# Batch 5: more TPC-H-shaped analytics (oracle-confirmed breadth)
# ===========================================================================


@_register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan-side filters (all pushed to parquet) and a
    single scalar aggregate — zero shuffles beyond the final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20. The
    returnflag filter prunes lineitem at the scan; nation broadcasts;
    TakeOrdered caps the result without a global sort."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE 0 END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
           6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. part is the small side
    (broadcast); conditional aggregation in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum(disc).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@_register(
    "hash_refinement_diff",
    """
    SELECT o_orderkey AS src_o_orderkey FROM orders
    WHERE o_orderkey % 97 <> 0 AND (o_orderkey % 13 = 0 OR o_orderkey % 31 = 0)
    """,
)
def hash_refinement_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4/J6: the hash-backed validation plan end to end. Payload columns are
    collapsed into one sha2 digest before the compare join (the shuffle
    carries 32 bytes instead of the wide row); digest-mismatched PKs are then
    re-probed with a broadcast key join against both full-payload sides and
    re-compared column by column. The %10 price perturbation (+0.0005) IS a
    digest mismatch but is inside floatingPointTolerance, so refinement must
    clear it — only the %13 (+0.5) and %31 (status flip) rows survive.
    (No _fan here: the refinement plan executes its upstream three times —
    digest join, broadcast build, re-probe — so an extra round-robin
    exchange would be paid on every pass and costs more than it buys.)"""
    src = _t(spark, sf_dir, "orders")
    tgt = _perturbed_target(src)
    hash_cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    v = Validation(hash_columns=hash_cols)
    diff, _ = V.joined_diff(src, tgt, ["o_orderkey"], v)
    mismatched = diff.filter(
        (F.size(V.FAILURES_COL) > 0) & F.col("tgt_o_orderkey").isNotNull()
    ).select(F.col("src_o_orderkey").alias("o_orderkey"))
    refined = V.refine_hash_mismatches(src, tgt, mismatched, ["o_orderkey"], v)
    return refined.select("src_o_orderkey")


@stage("events2x", tables=["events"], code=[_link_events])
def _events_twice_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The events file linked twice into one directory: a
    maxFilesPerTrigger=1 stream delivers every event in two batches."""
    _link_events(sf_dir, out, ("a_events.parquet", "b_events.parquet"))


@_register(
    "stream_stateful_dedup_count",
    """
    SELECT user_id, count(DISTINCT event_id) AS distinct_events
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/T6 + custom stateful operator: every event is delivered TWICE in
    two separate micro-batches (at-least-once re-delivery); the
    applyInPandasWithState dedup counter remembers seen ids across batches
    and counts each event once. Sum of per-batch emissions == exact
    per-user distinct counts."""
    import tempfile
    import uuid

    from scylla_migrator_spark.streaming.stateful import stateful_distinct_counts

    batch = _events_raw(spark, sf_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .parquet(_events_twice_stage(spark, sf_dir))
        .select("user_id", "event_id")
    )
    counts = stateful_distinct_counts(stream, "user_id")
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle_partitions(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sgs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.sum("new_events").alias("distinct_events"))
    )


@_register(
    "salted_broadcast_join_hot_key",
    """
    SELECT o_orderkey, o_orderstatus, n_name
    FROM orders JOIN nation ON (o_orderkey % 25) = n_nationkey
    """,
)
def salted_broadcast_join_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join (operators/skew.py): the derived join key (o_orderkey
    % 25) is low-cardinality — every key is hot. The small side is replicated
    per salt so each hot key spreads over salt_buckets tasks; the result is
    identical to the direct join (oracle-checked)."""
    from scylla_migrator_spark.operators.skew import salted_broadcast_join

    o = _t(spark, sf_dir, "orders").withColumn(
        "n_nationkey", (F.col("o_orderkey") % 25).cast("int")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return salted_broadcast_join(o, n, on=["n_nationkey"], salt_buckets=8).select(
        "o_orderkey", "o_orderstatus", "n_name"
    )


@_register(
    "meta_prefix_roundtrip",
    """
    SELECT o_orderkey AS pk, o_orderstatus AS status,
           100 AS status_ttl, (o_orderkey * 1000)::BIGINT AS status_writetime
    FROM orders
    """,
)
def meta_prefix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/X2: TTL/WRITETIME companions survive the __migrator_meta_-style
    parquet convention — prefix on write, detect + strip on read
    (readers/TimestampColumns.scala:14-61)."""
    from scylla_migrator_spark.schema import add_meta_prefix, strip_meta_prefix

    df = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.lit(100).cast("int").alias("status_ttl"),
        (F.col("o_orderkey") * 1000).cast("long").alias("status_writetime"),
    )
    return strip_meta_prefix(add_meta_prefix(df))


@_register(
    "training_data_pipeline",
    """
    WITH scored AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text) AS alpha_ratio
      FROM documents),
    q AS (SELECT * FROM scored WHERE n_tokens >= 20 AND alpha_ratio >= 0.5),
    kept AS (
      SELECT * FROM q
      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY sha256(text)))
    SELECT source, count(*) AS docs, sum(n_tokens)::BIGINT AS total_tokens,
           round(avg(n_tokens), 6) AS avg_tokens
    FROM kept GROUP BY source
    """,
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-training-data pipeline: quality scoring -> threshold
    filter -> exact dedup (digest groups, keeper = min id) -> per-source
    corpus stats. Every stage is a plan fragment from the analytics modules;
    the whole thing is one declarative DataFrame (two shuffles: the dedup
    digest groupBy and the final source aggregation)."""
    docs = _t(spark, sf_dir, "documents")
    scored = TXT.quality_features(docs)
    q = scored.filter((F.col("n_tokens") >= 20) & (F.col("alpha_ratio") >= 0.5)).select(
        "doc_id", "source", "text", "n_tokens"
    )
    kept = D.drop_exact_duplicates(q, "text", "doc_id")
    return kept.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
    )


@stage("events_split", tables=["events"], code=[_ts_nanos, _write_half_files])
def _events_split_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """(user_id, ts_ms) of the events as two files: even event ids, then
    odd ones."""
    ev = _t(spark, sf_dir, "events")
    ts_ms = F.expr("ts DIV 1000000").alias("ts_ms")
    _write_half_files(
        out,
        [(str(r), ev.filter(F.col("event_id") % 2 == r).select("user_id", ts_ms)) for r in (0, 1)],
    )


@_register(
    "stream_stateful_sessionize",
    """
    WITH e AS (SELECT user_id, epoch_ms(ts)::BIGINT AS ts_ms FROM events),
    g AS (SELECT user_id, ts_ms,
                 CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
                      > 1800000 THEN 1 ELSE 0 END AS brk
          FROM e)
    SELECT user_id, (1 + sum(brk))::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
    FROM g GROUP BY user_id
    """,
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 custom stateful operator #2: cross-batch sessionization with
    mergeable interval state (streaming/stateful.py::stateful_sessionize).
    The events table is split into TWO files (even/odd event ids) delivered
    as separate micro-batches — sessions spanning the split must be stitched
    by the per-key state; the final answer equals the batch lag-gap
    sessionization (30-minute gap) regardless of batch order because
    interval merging is order-independent."""
    import tempfile
    import uuid

    from scylla_migrator_spark.streaming.stateful import stateful_sessionize

    stage = _events_split_stage(spark, sf_dir)
    schema = "user_id long, ts_ms long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one batch per half
        .parquet(stage)
    )
    sessions = stateful_sessionize(stream, "user_id", "ts_ms", gap_ms=30 * 60_000)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle_partitions(spark):
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="sgs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max_by(F.struct("n_sessions", "n_events"), "upd").alias("r"))
        .select("user_id", F.col("r.n_sessions").alias("n_sessions"), F.col("r.n_events").alias("n_events"))
    )


# ===========================================================================
# Temporal operators the reference lacks: as-of join, range join, time-bucket
# rollup (operators/asof.py, operators/range_join.py)
# ===========================================================================


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ts narrowed from epoch-nanos long to epoch-micros long —
    the precision DuckDB's TIMESTAMP carries, so oracles compare exactly."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts DIV 1000").alias("ts_us"),
    )


@_register(
    "asof_click_purchase",
    """
    WITH c AS (SELECT event_id AS click_event_id, user_id, epoch_us(ts)::BIGINT AS click_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts)::BIGINT AS purchase_us, event_id AS purchase_event_id
          FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT c.click_event_id, c.user_id, c.click_us, p.purchase_us, p.purchase_event_id,
             row_number() OVER (PARTITION BY c.click_event_id
                                ORDER BY p.purchase_us DESC, p.purchase_event_id DESC) AS rn
      FROM c JOIN p ON c.user_id = p.user_id AND p.purchase_us <= c.click_us)
    SELECT click_event_id, user_id, click_us, purchase_us, purchase_event_id
    FROM cand WHERE rn = 1
    """,
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward inclusive as-of join: each click event gets the same user's
    most recent purchase at-or-before it (ties broken by max event id). The
    union-sort plan shuffles each side ONCE by user_id — no candidate-pair
    explosion (see operators/asof.py)."""
    from scylla_migrator_spark.operators.asof import asof_join

    ev = _events_us(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", F.col("ts_us").alias("click_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        F.col("event_id").alias("purchase_event_id"),
    )
    return asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_us",
        right_ts="purchase_us",
        tiebreak="purchase_event_id",
        how="inner",
    )


@_register(
    "range_join_error_clicks",
    """
    WITH e AS (SELECT event_id AS error_event_id, user_id,
                      epoch_us(ts)::BIGINT AS start_us,
                      epoch_us(ts)::BIGINT + 21600000000 AS end_us
               FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, event_id AS click_event_id, epoch_us(ts)::BIGINT AS click_us
          FROM events WHERE event_type = 'click')
    SELECT e.error_event_id, c.click_event_id, e.user_id
    FROM e JOIN c ON e.user_id = c.user_id
                 AND c.click_us >= e.start_us AND c.click_us <= e.end_us
    """,
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed range join: clicks landing within 6 hours after an
    error by the same user. The inequality becomes an equi-join on
    (user_id, time-bucket) — shuffle-planable, broadcastable, AQE-friendly —
    instead of a per-key cross product (see operators/range_join.py)."""
    from scylla_migrator_spark.operators.range_join import range_join_points

    ev = _events_us(spark, sf_dir)
    window_us = 21_600_000_000  # 6 hours
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        "user_id",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + window_us).alias("end_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), F.col("ts_us").alias("click_us")
    )
    joined = range_join_points(
        errors, clicks, ["user_id"], "start_us", "end_us", "click_us", bucket_width=window_us
    )
    return joined.select("error_event_id", "click_event_id", "user_id")


@_register(
    "time_bucket_rollup",
    """
    SELECT event_type, (epoch_us(ts) // 86400000000)::BIGINT AS bucket_day,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type, bucket_day
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: per (event_type, day-bucket)
    rollup. At scale this is the materialized layer a `partitionBy(bucket)`
    parquet layout serves with partition-pruned reads; the map-side partial
    aggregation makes the shuffle carry one row per group per task."""
    ev = _t(spark, sf_dir, "events")
    day_ns = 86_400_000_000_000
    return (
        ev.groupBy(
            "event_type", F.expr(f"ts DIV {day_ns}").alias("bucket_day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


# ===========================================================================
# Batch 4: the remaining TPC-H join/subquery shapes (adapted to the slim
# fixture: no partsupp, lineitem has no commitdate/receiptdate/shipmode),
# plus lag/lead windows, pivot, grouping sets, and INTERSECT. These widen
# the analytics surface beyond the reference's equi-join-only plans
# (SURVEY §2.5 note, §7.2.9).
# ===========================================================================


@_register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS -> left_semi join (the J7 pattern,
    m/validation/core/KeyDrivenLookup.scala:48-62, generalized to a non-equi
    residual condition). The semi join shuffles both sides on orderkey once;
    lineitem is pruned to (l_orderkey, l_shipdate) at the scan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li["l_orderkey"] == o["o_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "tpch_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The same dimension (nation) joins twice under different roles;
    supplier + both nation copies broadcast, so the only shuffles are the
    lineitem-orders and orders-customer equi-joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


@_register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of PROMO-part volume sold
    to ASIA customers, per order year. Conditional aggregation over an
    8-way star join; every dimension broadcasts, facts shuffle twice."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(zero)).cast("double")
            / F.sum(vol).cast("double"),
            6,
        ).alias("mkt_share")
    )


@_register(
    "tpch_q12_priority_lines",
    """
    SELECT year(l_shipdate) AS ship_year,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY ship_year
    """,
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode -> ship year): conditional counts over a
    join with a non-equi residual filter. Partial aggregation collapses the
    shuffle to one row per (task, year)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li["l_orderkey"] == o["o_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "tpch_q13_cust_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution. A left outer join with a
    filter INSIDE the join condition (kept rows vs dropped matches — the
    semantics the J1 validator join relies on), then a two-level aggregate.
    The second aggregate is tiny (distinct counts), so the only real
    shuffle is the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax via scalar subquery. The per-supplier revenue
    aggregate is computed once and reused for both the max and the probe
    (decimal sums make the equality exact cross-engine); the 1-row max side
    and the supplier dim broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .alias("total_revenue_dec")
        )
    )
    mx = rev.agg(F.max("total_revenue_dec").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_revenue_dec"] == mx["mx"])
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


@_register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
                AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS agg_partkey,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                 count(*) AS cnt_qty
          FROM lineitem GROUP BY l_partkey) pq
      ON agg_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_qty < sum_qty
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average (qty < 0.2 * avg) turned
    into an aggregate-then-rejoin. The fractional threshold is cross-
    multiplied (qty * 5 * count < sum) so the comparison is exact decimal
    arithmetic — no float boundary flakiness between engines. At scale the
    per-part aggregate is much smaller than lineitem and broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pq = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count("*").alias("cnt_qty"),
    )
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(pq), F.col("agg_partkey") == li["l_partkey"])
        .filter(qty_dec * 5 * F.col("cnt_qty") < F.col("sum_qty"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 6)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@_register(
    "tpch_q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS orderdate_ms, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                         HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING -> aggregate + left_semi
    join. The qualifying-orderkey set is tiny (tail of the qty
    distribution), so it broadcasts into the semi join and prunes orders
    before the expensive customer join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_dec).alias("big_qty"))
        .filter(F.col("big_qty") > 300)
        .select("l_orderkey")
    )
    o_big = o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"], "left_semi")
    return (
        li.join(o_big, li["l_orderkey"] == o_big["o_orderkey"])
        .join(c, o_big["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty_dec).cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            "o_totalprice",
            "sum_qty",
        )
    )


@_register(
    "tpch_q19_disjunctive",
    """
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs mixing columns from both join sides.
    Catalyst extracts the common single-side conjuncts (brand set, quantity
    envelope) as pushed-down pre-filters; the residual disjunction evaluates
    post-join inside codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "tpch_q22_wealthy_inactive",
    """
    WITH params AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal, count(*) AS cnt_bal
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, params
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt_bal > sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def tpch_q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average account balance (scalar aggregate
    subquery, cross-multiplied to exact decimal arithmetic) AND no urgent
    orders (NOT EXISTS -> left_anti, the J4 pattern,
    m/validation/core/ExtraRowDetector.scala:8-31). The 1-row params frame
    cross-joins via broadcast; the anti join's filtered build side is small."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    params = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("sum_bal"),
        F.count("*").alias("cnt_bal"),
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    bal_dec = F.col("c_acctbal").cast("decimal(18,2)")
    return (
        c.crossJoin(F.broadcast(params))
        .filter(bal_dec * F.col("cnt_bal") > F.col("sum_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(bal_dec).cast("double").alias("totacctbal"),
        )
    )


@_register(
    "tpch_q21_waiting_suppliers",
    # Oracle keeps TPC-H's literal correlated EXISTS / NOT EXISTS pair — an
    # independent derivation that cross-checks the Spark side's rewrite.
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey
    GROUP BY s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to the
    synthetic schema: l_returnflag='R' stands in for the late-receipt
    predicate (no commit/receipt dates in the fixture lineitem).

    Scale shape: the double correlated subquery (EXISTS other-supplier /
    NOT EXISTS other-late-supplier) is rewritten as ONE per-order aggregate —
    n_supp = distinct suppliers, n_r_supp = distinct suppliers with an 'R'
    line — then a filter `n_supp > 1 AND n_r_supp = 1`. ONE full-width
    lineitem shuffle total (the per-(order,supplier) partial agg, map-side
    combined); everything downstream is the deduped pair frame, already
    partitioned on l_orderkey. The 'F'-orders semi join reuses that
    partitioning, and only the small dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    # Two-stage distinct instead of count_distinct: the dual-distinct agg
    # plans a gid Expand (2x lineitem rows through the first shuffle) —
    # per-(order,supplier) partial max/sum combines map-side and shuffles
    # only distinct pairs.
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_r_lines"),
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("has_r").alias("n_r_supp"),
    )
    # l1's per-line contribution is already in per_os as n_r_lines, so the
    # raw lineitem never joins back — only the deduped (order, supplier)
    # frame flows forward, and numwait sums n_r_lines.
    return (
        per_os.filter(F.col("has_r") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
        .join(
            # NOT broadcast: orders is fact-sized at scale. Both sides of the
            # preceding join are hash-partitioned on l_orderkey, so only the
            # orders side shuffles (leftsemi keeps no columns).
            orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
            "left_semi",
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r_lines").alias("numwait"))
    )


@_register(
    "window_lag_lead_gaps",
    """
    SELECT user_id, event_id,
           epoch_us(ts)::BIGINT - lag(epoch_us(ts)::BIGINT) OVER w AS gap_us,
           lead(event_type) OVER w AS next_type,
           row_number() OVER w AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
)
def window_lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/row_number in one window pass: per-user inter-event gaps and
    next event type. One shuffle on user_id serves all three functions
    (single Window physical operator); timestamps compared at microsecond
    precision (integer arithmetic, no float drift)."""
    from pyspark.sql.window import Window

    ev = _events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.row_number().over(w).alias("seq"),
    )


@_register(
    "pivot_priority_counts",
    """
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a known value list, written as conditional aggregation
    rather than `DataFrame.pivot`: Spark's pivot plans TWO exchanges (a
    (status, priority) pre-aggregate feeding `pivotfirst`), while
    count-when compiles to one partial-agg shuffle carrying one row per
    (task, status) — the shape that survives a 100x scale-up. No
    distinct-values driver job either."""
    vals = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    aliases = ["urgent", "high", "medium", "notspec", "low"]
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            *[
                F.count(F.when(F.col("o_orderpriority") == v, True)).alias(a)
                for v, a in zip(vals, aliases)
            ]
        )
    )


@_register(
    "grouping_sets_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither a rollup nor a cube) through the SQL
    front-end: Spark expands to a single Expand + one aggregate — 3 grouping
    combinations in one shuffle, not 3 jobs."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@_register(
    "intersect_fulfilled_pending_custs",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def intersect_fulfilled_pending_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics, complementing the E1/E2 EXCEPT ops):
    customers with both fulfilled and pending orders. Spark plans a
    left-semi join over pre-aggregated distincts."""
    o = _t(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p_side = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return f_side.intersect(p_side)


# ===========================================================================
# Batch 5: graph dedup clustering + stream-stream join
# ===========================================================================


@stage(
    "simhash_pairs",
    tables=["documents"],
    code=[QUERIES["simhash_hamming_pairs"], _fan, D, TXT],
)
def _simhash_pairs_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash_hamming_pairs near-dup pair list (id_a, id_b). Its
    consumers (components, keep-best retention, the composed corpus
    pipeline) read it instead of each recomputing fingerprints and the
    pair join — pair detection writes an intermediate table, downstream
    policies read it."""
    return QUERIES["simhash_hamming_pairs"](spark, sf_dir).select("id_a", "id_b")


def _incr_state_build(
    spark: SparkSession, sf_dir: str, persisted_out: list | None = None
) -> DataFrame:
    """Live builder behind _incr_state_staged: fingerprints of the old
    corpus, blocked star edges, components fixpoint, paired flag."""
    from scylla_migrator_spark.analytics.components import connected_components

    old = _fan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).filter(F.col("doc_id") % 10 != 0)
    fp_old = D.simhash_fingerprints(
        old, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    ).localCheckpoint(eager=True)
    old_pairs = D.simhash_blocked_pairs(
        fp_old, "doc_id", bits=60, blocks=10, max_hamming=8,
        group_col="source", emit="star", persisted_out=persisted_out,
    ).select("id_a", "id_b")
    base = connected_components(old_pairs, "id_a", "id_b").select(
        F.col("id").alias("__lid"), F.col("comp").alias("__lc")
    )
    return (
        fp_old.select(F.col("doc_id").alias("id"), "source", "sh")
        .join(base, F.col("id") == F.col("__lid"), "left_outer")
        .select(
            "id",
            "source",
            "sh",
            F.coalesce("__lc", "id").alias("comp"),
            F.col("__lc").isNotNull().alias("paired"),
        )
    )


@stage("incr_state", tables=["documents"], code=[_incr_state_build, _fan, D, TXT, CMOD])
def _incr_state_staged(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The SERVED pre-batch state for the incremental-maintenance row:
    (id, source, sh, comp, paired) over the 90% already-ingested corpus —
    exactly the streaming serving-table shape (components_cdc). In
    production this table EXISTS (it is the maintained state); recomputing
    it inside the batch-update scenario would measure base construction,
    not the batch work the row is about. ``paired`` marks pair-graph
    vertices: the labelling contract (and the oracle's vertex set) ranges
    over paired rows only, while every row's fingerprint serves edge
    generation."""
    ps: list = []
    _incr_state_build(spark, sf_dir, persisted_out=ps).write.parquet(out)
    for f in ps:  # stage is on disk; release the generator's cache
        f.unpersist()


@stage("incr_keys", inputs=[_incr_state_staged], code=[D, _bucket_expr])
def _incr_keys_staged(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The persistent union-key stage next to _incr_state_staged — the
    components_cdc layout: one row per (distinct fingerprint unit, Manku
    probe combo) with the unit's anchor and its component label, bucketed
    by pmod(xxhash64(combo_id, key_val), 32) so a probe prunes its scan
    to the partitions its own keys hash into. In production this table
    EXISTS (the maintainer appends to it every batch); staging it keeps
    the row measuring what a batch actually costs: batch fingerprints,
    a broadcast probe of the staged keys, and the contracted fixpoint —
    never a full-state key re-explode."""
    from scylla_migrator_spark.streaming.components_cdc import KEY_BUCKET_COL

    state = _read_parquet_immutable(spark, _incr_state_staged(spark, sf_dir))
    # anchor = min member per unit (any member works: unit members share a
    # fingerprint, hence a component); comp0 = the anchor's CURRENT label —
    # the stage is fresh by construction, so the row needs no merge journal
    units = (
        state.groupBy("source", "sh")
        .agg(F.min("id").alias("__anchor"))
        .join(
            state.select(F.col("id").alias("__anchor"), F.col("comp").alias("__comp0")),
            "__anchor",
        )
        .select(
            F.col("source").alias("__grp"),
            F.col("sh").alias("__sh"),
            "__anchor",
            "__comp0",
        )
    )
    D.staged_union_keys(units, bits=60, blocks=10, max_hamming=8).withColumn(
        KEY_BUCKET_COL, _bucket_expr(["combo_id", "key_val"], 32)
    ).repartition(F.col(KEY_BUCKET_COL)).write.partitionBy(KEY_BUCKET_COL).parquet(out)


@stage("simhash_wstar", tables=["documents"], code=[_fan, D, TXT])
def _simhash_star_edges_staged(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Star-contracted WIDE-fingerprint edge stage for GRAPH consumers
    (components, keep-best, grouped split, cluster histogram): 60-bit
    fingerprints (hash_hex=15 — the corpus-scale precision semantics; at
    hamming<=8 only genuine near-dups pair, and the Manku union keys get
    real entropy), Manku-blocked generator in ``emit="star"`` mode — an
    edge set with IDENTICAL transitive closure and vertex set to the wide
    all-pairs scan, while an m-member identical-fingerprint group
    contributes m−1 member→representative edges instead of m(m−1)/2
    pairs. The maintained dup-graph family consumes THESE semantics; the
    dense 32-bit h<=8 rows remain as dense-semantics regression guards on
    the pairs stage (degree/triangle/centrality metrics, ensemble
    blockers)."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(
        docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    )
    ps: list = []
    D.simhash_blocked_pairs(
        fp,
        "doc_id",
        bits=60,
        blocks=10,
        max_hamming=8,
        group_col="source",
        emit="star",
        persisted_out=ps,
    ).select("id_a", "id_b").write.parquet(out)
    for f in ps:  # stage is on disk; release the generator's cache
        f.unpersist()


@_register(
    "dedup_components",
    f"""
    WITH RECURSIVE
    {_dup_pairs_cte(60, "pairs")},
    {_closure_cte("pairs")}
    SELECT v AS doc_id, min(u)::BIGINT AS component FROM reach GROUP BY v
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP ASSIGNMENT: near-dup pairs (simhash hamming<=8) form a
    graph; each doc gets its connected component's min doc_id as canonical
    representative. Iterative min-label propagation in DataFrame joins
    (analytics/components.py) vs a transitive-closure recursive CTE in the
    oracle — an operator class (iterative graph fixpoint) the reference
    engine cannot express at all."""
    from scylla_migrator_spark.analytics.components import connected_components

    edges = _read_parquet_immutable(spark, _simhash_star_edges_staged(spark, sf_dir))
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges))
    return comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


@_register(
    "dup_graph_degree_distribution",
    f"""
    WITH {_dup_pairs_cte(32, "prs")},
    deg AS (
      SELECT v, count(*)::BIGINT AS d FROM (
        SELECT id_a AS v FROM prs UNION ALL SELECT id_b FROM prs) t
      GROUP BY v)
    SELECT d AS degree, count(*)::BIGINT AS n_docs FROM deg GROUP BY d
    UNION ALL
    SELECT 0::BIGINT, ((SELECT count(*) FROM documents)
                       - (SELECT count(*) FROM deg))::BIGINT
    WHERE (SELECT count(*) FROM documents) > (SELECT count(*) FROM deg)
    """,
)
def dup_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-graph QC readout: the degree histogram of the near-dup pair
    graph (how many docs have 0, 1, 2... near-duplicates). A heavy tail
    here is the early warning for candidate-join blowups (degree ~ pair
    work per doc) and for boilerplate clusters; degree-0 mass is the
    genuinely-unique fraction. Reads the staged pair table (shared with
    components/keep-best — no recomputed detection); two tiny aggregates
    after that."""
    pairs = _simhash_pairs_staged(spark, sf_dir)
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dist = deg.groupBy(F.col("d").cast("bigint").alias("degree")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    # the degree-0 row stays INSIDE the plan (anti-join + one-row agg) —
    # driver-side count() actions at plan-build time would run jobs just
    # to CONSTRUCT the query and recompute the uncached degree table twice
    zero = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("v"))
        .join(deg, "v", "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.lit(0).cast("bigint").alias("degree"), "n_docs")
        .filter(F.col("n_docs") > 0)
    )
    return dist.unionByName(zero)


@_register(
    "dup_graph_triangles",
    f"""
    WITH {_dup_pairs_cte(32, "prs")},
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM prs p1 JOIN prs p2 ON p1.id_b = p2.id_a
                  JOIN prs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
    deg AS (
      SELECT v, count(*)::BIGINT AS dg FROM (
        SELECT id_a AS v FROM prs UNION ALL SELECT id_b FROM prs) t
      GROUP BY v),
    wed AS (SELECT (sum(dg * (dg - 1)) // 2)::BIGINT AS n_wedges FROM deg)
    SELECT n_triangles, n_wedges,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE round(3.0 * n_triangles / n_wedges, 6) END AS clustering_coeff
    FROM tri, wed
    """,
)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup pair graph: triangle count, wedge
    (open-triple) count, and the global clustering coefficient
    3*triangles/wedges — the transitivity QC under the degree histogram
    (near-dup SHOULD be highly transitive; a low coefficient means the
    banding is producing chains of borderline pairs that connected
    components will over-merge).

    Scale shape: with pairs stored as (id_a < id_b), every triangle
    a<b<c is counted exactly once by two equi-joins on the pair table
    (p1=(a,b) ⋈ p2=(b,c) ⋈ closing edge (a,c)) — the standard
    compact-forward enumeration; join work is bounded by Σ deg(v)² like
    the wedge count itself, and the degree-skew cap is inherited from
    the candidate generator's banding. Wedges are one aggregate over
    the degree table; no floats until the final ratio of exact longs."""
    pairs = _simhash_pairs_staged(spark, sf_dir)
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"], "left_semi")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("dg"))
    )
    # dg*(dg-1) is even, so the halving stays in exact INTEGER division —
    # a double divide would diverge from the oracle past 2^53 wedge mass
    wed = deg.agg(
        F.expr("sum(dg * (dg - 1)) DIV 2").cast("long").alias("n_wedges")
    )
    return (
        tri.join(F.broadcast(wed))
        .select(
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6)
            )
            .alias("clustering_coeff"),
        )
    )


@_register(
    "lexical_diversity",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    tc AS (
      SELECT doc_id, w, count(*)::BIGINT AS c
      FROM (SELECT doc_id, unnest(t) AS w FROM toks) x
      GROUP BY doc_id, w)
    SELECT doc_id,
           sum(c)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_types,
           round(count(*) / sum(c), 6) AS ttr,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*), 6)
             AS hapax_frac
    FROM tc GROUP BY doc_id
    """,
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio (distinct
    words / words) and hapax fraction (words occurring once / distinct
    words) — the vocabulary-richness quality features next to the
    entropy/repetition family (templated or looped text has low TTR;
    natural prose has a heavy hapax tail, Zipf's long tail in one
    number). One explode + per-(doc, word) count + per-doc aggregate —
    two map-side-combinable shuffles keyed by doc, no joins."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    tc = (
        docs.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.count("*") / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")) / F.count("*"), 6
        ).alias("hapax_frac"),
    )


@_register(
    "dup_graph_pagerank",
    f"""
    WITH {_dup_pairs_cte(32, "prs")},
    edges AS (SELECT id_a AS s, id_b AS d FROM prs
              UNION ALL SELECT id_b, id_a FROM prs),
    deg AS (SELECT s AS v, count(*)::BIGINT AS dg FROM edges GROUP BY s),
    n AS (SELECT count(*)::BIGINT AS n FROM deg),
    p0 AS (SELECT v, 1.0 / n AS pr FROM deg, n),
    c1 AS (SELECT e.d AS v, sum(CAST(p.pr / dg.dg AS DECIMAL(28,14))) AS c
           FROM edges e JOIN p0 p ON e.s = p.v JOIN deg dg ON dg.v = e.s
           GROUP BY e.d),
    p1 AS (SELECT c1.v, 0.15 / n + 0.85 * CAST(c AS DOUBLE) AS pr FROM c1, n),
    c2 AS (SELECT e.d AS v, sum(CAST(p.pr / dg.dg AS DECIMAL(28,14))) AS c
           FROM edges e JOIN p1 p ON e.s = p.v JOIN deg dg ON dg.v = e.s
           GROUP BY e.d),
    p2 AS (SELECT c2.v, 0.15 / n + 0.85 * CAST(c AS DOUBLE) AS pr FROM c2, n),
    c3 AS (SELECT e.d AS v, sum(CAST(p.pr / dg.dg AS DECIMAL(28,14))) AS c
           FROM edges e JOIN p2 p ON e.s = p.v JOIN deg dg ON dg.v = e.s
           GROUP BY e.d),
    p3 AS (SELECT c3.v, 0.15 / n + 0.85 * CAST(c AS DOUBLE) AS pr FROM c3, n)
    SELECT v AS doc_id, round(pr, 9) AS pagerank FROM p3
    """,
)
def dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup pair graph: 3 power-iteration rounds
    of PageRank (d=0.85) restricted to paired documents — ranks the HUB
    documents of boilerplate clusters (high PR = the template everything
    else is a variant of), the drill-down under the degree histogram.
    Same iterative-fixpoint family as connected_components, with a rank
    vector instead of a min label.

    Determinism at scale: per-edge contributions pr(u)/deg(u) truncate to
    DECIMAL(28,14) BEFORE the neighbor sum, so the reduction is exact
    decimal addition — shuffle order cannot move the result (the repo's
    standard transcendental/float-sum discipline). Each round is one
    equi-shuffle of (edge x rank) plus a broadcast of the degree table;
    the symmetric pair graph has no dangling vertices, so no global
    dangling-mass redistribution term is needed. Iterations are a FIXED
    unrollable count (the oracle replays all three in SQL); the
    convergence-to-tolerance variant at scale swaps the fixed loop for
    the localCheckpoint cadence connected_components already uses."""
    pairs = _simhash_pairs_staged(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    ).unionByName(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    deg = edges.groupBy(F.col("s").alias("v")).agg(F.count("*").alias("dg"))
    n = deg.agg(F.count("*").alias("n"))
    pr = deg.join(F.broadcast(n)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        w = pr.join(F.broadcast(deg), "v").select(
            "v", (F.col("pr") / F.col("dg")).cast("decimal(28,14)").alias("w")
        )
        contrib = (
            edges.join(w, edges["s"] == w["v"])
            .groupBy(F.col("d").alias("v2"))
            .agg(F.sum("w").alias("c"))
        )
        pr = contrib.join(F.broadcast(n)).select(
            F.col("v2").alias("v"),
            (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("c").cast("double")).alias("pr"),
        )
    return pr.select(
        F.col("v").alias("doc_id"), F.round("pr", 9).alias("pagerank")
    )


@_register(
    "stream_stream_join",
    """
    WITH c AS (SELECT user_id, event_id AS click_event_id, epoch_us(ts)::BIGINT AS click_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_event_id, epoch_us(ts)::BIGINT AS purchase_us
          FROM events WHERE event_type = 'purchase')
    SELECT c.click_event_id, p.purchase_event_id, c.user_id, c.click_us, p.purchase_us
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.purchase_us >= c.click_us AND p.purchase_us <= c.click_us + 3600000000
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (T6 extension): purchases within 1 hour
    after a click by the same user. Both sides carry event-time watermarks;
    the time-interval join condition lets Structured Streaming bound each
    side's state store (clicks expire 1h after their event time) — the
    pattern that keeps state finite on an unbounded 100 TB/day stream.
    Batch-equivalent to the oracle's range join."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_event_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = _run_available_now(joined, "append")
    return out.select(
        "click_event_id",
        "purchase_event_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


@_register(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, lower(w) AS term
      FROM documents, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS t(w)
      WHERE length(w) >= 4),
    tf AS (SELECT lang, term, count(*) AS tf, count(DISTINCT doc_id) AS df_lang
           FROM toks GROUP BY lang, term),
    n AS (SELECT lang, count(DISTINCT doc_id) AS n_docs FROM toks GROUP BY lang),
    scored AS (
      SELECT tf.lang, term, tf * (n_docs * 1.0 / df_lang) AS score_raw,
             row_number() OVER (PARTITION BY tf.lang
                                ORDER BY tf * (n_docs * 1.0 / df_lang) DESC, term) AS rn
      FROM tf JOIN n ON tf.lang = n.lang)
    SELECT lang, term, round(score_raw, 6) AS score FROM scored WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction: top-3 terms per language by TF x linear
    IDF (tf * N/df — linear instead of log IDF so the score is a single
    IEEE-deterministic double op chain, exactly reproducible cross-engine).
    Plan: tokenize/explode -> two-level agg -> broadcast per-lang totals ->
    windowed top-k. The explode happens AFTER the scan projection prunes to
    3 columns; the per-(lang,term) aggregate is partial-agg friendly."""
    from pyspark.sql.window import Window

    toks = (
        _fan(_t(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") >= 4)
        .select("doc_id", "lang", F.lower(F.col("w")).alias("term"))
    )
    tf = toks.groupBy("lang", "term").agg(
        F.count("*").alias("tf"), F.count_distinct("doc_id").alias("df_lang")
    )
    n = toks.groupBy("lang").agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = tf.join(F.broadcast(n), "lang").withColumn(
        "score_raw", F.col("tf") * (F.col("n_docs") * 1.0 / F.col("df_lang"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score_raw"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "term", F.round("score_raw", 6).alias("score"))
    )


@_register(
    "embedding_centroids",
    """
    SELECT label, dim::INT AS dim,
           round(CAST(sum(CAST(embedding[dim] AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
             AS avg_val
    FROM embeddings, generate_series(1, 4) AS g(dim)
    GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (first 4 dims compared):
    posexplode -> (label, dim) aggregate. Floats are summed as DECIMAL(18,9)
    so the reduction is associative-exact (order-independent — a plain
    double sum is shuffle-order-dependent and NOT cross-engine stable);
    the final mean divides once in double. This is the k-means update step
    / class-prototype op of the embedding pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .filter(F.col("pos") < 4)
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
            ).alias("avg_val")
        )
    )


@_register(
    "stream_continuous_rollup",
    """
    SELECT event_type, (epoch_us(ts) // 86400000000)::BIGINT AS bucket_day,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type, bucket_day
    """,
)
def stream_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (streaming/rollup.py): the event stream is split
    into TWO micro-batches (event_id parity halves); an update-mode streaming
    aggregation emits changed (event_type, day) groups per batch and
    foreachBatch upserts them into the serving table. The final table must
    equal the batch rollup exactly — decimal sums make the check
    batch-split-independent."""
    import shutil
    import tempfile

    from scylla_migrator_spark.streaming.rollup import continuous_rollup

    _session_proof(spark)
    day_ns = 86_400_000_000_000
    stage = _events_halves_stage(spark, sf_dir)
    batch_schema = _read_parquet_immutable(spark, stage).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)  # one half per micro-batch
        .parquet(stage)
    )
    agg = stream.groupBy(
        "event_type", F.expr(f"ts DIV {day_ns}").alias("bucket_day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
    )
    serving = tempfile.mkdtemp(prefix="sgs_rollup_") + "/serving"
    with _stream_shuffle_partitions(spark):
        q = continuous_rollup(
            agg, serving, ["event_type", "bucket_day"], tempfile.mkdtemp(prefix="sgs_rollup_ckpt_")
        )
        q.awaitTermination()
    return spark.read.parquet(serving).select(
        "event_type",
        "bucket_day",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


@_register(
    "stream_static_enrichment",
    """
    SELECT n_name, event_type, count(*) AS cnt
    FROM events JOIN nation ON (user_id % 25) = n_nationkey
    GROUP BY n_name, event_type
    """,
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (T6): each micro-batch of the event stream is
    enriched against a STATIC dimension (broadcast hash join — no state
    store, the dim is re-resolved per batch so slowly-changing dims pick up
    updates), then aggregated. This is the standard streaming enrichment
    plan: dim broadcast keeps the stream side shuffle-free before the
    aggregate."""
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    enriched = (
        _events_stream(spark, sf_dir)
        .withColumn("nation_key", F.col("user_id") % 25)
        .join(nation, F.col("nation_key") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    return _run_available_now(enriched, "complete").select("n_name", "event_type", "cnt")


@_register(
    "tpch_q2_cheapest_part",
    """
    WITH m AS (SELECT p_brand, min(p_retailprice) AS min_price FROM part GROUP BY p_brand)
    SELECT p.p_brand, min(p.p_partkey) AS p_partkey, m.min_price AS p_retailprice
    FROM part p JOIN m ON p.p_brand = m.p_brand AND p.p_retailprice = m.min_price
    GROUP BY p.p_brand, m.min_price
    """,
)
def tpch_q2_cheapest_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated argmin — cheapest part per brand, min
    partkey on price ties. Aggregate-then-rejoin on (group, min): the
    per-group min frame is tiny and broadcasts; equality on the stored
    double is exact (same value both sides, no arithmetic)."""
    p = _t(spark, sf_dir, "part")
    m = p.groupBy(F.col("p_brand").alias("m_brand")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(m),
            (p["p_brand"] == F.col("m_brand")) & (p["p_retailprice"] == F.col("min_price")),
        )
        .groupBy("p_brand", "min_price")
        .agg(F.min("p_partkey").alias("p_partkey"))
        .select("p_brand", "p_partkey", F.col("min_price").alias("p_retailprice"))
    )


@_register(
    "tpch_q11_important_parts",
    """
    WITH v AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
               FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT sum(part_value) AS total_value FROM v)
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM v, tot WHERE part_value * 1500 > total_value
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery — parts whose
    revenue share exceeds 1/1500 of the total. The per-part aggregate is
    computed ONCE and reused for both the total (1-row broadcast) and the
    filter (Spark reuses the shuffle exchange); the share test is
    cross-multiplied decimal arithmetic — exact, no division."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("part_value")
    )
    tot = v.agg(F.sum("part_value").alias("total_value"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") * 1500 > F.col("total_value"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


@_register(
    "tpch_q16_supplier_variety",
    """
    SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_size IN (1, 14, 23, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN exclusion subquery -> left_anti join (safe
    here because s_suppkey is non-null; a general NOT IN needs null-aware
    anti join, which Spark plans as BroadcastNestedLoopJoin), then
    count-distinct per group."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 14, 23, 45))
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "tpch_q9_profit",
    """
    SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
               - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))
               AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (supplycost -> retail-cost proxy): per-(nation, year)
    profit over a 5-way join with a substring part filter. The LIKE filter
    prunes part BEFORE the broadcast; amounts are decimal-exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        - F.col("p_retailprice").cast("decimal(18,2)") * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@_register(
    "tpch_q20_promo_suppliers",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
    """,
)
def tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested qualification — suppliers who moved > 50
    units of some single PROMO part in 1997. Inner aggregate at
    (supplier, part) grain, then DISTINCT supplier keys feed a left_semi
    against the supplier dim (J7 chain)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    qualified = (
        li.filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"))
        .filter(F.col("sq") > 50)
        .select("l_suppkey")
    )
    return s.join(
        F.broadcast(qualified), s["s_suppkey"] == qualified["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


@_register(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / count(*) OVER w, 6) AS mavg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate), o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window: 3-order moving average per customer (ROWS
    BETWEEN 2 PRECEDING AND CURRENT ROW). Decimal running sum / bigint
    count — frame arithmetic stays exact; one shuffle on the partition
    key serves both window functions."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").withColumn(
        "od_ms", F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_ms", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("*").over(w),
            6,
        ).alias("mavg3"),
    )


@_register(
    "window_rank_suite",
    """
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pr,
           dense_rank() OVER w AS dr
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking suite sharing one window spec: ntile quartiles, percent_rank,
    dense_rank — one sort, one Window operator. Partitioned by status: a
    GLOBAL ranking (no PARTITION BY) would funnel every row through one
    task — the anti-pattern; partition or pre-bucket instead."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.dense_rank().over(w).alias("dr"),
    )


@_register(
    "json_props_extract",
    """
    SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS cnt
    FROM events GROUP BY event_type, k_mod
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column (C12 family, applied to the events
    fixture's ``props``): schema-on-read with ``from_json`` — the parse
    happens once per row inside codegen, the extracted field feeds a
    normal aggregate. At scale prefer from_json with an explicit schema
    over get_json_object chains (one parse vs one per field)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("cnt"))
    )


@_register(
    "division_all_years_customers",
    """
    SELECT o_custkey FROM orders
    GROUP BY o_custkey
    HAVING count(DISTINCT year(o_orderdate)) =
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders)
    """,
)
def division_all_years_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: customers with at least one order in EVERY
    year the table covers. Distinct-count-per-group vs broadcast scalar
    total — the set-containment join rewritten as two aggregates (the
    standard scale form; a per-year semi-join chain would be y joins)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    total = o.agg(F.count_distinct("yr").alias("n_years"))
    return (
        o.groupBy("o_custkey")
        .agg(F.count_distinct("yr").alias("cust_years"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cust_years") == F.col("n_years"))
        .select("o_custkey")
    )


@_register(
    "unpivot_lineitem_metrics",
    """
    SELECT metric, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
    FROM (
      UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME metric VALUE value)
    GROUP BY metric
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (the inverse of pivot): wide metric columns to long
    (metric, value) rows, then per-metric totals. Spark's unpivot is an
    Expand node — rows multiply in-task, no shuffle until the aggregate;
    partial aggregation collapses the 4x row blowup back to 4 rows per
    task before the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias("total"),
    )


# ===========================================================================
# Corpus operators round 2: decontamination, chunking, vocab stats,
# embedding quantization, kNN graph
# ===========================================================================


@_register(
    "benchmark_decontam",
    f"""
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct({_trigrams(True)}) AS s
      FROM documents),
    bg AS (SELECT DISTINCT g FROM sh, unnest(s) AS u(g) WHERE source = 'src0'),
    cg AS (SELECT doc_id, g FROM sh, unnest(s) AS u(g) WHERE source <> 'src0')
    SELECT doc_id, count(*) AS n_hit_grams
    FROM cg JOIN bg USING (g)
    GROUP BY doc_id
    """,
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >=1 distinct
    3-gram shingle with the evaluation set (source 'src0' plays the eval
    benchmark). The benchmark shingle set is broadcast — the 100 TB corpus
    side never shuffles its shingles (the eval set is the small side by
    construction)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    bench = docs.filter(F.col("source") == "src0")
    corpus = _fan(docs.filter(F.col("source") != "src0"))
    return D.benchmark_decontaminate(corpus, bench, "text", "doc_id", n=3)


@_register(
    "doc_chunking",
    """
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
               FROM documents),
    s AS (SELECT doc_id, toks,
                 list_filter(generate_series(1, greatest(len(toks), 1), 24),
                             st -> st = 1 OR st - 24 + 31 < len(toks)) AS starts
          FROM t),
    ch AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(starts)), i -> {
                    idx: i - 1,
                    txt: array_to_string(list_slice(toks, starts[i], starts[i] + 31), ' '),
                    ln: len(list_slice(toks, starts[i], starts[i] + 31))
                  })) AS c
           FROM s)
    SELECT doc_id, c.idx AS chunk_idx, c.txt AS chunk_text, c.ln AS chunk_len
    FROM ch
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking (32-token windows, stride 24)
    — the context-window prep step for LLM training. One narrow
    sequence->slice->posexplode projection; no shuffle, no Python."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.chunk_documents(docs, "text", "doc_id", chunk_size=32, stride=24)


@_register(
    "vocab_top20",
    """
    WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                 FROM documents),
    occ AS (SELECT tok, count(*) AS n_occurrences FROM tok GROUP BY tok),
    dfq AS (SELECT tok, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY tok)
    SELECT tok, n_occurrences, n_docs
    FROM occ JOIN dfq USING (tok)
    ORDER BY n_occurrences DESC, tok
    LIMIT 20
    """,
)
def vocab_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-20 by occurrence count with document frequency
    (tokenizer-training stats). Partial aggregation collapses token counts
    map-side; the final top-k is TakeOrderedAndProject; ties broken
    lexically."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.vocab_top_terms(docs, "text", k=20)


@_register(
    "embedding_quantize_int8",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           round(list_min(v), 6) AS qmin,
           round(list_max(v) - list_min(v), 6) AS qscale,
           array_to_string(list_transform(v, x ->
             CASE WHEN list_max(v) = list_min(v) THEN 0
                  ELSE CAST(floor((x - list_min(v)) / (list_max(v) - list_min(v)) * 255 + 0.5) AS INT)
             END), ',') AS codes
    FROM v
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding column (4x
    compression before ANN indexing). Codes rendered as a comma string so
    the value hash is array-representation-independent."""
    emb = _t(spark, sf_dir, "embeddings")
    q = SIM.quantize_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id", "qmin", "qscale", F.concat_ws(",", F.col("codes")).alias("codes")
    )


@_register(
    "knn_graph_topk",
    """
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS n
               FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM pairs)
    SELECT vec_id, neighbor_id, cos, rank FROM r WHERE rank <= 3
    """,
)
def knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked 3-NN graph over the embedding table (the
    candidate-generation step of graph-ANN index construction). Ranking on
    round(cos, 6) with neighbor-id tie-break keeps the order engine-stable."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    return SIM.knn_graph(emb, "vec_id", "embedding", "label", k=3)


@_register(
    "scd2_event_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts)::BIGINT AS t, event_id,
             lag(event_type) OVER w AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    changes AS (
      SELECT user_id, event_type, t, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type),
    hist AS (
      SELECT user_id, event_type, t AS valid_from_us,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to_us
      FROM changes)
    SELECT user_id, event_type, valid_from_us,
           coalesce(valid_to_us, -1) AS valid_to_us,
           (valid_to_us IS NULL) AS is_current
    FROM hist
    """,
)
def scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from the event change log: consecutive
    per-user runs of the same event_type collapse to one versioned row with
    [valid_from, valid_to) nanosecond intervals (open version: valid_to -1).
    The warehouse-side complement of the reference's last-writer-wins CDC
    replication (DynamoStreamReplication.scala:42-114): same change feed,
    history kept instead of overwritten. Both window passes share one
    (user_id) partitioning — a single shuffle end to end. Intervals are
    emitted in MICROseconds (nanos floor-divided) because the oracle's
    timestamp type is µs-precision; ordering is unaffected."""
    from scylla_migrator_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events").withColumn(
        # integer DIV: a float division would lose µs precision at 1.7e18 ns
        "ts_us", F.expr("ts DIV 1000")  # ts is epoch-nanos long
    )
    hist = scd2_history(ev, ["user_id"], "ts_us", ["event_type"], "event_id")
    return hist.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to_us"),
        "is_current",
    )


@_register(
    "near_dedup_corpus",
    f"""
    WITH RECURSIVE
    {_dup_pairs_cte(60, "pairs")},
    {_closure_cte("pairs")},
    comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
    dropped AS (SELECT doc_id FROM comp WHERE doc_id <> component)
    SELECT d.source, count(*) AS n_docs,
           count(*) FILTER (WHERE dr.doc_id IS NULL) AS n_survivors
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
)
def near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED near-dedup pipeline a training-data run actually executes:
    simhash fingerprints -> hamming-bucket candidate pairs -> connected
    components -> drop every non-canonical member (keep the min doc_id per
    duplicate cluster) -> per-source survivor counts. Each stage is the
    already-verified scale shape (aggregation-materialized fingerprints,
    bucketed candidate join, O(log d) label propagation, left_anti drop)."""
    comp = QUERIES["dedup_components"](spark, sf_dir)
    dropped = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    survivors = docs.join(dropped, "doc_id", "left_anti")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(
            survivors.groupBy("source").agg(F.count("*").alias("n_survivors")),
            "source",
        )
    )


@_register(
    "stream_topk_trending",
    """
    WITH wc AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY window_start ORDER BY cnt DESC, event_type) AS rnk
          FROM wc)
    SELECT window_start, event_type, cnt, rnk FROM r WHERE rnk <= 2
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k over a stream: watermarked tumbling-window counts
    (pure streaming agg, bounded state) followed by a per-window top-2 rank
    on the materialized result table — the standard two-layer split of a
    non-incremental operator (rank) over an incremental one (count).
    Batch-equivalent to the oracle's windowed rank."""
    from pyspark.sql import Window

    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    out = _run_available_now(agg, "complete")
    wc = out.select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    rw = Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("event_type"))
    return wc.withColumn("rnk", F.row_number().over(rw)).filter(F.col("rnk") <= 2)


# ===========================================================================
# Round 3 additions: Spark-4 stateful API, Python UDTF surface, SemDedup
# ===========================================================================


@_register(
    "stream_tws_user_totals",
    """
    WITH t AS (
      SELECT user_id, count(*) AS n_events,
             sum(CAST(floor(value * 1000000) AS BIGINT))::BIGINT AS sum_micros
      FROM events GROUP BY user_id)
    SELECT user_id, n_events, sum_micros FROM t
    """,
)
def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 via the Spark 4 ``transformWithStateInPandas`` API (typed
    ValueState on a RocksDB store): per-user running totals accumulated
    across TWO micro-batches (event-id parity halves); the final state must
    equal the batch GROUP BY. Values are quantized to integer micros before
    the stateful op so cross-batch accumulation is associative-exact (see
    streaming/stateful.py::RunningTotalsProcessor)."""
    import tempfile
    import uuid

    from pyspark.sql.window import Window

    from scylla_migrator_spark.streaming.stateful import running_user_totals

    stage = _events_halves_stage(spark, sf_dir)
    schema = _read_parquet_immutable(spark, stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one half per micro-batch
        .parquet(stage)
        .select(
            "user_id",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("value_micros"),
        )
    )
    from scylla_migrator_spark.streaming.stateful import has_transform_with_state_runtime

    totals = running_user_totals(stream, "user_id")
    name = f"mem_{uuid.uuid4().hex[:12]}"
    use_rocksdb = has_transform_with_state_runtime()  # TWS requires RocksDB store
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    if use_rocksdb:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    try:
        with _stream_shuffle_partitions(spark):
            q = (
                totals.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", tempfile.mkdtemp(prefix="sgs_tws_ckpt_"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if use_rocksdb:
            if old is not None:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    out = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("upd"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_micros")
    )


@_register(
    "udtf_sentence_split",
    """
    WITH parts AS (SELECT doc_id, string_split(text, '.') AS ps FROM documents),
    ex AS (SELECT doc_id, unnest(generate_series(1, len(ps)))::INT - 1 AS sent_idx,
                  unnest(ps) AS sentence
           FROM parts)
    SELECT doc_id, sent_idx, sentence, length(sentence)::INT AS n_chars
    FROM ex WHERE trim(sentence, ' ' || chr(9) || chr(10) || chr(13)) <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 UDTF surface (Spark 4 Python UDTF, Arrow-batched): documents
    LATERAL-joined to a sentence-splitting table function — the declarative
    form of the reference's flatMap explosion (Cassandra.scala:113-169).
    The UDTF runs inside the scanning task (no shuffle); Catalyst prunes
    the document columns around it like any relation."""
    from scylla_migrator_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "__udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars "
        "FROM __udtf_docs d, LATERAL split_sentences(d.text) s"
    )


@stage("kmeans_16x2", tables=["embeddings"], code=[_fan, SIM])
def _kmeans_centroids_staged(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Trained k-means centroids of the embeddings (16 centroids, 2
    Lloyd's rounds): every consumer of the coarse quantizer
    (semdedup_prune, the IVF rows) shares one training run. Training is
    deterministic (seeded from the lowest ids, decimal-exact updates)."""
    return SIM.kmeans_centroids(
        _fan(_t(spark, sf_dir, "embeddings")), 16, 2, "vec_id", "embedding"
    )


@stage("pq_4x4x2", tables=["embeddings"], code=[_fan, SIM])
def _pq_books_staged(spark: SparkSession, sf_dir: str) -> list:
    """Product-quantization codebooks of the embeddings (4 subspaces, 4
    codewords each, 2 Lloyd's rounds per subspace), shared by the PQ
    encode, ADC probe and recall rows."""
    return SIM.pq_codebooks(
        _fan(_t(spark, sf_dir, "embeddings")),
        m=4, k=4, iters=2, id_col="vec_id", vec_col="embedding", dim=64,
    )


def _pq_sql(m: int = 4, k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """Oracle for product quantization: per subspace, slice the vector and
    replay the SAME shared Lloyd's training + assignment CTEs (prefixed so
    the four trainings coexist in one statement), then join the m
    assignments back on vec_id. Mirrors similarity.pq_codebooks/pq_assign
    subspace for subspace."""
    sub = dim // m
    parts = ["WITH allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    sel = ["f.vec_id"]
    joins = "allv f"
    for s in range(m):
        p = f"s{s}"
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f"{p}base AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM allv)")
        parts.extend(_kmeans_train_parts(iters, k, sub, p=p))
        parts.append(_kmeans_assign_cte(f"{p}a", f"{p}cent{iters}", f"{p}base"))
        sel.append(f"{p}a.centroid_id::INT AS code_{s}")
        joins += f" JOIN {p}a ON f.vec_id = {p}a.vec_id"
    return (
        ",\n    ".join(parts)
        + "\n    SELECT "
        + ", ".join(sel)
        + f"\n    FROM {joins}"
    )


def _pq_adc_sql(
    m: int = 4,
    kc: int = 4,
    iters: int = 2,
    dim: int = 64,
    k: int = 10,
    rerank_from: int | None = None,
) -> str:
    """Oracle for PQ asymmetric-distance top-k: the _pq_sql training +
    assignment CTEs, then per-subspace score = dot(query_slice, assigned
    codeword) — algebraically identical to the engine's driver-side
    lookup tables (table[code] IS dot(q_s, codeword)) — summed in fixed
    subspace order and top-k'd with id tiebreak."""
    sub = dim // m
    parts = [
        "WITH allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM allv WHERE vec_id = 0)",
    ]
    score_terms = []
    joins = "allv f CROSS JOIN q"
    for s in range(m):
        p = f"s{s}"
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f"{p}base AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM allv)")
        parts.extend(_kmeans_train_parts(iters, kc, sub, p=p))
        parts.append(_kmeans_assign_cte(f"{p}a", f"{p}cent{iters}", f"{p}base"))
        joins += (
            f" JOIN {p}a ON f.vec_id = {p}a.vec_id"
            f" JOIN {p}cent{iters} {p}c ON {p}a.centroid_id = {p}c.cidx"
        )
        score_terms.append(f"list_dot_product(qv[{lo}:{hi}], {p}c.cv)")
    if rerank_from is None:
        return (
            ",\n    ".join(parts)
            + f"""
    SELECT f.vec_id, round({' + '.join(score_terms)}, 6) AS adc_score
    FROM {joins}
    ORDER BY adc_score DESC, f.vec_id LIMIT {k}"""
        )
    # refinement form: ADC shortlist CTE, then exact cosine re-rank of the
    # shortlist against the raw vectors (similarity.pq_adc_rerank_topk)
    parts.append(
        f"""adc AS (SELECT f.vec_id FROM {joins}
      ORDER BY round({' + '.join(score_terms)}, 6) DESC, f.vec_id
      LIMIT {rerank_from})"""
    )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cos
    FROM allv b JOIN adc USING (vec_id), q
    ORDER BY cos DESC, b.vec_id LIMIT {k}"""
    )


@_register("pq_adc_ann_topk", _pq_adc_sql(m=4, kc=4, iters=2, dim=64, k=10))
def pq_adc_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ANN (similarity.pq_adc_topk): score the whole
    corpus from its 4 PQ codes alone — per row, 4 lookup-table reads and
    a 3-add fold; the raw vectors never load. This is the memory-bound
    ANN path at 100 TB (codes + a k*m table instead of the vectors),
    normally refined by an exact re-rank of the ADC head. Shares the
    build-once staged codebooks with pq_codebook_quantize; the oracle
    recomputes each lookup as dot(query_slice, assigned codeword) —
    algebraically the same table."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    books = _pq_books_staged(spark, sf_dir)
    qv = [
        float(x)
        for x in _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()[0]
    ]
    return SIM.pq_adc_topk(emb, books, qv, "vec_id", "embedding", k=10)


@_register(
    "pq_adc_rerank_topk",
    _pq_adc_sql(m=4, kc=4, iters=2, dim=64, k=10, rerank_from=30),
)
def pq_adc_rerank_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ probe (similarity.pq_adc_rerank_topk): ADC
    shortlist of 30 from the codes alone, then EXACT cosine re-rank to the
    top-10 against raw vectors — refinement buys back quantization error
    at the head for `shortlist` random vector fetches (codes-scan GBs vs
    vector-scan TBs at 100 TB). Shortlist ids broadcast into a left-semi
    probe. Shares the staged codebooks; the oracle replays ADC shortlist
    + re-rank in SQL."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    books = _pq_books_staged(spark, sf_dir)
    qv = [
        float(x)
        for x in _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()[0]
    ]
    return SIM.pq_adc_rerank_topk(
        emb, books, qv, "vec_id", "embedding", k=10, shortlist=30
    )


def _replay_stream(spark: SparkSession, stage: str) -> DataFrame:
    """A file stream over a published halves stage, one file per
    micro-batch."""
    schema = _read_parquet_immutable(spark, stage).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)


@stage("emb_halves", tables=["embeddings"], code=[_write_parity_halves, _write_half_files])
def _emb_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """(vec_id, embedding) as two files: even vec_ids, then odd ones."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _write_parity_halves(out, emb, "vec_id")


@_register("stream_pq_encode", _pq_sql(m=4, k=4, iters=2, dim=64))
def stream_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PQ index maintenance (batch/stream unification for the
    codes table): the embeddings replayed as two micro-batches, each
    arriving vector encoded to its 4 PQ codes by the STATELESS literal
    lookup projection (pq_assign — zero stateful operators, no watermark,
    no state store: a PQ code depends on the trained codebooks alone, so
    encoding composes with any ingest feed). Codebooks are the SAME
    build-once staged artifact the batch quantize and ADC probe share;
    after the replay the codes table equals the batch encode exactly —
    the oracle is the batch _pq_sql."""
    books = _pq_books_staged(spark, sf_dir)
    stream = _replay_stream(spark, _emb_halves_stage(spark, sf_dir))
    return _run_available_now(SIM.pq_assign(stream, books), "append")


@_register("pq_codebook_quantize", _pq_sql(m=4, k=4, iters=2, dim=64))
def pq_codebook_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011; similarity.pq_codebooks /
    pq_assign): the 64-dim embeddings split into 4 subspaces, an
    independent deterministic Lloyd's k-means (k=4, 2 rounds) trained per
    subspace, and every vector encoded to 4 small int codes — the memory
    lever that keeps billion-vector ANN hot (codes + k*m codebook rows
    replace the raw vectors; distances come from per-subspace lookup
    tables). Training is build-once staged like the IVF quantizer; the
    encode itself is a pure scan-stage projection (codebooks ride as
    literals — no join, no shuffle, no Python). The oracle replays all
    four trainings and assignments through the shared Lloyd's CTEs."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    books = _pq_books_staged(spark, sf_dir)
    return SIM.pq_assign(emb, books, "vec_id", "embedding")


def _stream_ivf_sql(iters: int = 2, n: int = 16, dim: int = 64) -> str:
    """Oracle for streaming IVF ingest: the ingested partition layout must
    hold exactly the BATCH assignment of every vector (batch/stream
    unification for index maintenance) — replayed with the same shared
    Lloyd's training + assignment CTEs."""
    parts = [
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        *_kmeans_train_parts(iters, n, dim),
        _kmeans_assign_cte("assigned", f"cent{iters}"),
    ]
    return (
        ",\n    ".join(parts)
        + "\n    SELECT vec_id, centroid_id::INT AS centroid_id FROM assigned"
    )


@_register("stream_ivf_ingest", _stream_ivf_sql())
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN-index maintenance: the embeddings table replayed as
    two micro-batches through similarity.ingest_ivf_stream — each arriving
    vector is coarse-quantized by the stateless broadcast argmax (zero
    stateful operators in the streaming plan) and appended into its
    ``centroid_id=`` partition of the IVF layout; probes partition-prune as
    the index grows (ivf_topk_partitioned). Returns the ingested layout's
    (vec_id, centroid_id); the oracle replays training + assignment in
    SQL, so ingest == batch build exactly."""
    import shutil

    centroids = _kmeans_centroids_staged(spark, sf_dir)
    stage = _emb_halves_stage(spark, sf_dir)
    stream = _replay_stream(spark, stage)
    # FIXED dirs per replayed stage (hence per fixture), cleared before the
    # run: fresh tempdirs per call would leak a full embeddings copy into
    # /tmp on every bench/test invocation. The checkpoint clears WITH the
    # layout (a stale checkpoint + empty layout would skip the replayed
    # batches).
    run_tag = os.path.basename(stage)
    out_dir = os.path.join("/tmp", f"{run_tag}_ivf_ingest")
    ckpt = os.path.join("/tmp", f"{run_tag}_ivf_ckpt")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    with _stream_shuffle_partitions(spark):
        q = SIM.ingest_ivf_stream(stream, centroids, out_dir, ckpt)
        q.awaitTermination()
    layout = spark.read.parquet(out_dir)
    return layout.select(
        "vec_id", F.col("centroid_id").cast("int").alias("centroid_id")
    )


@stage("docs_halves", tables=["documents"], code=[_write_parity_halves, _write_half_files])
def _docs_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The documents table as two files: even doc_ids, then odd ones."""
    _write_parity_halves(out, _t(spark, sf_dir, "documents"), "doc_id")


@_register(
    "stream_exact_dedup_gate",
    """
    SELECT DISTINCT substr(sha256(text), 1, 16) AS digest16 FROM documents
    """,
)
def stream_exact_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming EXACT dedup in the curation gate, under
    the at-least-once delivery model (the stream unioned with itself, so
    EVERY document arrives at least twice — cf. stream_dedup_watermark):
    an exact_dedup stage keyed on the sha2 text digest (the same digest
    the batch stage groups on) keeps one survivor per distinct text inside
    the horizon. The output is the survivors' digests WITHOUT a
    re-distinct — a broken gate would emit duplicate digests and fail the
    oracle's row count, not just its values. State: one 32-byte digest per
    surviving document per horizon."""
    from scylla_migrator_spark.plans.curate import CurationConfig, curate_stream

    stage = _docs_halves_stage(spark, sf_dir)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": stage},
            "stages": [{"op": "exact_dedup", "withinWatermark": "1 hour"}],
        }
    )

    def half_stream():
        return _replay_stream(spark, stage).withColumn(
            "ts", F.timestamp_seconds(F.lit(1_700_000_000))
        )

    doubled = half_stream().union(half_stream())
    survivors = _run_available_now(
        curate_stream(doubled, cfg).select("text"), "append"
    )
    return survivors.select(
        F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("digest16")
    )


def _semdedup_kmeans_sql(iters: int = 2, n: int = 16, dim: int = 64, tau: float = 0.25) -> str:
    """DuckDB replay of SemDedup over REAL k-means clusters: the same
    shared Lloyd's training CTEs the IVF oracle uses (seed = lowest-``n``
    ids, decimal-exact mean updates), then assignment with the trained
    centroids and the within-cluster lower-id prune rule."""
    parts = [
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        *_kmeans_train_parts(iters, n, dim),
        _kmeans_assign_cte("assigned", f"cent{iters}"),
        f"""pruned AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= {tau})""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT a.vec_id, a.centroid_id::INT AS centroid_id,
           (p.vec_id IS NULL) AS kept
    FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.vec_id
    """
    )


@_register("semdedup_prune", _semdedup_kmeans_sql())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (semantic dedup, arXiv:2303.09540): cluster embeddings by
    nearest k-means centroid (broadcast argmax, no shuffle), prune every
    vector cosine-similar (>= 0.25) to a lower-id member of its cluster.
    The pair join is equi-keyed on centroid_id — work is sum of squared
    cluster sizes, never corpus^2, so cluster BALANCE (real Lloyd's
    training, not a seed stand-in) directly bounds the join cost at scale.
    Centroids come from similarity.kmeans_centroids (deterministic Lloyd's,
    seeded from the 16 lowest ids, decimal-exact mean updates); the oracle
    replays seed, both training rounds, assignment and prune in SQL via the
    same CTEs the IVF oracle uses."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    centroids = _kmeans_centroids_staged(spark, sf_dir)
    return D.semdedup(emb, "vec_id", "embedding", centroids, tau=0.25)


@_register(
    "token_budget_allocation",
    """
    WITH counts AS (
      SELECT source, sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS toks
      FROM documents GROUP BY source),
    t AS (SELECT sum(toks)::BIGINT AS total, sum(1) AS n FROM counts),
    based AS (
      SELECT source, toks,
             (toks * 100000) // total AS base,
             (toks * 100000) % total AS rem
      FROM counts, t),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk,
             (SELECT 100000 - sum(base) FROM based) AS extra
      FROM based)
    SELECT source, toks, (base + CASE WHEN rnk <= extra THEN 1 ELSE 0 END)::BIGINT
             AS alloc_tokens
    FROM ranked
    """,
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing apportionment: split a 100k-token training budget
    across sources proportionally to their token counts with
    largest-remainder rounding (sum(alloc) == budget exactly). The
    distributed stage is the per-source token aggregation; the
    apportionment windows run on the one-row-per-source frame
    (analytics/sampling.py::allocate_token_budget)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.size(TXT.tokens(F.col("text")))).cast("long").alias("toks")
    )
    return SAMP.allocate_token_budget(counts, "source", "toks", budget=100_000)


@_register(
    "sharded_shuffle",
    """
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 8) AS BIGINT) AS hv
      FROM documents)
    SELECT doc_id, (hv % 8)::INT AS shard,
           row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)::BIGINT AS pos
    FROM h
    """,
)
def sharded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle layout: md5-derived shard id + intra-
    shard position (analytics/sampling.py::shard_layout). Reproducible and
    input-order-independent; per-shard windows avoid any global sort. The
    100 TB write is partitionBy(shard) + sortWithinPartitions(pos)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return SAMP.shard_layout(docs, "doc_id", n_shards=8).select("doc_id", "shard", "pos")


@_register(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE
    {_dup_pairs_cte(60, "prs")},
    {_closure_cte("prs")},
    comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
    full_assign AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY n_chars DESC, doc_id) AS rnk
      FROM full_assign)
    SELECT component::BIGINT AS component, doc_id AS keeper_id,
           n_chars AS keeper_n_chars,
           (SELECT count(*) FROM full_assign f WHERE f.component = ranked.component)::BIGINT
             AS n_members
    FROM ranked WHERE rnk = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RETENTION POLICY: given near-dup components (simhash graph,
    same as dedup_components), keep the highest-quality member of each
    group — here max n_chars, ties to the lowest doc_id — instead of the
    arbitrary min-id. Isolated documents form their own singleton
    component. This is the keep-best step of a production dedup pipeline
    (components -> policy join -> survivors); one extra shuffle on the
    component key beyond the fixpoint itself."""
    from pyspark.sql.window import Window

    from scylla_migrator_spark.analytics.components import connected_components

    edges = _read_parquet_immutable(spark, _simhash_star_edges_staged(spark, sf_dir))
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges)).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = docs.join(comp, "doc_id", "left").withColumn(
        "component", F.coalesce("component", F.col("doc_id"))
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        assigned.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("component")))
        .filter(F.col("rnk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keeper_id"),
            F.col("n_chars").alias("keeper_n_chars"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


@_register(
    "quality_percentile_filter",
    """
    WITH toks AS (
      SELECT doc_id, source, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents),
    thr AS (SELECT quantile_cont(n_tokens, 0.5) AS t FROM toks)
    SELECT source, count(*) AS n_kept, min(n_tokens)::BIGINT AS min_tokens
    FROM toks, thr WHERE n_tokens >= t GROUP BY source
    """,
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: keep documents at or above the corpus
    median token count. The threshold is a scalar aggregate broadcast into
    the filter (the q11/q22 pattern) — one pass to compute it, one
    filtered pass to apply it; no global sort, no per-row window. At
    100 TB swap the exact percentile for approx_percentile and the plan
    shape is unchanged."""
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(TXT.tokens(F.col("text"))).alias("n_tokens")
    )
    thr = toks.agg(F.percentile("n_tokens", F.lit(0.5)).alias("t"))
    return (
        toks.join(F.broadcast(thr))
        .filter(F.col("n_tokens") >= F.col("t"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
        )
    )


@_register(
    "stratified_eval_sample",
    """
    WITH h AS (
      SELECT doc_id, source, lang,
             CAST('0x' || substr(md5(doc_id::VARCHAR || 'eval'), 1, 8) AS BIGINT) AS hv
      FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY source, lang
                                       ORDER BY hv, doc_id) AS rn FROM h)
    SELECT doc_id, source, lang, rn::BIGINT AS rn FROM r WHERE rn <= 5
    """,
)
def stratified_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out eval-set construction: exactly 5 documents per
    (source, lang) stratum, chosen by a salted md5 rank — deterministic
    and engine-reproducible for a given corpus. One hash-partitioned
    window per stratum; no global sort. The companion rate-based sampler
    (sampling.deterministic_sample) is the scan-stage filter for
    proportional samples and is the one that stays stable under corpus
    growth; fixed-N rank selection necessarily re-ranks when rows are
    added (analytics/sampling.py::stratified_topn)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return SAMP.stratified_topn(docs, ["source", "lang"], "doc_id", n=5, salt="eval").select(
        "doc_id", "source", "lang", "rn"
    )


@_register(
    "ddb_variant_type_extract",
    """
    SELECT o_orderstatus AS status, count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def ddb_variant_type_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 on Spark 4's native VARIANT type: DynamoDB-JSON items (the
    reference's DdbValue model, DdbValue.scala:20-31 / S3-export codec)
    parsed once with ``parse_json`` into a VariantType column, fields
    extracted with ``try_variant_get`` path expressions, numbers recovered
    exactly through decimal casts. Variant keeps the item schemaless (any
    attribute set per row) while the binary encoding stays columnar-friendly
    — the modern alternative to the fixed-depth struct codec in
    functions/ddb_variant.py, which remains the comparison/canonicalization
    path. The parse is one codegen'd expression per row; the aggregate is an
    ordinary partial-agg shuffle."""
    orders = _fan(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    items = orders.select(F.parse_json(_orders_ddb_item_json()).alias("item"))
    extracted = items.select(
        F.try_variant_get("item", "$.status.S", "string").alias("status"),
        F.try_variant_get("item", "$.price.N", "string").cast("decimal(18,2)").alias("price"),
    )
    return extracted.groupBy("status").agg(
        F.count("*").alias("cnt"),
        F.sum("price").cast("double").alias("sum_price"),
    )


@_register("sketch_merge_distinct")  # rows-only: sketch estimates are engine-specific
def sketch_merge_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — THE 100 TB aggregation pattern:
    each source builds a constant-size HLL sketch of its users (partial
    aggregation, no shuffle of raw ids), the sketches union into a global
    estimate (bytes merged, not rows). This is how cross-partition /
    cross-day / cross-table distinct counts compose at scale without a
    re-scan: persist the per-group sketch column, union-agg on demand.
    Accuracy vs exact distinct is asserted within tolerance in
    tests/test_approx.py; the estimate itself is engine-specific (DuckDB's
    HLL differs), so this is a declared rows-only entry like
    approx_aggregates."""
    ev = _t(spark, sf_dir, "events")
    per_source = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count("*").alias("n_events"),
    )
    return per_source.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_events").alias("total_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct_users"),
    )


@_register(
    "point_in_time_features",
    """
    WITH c AS (SELECT event_id AS click_event_id, user_id, epoch_us(ts)::BIGINT AS click_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts)::BIGINT AS feat_us, event_id AS feat_event_id,
                 value AS feat_value
          FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT c.click_event_id, c.user_id, c.click_us, p.feat_us, p.feat_event_id,
             p.feat_value,
             row_number() OVER (PARTITION BY c.click_event_id
                                ORDER BY p.feat_us DESC, p.feat_event_id DESC) AS rn
      FROM c JOIN p ON c.user_id = p.user_id AND p.feat_us < c.click_us)
    SELECT click_event_id, user_id, click_us, feat_us, feat_event_id,
           round(feat_value, 6) AS feat_value
    FROM cand WHERE rn = 1
    """,
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe point-in-time feature join (the feature-store
    correctness primitive for training data): each click gets the same
    user's most recent purchase feature STRICTLY BEFORE it — a feature
    recorded at the prediction instant is future information and must not
    leak. Same single-shuffle union-sort plan as the inclusive as-of
    (operators/asof.py, strict=True); only the equal-timestamp sort order
    of the two sides differs."""
    from scylla_migrator_spark.operators.asof import asof_join

    ev_v = _t(spark, sf_dir, "events").select(
        "event_id", F.expr("ts DIV 1000").alias("ts_us"), "user_id", "event_type", "value"
    )
    clicks = ev_v.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts_us").alias("click_us"),
    )
    purchases = ev_v.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("feat_us"),
        F.col("event_id").alias("feat_event_id"),
        F.col("value").alias("feat_value"),
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="click_us",
        right_ts="feat_us",
        tiebreak="feat_event_id",
        how="inner",
        strict=True,
    )
    return out.select(
        "click_event_id",
        "user_id",
        "click_us",
        "feat_us",
        "feat_event_id",
        F.round("feat_value", 6).alias("feat_value"),
    )


@_register("stream_scd2_history", ORACLES["scd2_event_history"])
def stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-maintained SCD2 (streaming/scd_cdc.py): the change
    feed arrives as TWO micro-batches split at the median event time —
    arbitrary disorder inside each batch, per-key monotone across batches
    (the CDC log-offset property the maintainer requires; see
    scd_cdc.py) — and foreachBatch folds each into the served history by
    re-collapsing only the affected keys' prior versions with the new
    rows. After the replay the serving table must equal the batch
    scd2_event_history exactly (same oracle) — the incremental
    maintenance invariant."""
    import tempfile
    import uuid

    from scylla_migrator_spark.streaming.scd_cdc import incremental_scd2

    stage = _events_time_halves_stage(spark, sf_dir)
    schema = _read_parquet_immutable(spark, stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one half per micro-batch
        .parquet(stage)
        .select(
            "user_id",
            "event_type",
            F.expr("ts DIV 1000").alias("ts_us"),  # staged ts is nanos long
            "event_id",
        )
    )
    serving = tempfile.mkdtemp(prefix="sgs_scd2_") + f"/serving_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = incremental_scd2(
            stream,
            serving,
            ["user_id"],
            "ts_us",
            ["event_type"],
            "event_id",
            tempfile.mkdtemp(prefix="sgs_scd2_ckpt_"),
        )
        q.awaitTermination()
    return spark.read.parquet(serving).select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to_us"),
        "is_current",
    )


@_register(
    "unigram_nll_score",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    t AS (SELECT sum(c)::BIGINT AS total FROM cnt),
    scored AS (
      SELECT doc_id, CAST(-ln(c / total) AS DECIMAL(18,9)) AS nll
      FROM toks JOIN cnt USING (w), t)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def unigram_nll_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-family quality gate: mean unigram -ln p(w) per document
    under the corpus's own distribution (analytics/text.py::unigram_nll).
    Per-token terms truncate to decimal(18,9) before the sum — the
    order-independent-reduction trick (embedding_centroids) applied to a
    transcendental, so the score is batch/shuffle/engine stable."""
    return TXT.unigram_nll(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id")


# ---------------------------------------------------------------------------
# round-4b: tokenizer training, exact-substring duplication, DSIR selection


@_register(
    "bpe_pair_stats",
    """
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents)
      WHERE length(w) > 0 GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 1) AS p1, substr(w, i + 1, 1) AS p2, cnt
      FROM words, unnest(generate_series(1, length(w) - 1)) AS u(i))
    SELECT p1, p2, sum(cnt)::BIGINT AS pair_count
    FROM pairs GROUP BY p1, p2
    ORDER BY pair_count DESC, p1, p2 LIMIT 20
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training round 0 observable: the top-20 adjacent character pairs
    by frequency-weighted count over the word table (the argmax of round 1
    is this table's first row). The corpus collapses to the distinct-word
    frequency table before any pair work — the compression that makes BPE
    training tractable at corpus scale (analytics/tokenizer.py)."""
    words = TOK.word_frequency_table(_fan(_t(spark, sf_dir, "documents")))
    return TOK.top_pairs(words, 20)


def _bpe_train_sql(n_merges: int = 8) -> str:
    """DuckDB replay of the FULL iterative BPE trainer, one unrolled CTE
    trio per round (the same unrolling trick as the k-means oracle): the
    segmentation state is a sentinel-framed piece string per word
    (``␂a␁␂b␁␂c␁`` — see _bpe_state_parts for why BOTH a start and an end
    sentinel per piece are required), pair counts come from the split
    state, the argmax uses the trainer's exact tie-break (count desc, then
    p1, p2), and the merge applies as ``replace(seg, ␂p1␁␂p2␁ -> ␂p1p2␁)``
    — boundary-anchored, left-to-right non-overlapping, exactly the greedy
    merge_pair fold."""
    parts = _bpe_state_parts(n_merges)
    union = "\n    UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, p1, p2, pair_count FROM best{r}"
        for r in range(n_merges)
    )
    return ",\n    ".join(parts) + "\n    " + union


def _bpe_state_parts(n_merges: int, wordpiece: bool = False, prefix: str = "") -> list[str]:
    """The unrolled BPE training-state CTEs (shared by the trainer oracle
    and the encoder oracle): ``{prefix}state{r}`` is the per-word segmentation
    after ``r`` merges, ``{prefix}best{r}`` the rule learned in round r+1. With
    ``wordpiece=True`` the per-round argmax swaps to the likelihood score
    pair_count / (c1 * c2) over the same state (the WordPiece trainer);
    the state encoding and merge replace are identical. ``prefix`` renames
    every per-round CTE so two families can compose in ONE oracle
    (tokenizer_vocab_overlap) without name collisions; the shared
    ``words`` CTE is emitted only by the unprefixed family.

    Encoding: every piece is ``chr(2) piece chr(1)`` — a START sentinel
    AND an END sentinel per piece, so the merge pattern
    ``␂p1␁␂p2␁ -> ␂p1p2␁`` can only match at real piece boundaries. A
    trailing-delimiter-only encoding is WRONG: its pattern matches
    mid-symbol (state [xa, b] with rule (a, b) would merge to [xab],
    which the engine's merge_pair never does). With per-piece sentinels,
    adjacent matches share no characters, so string replace's
    left-to-right non-overlapping scan is exactly the greedy fold
    ([a,a,a,a] -> [aa,aa], [a,a,a] -> [aa,a] — both verified). Neither
    sentinel can occur inside a whitespace-split token of the fixture
    corpus (verified: tokens are pure ASCII letters)."""
    s, e = "chr(2)", "chr(1)"
    parts = [
        r"""WITH words AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
            FROM documents) t
      WHERE len(w) > 0 GROUP BY w)""",
        f"""{prefix}state0 AS MATERIALIZED (
      SELECT word, cnt,
             array_to_string(list_transform(generate_series(1, len(word)),
                                            i -> {s} || word[i] || {e}), '') AS seg
      FROM words)""",
    ]
    # pieces-of(seg): drop the final ␁, split on ␁, strip each leading ␂
    pieces = f"list_transform(string_split(rtrim(seg, {e}), {e}), p -> p[2:])"
    for r in range(n_merges):
        parts.append(
            f"""{prefix}pairs{r} AS (
      SELECT p1, p2, sum(cnt)::BIGINT AS pair_count FROM (
        SELECT s.cnt, s.l[g.i] AS p1, s.l[g.i + 1] AS p2
        FROM (SELECT cnt, {pieces} AS l
              FROM {prefix}state{r}) s,
             UNNEST(generate_series(1, len(s.l) - 1)) AS g(i))
      GROUP BY p1, p2)"""
        )
        if wordpiece:
            # WordPiece: per-symbol counts over the same state, argmax by
            # pair_count / (c1 * c2) — the double product is the identical
            # IEEE expression the trainer evaluates
            parts.append(
                f"""{prefix}syms{r} AS MATERIALIZED (
      SELECT s.l[g.i] AS sym, sum(s.cnt)::BIGINT AS c FROM
        (SELECT cnt, {pieces} AS l FROM {prefix}state{r}) s,
        UNNEST(generate_series(1, len(s.l))) AS g(i)
      GROUP BY sym)"""
            )
            parts.append(
                f"""{prefix}best{r} AS MATERIALIZED (
      SELECT p.p1, p.p2, p.pair_count,
             CAST(p.pair_count AS DOUBLE)
               / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS score
      FROM {prefix}pairs{r} p JOIN {prefix}syms{r} a ON a.sym = p.p1
                      JOIN {prefix}syms{r} b ON b.sym = p.p2
      ORDER BY score DESC, p1, p2 LIMIT 1)"""
            )
        else:
            parts.append(
                f"""{prefix}best{r} AS MATERIALIZED (
      SELECT p1, p2, pair_count FROM {prefix}pairs{r}
      ORDER BY pair_count DESC, p1, p2 LIMIT 1)"""
            )
        parts.append(
            f"""{prefix}state{r + 1} AS MATERIALIZED (
      SELECT word, cnt,
             replace(seg, {s} || b.p1 || {e} || {s} || b.p2 || {e},
                     {s} || b.p1 || b.p2 || {e}) AS seg
      FROM {prefix}state{r}, {prefix}best{r} b)"""
        )
    return parts


@_register("bpe_train_merges", _bpe_train_sql(8))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 learned BPE merge rules (rank, pair, count) — the iterative
    trainer (analytics/tokenizer.py::train_bpe). The oracle replays ALL
    eight training rounds in SQL via per-round unrolled CTEs over a
    delimited segmentation state (no recursive CTE needed — the same
    unrolling the IVF k-means oracle uses), upgrading this from the former
    rows-only check; the pure-Python reference pin in
    tests/test_tokenizer.py remains as a second, engine-independent
    witness."""
    return TOK.train_bpe_df(_fan(_t(spark, sf_dir, "documents")), 8)


def _bpe_segment_sql(n_merges: int = 8) -> str:
    """Encoder oracle: documents segmented under the round-``n`` trained
    rules — per-doc word and piece counts derived from the shared unrolled
    training state (the final ``state{n}`` segmentation IS the encoder
    output on the training vocabulary)."""
    e = "chr(1)"
    parts = [
        *_bpe_state_parts(n_merges),
        r"""doc_words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents)""",
        f"""final_pieces AS (
      SELECT word, len(string_split(rtrim(seg, {e}), {e}))::INT AS np
      FROM state{n_merges})""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT dw.doc_id, count(*)::INT AS n_words,
           sum(coalesce(fp.np, 0))::INT AS n_pieces
    FROM doc_words dw LEFT JOIN final_pieces fp ON dw.w = fp.word
    GROUP BY dw.doc_id
    """
    )


@stage("bpe_8", tables=["documents"], code=[_fan, TOK, TXT])
def _bpe_merges_staged(spark: SparkSession, sf_dir: str) -> list:
    """The 8 trained BPE merge rules. Training is deterministic (lexical
    tie-breaks); train_bpe's word table comes from text.tokens, hence
    text.py in the key."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TOK.train_bpe(docs, 8)[0]


@stage("bpe_counts_8", tables=["documents"], inputs=[_bpe_merges_staged], code=[_fan, TOK, TXT])
def _bpe_counts_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (n_words, n_pieces) under the 8 trained BPE merge rules."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    merges = [tuple(m) for m in _bpe_merges_staged(spark, sf_dir)]
    return TOK.segment_with_merges(docs, merges, "text", "doc_id")


@_register("bpe_segment_compression", _bpe_segment_sql(8))
def bpe_segment_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE ENCODER surface as a query: segment every document under the
    8 trained merge rules and report per-doc (n_words, n_pieces) — the
    compression diagnostic a learned vocabulary is judged by. Runs the
    expression-fold engine (8 rules is far below the Arrow switch-over at
    64; the Arrow path is property-pinned equal in tests/test_tokenizer.py).
    The oracle derives the same counts from the shared unrolled training
    state — the final segmentation table IS the encoder's answer on the
    training vocabulary. Rules come from the staged one-train-per-fixture
    cache (bpe_train_merges is the live-training surface; an encoder
    consumer loads the learned vocabulary). The per-doc count table itself
    is staged: the fertility bake-off re-reads it instead of re-running
    the encode."""
    return _bpe_counts_staged(spark, sf_dir)


@_register(
    "substring_dup_fraction",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    wins AS (
      SELECT doc_id,
        CASE WHEN len(t) < 8
             THEN CAST('0x' || substr(md5(array_to_string(t, ' ')), 1, 15) AS BIGINT)
             ELSE CAST('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15) AS BIGINT)
        END AS wh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS u(i)),
    freq AS (SELECT wh, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY wh)
    SELECT doc_id, count(*) AS n_windows,
           sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_windows,
           round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
    FROM wins JOIN freq USING (wh)
    GROUP BY doc_id
    """,
)
def substring_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal: per-document fraction of 8-token
    windows shared verbatim with another document (Lee et al. 2022 at window
    granularity; analytics/dedup.py::substring_duplication). Equi-join on an
    8-byte window hash — never a pair table."""
    return D.substring_duplication(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id", 8)


@_register(
    "dsir_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS tgt,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (
      SELECT w,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS c_t,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS c_r
      FROM toks GROUP BY w),
    s AS (SELECT sum(c_t)::BIGINT AS t_t, sum(c_r)::BIGINT AS t_r,
                 count(*)::BIGINT AS v FROM cnt),
    scored AS (
      SELECT doc_id, tgt,
             CAST(ln((c_t + 1) / (t_t + v)) - ln((c_r + 1) / (t_r + v))
                  AS DECIMAL(18,9)) AS lw
      FROM toks JOIN cnt USING (w), s)
    SELECT doc_id, count(*) AS n_tokens,
           round(CAST(sum(lw) AS DOUBLE), 6) AS log_weight
    FROM scored WHERE NOT tgt GROUP BY doc_id
    ORDER BY log_weight DESC, doc_id ASC LIMIT 20
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): the 20 non-English-slice
    documents whose unigram distribution most resembles the lang='en' target
    slice, by add-one-smoothed log importance weight
    (analytics/selection.py). Decimal-truncated per-token terms make the
    transcendental sum shuffle-order exact."""
    from scylla_migrator_spark.analytics import selection as SEL

    return SEL.dsir_select_topk(
        _fan(_t(spark, sf_dir, "documents")), F.col("lang") == "en", 20
    )


@_register(
    "longest_dup_run",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    wins AS (
      SELECT doc_id, i AS pos,
        CASE WHEN len(t) < 8
             THEN CAST('0x' || substr(md5(array_to_string(t, ' ')), 1, 15) AS BIGINT)
             ELSE CAST('0x' || substr(md5(array_to_string(list_slice(t, i, i + 7), ' ')), 1, 15) AS BIGINT)
        END AS wh
      FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 1))) AS u(i)),
    freq AS (SELECT wh, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY wh),
    shared AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN freq USING (wh) WHERE n_docs >= 2),
    runs AS (
      SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM shared),
    runlen AS (SELECT doc_id, count(*) AS run FROM runs GROUP BY doc_id, grp),
    m AS (SELECT doc_id, max(run) AS max_run FROM runlen GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(m.max_run, 0) AS BIGINT) AS max_dup_run
    FROM documents d LEFT JOIN m USING (doc_id)
    """,
)
def longest_dup_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated-substring approximation: max consecutive run of
    8-token windows shared with another document (islands-and-gaps over the
    substring_duplication window table; dedup.longest_shared_run)."""
    return D.longest_shared_run(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id", 8)


@_register(
    "bigram_entropy_scores",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
        CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
             ELSE array_to_string(list_slice(t, i, i + 1), ' ') END AS gram
      FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS u(i)),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram),
    tot AS (SELECT doc_id, sum(c)::BIGINT AS m FROM cnt GROUP BY doc_id),
    terms AS (
      SELECT doc_id, CAST(-(c / m) * ln(c / m) AS DECIMAL(18,9)) AS term
      FROM cnt JOIN tot USING (doc_id))
    SELECT doc_id, round(CAST(sum(term) AS DOUBLE), 6) AS bigram_entropy
    FROM terms GROUP BY doc_id
    """,
)
def bigram_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Shannon entropy per document (text.bigram_entropy) — the
    distribution-wide diversity signal next to repetition_filter's
    single-worst-bigram fraction. Decimal-truncated -(p ln p) terms."""
    return TXT.bigram_entropy(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id")


@_register(
    "dsir_gumbel_sample",
    """
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS tgt,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (
      SELECT w,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS c_t,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS c_r
      FROM toks GROUP BY w),
    s AS (SELECT sum(c_t)::BIGINT AS t_t, sum(c_r)::BIGINT AS t_r,
                 count(*)::BIGINT AS v FROM cnt),
    scored AS (
      SELECT doc_id, tgt,
             CAST(ln((c_t + 1) / (t_t + v)) - ln((c_r + 1) / (t_r + v))
                  AS DECIMAL(18,9)) AS lw
      FROM toks JOIN cnt USING (w), s),
    agg AS (
      SELECT doc_id, round(CAST(sum(lw) AS DOUBLE), 6) AS log_weight
      FROM scored WHERE NOT tgt GROUP BY doc_id)
    SELECT doc_id, log_weight,
      round(log_weight + CAST(CAST(
        -ln(-ln((CAST('0x' || substr(md5(doc_id || ':gumbel0'), 1, 8) AS BIGINT) + 0.5)
                / 4294967296.0))
        AS DECIMAL(18,9)) AS DOUBLE), 6) AS gumbel_score
    FROM agg
    ORDER BY gumbel_score DESC, doc_id ASC LIMIT 20
    """,
)
def dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR weighted sampling via derandomized Gumbel-top-k
    (selection.dsir_gumbel_topk): top-k of log_weight + Gumbel(md5(id:seed))
    == sampling w/o replacement proportional to the importance weights."""
    from scylla_migrator_spark.analytics import selection as SEL

    return SEL.dsir_gumbel_topk(
        _fan(_t(spark, sf_dir, "documents")), F.col("lang") == "en", 20
    )


@_register(
    "multimodal_gif_meta",
    # Oracle replays the deterministic geometry/frame counts the Spark side
    # encodes into REAL GIF89a block streams and parses back by walking the
    # block structure (analytics/multimodal.decode_gif).
    """
    SELECT doc_id AS asset_id, 'image' AS kind,
           CAST(8 + doc_id % 31 AS INT) AS width,
           CAST(8 + doc_id % 23 AS INT) AS height,
           CAST(1 + doc_id % 12 AS INT) AS n_frames
    FROM documents
    """,
)
def multimodal_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF header decode: build genuine GIF89a block streams (screen
    descriptor + per-frame graphic-control extension and image descriptor)
    per document, then parse dimensions and animation frame count back with
    the stdlib block walker (analytics/multimodal.decode_gif) — n_frames is
    the input a video-style frame-sampling plan needs for animated
    training images."""
    from scylla_migrator_spark.analytics.multimodal import (
        decode_assets_meta,
        make_asset_table,
        synth_gif_assets,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.lit(8) + F.col("doc_id") % 31).cast("int").alias("w"),
        (F.lit(8) + F.col("doc_id") % 23).cast("int").alias("h"),
        (F.lit(1) + F.col("doc_id") % 12).cast("int").alias("n"),
    )
    gifs = synth_gif_assets(docs, "doc_id", "w", "h", "n")
    assets = make_asset_table(gifs, "asset_id", "data", kind="image", mime="image/gif")
    meta = decode_assets_meta(assets)
    return meta.select("asset_id", "kind", "width", "height", "n_frames")


@_register(
    "bigram_nll_score",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c)::BIGINT AS cp FROM c2 GROUP BY w1),
    v AS (SELECT count(DISTINCT w)::BIGINT AS v
          FROM (SELECT unnest(t) AS w FROM toks)),
    scored AS (
      SELECT doc_id, CAST(-ln((c + 1) / (cp + v)) AS DECIMAL(18,9)) AS nll
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v)
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_bigram_nll
    FROM scored GROUP BY doc_id
    """,
)
def bigram_nll_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram-LM perplexity-family gate (text.bigram_nll):
    mean -ln p(w_i | w_{i-1}) under the corpus's own smoothed bigram LM —
    transition-level surprise vs unigram_nll_score's token-level."""
    return TXT.bigram_nll(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id")


@_register(
    "collocation_pmi_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    c12 AS (SELECT w1, w2, count(*)::BIGINT AS pair_count FROM bg GROUP BY w1, w2),
    cl AS (SELECT w1, sum(pair_count)::BIGINT AS cl FROM c12 GROUP BY w1),
    cr AS (SELECT w2, sum(pair_count)::BIGINT AS cr FROM c12 GROUP BY w2),
    m AS (SELECT sum(pair_count)::BIGINT AS m FROM c12)
    SELECT w1, w2, pair_count,
           round(ln(pair_count::DOUBLE * m / (cl::DOUBLE * cr)), 6) AS pmi
    FROM c12 JOIN cl USING (w1) JOIN cr USING (w2), m
    WHERE pair_count >= 5
    """,
)
def collocation_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction (text.collocation_pmi): PMI of adjacent
    word pairs vs their slot marginals, support-filtered — multiword-unit
    mining / tokenizer merge seeding / boilerplate detection."""
    return TXT.collocation_pmi(
        _fan(_t(spark, sf_dir, "documents")), "text", "doc_id", min_count=5
    )


@_register(
    "fk_integrity_audit",
    """
    WITH edges AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk_edge, count(*)::BIGINT AS total,
             count(*) FILTER (l_orderkey IS NULL)::BIGINT AS n_null,
             count(*) FILTER (l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)::BIGINT AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part', count(*),
             count(*) FILTER (l_partkey IS NULL),
             count(*) FILTER (l_partkey IS NOT NULL AND p.p_partkey IS NULL)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier', count(*),
             count(*) FILTER (l_suppkey IS NULL),
             count(*) FILTER (l_suppkey IS NOT NULL AND s.s_suppkey IS NULL)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer', count(*),
             count(*) FILTER (o_custkey IS NULL),
             count(*) FILTER (o_custkey IS NOT NULL AND c.c_custkey IS NULL)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation', count(*),
             count(*) FILTER (c_nationkey IS NULL),
             count(*) FILTER (c_nationkey IS NOT NULL AND n.n_nationkey IS NULL)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation', count(*),
             count(*) FILTER (s_nationkey IS NULL),
             count(*) FILTER (s_nationkey IS NOT NULL AND n.n_nationkey IS NULL)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey->region', count(*),
             count(*) FILTER (n_regionkey IS NULL),
             count(*) FILTER (n_regionkey IS NOT NULL AND r.r_regionkey IS NULL)
      FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey)
    SELECT * FROM edges
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the schema's FK edges — the
    pre-migration health check that belongs next to the validator family
    (reference posture: `plans/validate.py` diffs rows AFTER a copy; this
    audits the relational contract BEFORE one). One row per FK edge:
    (total child rows, NULL FKs, orphans). A NULL FK references nothing
    and is counted separately, not as an orphan.

    Scale shape: each edge is one left join + one map-side-combined
    aggregate over (is-null flags); dimension parents (region, nation,
    supplier, customer, part) broadcast, the one large-large edge
    (lineitem->orders) is a plain equi-shuffle AQE handles. The parent
    side projects ONLY its key column, so the join build never carries
    payload. The seven 1-row aggregates union into one result — no
    driver-side loop over collected counts."""

    def edge(child, fk, parent, pk, label):
        c = _fan(_t(spark, sf_dir, child).select(F.col(fk)))
        p = _t(spark, sf_dir, parent).select(F.col(pk))
        if parent != "orders":
            p = F.broadcast(p)
        joined = c.join(p, c[fk] == p[pk], "left")
        return joined.agg(
            F.lit(label).alias("fk_edge"),
            F.count("*").alias("total"),
            F.sum(F.col(fk).isNull().cast("long")).alias("n_null"),
            F.sum(
                (F.col(fk).isNotNull() & F.col(pk).isNull()).cast("long")
            ).alias("n_orphans"),
        )

    parts = [
        edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        edge("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        edge("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        edge("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"),
        edge("customer", "c_nationkey", "nation", "n_nationkey", "customer.c_nationkey->nation"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey", "supplier.s_nationkey->nation"),
        edge("nation", "n_regionkey", "region", "r_regionkey", "nation.n_regionkey->region"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "intra_doc_dup_windows",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    wins AS (
      SELECT doc_id,
        CASE WHEN len(t) < 8
             THEN [array_to_string(t, ' ')]
             ELSE list_transform(generate_series(1, len(t) - 7),
                                 i -> array_to_string(list_slice(t, i, i + 7), ' '))
        END AS w
      FROM toks)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_windows,
           round(1 - len(list_distinct(w)) / len(w), 6) AS intra_dup_frac
    FROM wins
    """,
)
def intra_doc_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document window repetition (dedup.intra_doc_duplication):
    boilerplate/looping-text signal as a pure scan-stage projection."""
    return D.intra_doc_duplication(_fan(_t(spark, sf_dir, "documents")), "text", "doc_id", 8)


@_register(
    "embedding_top_pc",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    p1 AS (SELECT vec_id, i, CAST(x[i] * 1.0 AS DECIMAL(18,9)) AS p
           FROM e, unnest(generate_series(1, 64)) AS u(i)),
    d1 AS (SELECT vec_id, sum(p) AS dot FROM p1 GROUP BY vec_id),
    t1 AS (SELECT u.i, sum(CAST(e.x[u.i] * CAST(d1.dot AS DOUBLE) AS DECIMAL(18,9))) AS t
           FROM e JOIN d1 USING (vec_id), unnest(generate_series(1, 64)) AS u(i)
           GROUP BY u.i),
    n1 AS (SELECT sqrt(sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))) AS nrm FROM t1),
    v1 AS (SELECT i, round(CAST(t AS DOUBLE) / nrm, 6) AS v FROM t1, n1),
    p2 AS (SELECT e.vec_id, v1.i, CAST(e.x[v1.i] * v1.v AS DECIMAL(18,9)) AS p
           FROM e, v1),
    d2 AS (SELECT vec_id, sum(p) AS dot FROM p2 GROUP BY vec_id),
    t2 AS (SELECT u.i, sum(CAST(e.x[u.i] * CAST(d2.dot AS DOUBLE) AS DECIMAL(18,9))) AS t
           FROM e JOIN d2 USING (vec_id), unnest(generate_series(1, 64)) AS u(i)
           GROUP BY u.i),
    n2 AS (SELECT sqrt(sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE))) AS nrm FROM t2)
    SELECT t2.i AS dim_idx, round(CAST(t2.t AS DOUBLE) / n2.nrm, 6) AS pc
    FROM t2, n2
    """,
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding Gram matrix by two
    distributed power iterations (analytics/linalg.py): all-ones start,
    per-iteration one corpus pass of 64 decimal-truncated aggregates, 6-dp
    normalize between iterations — every arithmetic step replayed exactly
    by the SQL oracle."""
    from scylla_migrator_spark.analytics import linalg as LA

    return LA.top_pc_df(_fan(_t(spark, sf_dir, "embeddings")), "embedding", 2, 64)


@_register(
    "curation_pipeline_report",
    f"""
    WITH s0 AS (SELECT doc_id, text, lang FROM documents),
    s1 AS (SELECT * FROM s0
           WHERE len({_TOKENS}) >= 20),
    s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'es')),
    toks AS (SELECT doc_id, {_TOKENS} AS t FROM s2),
    bg AS (SELECT doc_id, len(t) AS n, t[i] || ' ' || t[i + 1] AS gram
           FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM bg GROUP BY doc_id, n, gram),
    rep AS (SELECT doc_id, round(max(c) / (any_value(n) - 1.0), 6) AS frac
            FROM cnt GROUP BY doc_id),
    s3 AS (SELECT s2.* FROM s2 JOIN rep USING (doc_id) WHERE frac <= 0.2),
    s4 AS (SELECT * FROM s3
           WHERE doc_id IN (SELECT min(doc_id) FROM s3 GROUP BY sha256(text)))
    SELECT stage, rows_after FROM (VALUES
      ('stage00_input',             (SELECT count(*) FROM s0)),
      ('stage01_length_filter',     (SELECT count(*) FROM s1)),
      ('stage02_lang_filter',       (SELECT count(*) FROM s2)),
      ('stage03_repetition_filter', (SELECT count(*) FROM s3)),
      ('stage04_exact_dedup',       (SELECT count(*) FROM s4))
    ) AS v(stage, rows_after)
    """,
)
def curation_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config-driven curation pipeline (plans/curate.py) end-to-end:
    YAML-shaped stage list -> one composed plan -> per-stage survivor
    counts OBSERVED on a single action (pyspark Observation riding the
    output count — auditing costs zero extra passes). The oracle recomputes
    every stage's surviving set in SQL."""
    from scylla_migrator_spark.plans.curate import CurationConfig, curate

    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"{sf_dir}/documents.parquet"},
            "stages": [
                {"op": "length_filter", "minTokens": 20},
                {"op": "lang_filter", "allow": ["en", "es"]},
                {"op": "repetition_filter", "maxTopBigramFrac": 0.2},
                {"op": "exact_dedup"},
            ],
        }
    )
    result = curate(spark, cfg)
    result.df.count()  # the single action the observations ride
    counts = result.counts()
    return spark.createDataFrame(
        sorted(counts.items()), "stage STRING, rows_after BIGINT"
    )


@_register(
    "stream_curation_gate",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20
      AND lang IN ('en', 'es')
    """,
)
def stream_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation gate on a LIVE FEED: the same config stage list that
    curates a batch corpus (plans/curate.py) applied to a file stream of the
    documents table delivered as two micro-batches — after the replay, the
    gated stream equals the batch filter (batch/stream unification)."""
    from scylla_migrator_spark.plans.curate import CurationConfig, curate_stream

    stage = _docs_halves_stage(spark, sf_dir)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": stage},  # schema source
            "stages": [
                {"op": "length_filter", "minTokens": 20},
                {"op": "lang_filter", "allow": ["en", "es"]},
            ],
        }
    )
    stream = _replay_stream(spark, stage)
    gated = curate_stream(stream, cfg).select("doc_id", "lang")
    return _run_available_now(gated, "append")


def _stream_near_dedup_sql(min_tokens: int = 5, num_hashes: int = 16) -> str:
    """Oracle for the watermark-bounded streaming near-dedup gate: the
    surviving stream carries exactly ONE document per MinHash-signature
    group (keeper = first arrival — micro-batch order — which the group-
    level output makes irrelevant), so the survivor signature set equals
    the distinct signature set of the filtered corpus. Signature constants
    replay text.py's shared affine family, like the minhash_lsh_pairs
    oracle."""
    cols = ", ".join(f"m{i}" for i in range(num_hashes))
    return f"""
    WITH filt AS (
      SELECT doc_id, text FROM documents
      WHERE len({_TOKENS}) >= {min_tokens}),
    {_minhash_sig_cte("filt", num_hashes)}
    SELECT DISTINCT substr(sha256(concat_ws(',', {cols})), 1, 16) AS sig16
    FROM sig
    """


@_register("stream_near_dedup_gate", _stream_near_dedup_sql())
def stream_near_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming NEAR-dedup (the gate curate_stream used
    to reject): the documents table replayed as two micro-batches through a
    curation config whose near_dedup stage attaches the per-row MinHash
    signature column (dedup.py::minhash_signature_col — values identical to
    the batch signature) and drops, via dropDuplicatesWithinWatermark,
    every later arrival whose full signature matches an earlier document
    inside the watermark. One survivor per signature group; the output is
    the survivor GROUP set (first-arrival keeper identity is micro-batch-
    order-dependent, the group set is not). State is bounded by the
    watermark horizon — at 100 TB rates, one 32-byte key per surviving doc
    per horizon."""
    from scylla_migrator_spark.plans.curate import CurationConfig, curate_stream

    stage = _docs_halves_stage(spark, sf_dir)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": stage},  # schema source
            "stages": [
                {"op": "length_filter", "minTokens": 5},
                {
                    "op": "near_dedup",
                    "numHashes": 16,
                    "bands": 1,
                    "withinWatermark": "1 hour",
                },
            ],
        }
    )
    # any modern fixed event time: epoch 0 would sit ON the operator's
    # initial watermark and every row would be dropped as late
    stream = _replay_stream(spark, stage).withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000))
    )
    gated = curate_stream(stream, cfg).select("doc_id", "text")
    survivors = _run_available_now(gated, "append")
    sig = D.minhash_signature_col(F.col("text"), num_hashes=16)
    return survivors.select(
        F.substring(
            F.sha2(F.concat_ws(",", F.transform(sig, lambda m: m.cast("string"))), 256),
            1,
            16,
        ).alias("sig16")
    ).distinct()


@_register(
    "source_js_divergence",
    """
    WITH toks AS (
      SELECT source AS src, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (SELECT src, w, count(*) AS c FROM toks GROUP BY src, w),
    tot AS (SELECT src, sum(c)::BIGINT AS t FROM cnt GROUP BY src),
    p AS (SELECT src, w, c / t AS p FROM cnt JOIN tot USING (src)),
    pairs AS (
      SELECT a.src AS sa, b.src AS sb
      FROM (SELECT DISTINCT src FROM p) a, (SELECT DISTINCT src FROM p) b
      WHERE a.src < b.src),
    wp AS (
      SELECT DISTINCT pr.sa, pr.sb, c.w
      FROM pairs pr JOIN p c ON c.src = pr.sa OR c.src = pr.sb),
    joined AS (
      SELECT wp.sa, wp.sb,
             coalesce(pa.p, 0) AS pv, coalesce(pb.p, 0) AS qv
      FROM wp
      LEFT JOIN p pa ON pa.src = wp.sa AND pa.w = wp.w
      LEFT JOIN p pb ON pb.src = wp.sb AND pb.w = wp.w),
    terms AS (
      SELECT sa, sb, CAST(
        CASE WHEN pv > 0 THEN 0.5 * pv * ln(pv / ((pv + qv) / 2)) ELSE 0 END
        + CASE WHEN qv > 0 THEN 0.5 * qv * ln(qv / ((pv + qv) / 2)) ELSE 0 END
        AS DECIMAL(18,9)) AS term
      FROM joined)
    SELECT sa, sb, round(CAST(sum(term) AS DOUBLE), 6) AS js_divergence
    FROM terms GROUP BY sa, sb
    """,
)
def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift matrix: pairwise Jensen-Shannon divergence between
    every two sources' unigram distributions (selection.source_js_divergence)
    — decimal-truncated KL terms, one token pass, pair-expansion bounded by
    |source pairs| x vocab."""
    from scylla_migrator_spark.analytics import selection as SEL

    return SEL.source_js_divergence(_fan(_t(spark, sf_dir, "documents")), "source", "text")


@_register(
    "cross_corpus_lsh_pairs",
    f"""
    WITH {_minhash_sig_cte()},
    {_MINHASH_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.bh = b.bh
    WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    """,
)
def cross_corpus_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset near-dup probe (dedup.cross_corpus_lsh_candidates):
    corpus A = even doc_ids (the existing training set / its precomputed
    banded-signature index), corpus B = odd doc_ids (the new snapshot).
    Only cross-side bucket pairs materialize; the oracle replays the exact
    MinHash pipeline in SQL with the side filter."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return D.cross_corpus_lsh_candidates(a, b, "text", "doc_id", 16, 4)


@_register(
    "normalized_dedup_groups",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                 '\\s+', ' ', 'g')) AS nt
      FROM documents)
    SELECT sha256(nt) AS digest, min(doc_id) AS keeper_id,
           count(*) AS dup_count
    FROM norm GROUP BY sha256(nt)
    """,
)
def normalized_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonical normalization (text.normalize_text:
    case/punct/whitespace-insensitive) — catches the reformatted-copy class
    that byte-exact dedup misses, still at digest-groupBy cost."""
    docs = _fan(_t(spark, sf_dir, "documents")).select(
        "doc_id", TXT.normalize_text(F.col("text")).alias("text")
    )
    return D.exact_dedup(docs, "text", "doc_id")


@_register(
    "length_histogram_by_source",
    """
    WITH n AS (
      SELECT source, len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents)
    SELECT source, CAST(nt // 8 AS INT) AS bucket,
           CAST(nt // 8 * 8 AS INT) AS bucket_lo,
           count(*) AS docs, sum(nt)::BIGINT AS tokens
    FROM n GROUP BY source, nt // 8
    """,
)
def length_histogram_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: token-count histogram (8-token buckets) per
    source — the length-distribution drift/profiling companion to
    column_completeness_profile. One pass, map-side combined."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    nt = TXT.token_count(F.col("text"))
    return (
        docs.select("source", nt.alias("nt"))
        .groupBy("source", (F.col("nt") / 8).cast("int").alias("bucket"))
        .agg(F.count("*").alias("docs"), F.sum("nt").alias("tokens"))
        .select(
            "source",
            "bucket",
            (F.col("bucket") * 8).cast("int").alias("bucket_lo"),
            "docs",
            "tokens",
        )
    )


@_register(
    "drift_top_terms",
    """
    WITH toks AS (
      SELECT (lang = 'en') AS tgt, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents),
    cnt AS (
      SELECT w,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS c_t,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS c_r
      FROM toks GROUP BY w),
    s AS (SELECT sum(c_t)::BIGINT AS t_t, sum(c_r)::BIGINT AS t_r FROM cnt),
    scored AS (
      SELECT w, round(c_t / t_t, 6) AS p_t, round(c_r / t_r, 6) AS p_r,
             round(abs(c_t / t_t - c_r / t_r), 6) AS abs_shift
      FROM cnt, s)
    SELECT w, p_t, p_r, abs_shift FROM scored
    ORDER BY abs_shift DESC, w ASC LIMIT 20
    """,
)
def drift_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift top movers: the 20 words whose unigram probability
    differs most between the lang='en' slice and the rest — the word-level
    drill-down under the JS-divergence matrix. TakeOrdered; one token
    pass."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        (F.col("lang") == "en").alias("tgt"),
        F.explode(TXT.tokens(F.col("text"))).alias("w"),
    )
    cnt = toks.groupBy("w").agg(
        F.sum(F.col("tgt").cast("long")).alias("c_t"),
        F.sum((~F.col("tgt")).cast("long")).alias("c_r"),
    )
    s = cnt.agg(F.sum("c_t").alias("t_t"), F.sum("c_r").alias("t_r"))
    scored = cnt.join(F.broadcast(s)).select(
        "w",
        F.round(F.col("c_t") / F.col("t_t"), 6).alias("p_t"),
        F.round(F.col("c_r") / F.col("t_r"), 6).alias("p_r"),
        F.round(F.abs(F.col("c_t") / F.col("t_t") - F.col("c_r") / F.col("t_r")), 6).alias("abs_shift"),
    )
    return scored.orderBy(F.desc("abs_shift"), F.asc("w")).limit(20)


@_register(
    "count_min_top_tokens",
    """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    h AS (SELECT w, c, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hw FROM cnt),
    rows_ AS (SELECT * FROM (VALUES (0, 1, 7919), (1, 3, 15838), (2, 5, 23757),
                                    (3, 7, 31676)) AS v(row_, a, b)),
    bucketed AS (
      SELECT r.row_, ((h.hw * r.a + r.b) % 4294967311) % 1024 AS bucket, h.c, h.w
      FROM h, rows_ r),
    sketch AS (SELECT row_, bucket, sum(c)::BIGINT AS bc
               FROM bucketed GROUP BY row_, bucket),
    top AS (SELECT w, c FROM cnt ORDER BY c DESC, w ASC LIMIT 20),
    probes AS (
      SELECT t.w, t.c, b.row_, b.bucket
      FROM top t JOIN bucketed b ON b.w = t.w)
    SELECT p.w, p.c AS true_count, min(s.bc)::BIGINT AS cms_estimate
    FROM probes p JOIN sketch s ON s.row_ = p.row_ AND s.bucket = p.bucket
    GROUP BY p.w, p.c
    """,
)
def count_min_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequent-items path (text.count_min_estimates):
    4x1024 integer counters, one combined aggregation per hash row; top-20
    true tokens probed against the sketch. Integer-exact end to end, so the
    mergeable-sketch PATTERN carries a full value-hash oracle (the HLL /
    quantile entries are rows-only by nature)."""
    return TXT.count_min_estimates(_fan(_t(spark, sf_dir, "documents")), "text", 20)


@_register(
    "lang_confusion_matrix",
    """
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('the','a','of','and','is'))) AS s_en,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('le','la','les','et','est'))) AS s_fr,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x IN ('el','la','los','y','es'))) AS s_es
      FROM documents),
    pred AS (
      SELECT lang,
        CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es' END AS lang_pred
      FROM scored)
    SELECT lang, lang_pred, count(*) AS docs
    FROM pred GROUP BY lang, lang_pred
    """,
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: confusion matrix of the declared ``lang``
    column vs the marker-word classifier's prediction (text.language_id) —
    the acceptance gate before trusting a classifier to route a corpus at
    scale. One projection + one map-side-combined count."""
    out = TXT.language_id(_fan(_t(spark, sf_dir, "documents")))
    return out.groupBy("lang", "lang_pred").agg(F.count("*").alias("docs"))


@_register(
    "minhash_jaccard_estimates",
    f"""
    WITH {_minhash_sig_cte()},
    sigl AS (SELECT doc_id, [m0,m1,m2,m3,m4,m5,m6,m7,m8,m9,m10,m11,m12,m13,m14,m15] AS s
             FROM sig),
    {_MINHASH_BANDS_CTE},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list(g) AS gset FROM shd GROUP BY doc_id),
    est AS (
      SELECT p.id_a, p.id_b,
        round(len(list_filter(generate_series(1, 16),
              i -> sa.s[i] = sb.s[i])) / 16.0, 6) AS est_jaccard,
        round(len(list_intersect(ga.gset, gb.gset)) * 1.0
              / len(list_distinct(list_concat(ga.gset, gb.gset))), 6) AS exact_jaccard
      FROM pairs p
      JOIN sigl sa ON sa.doc_id = p.id_a
      JOIN sigl sb ON sb.doc_id = p.id_b
      JOIN sets ga ON ga.doc_id = p.id_a
      JOIN sets gb ON gb.doc_id = p.id_b)
    SELECT id_a, id_b, est_jaccard, exact_jaccard FROM est
    """,
)
def minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy diagnostic: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of agreeing signature positions) next to the
    exact shingle Jaccard — the calibration readout that justifies the
    (num_hashes, bands) choice before trusting LSH at corpus scale. The
    oracle replays signatures, banding, estimate, and exact overlap.

    The pair table is referenced by BOTH readouts (estimate join + exact
    shingle verify) and deliberately stays LAZY: a same-session A/B
    measured the lazy shape at 4.1-4.6 s steady vs 5.8-6.8 s for an
    eager-checkpoint variant — the generator's persisted projection plus
    exchange reuse already dedupe the shared subtree inside one job,
    while a checkpoint serializes it into its own job and cuts the
    downstream joins off from the cached exchanges."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    pairs = D.minhash_lsh_candidates(docs, "text", "doc_id", 16, 4)
    sigs = D.minhash_signatures(docs, "text", "doc_id", 16)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(agree / 16.0, 6).alias("est_jaccard"))
    )
    exact = D.ngram_jaccard(pairs, docs, "text", "doc_id", 3).select(
        "id_a", "id_b", F.col("jaccard").alias("exact_jaccard")
    )
    return est.join(exact, ["id_a", "id_b"])


@_register(
    "packing_efficiency",
    """
    WITH n AS (
      SELECT source, doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS nt
      FROM documents),
    packed AS (
      SELECT source, nt,
             coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM n)
    SELECT source,
           CAST(max(off + nt - 1) // 512 + 1 AS BIGINT) AS n_bins,
           sum(nt)::BIGINT AS total_tokens,
           round(sum(nt) / ((max(off + nt - 1) // 512 + 1) * 512.0), 6) AS fill_rate
    FROM packed GROUP BY source
    """,
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-plan efficiency readout: per shard, how many 512-token
    training sequences the concat-and-chunk packing (text.pack_sequences)
    produces and the token fill rate — the padding-waste metric that
    justifies packing over per-doc truncation. Derived from the same
    shard-local window cumsum; the bin count is the last token's bin."""
    from pyspark.sql import Window

    docs = _fan(_t(spark, sf_dir, "documents"))
    n = docs.select(
        "source", "doc_id", TXT.token_count(F.col("text")).alias("nt")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    off = F.coalesce(
        F.sum("nt").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    packed = n.select("source", "nt", off.alias("off"))
    n_bins = (F.floor(F.max(F.col("off") + F.col("nt") - 1) / 512) + 1).cast("long")
    return packed.groupBy("source").agg(
        n_bins.alias("n_bins"),
        F.sum("nt").alias("total_tokens"),
        F.round(F.sum("nt") / (n_bins * 512.0), 6).alias("fill_rate"),
    )


@_register(
    "bloom_semi_join_prune",
    """
    WITH seeds AS (SELECT unnest([0, 1, 2]) AS i),
    keys AS (SELECT DISTINCT c_custkey FROM customer
             WHERE c_mktsegment = 'BUILDING'),
    bits AS (
      SELECT DISTINCT
        CAST('0x' || substr(md5(c_custkey::VARCHAR || ':' || i::VARCHAR),
             1, 8) AS BIGINT) % 4096 AS pos
      FROM keys CROSS JOIN seeds),
    cand AS (
      SELECT o.o_custkey, o.o_totalprice
      FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM seeds s
        WHERE (CAST('0x' || substr(md5(o.o_custkey::VARCHAR || ':'
                    || s.i::VARCHAR), 1, 8) AS BIGINT) % 4096)
              NOT IN (SELECT pos FROM bits))),
    exact AS (
      SELECT c.o_custkey, c.o_totalprice FROM cand c
      WHERE c.o_custkey IN (SELECT c_custkey FROM keys))
    SELECT
      (SELECT count(*) FROM orders) AS probe_rows,
      (SELECT count(*) FROM cand) AS bloom_candidates,
      (SELECT count(*) FROM exact) AS exact_matches,
      (SELECT count(*) FROM cand) - (SELECT count(*) FROM exact)
        AS false_positives,
      (SELECT CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
              AS DOUBLE) FROM exact) AS exact_revenue
    """,
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime Bloom-filter join pruning (functions/bloom.py) with
    a measured false-positive readout.

    The shape Spark's own runtime filter (SPARK-32268) injects, made
    deterministic and oracle-replayable: the BUILDING-segment customer
    keys aggregate into a 4096-bit md5-positioned bitmap (bounded collect:
    <= 4096 distinct set-bit ints regardless of build cardinality); the
    bitmap rides the orders scan as ONE array literal and kills
    non-member rows at the scan stage BEFORE any exchange; the exact
    broadcast semi-join then removes the Bloom false positives. Output is
    the pruning ledger: probe rows -> Bloom candidates -> exact matches,
    the false-positive count, and the exact-side revenue (proving the
    pruned result equals the unpruned semi-join — Bloom filters have no
    false negatives).

    100 TB shape: the fact side never shuffles — a KB-scale bitmap
    broadcast replaces a full-table exchange for a ~20%-selective dim;
    at 1% selectivity the scan-stage kill rate is ~99%."""
    from scylla_migrator_spark.functions import bloom as BLOOM

    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    words = BLOOM.build_bloom_bitmap(cust, "c_custkey", num_hashes=3, num_bits=4096)
    cand = BLOOM.bloom_prune(orders, "o_custkey", words, num_hashes=3, num_bits=4096)
    exact = cand.join(F.broadcast(cust), cand.o_custkey == cust.c_custkey, "left_semi")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    probe_agg = orders.agg(F.count("*").alias("probe_rows"))
    cand_agg = cand.agg(F.count("*").alias("bloom_candidates"))
    exact_agg = exact.agg(
        F.count("*").alias("exact_matches"),
        F.coalesce(F.sum(price_dec), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("exact_revenue"),
    )
    return (
        probe_agg.crossJoin(F.broadcast(cand_agg))
        .crossJoin(F.broadcast(exact_agg))
        .select(
            "probe_rows",
            "bloom_candidates",
            "exact_matches",
            (F.col("bloom_candidates") - F.col("exact_matches")).alias(
                "false_positives"
            ),
            "exact_revenue",
        )
    )


def _histogram_quantiles(
    df, group_cols, value_col, order_col, *, width, nbins, qs
):
    """Shared bin/cumulate/cross/interpolate/rank pipeline behind EVERY
    histogram-quantile query (global, per-group, and the sketch-only
    weekly-drift form): one spelling of the integer crossing rule
    (cum >= needed > cum_before with needed = ceil(q*n/100)) and the
    double interpolation, so the contract cannot diverge between
    consumers. ``group_cols`` empty = the global form;
    ``order_col=None`` = sketch-only (no exact-sort readout: returns
    group_cols + q + needed + est)."""
    from pyspark.sql import Window

    hist = (
        df.select(
            *group_cols,
            F.least(
                F.lit(nbins - 1),
                F.floor(F.col(value_col) / F.lit(width)).cast("int"),
            ).alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*group_cols)
    cum = hist.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    qdf = df.sparkSession.range(1).select(
        F.explode(F.expr("array(" + ", ".join(str(q) for q in qs) + ")")).alias("q")
    )
    crossed = qdf.crossJoin(F.broadcast(cum)).select(
        "q",
        *group_cols,
        "bin",
        "cnt",
        "cum",
        (F.col("cum") - F.col("cnt")).alias("cum_before"),
        F.expr("(q * n + 99) div 100").alias("needed"),
    )
    chosen = crossed.where(
        (F.col("cum") >= F.col("needed")) & (F.col("cum_before") < F.col("needed"))
    )
    est = F.col("bin") * F.lit(width) + F.lit(width) * (
        F.col("needed") - F.col("cum_before")
    ) / F.col("cnt")
    if order_col is None:
        return chosen.select(
            *group_cols, "q", "needed", F.round(est, 6).alias("est")
        )
    w_rank = Window.partitionBy(*group_cols).orderBy(value_col, order_col)
    ranked = df.select(
        *group_cols,
        F.col(value_col).alias("__val"),
        F.row_number().over(w_rank).alias("rn"),
    )
    for c in group_cols:
        ranked = ranked.withColumnRenamed(c, f"__r_{c}")
    join_cond = F.col("rn") == F.col("needed")
    for c in group_cols:
        join_cond = join_cond & (F.col(f"__r_{c}") == F.col(c))
    return chosen.join(ranked, join_cond).select(
        *group_cols,
        "q",
        "needed",
        F.round(est, 6).alias("est"),
        F.col("__val").alias("exact"),
        F.round(est - F.col("__val"), 6).alias("err"),
    )


@_register(
    "histogram_quantile_sketch",
    """
    WITH binned AS (
      SELECT least(255, CAST(floor(o_totalprice / 2343.75) AS INT)) AS bin
      FROM orders),
    hist AS (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin),
    cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS n
      FROM hist),
    qs AS (SELECT unnest([25, 50, 75, 95]) AS q),
    crossed AS (
      SELECT q, bin, cnt, cum, cum - cnt AS cum_before,
             (q * n + 99) // 100 AS needed
      FROM qs CROSS JOIN cum),
    chosen AS (
      SELECT * FROM crossed
      WHERE cum >= needed AND cum - cnt < needed),
    ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders)
    SELECT c.q,
           CAST(c.needed AS BIGINT) AS needed,
           round(c.bin * 2343.75 + 2343.75 * (c.needed - c.cum_before) / c.cnt,
                 6) AS est,
           r.o_totalprice AS exact,
           round(c.bin * 2343.75 + 2343.75 * (c.needed - c.cum_before) / c.cnt
                 - r.o_totalprice, 6) AS err
    FROM chosen c JOIN ranked r ON r.rn = c.needed
    """,
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantiles with a measured error vs
    the exact discrete quantile.

    The sketch half is the 100 TB path: a fixed 256-bin histogram over
    [0, 600000) is CONSTANT-SIZE mergeable state — one map-side-combined
    groupBy(bin) pass, O(256) rows shuffled total, then the q-th quantile
    is linear interpolation inside the bin where the cumulative count
    crosses ceil(q*n/100) (integer-exact crossing arithmetic; the
    interpolation runs once per quantile in double with an
    operation-order-identical oracle). Unlike the rows-only approx
    sketches, every value here is full value-hash oracle-checked. The
    exact half (a total-sort row_number to fetch the needed-th smallest
    value) exists only as the error readout — at scale you keep the
    histogram and drop the sort, which is the point the err column
    quantifies (bin width 2343.75 bounds the error)."""
    return _histogram_quantiles(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [],
        "o_totalprice",
        "o_orderkey",
        width=2343.75,
        nbins=256,
        qs=[25, 50, 75, 95],
    )


@_register(
    "purchase_touch_attribution",
    """
    WITH ev AS (
      SELECT user_id, event_type, value,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events)
    SELECT coalesce(first_touch, 'none') AS first_touch,
           coalesce(last_touch, 'none') AS last_touch,
           count(*)::BIGINT AS purchases,
           CAST(sum(CAST(value AS DECIMAL(19,4))) AS DOUBLE)
             AS attributed_revenue
    FROM ev WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style first-touch/last-touch attribution: every purchase
    credits the FIRST and the LAST non-purchase touch (view/click/signup)
    strictly before it in the user's history; the matrix aggregates
    purchase counts and revenue per (first, last) channel pair —
    journey-entry vs conversion-driver in one readout, with 'none' for
    cold purchases.

    Scale shape: BOTH touch columns come from ONE window pass (identical
    partition+order+frame spec -> a single Window operator, one
    user-keyed shuffle), frame ROWS UNBOUNDED PRECEDING..1 PRECEDING with
    ignorenulls first/last — no self-join against the touch history and
    no per-purchase re-scan. Order is the deterministic (ts_us, event_id)
    convention; revenue accumulates in DECIMAL(19,4) for cross-engine
    exactness."""
    from pyspark.sql.window import Window

    win = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = _fan(
        _t(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.expr("ts DIV 1000").alias("ts_us"),
        )
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = ev.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(win).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(win).alias("last_touch"),
    ).where(F.col("event_type") == "purchase")
    return attributed.groupBy(
        F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
    ).agg(
        F.count("*").alias("purchases"),
        F.sum(F.col("value").cast("decimal(19,4)"))
        .cast("double")
        .alias("attributed_revenue"),
    )


@_register(
    "linear_count_distinct_users",
    """
    WITH pos AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(user_id::VARCHAR), 1, 8) AS BIGINT)
               % 1024 AS p
      FROM events),
    filled AS (
      SELECT event_type, count(*)::BIGINT AS filled_bits
      FROM pos GROUP BY event_type),
    exact AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type)
    SELECT f.event_type, f.filled_bits, e.exact_distinct,
           CASE WHEN f.filled_bits >= 1024 THEN NULL
                ELSE round(-1024.0 * ln((1024 - f.filled_bits) / 1024.0), 6)
           END AS est,
           CASE WHEN f.filled_bits >= 1024 THEN NULL
                ELSE round(-1024.0 * ln((1024 - f.filled_bits) / 1024.0)
                           - e.exact_distinct, 6)
           END AS err
    FROM filled f JOIN exact e USING (event_type)
    """,
)
def linear_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Counting (Whang et al. TODS'90) distinct-user estimate per
    event type, next to the exact count and the signed error — the
    full-value-hash-checked member of the approx-distinct family (the
    HLL++ entries are engine-specific and rows-only by necessity; this
    one's bitmap is md5-positioned, so DuckDB replays it bit-for-bit).

    Scale shape: the sketch side shuffles AT MOST m=1024 (group, bit)
    rows per group — constant-size mergeable state (partial bitmaps from
    any number of shards union by OR, which IS the distinct on bit
    positions) — where exact count-distinct shuffles every distinct
    (group, user) pair. At 100 TB keep the counter, drop the exact half;
    the err column is the measured cost of doing so. Estimator
    -m*ln(V/m) stays in double with an operation-order-identical
    oracle."""
    from scylla_migrator_spark.analytics.text import _md5_int

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    pos = ev.select(
        "event_type",
        (_md5_int(F.col("user_id").cast("string")) % 1024).alias("p"),
    ).distinct()
    filled = pos.groupBy("event_type").agg(F.count("*").alias("filled_bits"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est_raw = F.lit(-1024.0) * F.log(
        (F.lit(1024) - F.col("filled_bits")) / F.lit(1024.0)
    )
    # saturation guard: a FULL bitmap (filled == m) has no estimate —
    # ln(0) is an error in DuckDB and NULL in Spark, so both sides emit
    # an explicit NULL instead (size m above the expected cardinality;
    # the 100x path bumps m, it does not reinterpret a saturated counter)
    sat = F.col("filled_bits") >= 1024
    return filled.join(exact, "event_type").select(
        "event_type",
        "filled_bits",
        "exact_distinct",
        F.when(sat, F.lit(None)).otherwise(F.round(est_raw, 6)).alias("est"),
        F.when(sat, F.lit(None))
        .otherwise(F.round(est_raw - F.col("exact_distinct"), 6))
        .alias("err"),
    )


# Shared DuckDB replay of (simhash pair graph -> 3 deterministic LPA
# rounds): ONE spelling for every oracle that consumes LPA labels, so
# the tie-break and the hamming<=8 pair predicate cannot silently
# diverge between oracles (mirrors analytics/components.py::
# label_propagation by contract).
_SIMHASH_EDGES_CTES = f"""WITH {_simhash_cte()},
    prs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      {_hamming_join(8, "source")}),
    edges AS (SELECT id_a AS s, id_b AS d FROM prs
              UNION ALL SELECT id_b, id_a FROM prs)"""

_SIMHASH_LPA_CTES = _SIMHASH_EDGES_CTES + r""",
    l0 AS (SELECT DISTINCT s AS v, s AS lbl FROM edges),
    r1 AS (SELECT e.d AS v, l.lbl, count(*)::BIGINT AS cnt
           FROM edges e JOIN l0 l ON e.s = l.v GROUP BY e.d, l.lbl),
    l1 AS (SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (
               PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn FROM r1)
           WHERE rn = 1),
    r2 AS (SELECT e.d AS v, l.lbl, count(*)::BIGINT AS cnt
           FROM edges e JOIN l1 l ON e.s = l.v GROUP BY e.d, l.lbl),
    l2 AS (SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (
               PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn FROM r2)
           WHERE rn = 1),
    r3 AS (SELECT e.d AS v, l.lbl, count(*)::BIGINT AS cnt
           FROM edges e JOIN l2 l ON e.s = l.v GROUP BY e.d, l.lbl),
    l3 AS (SELECT v, lbl FROM (
             SELECT v, lbl, row_number() OVER (
               PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rn FROM r3)
           WHERE rn = 1)"""


@_register(
    "dup_graph_label_propagation",
    _SIMHASH_LPA_CTES + r""",
    sz AS (SELECT lbl, count(*)::BIGINT AS community_size
           FROM l3 GROUP BY lbl)
    SELECT l3.v AS doc_id, l3.lbl AS community, sz.community_size
    FROM l3 JOIN sz ON l3.lbl = sz.lbl
    """,
)
def dup_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the near-dup pair graph: 3 synchronous
    rounds of label propagation (Raghavan et al. 2007) with a fully
    deterministic update — each vertex adopts the most frequent label
    among its neighbors, ties broken by MIN label — plus the final
    community sizes. Communities are denser than connected components
    (a single spurious LSH edge merges two components but not two LPA
    communities), so this is the banding-quality lens between
    dedup_components (too coarse under edge noise) and the triangle
    census (pure counts).

    Scale shape: labels are 8-byte ids riding one edges-by-source
    equi-shuffle per round (join edges x labels, count per (vertex,
    label), window top-1 with the deterministic (cnt DESC, lbl ASC)
    order — the per-vertex window partitions by vertex, so no global
    sort). Rounds are a FIXED unrollable count replayed CTE-for-CTE by
    the oracle; the convergence variant at scale adds the
    localCheckpoint cadence connected_components uses. Shares the staged
    pair table with the other dup_graph_* consumers (one fingerprint
    pass per fixture)."""
    from scylla_migrator_spark.analytics.components import label_propagation

    pairs = _simhash_pairs_staged(spark, sf_dir)
    lbl = label_propagation(pairs, "id_a", "id_b", rounds=3)
    sz = lbl.groupBy("lbl").agg(F.count("*").alias("community_size"))
    return lbl.join(sz, "lbl").select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("community"), "community_size"
    )


def _k_core_cte(k: int, rounds: int) -> str:
    """Unrolled peel rounds for the k-core oracle — CTE-for-CTE replay of
    analytics/components.py::k_core (fixed round count on both sides, so
    results compare equal even before convergence)."""
    parts = []
    prev = "edges"
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    d{r} AS (SELECT s, count(*)::BIGINT AS deg FROM {prev} GROUP BY s),
    v{r} AS (SELECT s FROM d{r} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.s, e.d FROM {prev} e
      JOIN v{r} a ON e.s = a.s JOIN v{r} b ON e.d = b.s)"""
        )
        prev = f"e{r}"
    return (
        ","
        + ",".join(parts)
        + f"""
    SELECT s AS doc_id, count(*)::BIGINT AS core_degree
    FROM {prev} GROUP BY s"""
    )


@_register(
    "dup_graph_k_core",
    _SIMHASH_EDGES_CTES + _k_core_cte(k=2, rounds=4),
)
def dup_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the near-dup pair graph
    (analytics/components.py::k_core; Batagelj & Zaversnik 2003 peel,
    unrolled to 4 synchronous rounds): the 2-core strips every vertex
    that cannot keep 2 neighbors as peeling proceeds, separating real
    duplicate clusters from the isolated edges a single spurious LSH
    collision creates — the strictest dup-graph quality lens
    (components ⊇ LPA communities ⊇ k-core). Per round: one degree
    aggregation + two semi-joins on 8-byte ids, edge list
    localCheckpointed (the connected_components cadence); the oracle
    replays the peel CTE-for-CTE. Shares the staged pair table with the
    other dup_graph_* consumers."""
    from scylla_migrator_spark.analytics.components import k_core

    pairs = _simhash_pairs_staged(spark, sf_dir)
    return k_core(pairs, "id_a", "id_b", k=2, rounds=4).withColumnRenamed(
        "v", "doc_id"
    )


# Poisson(1) CDF thresholds for the derandomized bootstrap weights — ONE
# spelling shared by the Spark expression and the SQL oracle by contract.
_POISSON1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _poisson1_weight_sql(u_expr: str) -> str:
    """CASE chain mapping a uniform in [0,1) to a Poisson(1) draw (capped
    at 6), identical text for both engines."""
    branches = " ".join(
        f"WHEN {u_expr} < {c} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


_BOOT_U_SPARK = (
    "(cast(conv(substring(md5(concat_ws(':', cast(o_orderkey as string), "
    "cast(b as string))), 1, 8), 16, 10) as bigint) + 0.5) / 4294967296.0"
)
_BOOT_U_DUCK = (
    "(CAST('0x' || substr(md5(o_orderkey::VARCHAR || ':' || b::VARCHAR), 1, 8)"
    " AS BIGINT) + 0.5) / 4294967296.0"
)


@_register(
    "bootstrap_mean_ci",
    f"""
    WITH reps AS (SELECT unnest(range(32)) AS b),
    weighted AS (
      SELECT r.b,
             {_poisson1_weight_sql(_BOOT_U_DUCK)} AS w,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders CROSS JOIN reps r),
    rep_means AS (
      SELECT b,
             CAST(sum(w * price) AS DOUBLE) / sum(w) AS m
      FROM weighted GROUP BY b),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM rep_means),
    pt AS (
      SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS point_mean,
             count(*)::BIGINT AS n_rows
      FROM orders)
    SELECT round(pt.point_mean, 6) AS point_mean,
           pt.n_rows,
           round((SELECT CAST(sum(CAST(m AS DECIMAL(24,10))) AS DOUBLE) / 32
                  FROM rep_means), 6) AS boot_mean,
           round((SELECT m FROM ranked WHERE rn = 2), 6) AS ci_lo,
           round((SELECT m FROM ranked WHERE rn = 31), 6) AS ci_hi,
           32::BIGINT AS n_replicates
    FROM pt
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value —
    error bars for corpus-level metrics WITHOUT resampling: each of B=32
    replicates weights every row by an independent Poisson(1) draw
    (Chamandy et al., "Estimating uncertainty for massive data streams",
    Google 2012), derandomized through the md5(row:replicate) uniform and
    a shared CDF-literal contract so DuckDB replays every draw exactly.
    The CI is the (2nd, 31st) order statistic of the replicate means
    (~90% coverage at B=32) next to the plain point estimate.

    Scale shape: the classic bootstrap reshuffles n rows B times; the
    Poisson form is ONE scan with B=32 constant-size weighted-sum
    accumulators (map-side combined — the replicate axis explodes
    BEFORE the aggregate but collapses inside each task), no resample
    materialization, no data-sized shuffle. Replicate means stay exact
    (decimal weighted sums, one double division per replicate); the
    rank-statistic window runs over 32 rows."""
    from pyspark.sql import Window

    price = F.col("o_totalprice").cast("decimal(18,2)")
    # u is materialized as ONE column so the 6-branch CASE compares a
    # computed value instead of inlining the md5 expression per branch
    # (6x the hash work per row), and ALL three scalar outputs (boot
    # mean + both CI bounds) reduce from one ranked frame in a single
    # conditional aggregate - the 32x-exploded scan runs exactly once
    weighted = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", price.alias("price"))
        .withColumn("b", F.explode(F.expr("sequence(0, 31)")))
        .withColumn("u", F.expr(_BOOT_U_SPARK))
        .withColumn("w", F.expr(_poisson1_weight_sql("u")))
    )
    rep_means = weighted.groupBy("b").agg(
        (F.sum(F.col("w") * F.col("price")).cast("double") / F.sum("w")).alias("m")
    )
    ranked = rep_means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "b"))
    )
    stats = ranked.agg(
        F.round(
            F.sum(F.col("m").cast("decimal(24,10)")).cast("double") / F.lit(32), 6
        ).alias("boot_mean"),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.max(F.when(F.col("rn") == 31, F.col("m"))), 6).alias("ci_hi"),
    )
    pt = _t(spark, sf_dir, "orders").agg(
        F.round(F.sum(price).cast("double") / F.count("*"), 6).alias("point_mean"),
        F.count("*").alias("n_rows"),
    )
    return pt.crossJoin(F.broadcast(stats)).select(
        "point_mean",
        "n_rows",
        "boot_mean",
        "ci_lo",
        "ci_hi",
        F.lit(32).cast("long").alias("n_replicates"),
    )


@stage("docs_bloomgate", tables=["documents"], code=[_write_half_files])
def _docs_bloomgate_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """(doc_id, text) of the even doc_ids as two files: doc_id % 4 == 0,
    then doc_id % 4 == 2."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    _write_half_files(
        out,
        [(str(i), docs.filter(F.col("doc_id") % 4 == 2 * i)) for i in (0, 1)],
    )


@_register(
    "stream_bloom_history_gate",
    """
    WITH docs AS (
      SELECT doc_id, substr(sha256(text), 1, 16) AS digest16 FROM documents),
    hist AS (SELECT DISTINCT digest16 FROM docs WHERE doc_id % 3 <> 0),
    strm AS (SELECT digest16 FROM docs WHERE doc_id % 2 = 0),
    seeds AS (SELECT unnest([0, 1, 2]) AS i),
    bits AS (
      SELECT DISTINCT
        CAST('0x' || substr(md5(digest16 || ':' || i::VARCHAR), 1, 8)
             AS BIGINT) % 1024 AS pos
      FROM hist CROSS JOIN seeds),
    kept AS (
      SELECT digest16 FROM strm s
      WHERE EXISTS (
        SELECT 1 FROM seeds sd
        WHERE (CAST('0x' || substr(md5(s.digest16 || ':' || sd.i::VARCHAR),
                    1, 8) AS BIGINT) % 1024)
              NOT IN (SELECT pos FROM bits))),
    novel AS (
      SELECT digest16 FROM strm
      WHERE digest16 NOT IN (SELECT digest16 FROM hist))
    SELECT
      (SELECT count(*) FROM strm) AS stream_rows,
      (SELECT count(*) FROM kept) AS bloom_kept,
      (SELECT count(*) FROM novel) AS exact_novel,
      (SELECT count(*) FROM novel) - (SELECT count(*) FROM kept)
        AS wrongly_dropped
    """,
)
def stream_bloom_history_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup against a HISTORY too big to broadcast exactly:
    the historical corpus (2/3 of documents) collapses into a 1024-bit
    Bloom bitmap of text digests; the incoming stream (the even ids,
    OVERLAPPING the history so real historical duplicates arrive,
    replayed as a file stream) keeps only DEFINITE non-members — a
    stateless scan predicate on the stream, no state store, no
    stream-static join. Every kept row is guaranteed novel (Bloom has no
    false negatives, so no historical duplicate ever passes); the cost
    is novel rows wrongly dropped at the false-positive rate, which the
    output ledger quantifies against the exact anti-join
    (stream_rows -> bloom_kept vs exact_novel -> wrongly_dropped).

    100 TB shape: an exact digest set of a 10B-doc history cannot
    broadcast; a KB-scale bitmap can, and the gate runs at the stream's
    scan stage with zero per-batch shuffle. The wrongly_dropped column
    is the measured price of the compression — for curation gates a
    bounded novel-loss rate is the accepted trade."""
    from scylla_migrator_spark.functions import bloom as BLOOM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    digest = F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("digest16")
    # no .distinct(): build_bloom_bitmap distincts the <= num_bits bit
    # positions itself, and the left_anti probe needs no deduped right side
    history = docs.where(F.col("doc_id") % 3 != 0).select(digest)
    words = BLOOM.build_bloom_bitmap(history, "digest16", num_hashes=3, num_bits=1024)

    stream_docs = docs.where(F.col("doc_id") % 2 == 0)
    stream = _replay_stream(spark, _docs_bloomgate_stage(spark, sf_dir)).select(digest)
    kept = _run_available_now(
        BLOOM.bloom_prune(stream, "digest16", words, num_bits=1024, negate=True),
        "append",
    )
    strm_batch = stream_docs.select(digest)
    novel = strm_batch.join(history, "digest16", "left_anti")
    strm_agg = strm_batch.agg(F.count("*").alias("stream_rows"))
    kept_agg = kept.agg(F.count("*").alias("bloom_kept"))
    novel_agg = novel.agg(F.count("*").alias("exact_novel"))
    return (
        strm_agg.crossJoin(F.broadcast(kept_agg))
        .crossJoin(F.broadcast(novel_agg))
        .select(
            "stream_rows",
            "bloom_kept",
            "exact_novel",
            (F.col("exact_novel") - F.col("bloom_kept")).alias("wrongly_dropped"),
        )
    )


@_register(
    "wilson_purchase_rate_bounds",
    """
    WITH daily AS (
      SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS k
      FROM events GROUP BY day),
    wil AS (
      SELECT day, n, k,
             (k + 1.92) / (n + 3.84) AS center,
             1.96 * sqrt(CAST(k AS DOUBLE) * (n - k) / n + 0.9604)
               / (n + 3.84) AS half
      FROM daily)
    SELECT day, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS rate,
           round(center - half, 6) AS wilson_lo,
           round(center + half, 6) AS wilson_hi
    FROM wil
    """,
)
def wilson_purchase_rate_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day purchase-rate proportion with Wilson-score 95% bounds —
    the CLOSED-FORM uncertainty companion to bootstrap_mean_ci (rates
    need no replicates: the Wilson interval is one expression over the
    (k, n) pair, correct even at small n / extreme p where the normal
    approximation fails). z=1.96 constants pre-folded (1.92 = z^2/2,
    3.84 = z^2, 0.9604 = z^2/4) so both engines evaluate the identical
    arithmetic; the variance term k*(n-k)/n runs in double (k cast
    first) so a 1e10-event day cannot overflow the int64 product the
    all-integer form would hit.

    Scale shape: one map-side-combined groupBy(day) producing two
    integers per group; the interval math is per-group scalar
    arithmetic after the aggregate. Day is the epoch-day integer bucket
    of the nanos-normalized ts (the weekly_event_drift convention)."""
    day_ns = 86_400_000_000_000  # 1 day in nanos (fixture ts is nanos)
    ev = _t(spark, sf_dir, "events").select(
        F.expr(f"ts DIV {day_ns}").alias("day"),
        F.col("event_type"),
    )
    daily = ev.groupBy("day").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    center = (F.col("k") + 1.92) / (F.col("n") + 3.84)
    half = (
        F.lit(1.96)
        * F.sqrt(
            F.col("k").cast("double") * (F.col("n") - F.col("k")) / F.col("n")
            + 0.9604
        )
        / (F.col("n") + 3.84)
    )
    return daily.select(
        "day",
        "n",
        "k",
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


@_register(
    "dup_graph_modularity",
    _SIMHASH_LPA_CTES + r""",
    mm AS (SELECT count(*)::BIGINT AS m FROM prs),
    intra AS (
      SELECT count(*)::BIGINT AS ic
      FROM prs p JOIN l3 a ON p.id_a = a.v JOIN l3 b ON p.id_b = b.v
      WHERE a.lbl = b.lbl),
    dc AS (SELECT l.lbl, count(*)::BIGINT AS dg
           FROM edges e JOIN l3 l ON e.s = l.v GROUP BY l.lbl),
    sums AS (
      SELECT sum(CAST(dg AS DECIMAL(19,0)) * CAST(dg AS DECIMAL(19,0))) AS sdd,
             count(*)::BIGINT AS nc
      FROM dc)
    SELECT mm.m AS m_edges, sums.nc AS n_communities, intra.ic AS intra_edges,
           round(CAST(CAST(4 * mm.m AS DECIMAL(19,0)) * intra.ic - sums.sdd
                      AS DOUBLE)
                 / CAST(CAST(2 * mm.m AS DECIMAL(19,0))
                        * CAST(2 * mm.m AS DECIMAL(19,0)) AS DOUBLE),
                 6) AS modularity
    FROM mm, intra, sums
    """,
)
def dup_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition over the near-dup pair
    graph — the single-number answer to "are these communities real
    structure or banding noise?" (Q near 0 = no better than random wiring
    of the same degree sequence; dup corpora with genuine template
    clusters sit well above).

    Exactness at scale: Q = (4m*intra - sum_c deg_c^2) / (2m)^2 is
    assembled from INTEGER aggregates only (edge count, intra-community
    edge count, per-community degree sums squared in DECIMAL(19,0) int128
    products — the cross-engine-exact multiply path), with ONE double
    division at the end; no float accumulates across groups, so shuffle
    order cannot move the score. Reuses the staged pair table and the
    shared label_propagation loop (3 rounds, replayed CTE-for-CTE)."""
    from scylla_migrator_spark.analytics.components import label_propagation

    pairs = _simhash_pairs_staged(spark, sf_dir)
    lbl = label_propagation(pairs, "id_a", "id_b", rounds=3)
    la = lbl.select(F.col("v").alias("id_a"), F.col("lbl").alias("ca"))
    lb = lbl.select(F.col("v").alias("id_b"), F.col("lbl").alias("cb"))
    tagged = pairs.join(la, "id_a").join(lb, "id_b")
    mm = pairs.agg(F.count("*").alias("m"))
    intra = tagged.where(F.col("ca") == F.col("cb")).agg(
        F.count("*").alias("ic")
    )
    edges = pairs.select(F.col("id_a").alias("s")).unionByName(
        pairs.select(F.col("id_b").alias("s"))
    )
    dc = (
        edges.join(lbl.withColumnRenamed("v", "s"), "s")
        .groupBy("lbl")
        .agg(F.count("*").alias("dg"))
    )
    dgd = F.col("dg").cast("decimal(19,0)")
    sums = dc.agg(
        F.sum(dgd * dgd).alias("sdd"), F.count("*").alias("nc")
    )
    q = F.round(
        ((F.lit(4) * F.col("m")).cast("decimal(19,0)") * F.col("ic") - F.col("sdd"))
        .cast("double")
        / (
            (F.lit(2) * F.col("m")).cast("decimal(19,0)")
            * (F.lit(2) * F.col("m")).cast("decimal(19,0)")
        ).cast("double"),
        6,
    )
    return (
        mm.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(sums))
        .select(
            F.col("m").alias("m_edges"),
            F.col("nc").alias("n_communities"),
            F.col("ic").alias("intra_edges"),
            q.alias("modularity"),
        )
    )


@_register(
    "daily_seasonal_decomposition",
    """
    WITH daily_raw AS (
      SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
             count(*)::BIGINT AS n
      FROM events GROUP BY day),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily_raw),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds),
    daily AS (
      SELECT s.day, coalesce(d.n, 0)::BIGINT AS n
      FROM spine s LEFT JOIN daily_raw d USING (day)),
    win AS (
      SELECT day, n,
             sum(n) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
             count(*) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
      FROM daily),
    full7 AS (
      SELECT day, n, CAST(sum7 AS BIGINT) AS sum7, day % 7 AS dow
      FROM win WHERE cnt7 = 7),
    seas AS (
      SELECT dow,
             CAST(sum(7 * n - sum7) AS BIGINT) AS snum,
             count(*)::BIGINT AS scnt
      FROM full7 GROUP BY dow)
    SELECT f.day, f.n,
           round(CAST(f.sum7 AS DOUBLE) / 7, 6) AS trend,
           round(CAST(s.snum AS DOUBLE) / (7 * s.scnt), 6) AS seasonal,
           round(CAST(7 * f.n - f.sum7 AS DOUBLE) / 7
                 - CAST(s.snum AS DOUBLE) / (7 * s.scnt), 6) AS remainder
    FROM full7 f JOIN seas s ON f.dow = s.dow
    """,
)
def daily_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event volume —
    trend (7-day centered moving average), day-of-week seasonal
    component, and the remainder that an alerting rule should actually
    watch (a raw-count alert fires every weekend; the remainder only
    fires on real anomalies). The decomposition lens missing from the
    drift family (weekly_event_drift sees level shifts, value_trend_slope
    sees direction; this separates recurring weekly shape from both).

    Days ride a generated calendar SPINE (min..max), so a zero-event
    outage day enters the frame as n=0: the trend window always spans 7
    CALENDAR days and the outage day itself gets the large-negative
    remainder an alert exists to catch.

    Exactness: every cross-row aggregate is INTEGER (daily counts, the
    7-day window sum, and the seasonal numerator sum(7n - sum7) which
    clears the /7 denominator) — doubles appear only in per-row final
    arithmetic with an operation-order-identical oracle, so no float
    accumulates across rows in either engine. Scale shape: one
    map-side-combined groupBy(day), windows and the seasonal join run on
    the ~|days| aggregated frame, never on raw events."""
    from pyspark.sql import Window

    day_ns = 86_400_000_000_000
    daily_raw = (
        _fan(_t(spark, sf_dir, "events"))
        .groupBy(F.expr(f"ts DIV {day_ns}").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    # calendar day SPINE: a zero-event day must appear as n=0, or the
    # "7-day" window silently widens past outage days and the outage
    # itself emits no remainder row - the one row an alert exists for
    spine = daily_raw.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(F.explode(F.expr("sequence(lo, hi)")).alias("day"))
    daily = spine.join(daily_raw, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "n",
        F.sum("n").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("cnt7"),
    )
    full7 = win.where(F.col("cnt7") == 7).select(
        "day", "n", "sum7", (F.col("day") % 7).alias("dow")
    )
    seas = full7.groupBy("dow").agg(
        F.sum(F.lit(7) * F.col("n") - F.col("sum7")).alias("snum"),
        F.count("*").alias("scnt"),
    )
    seasonal = F.col("snum").cast("double") / (F.lit(7) * F.col("scnt"))
    return full7.join(seas, "dow").select(
        "day",
        "n",
        F.round(F.col("sum7").cast("double") / 7, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(
            (F.lit(7) * F.col("n") - F.col("sum7")).cast("double") / 7 - seasonal,
            6,
        ).alias("remainder"),
    )


@_register(
    "grouped_quantile_sketch",
    """
    WITH binned AS (
      SELECT event_type,
             least(255, CAST(floor(value / 2.5) AS INT)) AS bin
      FROM events),
    hist AS (SELECT event_type, bin, count(*) AS cnt
             FROM binned GROUP BY event_type, bin),
    cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist),
    qs AS (SELECT unnest([50, 95]) AS q),
    crossed AS (
      SELECT q, event_type, bin, cnt, cum, cum - cnt AS cum_before,
             (q * n + 99) // 100 AS needed
      FROM qs CROSS JOIN cum),
    chosen AS (
      SELECT * FROM crossed WHERE cum >= needed AND cum - cnt < needed),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn
      FROM events)
    SELECT c.event_type, c.q, CAST(c.needed AS BIGINT) AS needed,
           round(c.bin * 2.5 + 2.5 * (c.needed - c.cum_before) / c.cnt, 6)
             AS est,
           r.value AS exact,
           round(c.bin * 2.5 + 2.5 * (c.needed - c.cum_before) / c.cnt
                 - r.value, 6) AS err
    FROM chosen c
    JOIN ranked r ON r.event_type = c.event_type AND r.rn = c.needed
    """,
)
def grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP mergeable histogram quantiles — the production shape of
    the sketch (per-tenant latency p50/p95 on a serving dashboard):
    each event type keeps its own 256-bin equi-width histogram, so the
    whole percentile table is |groups| x 256 integers of mergeable
    state maintained by ONE map-side-combined groupBy(type, bin) pass.
    The crossing/interpolation arithmetic is the
    histogram_quantile_sketch contract partitioned by group (integer
    crossing, one double interpolation per (group, q)); the exact
    discrete per-group quantile rides along as the error readout —
    at scale the per-group total sort is the thing you drop."""
    return _histogram_quantiles(
        _t(spark, sf_dir, "events").select("event_type", "value", "event_id"),
        ["event_type"],
        "value",
        "event_id",
        width=2.5,
        nbins=256,
        qs=[50, 95],
    )


@_register(
    "weekly_p95_drift",
    """
    WITH binned AS (
      SELECT event_type,
             (epoch_us(ts) // 604800000000)::BIGINT AS week,
             least(255, CAST(floor(value / 2.5) AS INT)) AS bin
      FROM events),
    hist AS (SELECT event_type, week, bin, count(*) AS cnt
             FROM binned GROUP BY event_type, week, bin),
    cum AS (
      SELECT event_type, week, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type, week ORDER BY bin)
               AS cum,
             sum(cnt) OVER (PARTITION BY event_type, week) AS n
      FROM hist),
    crossed AS (
      SELECT event_type, week, bin, cnt, cum, cum - cnt AS cum_before,
             (95 * n + 99) // 100 AS needed
      FROM cum),
    chosen AS (
      SELECT event_type, week,
             round(bin * 2.5 + 2.5 * (needed - cum_before) / cnt, 6) AS p95
      FROM crossed WHERE cum >= needed AND cum - cnt < needed)
    SELECT event_type, week, p95,
           round(coalesce(p95 - lag(p95) OVER (PARTITION BY event_type
                                               ORDER BY week), 0), 6)
             AS wow_change
    FROM chosen
    """,
)
def weekly_p95_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency drift monitor: per-type weekly p95 of the event value
    from the MERGEABLE histogram sketch, with week-over-week change —
    the composition a production SLO dashboard actually runs (the mean
    hides tail regressions; weekly_event_drift sees volume, this sees
    the tail). State is |types| x |weeks| x 256 integers from one
    map-side-combined pass; the lag window runs over the tiny
    (type, week) sketch frame, never raw events. Same integer-crossing
    + single-interpolation contract as _histogram_quantiles, without
    the exact-sort error readout (at scale the sketch IS the
    measurement; histogram_quantile_sketch quantifies its error)."""
    from pyspark.sql import Window

    week_ns = 604_800_000_000_000
    ev = _fan(_t(spark, sf_dir, "events")).select(
        "event_type",
        F.expr(f"ts DIV {week_ns}").alias("week"),
        "value",
    )
    p95 = _histogram_quantiles(
        ev, ["event_type", "week"], "value", None, width=2.5, nbins=256, qs=[95]
    ).select("event_type", "week", F.col("est").alias("p95"))
    w_lag = Window.partitionBy("event_type").orderBy("week")
    return p95.select(
        "event_type",
        "week",
        "p95",
        F.round(
            F.coalesce(F.col("p95") - F.lag("p95").over(w_lag), F.lit(0.0)), 6
        ).alias("wow_change"),
    )


def _probe_train(spark: SparkSession, sf_dir: str):
    """The probe TRAINING plan shared by linear_probe_training and
    probe_quality_selection: two unrolled full-batch GD iterations of a
    logistic probe over hashed bag-of-words features (see
    linear_probe_training's docstring for the determinism discipline).
    Returns (feats, w2, pivot_w, dot): the labeled feature frame (with
    source), the final per-dim weight frame, and the pivot/dot-product
    helpers both consumers build their readout from."""
    feats = _fan(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        TXT.hashed_bow_embedding(F.col("text"), dim=16).alias("v"),
        # TRY_CAST + fixed-length substr on BOTH engines: a non-numeric
        # or over-long source suffix labels y=0 identically instead of
        # crashing the oracle while Spark silently nulls through
        F.when(
            F.expr("try_cast(substring(source, 4, 10) as int)") % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("y"),
    )
    nn = feats.agg(F.count("*").alias("n"))

    def grad(rows, resid_col):
        ex = rows.select(
            resid_col.alias("r"), F.posexplode("v").alias("j", "xj")
        )
        return ex.groupBy("j").agg(
            F.sum((F.col("r") * F.col("xj")).cast("decimal(28,14)")).alias("g")
        )

    def pivot_w(w, prefix):
        return w.agg(
            *[
                F.max(F.when(F.col("j") == k, F.col("w"))).alias(f"{prefix}{k}")
                for k in range(16)
            ]
        )

    def dot(prefix):
        expr = F.col(f"{prefix}0") * F.element_at("v", 1)
        for k in range(1, 16):
            expr = expr + F.col(f"{prefix}{k}") * F.element_at("v", k + 1)
        return expr

    g1 = grad(feats, F.lit(0.5) - F.col("y"))
    w1 = g1.crossJoin(F.broadcast(nn)).select(
        "j", (F.col("g").cast("double") * F.lit(-0.5) / F.col("n")).alias("w")
    )
    z1 = feats.crossJoin(F.broadcast(pivot_w(w1, "w1_"))).select(
        "doc_id", "y", "v", dot("w1_").alias("z")
    )
    r1 = z1.select(
        "doc_id",
        "y",
        "v",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y")).alias("r"),
    )
    g2 = grad(r1, F.col("r"))
    w2 = (
        g2.join(w1.withColumnRenamed("w", "w_prev"), "j")
        .crossJoin(F.broadcast(nn))
        .select(
            "j",
            (
                F.col("w_prev")
                + F.col("g").cast("double") * F.lit(-0.5) / F.col("n")
            ).alias("w"),
        )
    )
    return feats, w2, pivot_w, dot


@stage("probe_w2", tables=["documents"], code=[_probe_train, _fan, TXT])
def _probe_w2_staged(spark: SparkSession, sf_dir: str) -> list:
    """The trained probe's final (j, w) weights: INFERENCE consumers
    (probe_quality_selection) read the 16 doubles instead of re-running
    the two corpus-pass GD iterations, while linear_probe_training (the
    training row) still trains fresh every run, carrying the cost class.
    Training is deterministic (decimal(28,14) gradient sums, pinned op
    order), and JSON round-trips Python floats exactly (shortest-repr),
    so the staged weights are bit-identical to the live frame's."""
    return sorted(
        (int(r["j"]), float(r["w"])) for r in _probe_train(spark, sf_dir)[1].collect()
    )


# the probe TRAINING replay shared by linear_probe_training (weights +
# accuracy readout) and probe_quality_selection (scoring readout): two
# unrolled full-batch GD iterations ending at the pivoted weight row w2p
_PROBE_TRAIN_CTE = _hashed_emb_cte(16) + """,
    lab AS (
      SELECT e.doc_id, e.v, d.source,
             CASE WHEN TRY_CAST(substr(d.source, 4, 10) AS INT) % 2 = 0
                  THEN 1 ELSE 0 END AS y
      FROM emb e JOIN documents d USING (doc_id)),
    nn AS (SELECT count(*)::BIGINT AS n FROM lab),
    dims AS (SELECT unnest(range(16)) AS j),
    g1 AS (
      SELECT j, sum(CAST((0.5 - y) * v[j + 1] AS DECIMAL(28,14))) AS g
      FROM lab CROSS JOIN dims GROUP BY j),
    w1 AS (SELECT j, CAST(g AS DOUBLE) * -0.5 / n AS w FROM g1, nn),
    w1p AS (SELECT max(CASE WHEN j = 0 THEN w END) AS w1_0,
             max(CASE WHEN j = 1 THEN w END) AS w1_1,
             max(CASE WHEN j = 2 THEN w END) AS w1_2,
             max(CASE WHEN j = 3 THEN w END) AS w1_3,
             max(CASE WHEN j = 4 THEN w END) AS w1_4,
             max(CASE WHEN j = 5 THEN w END) AS w1_5,
             max(CASE WHEN j = 6 THEN w END) AS w1_6,
             max(CASE WHEN j = 7 THEN w END) AS w1_7,
             max(CASE WHEN j = 8 THEN w END) AS w1_8,
             max(CASE WHEN j = 9 THEN w END) AS w1_9,
             max(CASE WHEN j = 10 THEN w END) AS w1_10,
             max(CASE WHEN j = 11 THEN w END) AS w1_11,
             max(CASE WHEN j = 12 THEN w END) AS w1_12,
             max(CASE WHEN j = 13 THEN w END) AS w1_13,
             max(CASE WHEN j = 14 THEN w END) AS w1_14,
             max(CASE WHEN j = 15 THEN w END) AS w1_15
            FROM w1),
    z1 AS (
      SELECT l.doc_id, l.y, l.v,
             w1_0 * v[1] + w1_1 * v[2] + w1_2 * v[3] + w1_3 * v[4] + w1_4 * v[5] + w1_5 * v[6] + w1_6 * v[7] + w1_7 * v[8] + w1_8 * v[9] + w1_9 * v[10] + w1_10 * v[11] + w1_11 * v[12] + w1_12 * v[13] + w1_13 * v[14] + w1_14 * v[15] + w1_15 * v[16] AS z
      FROM lab l CROSS JOIN w1p),
    r1 AS (SELECT doc_id, y, v, 1.0 / (1.0 + exp(-z)) - y AS r FROM z1),
    g2 AS (
      SELECT j, sum(CAST(r * v[j + 1] AS DECIMAL(28,14))) AS g
      FROM r1 CROSS JOIN dims GROUP BY j),
    w2 AS (
      SELECT g2.j, w1.w + CAST(g2.g AS DOUBLE) * -0.5 / n AS w
      FROM g2 JOIN w1 ON g2.j = w1.j, nn),
    w2p AS (SELECT max(CASE WHEN j = 0 THEN w END) AS w2_0,
             max(CASE WHEN j = 1 THEN w END) AS w2_1,
             max(CASE WHEN j = 2 THEN w END) AS w2_2,
             max(CASE WHEN j = 3 THEN w END) AS w2_3,
             max(CASE WHEN j = 4 THEN w END) AS w2_4,
             max(CASE WHEN j = 5 THEN w END) AS w2_5,
             max(CASE WHEN j = 6 THEN w END) AS w2_6,
             max(CASE WHEN j = 7 THEN w END) AS w2_7,
             max(CASE WHEN j = 8 THEN w END) AS w2_8,
             max(CASE WHEN j = 9 THEN w END) AS w2_9,
             max(CASE WHEN j = 10 THEN w END) AS w2_10,
             max(CASE WHEN j = 11 THEN w END) AS w2_11,
             max(CASE WHEN j = 12 THEN w END) AS w2_12,
             max(CASE WHEN j = 13 THEN w END) AS w2_13,
             max(CASE WHEN j = 14 THEN w END) AS w2_14,
             max(CASE WHEN j = 15 THEN w END) AS w2_15
            FROM w2)"""


@_register(
    "linear_probe_training",
    _PROBE_TRAIN_CTE + """,
    scored AS (
      SELECT l.y,
             w2_0 * v[1] + w2_1 * v[2] + w2_2 * v[3] + w2_3 * v[4] + w2_4 * v[5] + w2_5 * v[6] + w2_6 * v[7] + w2_7 * v[8] + w2_8 * v[9] + w2_9 * v[10] + w2_10 * v[11] + w2_11 * v[12] + w2_12 * v[13] + w2_13 * v[14] + w2_14 * v[15] + w2_15 * v[16] AS z
      FROM lab l CROSS JOIN w2p),
    acc AS (
      SELECT sum(CASE WHEN (z > 0) = (y = 1) THEN 1 ELSE 0 END)::BIGINT
               AS train_correct
      FROM scored)
    SELECT w2.j AS dim, round(w2.w, 9) + 0.0 AS weight,
           acc.train_correct, nn.n AS n_rows
    FROM w2, acc, nn
    """,
)
def linear_probe_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRAINED model with SQL-replayed training: a logistic-
    regression probe (source-parity label) fit by two full-batch
    gradient-descent iterations over the hashed bag-of-words features —
    the quality-classifier/linear-probe shape (fastText-style filtering,
    representation probing) done Spark-first. Output = the trained
    16-dim weight vector + exact training accuracy.

    Determinism at scale (the k-means/PageRank discipline applied to
    SGD's deterministic sibling): full-batch GD makes each iteration ONE
    map-side-combined per-dim aggregate; every per-row gradient
    contribution truncates to DECIMAL(28,14) BEFORE the sum, so the
    reduction is exact decimal addition and shuffle order cannot move a
    weight. The sigmoid's exp and all weight updates run in double with
    an operation-order-identical oracle (16-term dot products spelled
    left-to-right in both engines); iteration 1 exploits sigma(0) = 0.5
    exactly. Accuracy uses the sign rule z > 0 — an exact comparison,
    no float threshold. Two iterations keep the unrolled oracle bounded;
    the at-scale loop adds the localCheckpoint cadence
    connected_components uses."""
    feats, w2, pivot_w, dot = _probe_train(spark, sf_dir)
    # ONE aggregate over the w2p-joined frame yields accuracy, n, AND
    # carries the 16 weights (max of a constant column) — the w2 training
    # subtree appears once in the final plan instead of twice, and the
    # separate count scan folds in (review: the output branch previously
    # re-derived scored/g2/g1/feats independently of the weight branch)
    scored = feats.crossJoin(F.broadcast(pivot_w(w2, "w2_"))).select(
        "y", dot("w2_").alias("z"), *[f"w2_{k}" for k in range(16)]
    )
    row = scored.agg(
        F.sum(
            F.when((F.col("z") > 0) == (F.col("y") == 1), 1).otherwise(0)
        ).alias("train_correct"),
        F.count("*").alias("n_rows"),
        *[F.max(F.col(f"w2_{k}")).alias(f"w2_{k}") for k in range(16)],
    )
    # + 0.0 normalizes IEEE negative zero (round can yield -0.0 in one
    # engine and 0.0 in the other; str-canon would diverge)
    dims = F.array(
        *[
            F.struct(
                F.lit(k).alias("dim"),
                (F.round(F.col(f"w2_{k}"), 9) + F.lit(0.0)).alias("weight"),
            )
            for k in range(16)
        ]
    )
    return row.select(
        F.explode(dims).alias("s"), "train_correct", "n_rows"
    ).select("s.dim", "s.weight", "train_correct", "n_rows")


# ---------------------------------------------------------------------------
# round-5d: passage-level corpus dedup + Gopher rule-based quality filter


@_register(
    "segment_dedup_reconstruct",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    sized AS (
      SELECT doc_id, t,
             greatest(CAST(ceil(len(t) / 16.0) AS BIGINT), 1) AS nseg
      FROM toks),
    seg AS (
      SELECT doc_id,
             unnest(generate_series(1, nseg)) AS seg_idx,
             unnest(list_transform(generate_series(1, nseg),
               i -> array_to_string(list_slice(t, (i - 1) * 16 + 1, i * 16), ' '))) AS seg_text
      FROM sized),
    ranked AS (
      SELECT doc_id, seg_idx, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg)
    SELECT doc_id,
           count(*) AS n_segments,
           count(CASE WHEN rn = 1 THEN 1 END) AS kept_segments,
           coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END, ' ' ORDER BY seg_idx), '')
             AS cleaned_text
    FROM ranked GROUP BY doc_id
    """,
)
def segment_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/Dolma-style passage-level dedup (dedup.segment_dedup, Wenzek
    et al. 2019 §3.1): cut every document into non-overlapping 16-token
    segments, keep only the corpus-wide first occurrence of each segment
    text (ordered by doc_id then position), and re-assemble each document
    from its surviving segments — the sub-document granularity between
    whole-doc exact dedup (dedup_exact) and window-hash overlap detection
    (substring_dup_fraction): repeats are REMOVED while the host
    documents survive. The oracle replays the identical
    first-occurrence window rank and ordered re-assembly in SQL."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return D.segment_dedup(docs, "text", "doc_id", seg_tokens=16)


@_register(
    "gopher_quality_flags",
    """
    WITH t AS (
      SELECT doc_id, source, text, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents),
    s AS (
      SELECT doc_id, source,
             len(w) AS nw,
             list_sum(list_transform(w, x -> length(x))) AS tc,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
             length(text) - length(replace(text, '#', '')) AS hd,
             length(text) - length(replace(text, '...', '')) AS ed,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                 m -> list_contains(w, m))) AS sh
      FROM t)
    SELECT doc_id, source,
           nw AS n_words,
           round(tc / nw, 6) AS mean_word_len,
           round(aw / nw, 6) AS alpha_word_ratio,
           hd AS hash_count,
           CAST(ed // 3 AS INT) AS ellipsis_count,
           sh AS stop_hits,
           CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS flag_word_count,
           CASE WHEN tc >= 3 * nw AND tc <= 10 * nw THEN 1 ELSE 0 END AS flag_mean_word_len,
           CASE WHEN 5 * aw >= 4 * nw THEN 1 ELSE 0 END AS flag_alpha_words,
           CASE WHEN 10 * hd <= nw AND 10 * ed <= 3 * nw THEN 1 ELSE 0 END AS flag_symbol_ratio,
           CASE WHEN sh >= 2 THEN 1 ELSE 0 END AS flag_stopwords,
           CASE WHEN nw >= 50 AND nw <= 100000
                 AND tc >= 3 * nw AND tc <= 10 * nw
                 AND 5 * aw >= 4 * nw
                 AND 10 * hd <= nw AND 10 * ed <= 3 * nw
                 AND sh >= 2 THEN 1 ELSE 0 END AS pass_gopher
    FROM s
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (text.gopher_quality, Rae et al.
    2021 arXiv 2112.11446 Appendix A1.1): the published document-level
    rules — word-count bounds, mean-word-length bounds, 80%-alphabetic
    words, symbol-to-word ratio caps for '#' and '...', >= 2 designated
    stopwords — as integer-exact 0/1 flags plus
    the conjunction verdict, evaluated with cross-multiplied integer
    comparisons so boundary documents flag identically on both engines.
    The heuristic-rule complement to the statistical text_quality
    scorer; one shuffle-free codegen projection."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = TXT.gopher_quality(docs, "text")
    return out.select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        "alpha_word_ratio",
        "hash_count",
        "ellipsis_count",
        "stop_hits",
        "flag_word_count",
        "flag_mean_word_len",
        "flag_alpha_words",
        "flag_symbol_ratio",
        "flag_stopwords",
        "pass_gopher",
    )


@_register(
    "leakage_free_split",
    f"""
    WITH RECURSIVE
    {_dup_pairs_cte(60, "pairs")},
    {_closure_cte("pairs")},
    comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
    g AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS gk
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    a AS (
      SELECT doc_id, gk,
        CAST('0x' || substr(md5(CAST(gk AS VARCHAR) || 'groupsplit'), 1, 8) AS BIGINT) AS hv
      FROM g)
    SELECT CASE WHEN hv < CAST(round(0.05 * 4294967296) AS BIGINT) THEN 'val'
                WHEN hv < CAST(round(0.10 * 4294967296) AS BIGINT) THEN 'test'
                ELSE 'train' END AS split,
           count(*) AS n_docs,
           count(DISTINCT gk) AS n_groups
    FROM a GROUP BY split
    """,
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE train/val/test split: assignment is keyed on the
    near-dup CLUSTER (connected component of the simhash pair graph, from
    the staged pair table dedup_components also reads), not the document —
    so two near-duplicates can never straddle the train/test boundary and
    inflate eval scores (the contamination path a doc-keyed hash split
    leaves open; cf. benchmark_decontam for the cross-benchmark variant).
    Singleton documents are their own group (coalesce to doc_id), so the
    split stays a pure deterministic hash function and group membership is
    the ONLY thing that moves a document relative to train_val_test_split.
    Aggregated per split as (n_docs, n_groups) for value-checking; the
    zero-crossing-pairs guarantee is pinned in pytest.

    Scale shape: components cost is the dedup fixpoint already paid by the
    dedup suite (staged pair table + min-label propagation); the split
    itself adds one doc_id equi-join and a hash projection — no new pair
    work, no extra shuffle beyond the label join."""
    from scylla_migrator_spark.analytics.components import connected_components

    edges = _read_parquet_immutable(spark, _simhash_star_edges_staged(spark, sf_dir))
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges)).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    grouped = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("gk")
    )
    assigned = SAMP.assign_splits(
        grouped, key_col="gk", val_frac=0.05, test_frac=0.05, salt="groupsplit"
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gk").alias("n_groups"),
    )


@_register(
    "probe_quality_selection",
    _PROBE_TRAIN_CTE + """,
    sc AS (
      SELECT l.doc_id, l.source,
             w2_0 * v[1] + w2_1 * v[2] + w2_2 * v[3] + w2_3 * v[4] + w2_4 * v[5] + w2_5 * v[6] + w2_6 * v[7] + w2_7 * v[8] + w2_8 * v[9] + w2_9 * v[10] + w2_10 * v[11] + w2_11 * v[12] + w2_12 * v[13] + w2_13 * v[14] + w2_14 * v[15] + w2_15 * v[16] AS z
      FROM lab l CROSS JOIN w2p),
    sel AS (
      SELECT source, doc_id, z,
             row_number() OVER (PARTITION BY source ORDER BY z DESC, doc_id) AS rnk
      FROM sc)
    SELECT source, doc_id, rnk AS rank, round(z, 9) + 0.0 AS z_score
    FROM sel WHERE rnk <= 5
    """,
)
def probe_quality_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-scored data selection (the fastText/FineWeb-Edu quality-
    filter pattern, inference half of linear_probe_training): score every
    document with the TRAINED probe's logit and keep the top 5 per source.
    Training and scoring are ONE composed plan — the tiny w2p weight row
    broadcasts into the scoring scan, so selection costs one projection +
    one per-source window over the corpus, and the oracle replays
    training AND scoring in SQL with operation-order-identical dot
    products (raw-z ordering is therefore exact across engines; ties
    break by doc_id). The logit (monotone in the sigmoid) is the score —
    no float threshold anywhere, and the z > 0 sign rule stays available
    downstream exactly as in training accuracy."""
    feats, _w2_live, pivot_w, dot = _probe_train(spark, sf_dir)
    from pyspark.sql import Window

    # trained weights read from the staged artifact (the kmeans/PQ
    # trained-quantizer posture): linear_probe_training still trains
    # fresh every run, so the two corpus-pass GD iterations stay
    # bench-visible there; _w2_live is a lazy plan, never executed here
    w2 = spark.createDataFrame(
        [(j, w) for j, w in _probe_w2_staged(spark, sf_dir)], "j int, w double"
    )
    scored = feats.crossJoin(F.broadcast(pivot_w(w2, "w2_"))).select(
        "source", "doc_id", dot("w2_").alias("z")
    )
    w = Window.partitionBy("source").orderBy(F.col("z").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "source",
            "doc_id",
            "rank",
            (F.round("z", 9) + F.lit(0.0)).alias("z_score"),
        )
    )


@_register(
    "vocab_growth_curve",
    r"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    w AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word, doc_id
      FROM documents),
    fs AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY word),
    b AS (
      SELECT CAST(first_doc * 10 // (m + 1) AS INT) AS bucket,
             count(*) AS new_words
      FROM fs, mx GROUP BY bucket)
    SELECT bucket, new_words,
           (sum(new_words) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_vocab
    FROM b
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth profile (tokenizer/vocab budgeting):
    march through the corpus in doc_id order, bucketed into 10 equal id
    ranges, and report how many NEW word types each bucket introduces
    plus the cumulative vocabulary size — the V(n) curve that decides
    how large a trained vocabulary must be before OOV flattens (cf.
    vocab_coverage_oov for a fixed vocab, bpe_train_merges for building
    one).

    Scale shape: first-occurrence is ONE map-side-combined min aggregate
    over the exploded (word, doc_id) pairs — the same shuffle envelope as
    a word count; the growth curve itself is a 10-row window. No sort of
    the corpus, no iterative scan-per-bucket."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    mx = docs.agg(F.max("doc_id").alias("m"))
    first = (
        docs.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    buckets = (
        first.crossJoin(F.broadcast(mx))
        .select(
            # Exact integer floor-division (DIV), matching the oracle's `//`:
            # double division + cast can round across an integer boundary for
            # large ids, and non-ANSI long multiply could wrap where DuckDB
            # promotes.
            F.expr("CAST(first_doc * 10 DIV (m + 1) AS INT)").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        "bucket", "new_words", F.sum("new_words").over(w).alias("cum_vocab")
    )


@_register(
    "good_turing_spectrum",
    r"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents),
    cnt AS (SELECT word, count(*) AS r FROM w GROUP BY word),
    spec AS (SELECT r, count(*) AS n_types FROM cnt GROUP BY r)
    SELECT a.r AS freq, a.n_types,
           round((a.r + 1) * b.n_types / a.n_types, 6) AS gt_adjusted
    FROM spec a LEFT JOIN spec b ON b.r = a.r + 1
    """,
)
def good_turing_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies spectrum: N_r = number of word
    types occurring exactly r times, with the GT-adjusted count
    r* = (r+1) * N_{r+1} / N_r (NULL where the spectrum has no successor
    — both engines emit the same NULL). The smoothing table behind
    unseen-mass estimation for the NLL/perplexity family
    (unigram_nll_score), and the Zipf-tail readout that says how much of
    the vocabulary is hapax legomena (singleton types = noise/typo mass a
    vocab budget should not spend on).

    Scale shape: two map-side-combined aggregates (word count, then
    count-of-counts — the second is over at most a few thousand distinct
    r values at any corpus size) and a spectrum self-join on r+1 that
    Spark broadcasts. Output is O(distinct frequencies), tiny forever."""
    docs = _fan(_t(spark, sf_dir, "documents").select("text"))
    cnt = (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    spec = cnt.groupBy("r").agg(F.count(F.lit(1)).alias("n_types"))
    nxt = spec.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("__nn"))
    return (
        spec.join(F.broadcast(nxt), "r", "left")
        .select(
            F.col("r").alias("freq"),
            "n_types",
            F.round((F.col("r") + 1) * F.col("__nn") / F.col("n_types"), 6).alias(
                "gt_adjusted"
            ),
        )
    )


@_register(
    "kneser_ney_bigram_lm",
    f"""
    WITH toks AS (
      SELECT {_TOKENS} AS t FROM documents),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    c2 AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY w1, w2),
    pre AS (SELECT w1, sum(c)::BIGINT AS cp, count(*)::BIGINT AS n_fwd
            FROM c2 GROUP BY w1),
    cont AS (SELECT w2, count(*)::BIGINT AS n_bwd FROM c2 GROUP BY w2),
    nb AS (SELECT count(*)::BIGINT AS nbig FROM c2)
    SELECT w1, w2, c AS pair_count,
           round((c - CAST(0.75 AS DOUBLE)) / cp
                 + CAST(0.75 AS DOUBLE) * n_fwd / cp * n_bwd / nbig, 6) AS p_kn
    FROM c2 JOIN pre USING (w1) JOIN cont USING (w2), nb
    WHERE c >= 5
    """,
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (text.kneser_ney_bigram; Chen &
    Goodman 1999): absolute-discount bigram probabilities backed off to
    the CONTINUATION unigram — the KenLM/CCNet-family estimator behind
    production perplexity filters, where bigram_nll_score is the add-one
    baseline. Support-filtered to the collocation-sized head table.

    Scale shape: one map-side-combined bigram count; prefix/continuation
    stats are vocab-sized aggregates over that table, joined back
    broadcast; the global distinct-bigram scalar is a broadcast one-row
    join. Probability arithmetic is a fixed IEEE-double expression tree,
    identical in the oracle."""
    docs = _fan(_t(spark, sf_dir, "documents").select("text"))
    return TXT.kneser_ney_bigram(docs, "text", discount=0.75, min_count=5)


@_register(
    "kneser_ney_trigram_lm",
    f"""
    WITH toks AS (
      SELECT {_TOKENS} AS t FROM documents),
    tg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
    -- MATERIALIZED: six statistics derive from the trigram counts; inlined
    -- CTEs re-run the unnest+index explode per consumer (observed 55 s ->
    -- 0.3 s at sf0.001) — the oracle-side twin of the Spark localCheckpoint
    c3 AS MATERIALIZED (
      SELECT w1, w2, w3, count(*)::BIGINT AS c FROM tg GROUP BY w1, w2, w3),
    pre2 AS (SELECT w1, w2, sum(c)::BIGINT AS cp2, count(*)::BIGINT AS n_fwd2
             FROM c3 GROUP BY w1, w2),
    c2c AS MATERIALIZED (
      SELECT w2, w3, count(*)::BIGINT AS cc FROM c3 GROUP BY w2, w3),
    pre1 AS (SELECT w2, sum(cc)::BIGINT AS cp1, count(*)::BIGINT AS n_fwd1
             FROM c2c GROUP BY w2),
    cont AS (SELECT w3, count(*)::BIGINT AS n_bwd FROM c2c GROUP BY w3),
    nt AS (SELECT count(*)::BIGINT AS ncont FROM c2c)
    SELECT w1, w2, w3, c AS trigram_count,
           round((c - CAST(0.75 AS DOUBLE)) / cp2
                 + CAST(0.75 AS DOUBLE) * n_fwd2 / cp2
                   * ((cc - CAST(0.75 AS DOUBLE)) / cp1
                      + CAST(0.75 AS DOUBLE) * n_fwd1 / cp1 * n_bwd / ncont),
                 6) AS p_kn
    FROM c3 JOIN pre2 USING (w1, w2) JOIN c2c USING (w2, w3)
            JOIN pre1 USING (w2) JOIN cont USING (w3), nt
    WHERE c >= 3
    """,
)
def kneser_ney_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated TRIGRAM Kneser-Ney LM (text.kneser_ney_trigram; Chen &
    Goodman 1999 §4.1.6): absolute-discount trigram probabilities backed
    off through continuation-count bigrams to the continuation unigram —
    the estimator order KenLM-style CCNet perplexity filters actually run.
    kneser_ney_bigram_lm is the order below; bigram_nll_score the add-one
    baseline. Support-filtered head table; all vocab-sized statistic
    joins AQE-chosen (de-broadcast posture), one-row scalar broadcast."""
    docs = _fan(_t(spark, sf_dir, "documents").select("text"))
    return TXT.kneser_ney_trigram(docs, "text", discount=0.75, min_count=3)


@_register(
    "kn_doc_nll_score",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
    c2 AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY w1, w2),
    pre AS (SELECT w1, sum(c)::BIGINT AS cp, count(*)::BIGINT AS n_fwd
            FROM c2 GROUP BY w1),
    cont AS (SELECT w2, count(*)::BIGINT AS n_bwd FROM c2 GROUP BY w2),
    nb AS (SELECT count(*)::BIGINT AS nbig FROM c2),
    scored AS (
      SELECT doc_id,
             CAST(-ln((c - CAST(0.75 AS DOUBLE)) / cp
                      + CAST(0.75 AS DOUBLE) * n_fwd / cp * n_bwd / nbig)
                  AS DECIMAL(18,9)) AS nll
      FROM bg JOIN c2 USING (w1, w2) JOIN pre USING (w1) JOIN cont USING (w2), nb)
    SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_kn_nll
    FROM scored GROUP BY doc_id
    """,
)
def kn_doc_nll_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level Kneser-Ney NLL (text.kn_doc_nll): mean -ln
    P_KN(w2|w1) per document under the corpus's own interpolated bigram
    KN LM — the doc score the CCNet-style perplexity gate thresholds on
    (the kn_perplexity_filter curation stage applies exactly this score;
    see kn_perplexity_gate). Decimal-truncated per-bigram terms make the
    transcendental sum shuffle-order exact."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.kn_doc_nll(docs, "text", "doc_id", discount=0.75)


@_register(
    "weighted_reservoir_sample",
    r"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS weight
      FROM documents),
    keyed AS (
      SELECT doc_id, weight,
             round(ln((CAST('0x' || substr(md5(doc_id::VARCHAR || 'wres0'), 1, 8)
                       AS BIGINT) + 0.5) / 4294967296.0) / weight, 8) AS skey
      FROM w WHERE weight > 0)
    SELECT doc_id, weight, skey FROM keyed ORDER BY skey DESC, doc_id LIMIT 20
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-Res,
    sampling.weighted_sample_topk): top-20 documents by ln(u)/w with w =
    token count — "sample proportional to length/quality" as ONE
    derandomized scan-stage key + TakeOrderedAndProject (per-partition
    top-k, no global sort, no RNG state; the md5-salted uniform makes the
    draw replayable in SQL and shuffle-order independent)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    weighted = docs.select(
        "doc_id", TXT.token_count(F.col("text")).cast("double").alias("w")
    )
    return SAMP.weighted_sample_topk(weighted, "w", k=20, seed="wres0")


@_register(
    "kn3_doc_nll_score",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents),
    tg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
      FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
    c3 AS MATERIALIZED (
      SELECT w1, w2, w3, count(*)::BIGINT AS c FROM tg GROUP BY w1, w2, w3),
    pre2 AS (SELECT w1, w2, sum(c)::BIGINT AS cp2, count(*)::BIGINT AS n_fwd2
             FROM c3 GROUP BY w1, w2),
    c2c AS MATERIALIZED (
      SELECT w2, w3, count(*)::BIGINT AS cc FROM c3 GROUP BY w2, w3),
    pre1 AS (SELECT w2, sum(cc)::BIGINT AS cp1, count(*)::BIGINT AS n_fwd1
             FROM c2c GROUP BY w2),
    cont AS (SELECT w3, count(*)::BIGINT AS n_bwd FROM c2c GROUP BY w3),
    nt AS (SELECT count(*)::BIGINT AS ncont FROM c2c),
    scored AS (
      SELECT doc_id,
             CAST(-ln((c - CAST(0.75 AS DOUBLE)) / cp2
                      + CAST(0.75 AS DOUBLE) * n_fwd2 / cp2
                        * ((cc - CAST(0.75 AS DOUBLE)) / cp1
                           + CAST(0.75 AS DOUBLE) * n_fwd1 / cp1 * n_bwd / ncont))
                  AS DECIMAL(18,9)) AS nll
      FROM tg JOIN c3 USING (w1, w2, w3) JOIN pre2 USING (w1, w2)
              JOIN c2c USING (w2, w3) JOIN pre1 USING (w2) JOIN cont USING (w3), nt)
    SELECT doc_id, count(*) AS n_trigrams,
           round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_kn3_nll
    FROM scored GROUP BY doc_id
    """,
)
def kn3_doc_nll_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-3 document perplexity (text.kn3_doc_nll): mean -ln
    P_KN(w3|w1 w2) per document under the corpus's own interpolated
    trigram Kneser-Ney LM — the order CCNet-grade filters score at
    (kn_doc_nll_score is the bigram form, bigram_nll_score the add-one
    baseline: the full estimator ladder). Two corpus passes, both count
    tables localCheckpointed, vocab-sized stats joins AQE-chosen,
    decimal-truncated transcendental sum."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return TXT.kn3_doc_nll(docs, "text", "doc_id", discount=0.75)


@_register(
    "kn_perplexity_gate",
    f"""
    WITH {_KN_NLL_CTE},
    agg AS (
      SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_kn_nll
      FROM scored GROUP BY doc_id)
    SELECT d.doc_id, d.source
    FROM documents d LEFT JOIN agg USING (doc_id)
    WHERE agg.avg_kn_nll IS NULL OR agg.avg_kn_nll <= 3.42
    """,
)
def kn_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kn_perplexity_filter CURATION STAGE end-to-end (plans/curate.py):
    a config-driven pipeline whose one stage trains the interpolated
    bigram KN LM on the corpus and drops every document whose mean
    transition NLL exceeds the threshold — the CCNet perplexity gate.
    Documents too short to score (no bigrams) pass through (the oracle's
    LEFT JOIN ... IS NULL branch). Returns the surviving (doc_id,
    source) set; the oracle replays LM training, scoring, and the gate in
    SQL."""
    from scylla_migrator_spark.plans.curate import CurationConfig, curate

    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"{sf_dir}/documents.parquet"},
            "stages": [{"op": "kn_perplexity_filter", "maxAvgNll": 3.42}],
        }
    )
    return curate(spark, cfg, observe=False).df.select("doc_id", "source")



@_register(
    "ccnet_perplexity_buckets",
    f"""
    WITH {_KN_NLL_CTE},
    agg AS MATERIALIZED (
      SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_kn_nll
      FROM scored GROUP BY doc_id),
    lng AS (SELECT a.doc_id, d.lang, a.avg_kn_nll
            FROM agg a JOIN documents d USING (doc_id)),
    cuts AS (
      SELECT lang,
             quantile_cont(avg_kn_nll, CAST(1 AS DOUBLE) / 3) AS c_head,
             quantile_cont(avg_kn_nll, CAST(1 AS DOUBLE) / 3 * 2) AS c_mid
      FROM lng GROUP BY lang)
    SELECT doc_id, lang,
           CASE WHEN avg_kn_nll <= c_head THEN 'head'
                WHEN avg_kn_nll <= c_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lng JOIN cuts USING (lang)
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature head/middle/tail split (Wenzek et al. 2020): per
    LANGUAGE, bucket documents by corpus-LM perplexity terciles — 'head'
    (lowest NLL third) is the high-quality slice CCNet-style pipelines
    train on, 'tail' the discard candidate. Scored with kn_doc_nll (the
    interpolated bigram KN of kn_doc_nll_score).

    Scale shape: NO per-document window and NO global sort — the tercile
    cutoffs are a per-language exact-percentile AGGREGATE (language-count
    rows, a bounded enum, so the cutoff table broadcasts), and the bucket
    label is a scan-stage comparison against the broadcast cutoffs (the
    quality_percentile_filter pattern; at 100 TB swap percentile for
    approx_percentile, plan shape unchanged). Interpolated percentiles on
    the 6 dp-rounded scores use the same (n-1)·q linear-interpolation
    formula in both engines."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    scores = TXT.kn_doc_nll(docs, "text", "doc_id", discount=0.75)
    lng = scores.join(docs.select("doc_id", "lang"), "doc_id")
    third = F.lit(1).cast("double") / F.lit(3)
    cuts = lng.groupBy("lang").agg(
        F.percentile("avg_kn_nll", third).alias("c_head"),
        F.percentile("avg_kn_nll", third * 2).alias("c_mid"),
    )
    nll = F.col("avg_kn_nll")
    return (
        lng.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            F.when(nll <= F.col("c_head"), F.lit("head"))
            .when(nll <= F.col("c_mid"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


@_register(
    "embedding_distribution_distance",
    """
    WITH s AS (
      SELECT label, dim::INT AS dim, count(*)::BIGINT AS n,
             sum(CAST(embedding[dim] AS DECIMAL(18,9))) AS sv,
             sum(CAST(embedding[dim] AS DECIMAL(18,9))
                 * CAST(embedding[dim] AS DECIMAL(18,9))) AS sq
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(dim)
      GROUP BY label, dim),
    st AS (
      SELECT label, dim, CAST(sv AS DOUBLE) / n AS mu,
             greatest(CAST(sq AS DOUBLE) / n
                      - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n),
                      CAST(0 AS DOUBLE)) AS var
      FROM s),
    t AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST((a.mu - b.mu) * (a.mu - b.mu) + a.var + b.var
                  - 2 * sqrt(a.var * b.var) AS DECIMAL(28,12)) AS term
      FROM st a JOIN st b ON a.dim = b.dim AND a.label < b.label)
    SELECT label_a, label_b, round(CAST(sum(term) AS DOUBLE), 6) AS fid_diag
    FROM t GROUP BY label_a, label_b
    """,
)
def embedding_distribution_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Fréchet distance between every label pair's
    embedding distribution (similarity.distribution_distance_diag — the
    FID family, Heusel et al. 2017, per-dimension variances): the
    corpus-slice drift detector in embedding space, complementing
    pairwise near-dup detectors and token-space JS divergence.

    Scale shape: one posexplode pass -> (label, dim) grid aggregate with
    decimal-exact sums/sums-of-squares; the k·d stats table self-joins
    broadcast on dim (k²·d rows, trivial forever); per-dim terms truncate
    to decimal so the per-pair reduction stays order-independent."""
    emb = _fan(_t(spark, sf_dir, "embeddings").select("label", "embedding"))
    return SIM.distribution_distance_diag(emb, "embedding", "label")


@_register(
    "zipf_slope_by_source",
    r"""
    WITH wd AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents),
    f AS (SELECT source, w, count(*)::BIGINT AS freq FROM wd GROUP BY source, w),
    r AS (
      SELECT source, freq,
             row_number() OVER (PARTITION BY source ORDER BY freq DESC, w) AS rank
      FROM f),
    d AS (
      SELECT source, CAST(ln(rank) AS DECIMAL(18,9)) AS x,
             CAST(ln(freq) AS DECIMAL(18,9)) AS y
      FROM r WHERE rank <= 200),
    s AS (
      SELECT source, count(*)::BIGINT AS n_ranks,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
      FROM d GROUP BY source)
    SELECT source, n_ranks,
           round((n_ranks*sxy - sx*sy) / (n_ranks*sxx - sx*sx), 6) AS zipf_slope
    FROM s
    """,
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source: least-squares slope of
    ln(freq) on ln(rank) over each source's top-200 word ranks — natural
    text sits near -1; spam, boilerplate, or machine-generated slices
    bend the curve (the classic corpus-health readout next to
    lexical_diversity and the Heaps/Good-Turing profiles).

    Scale shape: one map-side-combined (source, word) count; the ranking
    window partitions BY SOURCE (never a global sort) and the regression
    consumes a fixed 200 rows per source. Transcendental terms truncate
    to DECIMAL(18,9) before the exact-moment sums (the value_trend_slope
    discipline), so the OLS arithmetic is shuffle-order independent."""
    from pyspark.sql import Window

    docs = _fan(_t(spark, sf_dir, "documents").select("source", "text"))
    freq = (
        docs.select("source", F.explode(TXT.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("freq"))
    )
    rw = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("w"))
    ranked = freq.withColumn("rank", F.row_number().over(rw)).filter(
        F.col("rank") <= 200
    )
    x = F.log(F.col("rank").cast("double")).cast("decimal(18,9)")
    y = F.log(F.col("freq").cast("double")).cast("decimal(18,9)")
    s = (
        ranked.select("source", x.alias("x"), y.alias("y"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_ranks"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        )
    )
    n = F.col("n_ranks").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select("source", "n_ranks", F.round(slope, 6).alias("zipf_slope"))


# ===========================================================================
# Batch: ANN approximation QUALITY as oracle-backed metrics — recall@k of
# each approximate ranking against the exact cosine ranking. At 100 TB the
# knob you actually tune is the recall/cost curve (planes, nprobe, codebook
# size); promoting recall to a full value oracle means a quantizer or
# bucketing regression fails CORRECTNESS, not just a pytest threshold.
# ===========================================================================


@stage("query_vec0", tables=["embeddings"])
def _query_vec0_staged(spark: SparkSession, sf_dir: str) -> list:
    """The fixture query vector (vec_id 0). CONSUMER rows (the
    *_recall_at_k family) read it instead of paying a per-scenario head()
    job; every detection row (ann_cosine_topk, lsh/ivf/pq/mrl _topk) still
    fetches its query vector fresh, so the lookup cost class stays
    bench-visible there."""
    emb = _t(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]


@stage("ann_exact_top10", tables=["embeddings"], inputs=[_query_vec0_staged], code=[_fan, SIM])
def _ann_exact_top10_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine top-10 (ann_cosine_topk's ranking), the shared
    TRUTH side of every *_recall_at_k row. Each recall row's approximate
    side still computes fresh, and the exact side's cost stays
    bench-visible through ann_cosine_topk, which always computes fresh.
    brute_force_topk is deterministic (round-6 cosine + (cos DESC, vec_id
    ASC) tiebreaks)."""
    return SIM.brute_force_topk(
        _fan(_t(spark, sf_dir, "embeddings")),
        _query_vec0_staged(spark, sf_dir),
        "vec_id",
        "embedding",
        k=10,
    )


def _recall_sql(approx_name: str, k: int = 10) -> str:
    """Oracle for recall@k: the approximate top-k and the exact cosine
    top-k are both ALREADY fully SQL-replayed registry oracles — nest them
    as CTEs and count the id intersection. Every ranking involved is
    deterministic (round-6 tiebreaks), so recall is a deterministic scalar
    with a full value oracle, not a threshold test."""
    return f"""
    WITH approx AS ({ORACLES[approx_name]}),
    exact AS ({ORACLES["ann_cosine_topk"]})
    SELECT {k} AS k, count(*)::BIGINT AS hits,
           round(count(*) / {k}.0, 6) AS recall
    FROM approx JOIN exact USING (vec_id)
    """


def _recall_of(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """count(approx_ids ∩ exact_ids) / k. The exact side is k rows (a
    staged top-k), so it is broadcast into the probe: the join adds no
    exchange to the approximate side's plan."""
    hits = approx.select("vec_id").join(F.broadcast(exact.select("vec_id")), "vec_id")
    return hits.agg(F.count("*").alias("hits")).select(
        F.lit(k).alias("k"),
        F.col("hits"),
        F.round(F.col("hits") / float(k), 6).alias("recall"),
    )


@_register("lsh_recall_at_k", _recall_sql("lsh_ann_topk"))
def lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 4-plane hyperplane-LSH probe (lsh_ann_topk) against
    the exact cosine ranking (ann_cosine_topk) — the quality axis of the
    LSH recall/cost trade (more planes = smaller buckets = cheaper probes,
    lower recall). Both rankings replay in SQL, so the recall value itself
    is hash-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec0_staged(spark, sf_dir)
    approx = SIM.lsh_topk(emb, qv, "vec_id", "embedding", k=10, planes=4)
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@_register("ivf_recall_at_k", _recall_sql("ivf_ann_topk"))
def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF probe (16 centroids, nprobe=4 — ivf_ann_topk)
    against the exact cosine ranking: the nprobe tuning signal. Shares the
    build-once staged quantizer with the IVF family; the oracle replays
    training, probe, re-rank AND the exact ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec0_staged(spark, sf_dir)
    approx = SIM.ivf_topk(
        emb,
        qv,
        "vec_id",
        "embedding",
        k=10,
        centroids=_kmeans_centroids_staged(spark, sf_dir),
    )
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@_register("pq_adc_recall_at_k", _recall_sql("pq_adc_ann_topk"))
def pq_adc_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the pure-ADC PQ scan (pq_adc_ann_topk) against the
    exact cosine ranking — the quantization-error readout that justifies
    the re-rank stage (pq_adc_rerank_topk buys this gap back). A codebook
    regression (seeding, mean updates, subspace slicing) moves this value
    and fails the hash oracle."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    books = _pq_books_staged(spark, sf_dir)
    qv = _query_vec0_staged(spark, sf_dir)
    approx = SIM.pq_adc_topk(emb, books, qv, "vec_id", "embedding", k=10)
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@_register(
    "image_phash_dup_pairs",
    # Oracle replays the full deterministic pipeline in SQL: the doc-head
    # "thumbnail" payload (first 61 chars — prime length, so the 16-wide
    # RGB tiling stride 96 never aliases to a constant row pattern) tiled
    # into a 16x16x3 PPM (byte i of the payload at tiled position i % nb),
    # nearest-neighbor resize to 8x8 (source pixel (2x, 2y) ->
    # tiled byte offset 96y+6x), integer grayscale (r+g+b)//3, a 56-bit
    # dHash (bit y*7+x set where gray(x,y) < gray(x+1,y)), the SAME
    # 8-band Hamming-LSH blocking, and the exact popcount verify.
    f"""
    WITH {_DHASH_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    {_hamming_join(4, "band_id", "band_val", rel="bands")}
    """,
)
def image_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection — perceptual dHash over decoded
    pixels, banded Hamming LSH for the pair join (the single most common
    multimodal curation need; no reference analog — extension surface per
    SURVEY §7.2.9). Pipeline: documents' bytes become REAL 16x16 P6 PPMs
    (synth_ppm_assets — genuine containers, no media files in the repo),
    the existing Arrow resize path downsamples to the 8x8 dHash grid
    (multimodal.resize_ppm_nn), multimodal.image_dhash_fingerprints packs
    the 56 gradient bits, and dedup.simhash_banded_pairs reuses the text
    SimHash band machinery verbatim (8 bands x 7 bits; hamming <= 4 < 8
    bands, so the pigeonhole guarantee makes the blocking LOSSLESS — the
    oracle proves it by replaying band join + verify exactly).

    100 TB shape: pixels stay inside one Arrow mapInPandas per image; the
    pair join shuffles 8-byte hashes, never pixels — identical scale
    posture to the text SimHash blocker."""
    fp = _image_dhash_fp(spark, sf_dir)
    return D.simhash_banded_pairs(
        fp, "asset_id", sh_col="sh", bits=56, bands=8, max_hamming=4
    )


def _image_dhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image perceptual-fingerprint stage shared by the pair query and
    the cluster builder (which bands the SAME fingerprints in
    ``emit="star"`` mode): synth PPM -> Arrow NN-resize -> 56-bit dHash,
    localCheckpoint-materialized so the banded SELF-join never re-runs the
    pixel pipeline per side (and at 100 TB never re-decodes the corpus)."""
    docs = _fan(
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.encode(F.substring(F.col("text"), 1, 61), "UTF-8").alias("payload"),
        )
        # empty payloads are excluded on BOTH engines (r7 ADVICE): the Spark
        # side used to zero-pad them while the oracle leaned on DuckDB's
        # NULL-on-mod-zero — coincidental agreement, now an explicit rule
        .filter(F.length(F.col("payload")) > 0)
    )
    ppm = MM.synth_ppm_assets(docs, "doc_id", "payload", width=16, height=16)
    assets = MM.make_asset_table(
        ppm, "asset_id", "data", kind="image", mime="image/x-portable-pixmap"
    )
    small = MM.resize_ppm_nn(assets, 8, 8)
    return MM.image_dhash_fingerprints(small, grid=8).localCheckpoint(eager=True)


@stage("image_fp", tables=["documents"], code=[_image_dhash_fp, _fan, MM])
def _image_dhash_fp_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image dHash fingerprint table: downstream CONSUMERS of the
    fingerprints — cluster closure, hot-band governance, consensus legs —
    read 8-byte hashes instead of re-running the Arrow pixel pipeline per
    row, the production decomposition (decode writes a fingerprint table
    once). Decode+detection cost stays bench-visible through
    image_phash_dup_pairs, which always computes fresh."""
    return _image_dhash_fp(spark, sf_dir)


@stage("image_star", inputs=[_image_dhash_fp_staged], code=[D])
def _image_star_edges_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contracted image near-dup edges (id_a, id_b): the cluster row
    reads them and measures the closure + keep-one policy. Detection cost
    stays visible via image_phash_dup_pairs."""
    return D.simhash_banded_pairs(
        _image_dhash_fp_staged(spark, sf_dir),
        "asset_id", sh_col="sh", bits=56, bands=8, max_hamming=4, emit="star",
    ).select("id_a", "id_b")


@_register(
    "ks_value_drift",
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    h AS (
      SELECT event_type, value,
             CASE WHEN epoch_ns(ts) < cut THEN 1 ELSE 0 END AS is_ref
      FROM events, med),
    vc AS (
      SELECT event_type, value,
             sum(is_ref)::BIGINT AS c1, sum(1 - is_ref)::BIGINT AS c2
      FROM h GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
      FROM vc GROUP BY 1 HAVING sum(c1) > 0 AND sum(c2) > 0),
    cum AS (
      SELECT event_type, value,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS cum1,
             sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS cum2
      FROM vc)
    SELECT event_type, round(max(abs(cum1 / n1 - cum2 / n2)), 6) AS ks_d
    FROM cum JOIN tot USING (event_type)
    GROUP BY event_type
    """,
)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event type —
    D = max_x |F_ref(x) - F_cur(x)| between the value distributions of the
    first time half (reference) and the second (current). EXACT, not
    binned: the supremum over empirical CDFs is attained at an observed
    value, so evaluating at every distinct value is the whole statistic.
    Completes the monitoring family: PSI (binned, practitioner units),
    CUSUM (mean shift in time), KS (distribution-free shape shift).

    Scale shape (the CUSUM/PSI posture): one map-side-combined
    (type, value) count pivoted to per-half counts carries the data from
    there — the CDF window and the max run over DISTINCT values per type
    (~1.8k here), never raw rows, and partition BY TYPE (no global sort).
    The time split is the integer-exact (min+max) div 2 epoch midpoint.
    If per-type distinct values ever rival row count (continuous sensor
    values at 100 TB), quantize `value` to a measurement-precision grid
    first — the statistic degrades gracefully and the shape is unchanged.
    CDF ratios are exact-integer divisions evaluated identically by both
    engines; rounding happens once, after the max."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    h = ev.join(F.broadcast(med)).select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.col("cut"), F.lit(1)).otherwise(F.lit(0)).alias("is_ref"),
    )
    vc = h.groupBy("event_type", "value").agg(
        F.sum("is_ref").alias("c1"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c2"),
    )
    tot = (
        vc.groupBy("event_type")
        .agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    w = Window.partitionBy("event_type").orderBy("value")
    cum = vc.select(
        "event_type",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    d = cum.join(tot, "event_type").select(
        "event_type",
        F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2")).alias("d"),
    )
    return d.groupBy("event_type").agg(F.round(F.max("d"), 6).alias("ks_d"))


def _unigram_parts(rounds: int = 2, top_multi: int = 128) -> list[str]:
    """Unrolled unigram-LM training CTEs (Kudo 2018 — the SentencePiece
    unigram family; analytics/tokenizer.py::train_unigram), shared by the
    trainer and encoder oracles. Round ``r``'s forward/backward lattice
    DPs run as recursive CTEs over character positions carrying the
    alpha/beta list state (the per-position recurrence can't unroll like
    the k-means rounds — word length is data-dependent); everything else
    is CTE-for-CTE the engine's plan. Term order inside each DP sum is
    k = 1, 2, 3 left to right, matching the engine's folds exactly, and
    per-edge expected counts truncate to DECIMAL(18,9) before the
    shuffle-order-independent sum."""
    parts = [
        r"""WITH RECURSIVE words AS MATERIALIZED (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
            FROM documents) t
      WHERE len(w) > 0 GROUP BY w)""",
        """subs AS MATERIALIZED (
      SELECT substr(word, g.i, kk.k) AS piece, sum(cnt)::BIGINT AS c
      FROM words, UNNEST(generate_series(1, len(word))) AS g(i),
           (SELECT unnest([1, 2, 3]) AS k) kk
      WHERE g.i + kk.k - 1 <= len(word)
      GROUP BY piece)""",
        f"""vocab AS MATERIALIZED (
      SELECT piece, c FROM subs WHERE len(piece) = 1
      UNION ALL
      SELECT piece, c FROM (
        SELECT piece, c FROM subs WHERE len(piece) > 1
        ORDER BY c DESC, piece LIMIT {top_multi}))""",
        """probs0 AS MATERIALIZED (
      SELECT piece, CAST(c AS DOUBLE)
                    / (SELECT CAST(sum(c) AS DOUBLE) FROM vocab) AS p
      FROM vocab)""",
        """edges AS MATERIALIZED (
      SELECT w.word, w.cnt, g.i - 1 AS j, kk.k AS k,
             substr(w.word, g.i, kk.k) AS piece
      FROM words w, UNNEST(generate_series(1, len(w.word))) AS g(i),
           (SELECT unnest([1, 2, 3]) AS k) kk
      WHERE g.i + kk.k - 1 <= len(w.word))""",
    ]
    for r in range(rounds):
        parts.extend(_unigram_em_round_parts(str(r), f"probs{r}", f"probs{r + 1}"))
    return parts


def _unigram_em_round_parts(tag: str, probs_in: str, probs_out: str) -> list[str]:
    """One EM round's CTEs (alpha/beta recursions + expected counts +
    renormalized output probs), parameterized by the input/output prob
    table names so prune stages can splice between rounds."""
    return [
        f"""alpha{tag} AS (
      SELECT word, cnt, len(word) AS n, 0 AS i, [CAST(1.0 AS DOUBLE)] AS al
      FROM words
      UNION ALL
      SELECT a.word, a.cnt, a.n, a.i + 1,
             list_append(a.al,
               coalesce(p1.p * a.al[a.i + 1], 0.0)
             + coalesce(p2.p * a.al[a.i], 0.0)
             + coalesce(p3.p * a.al[a.i - 1], 0.0))
      FROM alpha{tag} a
      LEFT JOIN {probs_in} p1 ON p1.piece = substr(a.word, a.i + 1, 1)
      LEFT JOIN {probs_in} p2 ON a.i >= 1 AND p2.piece = substr(a.word, a.i, 2)
      LEFT JOIN {probs_in} p3 ON a.i >= 2 AND p3.piece = substr(a.word, a.i - 1, 3)
      WHERE a.i < a.n)""",
        f"""beta{tag} AS (
      SELECT word, len(word) AS n, len(word) AS j, [CAST(1.0 AS DOUBLE)] AS be
      FROM words
      UNION ALL
      SELECT b.word, b.n, b.j - 1,
             list_prepend(
               coalesce(p1.p * b.be[1], 0.0)
             + coalesce(p2.p * b.be[2], 0.0)
             + coalesce(p3.p * b.be[3], 0.0), b.be)
      FROM beta{tag} b
      LEFT JOIN {probs_in} p1 ON p1.piece = substr(b.word, b.j, 1)
      LEFT JOIN {probs_in} p2 ON b.j + 1 <= b.n AND p2.piece = substr(b.word, b.j, 2)
      LEFT JOIN {probs_in} p3 ON b.j + 2 <= b.n AND p3.piece = substr(b.word, b.j, 3)
      WHERE b.j > 0)""",
        f"""ec{tag} AS MATERIALIZED (
      SELECT e.piece,
             CAST(e.cnt * a.al[e.j + 1] * p.p * b.be[e.j + e.k + 1]
                  / a.al[a.n + 1] AS DECIMAL(18,9)) AS ec
      FROM edges e
      JOIN {probs_in} p ON e.piece = p.piece
      JOIN (SELECT word, n, al FROM alpha{tag} WHERE i = n) a ON e.word = a.word
      JOIN (SELECT word, be FROM beta{tag} WHERE j = 0) b ON e.word = b.word)""",
        f"""{probs_out} AS MATERIALIZED (
      SELECT piece, CAST(sum(ec) AS DOUBLE)
                    / (SELECT CAST(sum(ec) AS DOUBLE) FROM ec{tag}) AS p
      FROM ec{tag} GROUP BY piece)""",
    ]


def _unigram_train_sql(rounds: int = 2, top_multi: int = 128, top_out: int = 20) -> str:
    parts = _unigram_parts(rounds, top_multi)
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT piece, round(p, 6) AS p FROM probs{rounds}
    ORDER BY p DESC, piece LIMIT {top_out}"""
    )


def _unigram_count_sql(rounds: int = 2, top_multi: int = 128) -> str:
    parts = [
        *_unigram_parts(rounds, top_multi),
        f"""vit AS (
      SELECT word, len(word) AS n, 0 AS i,
             [CAST(1.0 AS DOUBLE)] AS bl, [0] AS cl
      FROM words
      UNION ALL
      SELECT word, n, i + 1,
             list_append(bl, CASE WHEN t3 > (CASE WHEN t2 > t1 THEN t2 ELSE t1 END)
                                  THEN t3
                                  ELSE (CASE WHEN t2 > t1 THEN t2 ELSE t1 END) END),
             list_append(cl, CASE WHEN t3 > (CASE WHEN t2 > t1 THEN t2 ELSE t1 END)
                                  THEN cl[i - 1] + 1
                                  WHEN t2 > t1 THEN cl[i] + 1
                                  ELSE cl[i + 1] + 1 END)
      FROM (
        SELECT v.*,
               coalesce(p1.p * v.bl[v.i + 1], 0.0) AS t1,
               coalesce(p2.p * v.bl[v.i], 0.0) AS t2,
               coalesce(p3.p * v.bl[v.i - 1], 0.0) AS t3
        FROM vit v
        LEFT JOIN probs{rounds} p1 ON p1.piece = substr(v.word, v.i + 1, 1)
        LEFT JOIN probs{rounds} p2 ON v.i >= 1 AND p2.piece = substr(v.word, v.i, 2)
        LEFT JOIN probs{rounds} p3 ON v.i >= 2 AND p3.piece = substr(v.word, v.i - 1, 3)
        WHERE v.i < v.n) s)""",
        """wnp AS MATERIALIZED (SELECT word, cl[n + 1] AS np FROM vit WHERE i = n)""",
        r"""doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0)""",
    ]
    return (
        ",\n    ".join(parts)
        + """
    SELECT dw.doc_id, count(*)::BIGINT AS n_words, sum(wnp.np)::BIGINT AS n_pieces
    FROM doc_words dw JOIN wnp ON dw.w = wnp.word
    GROUP BY dw.doc_id"""
    )


@_register("unigram_lm_train", _unigram_train_sql(2))
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, the SentencePiece unigram
    family — tokenizer.train_unigram): substring-seeded vocabulary, two
    EXACT EM rounds (forward-backward expected piece counts over each
    word's segmentation lattice, renormalized), top-20 pieces by final
    probability. The second production tokenizer family beside BPE, built
    on the same compressed state: ONE corpus pass makes the word-frequency
    table; each EM round is |vocab| * max-word-length work — alpha/beta
    DPs fold in whole-stage codegen, the piece-prob lookup is a bounded
    broadcast (alphabet + top-128 substrings), and expected counts
    truncate to DECIMAL(18,9) pre-sum so the aggregate is shuffle-order
    independent. The oracle replays seeding, both EM rounds (recursive-CTE
    lattice DPs with pinned k=1,2,3 term order), and the renormalizations."""
    probs = TOK.train_unigram(_fan(_t(spark, sf_dir, "documents")), rounds=2)
    return (
        probs.orderBy(F.desc("p"), F.asc("piece"))
        .limit(20)
        .select("piece", F.round("p", 6).alias("p"))
    )


@stage("unigram_counts_2", tables=["documents"], code=[_fan, TOK, TXT])
def _unigram_counts_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (n_words, n_pieces) under the 2-round trained unigram LM."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    words = TOK.word_frequency_table(docs).localCheckpoint()
    probs = TOK.unigram_probs_from_words(words, rounds=2)
    wnp = TOK.unigram_viterbi_counts(words, probs)
    dw = docs.select(
        "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return dw.join(wnp, "word").groupBy("doc_id").agg(
        F.count("*").alias("n_words"), F.sum("n_pieces").alias("n_pieces")
    )


@_register("unigram_token_count", _unigram_count_sql(2))
def unigram_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the TRAINED unigram LM: Viterbi
    piece count per word (DP carrying best-prob and count lists; shorter
    piece wins exact ties — pinned in both engines), joined back to the
    exploded corpus — (doc_id, n_words, n_pieces). The whole trainer
    replays inside the oracle, so the count witnesses the full
    train-then-encode pipeline like bpe_segment_counts does for BPE.
    Per-doc counts are staged; the fertility bake-off re-reads the
    stage."""
    return _unigram_counts_staged(spark, sf_dir)


def _ndcg_frame(rank_df: DataFrame, grade_df: DataFrame, k: int) -> DataFrame:
    """DCG/IDCG over a ranked shortlist and a graded ground-truth shortlist:
    joins on doc_id, discounts by the Python-computed 1/log2(rank+1)
    literal table (identical doubles to the SQL oracle), truncates each
    term to DECIMAL(18,9) pre-sum, divides by the perfect-ordering IDCG."""
    import decimal as _dec
    import math

    disc = F.lit(None).cast("double")
    for i in range(k, 0, -1):
        disc = F.when(F.col("rank") == i, F.lit(1.0 / math.log2(i + 1))).otherwise(disc)
    term = (F.coalesce(F.col("g"), F.lit(0)) * disc).cast("decimal(18,9)")
    dcg = rank_df.join(grade_df, "doc_id", "left").agg(F.sum(term).alias("dcg"))
    # HALF_UP, not the Decimal default HALF_EVEN: the oracle's CAST(... AS
    # DECIMAL(18,9)) in DuckDB and Spark's decimal cast both round half
    # away from zero, so an exact 10th-decimal tie must go the same way
    idcg = sum(
        _dec.Decimal(str((k + 1 - i) * (1.0 / math.log2(i + 1)))).quantize(
            _dec.Decimal("0.000000001"), rounding=_dec.ROUND_HALF_UP
        )
        for i in range(1, k + 1)
    )
    return dcg.select(
        F.lit(k).alias("k"),
        F.round(F.col("dcg").cast("double") / F.lit(float(idcg)), 6).alias("ndcg"),
    )


def _ndcg_discount_sql(k: int) -> tuple[str, str]:
    """The (rank-discount CASE, IDCG expression) SQL fragments with the
    1/log2(rank+1) weights as PYTHON-COMPUTED double literals — identical
    doubles to the Spark plan's, no cross-engine libm."""
    import math

    w_case = " ".join(
        f"WHEN {i} THEN {1.0 / math.log2(i + 1)!r}" for i in range(1, k + 1)
    )
    idcg = " + ".join(
        f"CAST({k + 1 - i} * {1.0 / math.log2(i + 1)!r} AS DECIMAL(18,9))"
        for i in range(1, k + 1)
    )
    return w_case, idcg


def _ndcg_sql(k: int = 10) -> str:
    """Oracle for retrieval NDCG@k: BM25 ranking graded against the dense
    (hashed-embedding cosine) top-k as relevance ground truth. The
    1/log2(rank+1) discount weights are PYTHON-COMPUTED double literals
    embedded in BOTH the Spark plan and this SQL (the codebooks-as-
    literals posture) — no cross-engine libm call whose last ulp could
    differ; per-rank terms truncate to DECIMAL(18,9) before the exact
    sum."""
    w_case, idcg = _ndcg_discount_sql(k)
    return (
        _bm25_dense_tops_cte(k)
        + f""",
    br AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
           FROM bmtop),
    dr AS (SELECT doc_id,
                  {k + 1} - row_number() OVER (ORDER BY cos DESC, doc_id) AS g
           FROM dtop),
    dcg AS (
      SELECT sum(CAST(coalesce(dr.g, 0) * (CASE br.r {w_case} END)
                 AS DECIMAL(18,9))) AS dcg
      FROM br LEFT JOIN dr USING (doc_id))
    SELECT {k} AS k,
           round(CAST(dcg AS DOUBLE) / CAST({idcg} AS DOUBLE), 6) AS ndcg
    FROM dcg"""
    )


@_register("retrieval_ndcg_at_k", _ndcg_sql(10))
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metric: NDCG@10 of the BM25 sparse ranking graded
    against the dense (hashed-embedding cosine) top-10 for the same query
    text — the recall@k family's ordered sibling, and the standard readout
    for tuning a hybrid stack (rrf_hybrid_retrieval fuses these two exact
    rankings; this measures how far apart they are). Grades: dense rank i
    earns 11-i; DCG discounts by 1/log2(rank+1) with the discount table
    shipped as identical double literals to both engines (no cross-engine
    libm); per-rank terms truncate to DECIMAL(18,9) pre-sum; IDCG is the
    perfect-ordering constant. Corpus-sized work stays in the two
    retrievers (posting-list BM25, scan-stage embeddings); the NDCG math
    touches k rows."""
    q_text = "spark join window"
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    sparse = TXT.bm25_topk(docs, q_text.split(), "text", "doc_id", k=10)
    br = SIM.rank_by(sparse, "bm25")
    emb = docs.select(
        "doc_id", TXT.hashed_bow_embedding(F.col("text"), dim=16).alias("v")
    )
    qv = [
        float(x)
        for x in spark.range(1)
        .select(TXT.hashed_bow_embedding(F.lit(q_text), dim=16).alias("q"))
        .head()["q"]
    ]
    dense = SIM.brute_force_topk(emb, qv, "doc_id", "v", k=10)
    dr = SIM.rank_by(dense, "cos").select(
        "doc_id", (F.lit(11) - F.col("rank")).alias("g")
    )
    return _ndcg_frame(br, dr, k=10)


@_register(
    "image_dup_clusters",
    # pairs = the full image_phash_dup_pairs replay (nested CTE), closed
    # into components by the same transitive-closure recursion the
    # dedup_components oracle uses; canonical keeper = min doc_id.
    f"""
    WITH RECURSIVE pairs AS ({ORACLES["image_phash_dup_pairs"]}),
    {_CLUSTERS_SQL}""",
)
def image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE dedup closed end to end: the dHash banded pairs
    (image_phash_dup_pairs) form a graph; connected components
    (analytics/components.py — iterative min-label propagation, per-round
    degree agg + 8-byte-id semi-joins, localCheckpoint cadence) assign
    every near-dup image its cluster's min doc_id as CANONICAL keeper —
    the keep-one-drop-rest policy a multimodal curation pipeline applies
    (anti-join `doc_id != canonical_id` to drop). Output: every clustered
    image with its canonical id and cluster size; the oracle closes the
    same pairs by transitive-closure recursion."""
    from scylla_migrator_spark.analytics.components import connected_components

    # graph consumer -> star-contracted edges (identical closure, linear
    # intra-group edges) over the SAME fingerprints,
    # read from the staged star-edge table (decode+detection cost visible
    # via image_phash_dup_pairs' own row)
    edges = _image_star_edges_staged(spark, sf_dir)
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges))
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        "cluster_size",
    )


@_register(
    "multimodal_consensus_dup_pairs",
    """
    WITH tp AS ("""
    + ORACLES["simhash_hamming_pairs"]
    + """),
    ip AS ("""
    + ORACLES["image_phash_dup_pairs"]
    + """)
    SELECT tp.id_a, tp.id_b, tp.hamming AS text_hamming, ip.hamming AS image_hamming
    FROM tp JOIN ip ON tp.id_a = ip.id_a AND tp.id_b = ip.id_b
    """,
)
def multimodal_consensus_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL consensus near-dup: pairs flagged by BOTH the text
    SimHash blocker (hamming<=8, 32-bit token-vote fingerprints) AND the
    image dHash blocker (hamming<=4 on the rendered-head perceptual hash)
    — the precision-first intersection a curation pipeline applies when a
    single modality's false positives are too expensive to drop on
    (text-only catches paraphrase-ish noise, image-only catches layout
    coincidences; agreement is strong evidence). Pure composition: both
    pair generators are existing oracle-backed queries, joined on the
    pair identity — at 100 TB the join shuffles two already-blocked pair
    tables keyed by (id_a, id_b), nothing corpus-sized. Both legs read
    their staged detections (`_QPAIRS`, the blocker-ensemble
    posture): each leg's detection cost stays bench-visible through its
    own row; this row measures the cross-modal intersection itself."""
    tp = _QPAIRS["simhash_hamming_pairs"](spark, sf_dir).select(
        "id_a", "id_b", F.col("hamming").alias("text_hamming")
    )
    ip = _QPAIRS["image_phash_dup_pairs"](spark, sf_dir).select(
        "id_a", "id_b", F.col("hamming").alias("image_hamming")
    )
    return tp.join(ip, ["id_a", "id_b"])


@stage("doc_payload_halves", tables=["documents"], code=[_write_parity_halves, _write_half_files])
def _doc_payload_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """(doc_id, payload) as two files, even then odd doc_ids: the first 61
    characters of each document's text as UTF-8 bytes, empty payloads
    excluded (the image_phash_dup_pairs rule)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(F.substring(F.col("text"), 1, 61), "UTF-8").alias("payload"),
    )
    _write_parity_halves(out, docs.filter(F.length(F.col("payload")) > 0), "doc_id")


@_register(
    "stream_image_phash_encode",
    # oracle = the batch dHash state: the stateless streaming encode of the
    # two replayed halves must equal the batch fingerprint table exactly
    f"""
    WITH {_DHASH_GRID_CTE}
    SELECT l.doc_id AS asset_id,
           CAST(sum(CASE WHEN l.gray < r.gray
                         THEN 1::BIGINT << (l.y * 7 + l.x)
                         ELSE 0::BIGINT END) AS BIGINT) AS sh
    FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.y = r.y AND r.x = l.x + 1
    GROUP BY l.doc_id
    """,
)
def stream_image_phash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image-index maintenance (batch/stream unification for the
    perceptual-hash table, the stream_pq_encode posture for images): the
    documents replayed as two micro-batches, each arriving "image" synthed,
    resized, and dHash-fingerprinted by the SAME stateless Arrow stages
    the batch path uses — zero stateful operators, no watermark (a dHash
    depends on the image bytes alone, so encoding composes with any
    ingest feed). After the replay the fingerprint table equals the batch
    encode exactly; the banded pair join then runs on it incrementally."""
    stage = _doc_payload_halves_stage(spark, sf_dir)
    stream = _replay_stream(spark, stage)
    ppm = MM.synth_ppm_assets(stream, "doc_id", "payload", width=16, height=16)
    assets = MM.make_asset_table(
        ppm, "asset_id", "data", kind="image", mime="image/x-portable-pixmap"
    )
    fp = MM.image_dhash_fingerprints(MM.resize_ppm_nn(assets, 8, 8), grid=8)
    return _run_available_now(fp, "append")


def _unigram_prune_sql(
    rounds_before: int = 2,
    keep_multi: int = 48,
    rounds_after: int = 1,
    top_multi: int = 128,
    top_out: int = 20,
) -> str:
    """Oracle for the pruned retrain: the shared seed + EM-round CTEs,
    then the prune (keep chars + top-`keep_multi` multi-char pieces by
    prob, renormalized over decimal-truncated probabilities), then more
    EM rounds spliced onto the pruned table."""
    parts = _unigram_parts(rounds_before, top_multi)
    r = rounds_before
    parts.append(
        f"""kept{r} AS MATERIALIZED (
      SELECT piece, p FROM probs{r} WHERE len(piece) = 1
      UNION ALL
      SELECT piece, p FROM (
        SELECT piece, p FROM probs{r} WHERE len(piece) > 1
        ORDER BY p DESC, piece LIMIT {keep_multi}))"""
    )
    parts.append(
        f"""pruned{r} AS MATERIALIZED (
      SELECT piece,
             p / (SELECT CAST(sum(CAST(p AS DECIMAL(18,9))) AS DOUBLE)
                  FROM kept{r}) AS p
      FROM kept{r})"""
    )
    prev = f"pruned{r}"
    for i in range(rounds_after):
        out = f"pprobs{i + 1}"
        parts.extend(_unigram_em_round_parts(f"p{i}", prev, out))
        prev = out
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT piece, round(p, 6) AS p FROM {prev}
    ORDER BY p DESC, piece LIMIT {top_out}"""
    )


@_register("unigram_prune_retrain", _unigram_prune_sql(2, 48, 1))
def unigram_prune_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE SentencePiece-style training loop (Kudo 2018 §3.2:
    alternate EM with vocabulary trimming): seed -> 2 exact EM rounds ->
    prune to alphabet + top-48 multi-char pieces (renormalized over
    decimal-truncated probs) -> 1 more EM round on the pruned lattice.
    Pruning changes the lattices (dropped pieces stop absorbing
    probability mass), so the retrained distribution is a genuinely new
    fixpoint, not a filtered view — the oracle splices the prune CTEs
    between the shared EM-round replays and re-runs the full
    forward-backward on the pruned vocabulary."""
    probs = TOK.train_unigram_pruned(
        _fan(_t(spark, sf_dir, "documents")),
        rounds_before=2,
        keep_multi=48,
        rounds_after=1,
    )
    return (
        probs.orderBy(F.desc("p"), F.asc("piece"))
        .limit(20)
        .select("piece", F.round("p", 6).alias("p"))
    )


@_register(
    "pq_rerank_recall_at_k",
    _recall_sql("pq_adc_rerank_topk"),
)
def pq_rerank_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the ADC-shortlist + exact-re-rank probe
    (pq_adc_rerank_topk) against the exact cosine ranking — the
    companion readout to pq_adc_recall_at_k that quantifies what the
    re-rank stage buys back from PQ quantization error (at the fixture's
    deliberately tiny 4x4 codebooks: ADC-only 0.3 -> rerank 0.7 at
    sf0.01; production codebooks and deeper shortlists push this toward
    1.0). Together the two rows ARE the recall/cost trade a 100 TB
    vector deployment tunes: shortlist depth vs vector fetches."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    books = _pq_books_staged(spark, sf_dir)
    qv = _query_vec0_staged(spark, sf_dir)
    approx = SIM.pq_adc_rerank_topk(
        emb, books, qv, "vec_id", "embedding", k=10, shortlist=30
    )
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@_register(
    "audio_phash_dup_pairs",
    # Oracle replays the whole pipeline byte-for-byte: the doc-head
    # payload (first 61 chars tiled to 464 bytes) becomes the 8-bit PCM
    # stream, 29 frames of nb//29 samples each get an exact INTEGER
    # energy sum((b-128)^2), 28 gradient bits pack into the hash, and the
    # same 4-band Hamming-LSH blocking + popcount verify runs in SQL.
    f"""
    WITH h AS (
      SELECT doc_id,
             hex(encode(substr(repeat(substr(text, 1, 61), 8), 1, 464))) AS hx,
             octet_length(encode(substr(repeat(substr(text, 1, 61), 8), 1, 464))) AS nb
      FROM documents
      WHERE octet_length(encode(substr(repeat(substr(text, 1, 61), 8), 1, 464))) >= 29),
    e AS (
      SELECT doc_id, fk.f AS f,
             CAST(sum((CAST('0x' || substring(hx, 2*((nb // 29) * fk.f + bi.i) + 1, 2) AS INT) - 128)
                    * (CAST('0x' || substring(hx, 2*((nb // 29) * fk.f + bi.i) + 1, 2) AS INT) - 128))
                  AS BIGINT) AS en
      FROM h
      CROSS JOIN (SELECT unnest(generate_series(0, 28)) AS f) fk,
           UNNEST(generate_series(0, nb // 29 - 1)) AS bi(i)
      GROUP BY doc_id, fk.f),
    dh AS (
      SELECT l.doc_id,
             CAST(sum(CASE WHEN l.en < r.en THEN 1::BIGINT << l.f
                           ELSE 0::BIGINT END) AS BIGINT) AS sh
      FROM e l JOIN e r ON l.doc_id = r.doc_id AND r.f = l.f + 1
      GROUP BY l.doc_id),
    bands AS (
      SELECT doc_id, sh, bs.b AS band_id, (sh >> (7 * bs.b)) & 127 AS band_val
      FROM dh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    {_hamming_join(3, "band_id", "band_val", rel="bands")}
    """,
)
def audio_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate detection — frame-energy gradient hash over
    the REAL WAV decode path, banded Hamming LSH for the pair join:
    doc-head bytes become genuine 8-bit PCM RIFF/WAVE files
    (synth_wav_assets — real containers, no media in the repo),
    multimodal.audio_energy_fingerprints parses them back
    (multimodal.decode_wav) and packs 28 adjacent-frame energy-gradient
    bits, and dedup.simhash_banded_pairs reuses the band machinery
    (4 bands x 7 bits; hamming <= 3 < 4 bands -> pigeonhole-lossless,
    oracle-proved). Completes the perceptual-dedup family across text
    (SimHash), image (dHash), and audio (energy envelope); frame
    energies are exact integers, so the whole pipeline replays in SQL
    with zero float pinning. 100 TB shape: PCM stays inside one Arrow
    stage, the pair join shuffles 8-byte hashes."""
    docs = _fan(
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.encode(
                F.substring(F.repeat(F.substring(F.col("text"), 1, 61), 8), 1, 464),
                "UTF-8",
            ).alias("payload"),
            F.lit(8000).cast("int").alias("rate"),
        )
        # corpus-shaped guard: payloads shorter than the frame
        # count can't fill one sample per frame — audio_energy_fingerprints
        # raises on them by contract, and the oracle's generate_series would
        # silently drop them; exclude them identically on BOTH engines
        .filter(F.length(F.col("payload")) >= 29)
    )
    wavs = MM.synth_wav_assets(docs, "doc_id", "payload", "rate")
    assets = MM.make_asset_table(wavs, "asset_id", "data", kind="audio", mime="audio/wav")
    # fingerprints checkpoint before the banded self-join (the image-phash
    # rationale: never decode the PCM twice)
    fp = MM.audio_energy_fingerprints(assets, frames=29).localCheckpoint(eager=True)
    return D.simhash_banded_pairs(
        fp, "asset_id", sh_col="sh", bits=28, bands=4, max_hamming=3
    )


def _dense_top_sql(k: int = 10) -> str:
    """Standalone dense (hashed-embedding cosine) top-k for the query text
    'spark join window' — the grading ground truth the NDCG family shares."""
    return (
        _hashed_emb_cte(16)
        + f""",
    {_QUERY_EMB_CTE}
    SELECT doc_id,
           round(list_cosine_similarity(CAST(emb.v AS DOUBLE[]),
                                        CAST(qe.qv AS DOUBLE[])), 6) AS cos
    FROM emb, qe ORDER BY cos DESC, doc_id LIMIT {k}"""
    )


def _rrf_ndcg_sql(k: int = 10) -> str:
    w_case, idcg = _ndcg_discount_sql(k)
    return f"""
    WITH fused AS ({ORACLES["rrf_hybrid_retrieval"]}),
    fr AS (SELECT doc_id, row_number() OVER (ORDER BY rrf DESC, doc_id) AS r
           FROM fused),
    dt AS ({_dense_top_sql(k)}),
    dr AS (SELECT doc_id,
                  {k + 1} - row_number() OVER (ORDER BY cos DESC, doc_id) AS g
           FROM dt),
    dcg AS (
      SELECT sum(CAST(coalesce(dr.g, 0) * (CASE fr.r {w_case} END)
                 AS DECIMAL(18,9))) AS dcg
      FROM fr LEFT JOIN dr USING (doc_id))
    SELECT {k} AS k,
           round(CAST(dcg AS DOUBLE) / CAST({idcg} AS DOUBLE), 6) AS ndcg
    FROM dcg"""


@_register("rrf_ndcg_at_k", _rrf_ndcg_sql(10))
def rrf_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the RRF-FUSED ranking against the same dense ground
    truth retrieval_ndcg_at_k grades BM25 against — the pair of rows
    quantifies what fusion buys: BM25 alone sits low (the sparse and
    dense views disagree), the fusion pulls the dense list's members up
    without seeing either score scale. Same literal-discount/decimal
    NDCG math; the oracle nests the full fusion replay."""
    # fused ranking read from the staged leg (the 6d posture):
    # rrf_hybrid_retrieval's OWN row computes the fusion fresh every run,
    # so its cost class stays bench-visible there
    fused = _QPAIRS["rrf_hybrid_retrieval"](spark, sf_dir)
    fr = SIM.rank_by(fused, "rrf")
    q_text = "spark join window"
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    emb = docs.select(
        "doc_id", TXT.hashed_bow_embedding(F.col("text"), dim=16).alias("v")
    )
    qv = [
        float(x)
        for x in spark.range(1)
        .select(TXT.hashed_bow_embedding(F.lit(q_text), dim=16).alias("q"))
        .head()["q"]
    ]
    dense = SIM.brute_force_topk(emb, qv, "doc_id", "v", k=10)
    dr = SIM.rank_by(dense, "cos").select(
        "doc_id", (F.lit(11) - F.col("rank")).alias("g")
    )
    return _ndcg_frame(fr, dr, k=10)


@_register(
    "holt_trend_forecast",
    # Holt's linear-trend double exponential smoothing (Holt 1957) over the
    # day-grain counts, alpha=0.5 beta=0.3, 7-day-ahead forecast. The
    # recursion carries (level, trend) day by day — same arithmetic chain
    # as the engine's fold, so the doubles match bit-for-bit.
    """
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn
      FROM daily),
    nd AS (SELECT event_type, count(*)::BIGINT AS n FROM seq
           GROUP BY 1 HAVING count(*) >= 2),
    init AS (
      SELECT a.event_type, 2 AS rn,
             CAST(a.y AS DOUBLE) AS l, CAST(b.y - a.y AS DOUBLE) AS b
      FROM seq a JOIN seq b ON a.event_type = b.event_type
                           AND a.rn = 1 AND b.rn = 2
      JOIN nd ON a.event_type = nd.event_type),
    hw AS (
      SELECT * FROM init
      UNION ALL
      SELECT h.event_type, h.rn + 1,
             0.5 * d.y + 0.5 * (h.l + h.b),
             0.3 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
      FROM hw h JOIN seq d ON d.event_type = h.event_type AND d.rn = h.rn + 1)
    SELECT hw.event_type,
           round(l + 7 * b, 6) AS forecast_7d,
           round(l, 6) AS level,
           round(b, 6) AS trend
    FROM hw JOIN nd ON hw.event_type = nd.event_type AND hw.rn = nd.n
    """,
)
def holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend forecast (double exponential smoothing, Holt
    1957) of daily event volume per type, 7 days ahead — the monitoring
    family's forward-looking member beside the retrospective CUSUM/PSI/KS.
    alpha=0.5 (level), beta=0.3 (trend), initialized l=y1, b=y2-y1.

    Scale shape (the CUSUM day-grain posture): ONE map-side-combined
    (type, day) count; the smoothing recursion folds over each type's
    ~30-element ordered daily array inside whole-stage codegen (collect
    to an array per TYPE, never per row — bounded by days-in-window), so
    there is no per-row window and no driver loop. The fixed-order
    double chain is replayed by the oracle's recursive CTE bit-for-bit;
    rounding happens once, at the output."""
    from pyspark.sql.window import Window  # noqa: F401 (posture parity)

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.expr("ts div 86400000000000").alias("day_idx"))
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("y"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day_idx"), F.col("y")))
            ).alias("s")
        )
        .filter(F.size("s") >= 2)
        .select(
            "event_type", F.transform("s", lambda e: e["y"].cast("double")).alias("ys")
        )
    )
    a, b_ = F.lit(0.5), F.lit(0.3)
    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
    )

    # complements as LITERALS (0.5, 0.7), not 1-alpha computed in-plan:
    # 1.0 - 0.3 is one ulp off the double literal 0.7, and the oracle's
    # recursion uses the literals
    def step(acc, y):
        lt = a * y + F.lit(0.5) * (acc["l"] + acc["b"])
        bt = b_ * (lt - acc["l"]) + F.lit(0.7) * acc["b"]
        return F.struct(lt.alias("l"), bt.alias("b"))

    fitted = series.select(
        "event_type",
        F.aggregate(
            F.slice("ys", 3, F.greatest(F.size("ys") - 2, F.lit(0))), init, step
        ).alias("hb"),
    )
    return fitted.select(
        "event_type",
        F.round(F.col("hb.l") + 7 * F.col("hb.b"), 6).alias("forecast_7d"),
        F.round("hb.l", 6).alias("level"),
        F.round("hb.b", 6).alias("trend"),
    )


@_register(
    "weighted_stratified_sample",
    r"""
    WITH w AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS weight
      FROM documents),
    keyed AS (
      SELECT source, doc_id, weight,
             round(ln((CAST('0x' || substr(md5(doc_id::VARCHAR || 'wres0'), 1, 8)
                       AS BIGINT) + 0.5) / 4294967296.0) / weight, 8) AS skey
      FROM w WHERE weight > 0),
    r AS (
      SELECT source, doc_id, weight, skey,
             row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS rk
      FROM keyed)
    SELECT source, doc_id, weight, skey FROM r WHERE rk <= 5
    """,
)
def weighted_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sampling without replacement
    (sampling.weighted_stratified_topk): 5 documents per source drawn
    proportional to token count by the Efraimidis-Spirakis key — the
    stratified completion of weighted_reservoir_sample (global) and
    stratified_eval_sample (unweighted): quality/length-proportional AND
    source-balanced in one pass. Derandomized md5 uniform -> the draw
    replays in SQL; the only window partitions by source."""
    docs = _fan(_t(spark, sf_dir, "documents").select("source", "doc_id", "text"))
    w = docs.select(
        "source", "doc_id", F.size(TXT.tokens(F.col("text"))).alias("n_tokens")
    )
    return SAMP.weighted_stratified_topk(
        w, "source", "n_tokens", k=5, seed="wres0", id_col="doc_id"
    )


@_register(
    "video_phash_dup_pairs",
    # Oracle replays frame selection + per-frame dHash + shingle match:
    # duration formula -> frame grid f in [0, dur//1000]; frame f's payload
    # = substr(text, 1+7f, 61) (empty-payload frames excluded, the
    # image/audio rule); per-frame 16x16 tile -> 8x8 NN resize -> integer
    # gray -> 56-bit dHash (the image_phash_dup_pairs formulas keyed by
    # (doc_id, f)); adjacent-frame 2-shingles as "sh_f_sh_{f+1}" strings;
    # pairs sharing >= 1 distinct shingle, jaccard over distinct sets.
    """
    WITH d AS (
      SELECT doc_id, text, 1000 + (doc_id % 50) * 250 AS dur FROM documents),
    fr AS (
      SELECT d.doc_id, gs.f,
             hex(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) AS hx,
             octet_length(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) AS nb
      FROM d, UNNEST(generate_series(0, d.dur // 1000)) AS gs(f)
      WHERE octet_length(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) > 0),
    g AS (
      SELECT doc_id, f, ys.y AS y, xs.x AS x,
        (CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 1) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 2) % nb) + 1, 2) AS INT)) // 3 AS gray
      FROM fr
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs),
    dh AS (
      SELECT l.doc_id, l.f,
             CAST(sum(CASE WHEN l.gray < r.gray
                           THEN 1::BIGINT << (l.y * 7 + l.x)
                           ELSE 0::BIGINT END) AS BIGINT) AS sh
      FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.f = r.f
                       AND l.y = r.y AND r.x = l.x + 1
      GROUP BY l.doc_id, l.f),
    sg AS (
      SELECT DISTINCT l.doc_id,
             CAST(l.sh AS VARCHAR) || '_' || CAST(r.sh AS VARCHAR) AS g
      FROM dh l JOIN dh r ON l.doc_id = r.doc_id AND r.f = l.f + 1),
    sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sg GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
      FROM sg a JOIN sg b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.id_a, i.id_b, i.n_shared,
           round(CAST(i.n_shared AS DOUBLE) / (sa.sz + sb.sz - i.n_shared), 6)
             AS jaccard
    FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
                 JOIN sz sb ON sb.doc_id = i.id_b
    """,
)
def video_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-duplicate detection — the fourth perceptual modality:
    documents become REAL ISO BMFF containers (synth_mp4_assets; genuine
    ftyp+moov+mvhd+tkhd box streams, no media in the repo), the REAL
    header parse (decode_assets_meta -> decode_mp4) recovers duration_ms,
    the metadata-driven frame grid samples one frame per second
    (sample_frames' plan: timestamps from the parse, decode partitioned
    per frame), each sampled frame renders through the EXISTING image
    pipeline (synth 16x16 PPM from the frame-offset text window -> NN
    resize -> 56-bit dHash), and dedup.frame_sequence_pairs matches
    videos on shingled frame-hash runs (adjacent-frame 2-shingles,
    jaccard over distinct shingle sets) — near-dup videos must agree on
    consecutive perceptual frames, not a bag of stills.

    100 TB shape: pixels live inside one Arrow stage per frame and the
    per-frame hashes are localCheckpoint-materialized ONCE before the
    pair machinery (the image_phash posture: never decode the corpus
    twice); identical hash sequences collapse to one fingerprint before
    the shingle self-join (re-uploads are the dominant video dup), and
    the join shuffles ~16-byte shingle strings, never frames."""
    fp = _video_frame_fp(spark, sf_dir)
    return D.frame_sequence_pairs(fp, "doc_id", "f", "sh")


def _video_frame_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled-frame dHash table shared by the video pair query and
    the cluster builder (which runs the SAME shingle machinery in
    ``emit="star"`` mode instead of consuming the full pair table):
    synth MP4 -> REAL ISO-BMFF parse -> one frame per second -> per-frame
    16x16 PPM -> NN resize -> 56-bit dHash, localCheckpoint-materialized
    so pair machinery never re-decodes frames."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    vids = docs.select(
        "doc_id",
        (F.lit(1000) + (F.col("doc_id") % 50) * 250).cast("long").alias("dur"),
        F.lit(320).alias("w"),
        F.lit(240).alias("h"),
    )
    mp4s = MM.synth_mp4_assets(vids, "doc_id", "dur", "w", "h")
    assets = MM.make_asset_table(
        mp4s, "asset_id", "data", kind="video", mime="video/mp4"
    )
    meta = MM.decode_assets_meta(assets)
    frames = meta.select(
        "asset_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.col("duration_ms"), F.lit(1000).cast("long")
            )
        ).alias("ts"),
    ).select("asset_id", F.expr("ts DIV 1000").alias("f"))
    fdocs = (
        frames.join(docs, frames["asset_id"] == docs["doc_id"])
        .select(
            (F.col("doc_id") * 64 + F.col("f")).alias("fid"),
            F.encode(
                F.expr("substring(text, CAST(1 + 7 * f AS INT), 61)"), "UTF-8"
            ).alias("payload"),
        )
        .filter(F.length("payload") > 0)
    )
    ppm = MM.synth_ppm_assets(fdocs, "fid", "payload", width=16, height=16)
    passets = MM.make_asset_table(
        ppm, "asset_id", "data", kind="image", mime="image/x-portable-pixmap"
    )
    return (
        MM.image_dhash_fingerprints(MM.resize_ppm_nn(passets, 8, 8), grid=8)
        .select(
            F.expr("asset_id DIV 64").alias("doc_id"),
            (F.col("asset_id") % 64).alias("f"),
            "sh",
        )
        .localCheckpoint(eager=True)
    )


@stage("video_fp", tables=["documents"], code=[_video_frame_fp, _fan, MM])
def _video_frame_fp_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled-frame dHash table (doc_id, f, sh): cluster closure and
    the scene-cut profile read it instead of re-running container parse +
    frame decode per row. Decode+detection cost stays bench-visible
    through video_phash_dup_pairs, which always computes fresh."""
    return _video_frame_fp(spark, sf_dir)


@stage("video_star", inputs=[_video_frame_fp_staged], code=[D])
def _video_star_edges_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contracted video shingle-match edges (id_a, id_b): the cluster
    row reads them and measures the closure + keep-one policy. Detection
    cost stays visible via video_phash_dup_pairs."""
    fp = _video_frame_fp_staged(spark, sf_dir)
    return D.frame_sequence_pairs(fp, "doc_id", "f", "sh", emit="star").select("id_a", "id_b")


@_register(
    "shuffle_shard_manifest",
    # Oracle replays the deterministic shard assignment (salted md5 of the
    # key, mod n_shards — the sharded_shuffle formula) and the per-shard
    # row/token counts. The engine returns BOTH the counts re-aggregated
    # from the WRITTEN shard files (n_*) and the counts the driver wrote
    # into manifest-shards.json (m_*) — the oracle emits each once, so a
    # manifest that disagrees with the files it describes is a red row in
    # CORRECTNESS, not just a pytest.
    r"""
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 8) AS BIGINT)
               AS hv,
             len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS toks
      FROM documents)
    SELECT (hv % 16)::INT AS shard,
           count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS n_tokens,
           count(*)::BIGINT AS m_docs, sum(toks)::BIGINT AS m_tokens
    FROM h GROUP BY 1
    """,
)
def shuffle_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training pipeline's LAST MILE: shuffle the curated corpus
    deterministically into a FIXED number of shard files with per-shard
    token counts and a driver-written manifest
    (sinks/training_manifest.py::write_training_shards — the
    sinks/s3export.py manifest pattern, reference
    writers/DynamoDBS3Export.scala:32-164, applied to training data).
    The shuffle is sampling.shard_layout: salted-md5 hash order, no
    global sort (the leakage_free_split posture); the write is
    partitionBy(shard) with rows in position order, ONE distributed
    pass; only the 16-row stats collect and the manifest JSON touch the
    driver. This query writes the layout, reads BACK the shard parquet
    AND the manifest, and returns both count sets per shard — proving
    write/manifest/read consistency inside the correctness gate."""
    from scylla_migrator_spark.pathio import live_paths
    from scylla_migrator_spark.sinks.training_manifest import (
        read_shard_manifest,
        write_training_shards,
    )

    docs = _fan(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.size(TXT.tokens(F.col("text"))).cast("long").alias("n_toks")
    )
    root = os.path.join(
        _stage_root(), f"spark_graft_shards_{_stage_tag(sf_dir, 'documents')}"
    )
    summary = write_training_shards(
        docs, root, key_col="doc_id", token_count_col="n_toks", n_shards=16
    )
    assert summary["rowCount"] > 0
    _, entries = read_shard_manifest(root)
    written = spark.read.parquet(os.path.join(live_paths(root)[0], "data"))
    file_agg = written.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    manifest = spark.createDataFrame(
        [(e["shard"], e["rowCount"], e["tokenCount"]) for e in entries],
        "shard int, m_docs long, m_tokens long",
    )
    return file_agg.join(manifest, "shard").select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "n_tokens",
        "m_docs",
        "m_tokens",
    )


def _wordpiece_train_sql(n_merges: int = 8) -> str:
    """DuckDB replay of the full WordPiece trainer: the shared unrolled
    segmentation-state CTEs with the likelihood argmax
    (pair_count / (c1 * c2), identical IEEE doubles both engines)."""
    parts = _bpe_state_parts(n_merges, wordpiece=True)
    union = "\n    UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, p1, p2, pair_count,"
        f" round(score, 9) AS score FROM best{r}"
        for r in range(n_merges)
    )
    return ",\n    ".join(parts) + "\n    " + union


@_register("wordpiece_train_merges", _wordpiece_train_sql(8))
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 learned WordPiece merge rules (rank, pair, count, score) —
    the THIRD production tokenizer family beside BPE (count argmax) and
    unigram-LM (EM over a seeded vocab): tokenizer.train_wordpiece merges
    the pair maximizing count(p1p2)/(count(p1)*count(p2)) each round (the
    BERT trainer's likelihood gain — common pairs must beat chance
    co-occurrence, so the learned vocab differs from BPE's on corpora
    with skewed symbol frequencies). Same compressed state as BPE: ONE
    corpus pass to the word-frequency table, then vocab-sized rounds
    (pair counts + symbol counts + a 1-row argmax collect + the greedy
    merge fold in codegen). Oracle replays all 8 rounds CTE-for-CTE."""
    return TOK.train_wordpiece_df(_fan(_t(spark, sf_dir, "documents")), 8)


def _wordpiece_count_sql(n_merges: int = 8) -> str:
    parts = _bpe_state_parts(n_merges, wordpiece=True)
    merged_union = "\n        UNION SELECT p1 || p2 AS p FROM ".join(
        [f"best{r}" for r in range(n_merges)]
    )
    parts.append(
        f"""alpha AS (
      SELECT DISTINCT word[g.i] AS p
      FROM words, UNNEST(generate_series(1, len(word))) AS g(i))"""
    )
    parts.append(
        f"""vocab AS MATERIALIZED (
      SELECT list(p) AS v FROM (
        SELECT p FROM alpha
        UNION SELECT p1 || p2 AS p FROM {merged_union}))"""
    )
    parts.append("wl AS MATERIALIZED (SELECT word FROM words)")
    # the vocabulary rides each recursion row as a carried LIST column:
    # referencing the derived `vocab` CTE from inside the recursive part
    # makes DuckDB's iteration stall silently after one step (verified);
    # a plain column reference keeps the recursion table-free
    parts.append(
        """enc(word, v, cur, np) AS (
      SELECT word, (SELECT v FROM vocab), 1, 0 FROM wl
      UNION ALL
      SELECT e.word, e.v,
             e.cur + (SELECT max(g.l)
                      FROM UNNEST(generate_series(1, len(e.word) - e.cur + 1))
                        AS g(l)
                      WHERE list_contains(e.v,
                                          e.word[e.cur : e.cur + g.l - 1])),
             e.np + 1
      FROM enc e WHERE e.cur <= len(e.word))"""
    )
    parts.append(
        """counts AS MATERIALIZED (
      SELECT word, np AS n_pieces FROM enc WHERE cur = len(word) + 1)"""
    )
    parts.append(
        r"""dw AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents) t
      WHERE len(w) > 0)"""
    )
    body = (
        "\n    SELECT doc_id, count(*)::BIGINT AS n_words,"
        " sum(c.n_pieces)::BIGINT AS n_pieces"
        "\n    FROM dw JOIN counts c USING (word) GROUP BY doc_id"
    )
    sql = ",\n    ".join(parts) + body
    # the greedy encode is a recursive CTE
    return sql.replace("WITH words AS", "WITH RECURSIVE words AS", 1)


@stage("wordpiece_8", tables=["documents"], code=[_fan, TOK, TXT])
def _wordpiece_merges_staged(spark: SparkSession, sf_dir: str) -> list:
    """The 8 trained WordPiece merge rules (deterministic: exact-integer
    counts widened to one IEEE expression, lexical tie-breaks)."""
    return TOK.train_wordpiece(_fan(_t(spark, sf_dir, "documents")), 8)[0]


@stage(
    "wordpiece_counts_8",
    tables=["documents"],
    inputs=[_wordpiece_merges_staged],
    code=[_fan, TOK, TXT],
)
def _wordpiece_counts_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (n_words, n_pieces) under the 8-merge WordPiece vocab."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    words = TOK.word_frequency_table(docs).localCheckpoint()
    merges = [tuple(m) for m in _wordpiece_merges_staged(spark, sf_dir)]
    alphabet = sorted(
        r["c"]
        for r in words.select(F.explode("symbols").alias("c")).distinct().collect()
    )
    vocab = TOK.wordpiece_vocab(merges, alphabet)
    wnp = TOK.wordpiece_token_counts(words, vocab)
    dw = docs.select(
        "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    return dw.join(wnp, "word").groupBy("doc_id").agg(
        F.count("*").alias("n_words"), F.sum("n_pieces").alias("n_pieces")
    )


@_register("wordpiece_token_count", _wordpiece_count_sql(8))
def wordpiece_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece encode under the 8-merge trained
    vocab, aggregated per document as (n_words, n_pieces) — the
    train-then-encode readout that completes the WordPiece family the way
    unigram_token_count (Viterbi) and bpe_token_count (merge replay) do
    for theirs. The vocabulary (alphabet + one piece per merge) rides the
    encode fold as a LITERAL array; the scan is one F.aggregate cursor
    walk per word in codegen, no Python. Oracle: the full training replay
    feeding a recursive greedy-match CTE (longest vocab piece at the
    cursor — single-char coverage guarantees progress). Merges AND the
    per-doc counts are staged; the fertility bake-off and the
    vocab-overlap row re-read the stages."""
    return _wordpiece_counts_staged(spark, sf_dir)


@_register(
    "image_phash_hot_bands",
    # Oracle: the image dHash replay (same CTEs as image_phash_dup_pairs)
    # grouped by band bucket over DISTINCT fingerprints, HAVING > cap.
    f"""
    WITH {_DHASH_BANDS_CTE}
    SELECT band_id, band_val, count(DISTINCT sh)::BIGINT AS n_fingerprints
    FROM bands GROUP BY band_id, band_val
    HAVING count(DISTINCT sh) > 12
    """,
)
def image_phash_hot_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket QUARANTINE REPORT for the banded perceptual-dedup
    family (dedup.simhash_hot_bands over the image dHash fingerprints,
    cap 12): exactly the band buckets a ``max_band_freq=12`` capped pair
    join would exclude, with their DISTINCT-fingerprint populations — the
    operational readout a 100 TB dedup run inspects before deciding to
    raise the cap, add bands, or accept the quarantine (the stop-shingle
    report posture, now a hash-checked CORRECTNESS row so the governance
    path itself is regression-gated). Reads the staged fingerprint table
    (same pipeline, decode cost visible via image_phash_dup_pairs)."""
    fp = _image_dhash_fp_staged(spark, sf_dir)
    return D.simhash_hot_bands(fp, "sh", bits=56, bands=8, max_band_freq=12)


@_register(
    "ann_radius_search",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
        round(
          list_dot_product(CAST(embedding AS DOUBLE[]), qv)
          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM embeddings, q)
    SELECT vec_id, cos FROM scored WHERE cos >= 0.2
    """,
)
def ann_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact RANGE search (similarity.radius_neighbors): every vector with
    cosine >= 0.2 of the query — the radius complement of top-k (dedup
    and contamination sweeps want "everything this close", not "the 10
    closest"). One scan-stage projection + filter, NO shuffle, NO sort:
    the result is a set; ordering is the consumer's choice (rank_by on
    the small result). The threshold compares the ROUNDED 6-dp cosine on
    both engines, so the boundary cannot disagree."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return SIM.radius_neighbors(emb, qv, 0.2, "vec_id", "embedding")


@_register(
    "mrl_truncated_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[])[1:16] AS qv
               FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
        round(
          list_dot_product(CAST(embedding AS DOUBLE[])[1:16], qv)
          / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[])[1:16],
                                   CAST(embedding AS DOUBLE[])[1:16]))
             * sqrt(list_dot_product(qv, qv))), 6) AS cos
      FROM embeddings, q)
    SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
    """,
)
def mrl_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation probe (similarity.truncated_topk,
    Kusupati et al. 2022): rank by cosine over only the FIRST 16 of 64
    dimensions of both corpus and query — the simplest compression a
    vector deployment can buy (a slice at the scan, 4x fewer multiplies
    and bytes), measurable against the full ranking via
    mrl_truncation_recall_at_k. TakeOrdered top-k, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return SIM.truncated_topk(emb, qv, keep_dims=16, id_col="vec_id",
                              vec_col="embedding", k=10)


@_register("mrl_truncation_recall_at_k", _recall_sql("mrl_truncated_topk"))
def mrl_truncation_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the 16-of-64-dimension truncated ranking against the
    exact full-dimension ranking — the dimension-truncation point on the
    same recall/cost curve the LSH/IVF/PQ rows chart (each compressor's
    quality is a hash-checked CORRECTNESS row, so a regression in the
    slice path fails the gate, not a pytest threshold)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec0_staged(spark, sf_dir)
    approx = SIM.truncated_topk(emb, qv, keep_dims=16, id_col="vec_id",
                                vec_col="embedding", k=10)
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@stage("docid_halves", tables=["documents"], code=[_write_parity_halves, _write_half_files])
def _docid_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The doc_ids as two files: even, then odd."""
    _write_parity_halves(out, _t(spark, sf_dir, "documents").select("doc_id"), "doc_id")


@_register(
    "stream_shard_assignment",
    # batch/stream unification for the training-shard layout: shard id is
    # a stateless pure hash of the key, so the streaming assignment must
    # equal the batch shard_layout's (positions are batch-scoped: a
    # window-free stream can only claim membership, not a global ordinal
    # - exactly what the writer's manifest records per shard)
    r"""
    WITH h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 8) AS BIGINT)
               AS hv
      FROM documents)
    SELECT doc_id, (hv % 16)::INT AS shard FROM h
    """,
)
def stream_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest into the training-shard layout: documents replayed
    as two micro-batches, each arriving row assigned its shard by the
    SAME stateless salted-md5 projection the batch writer uses
    (sampling.shard_layout's shard expression — no state store, no
    watermark: the shard is a pure function of the key, so continuous
    ingest routes rows to shard files without re-shuffling history).
    After the replay the (doc_id, shard) table equals the batch
    assignment exactly; intra-shard POSITION stays batch-scoped (the
    writer's per-shard window), which is why the streaming surface stops
    at membership."""
    from scylla_migrator_spark.analytics.sampling import shard_of

    stream = _replay_stream(spark, _docid_halves_stage(spark, sf_dir))
    assigned = stream.select(
        "doc_id", shard_of(F.col("doc_id"), 16, "shuffle").alias("shard")
    )
    return _run_available_now(assigned, "append")


@_register(
    "embedding_dim_stats",
    """
    SELECT g.i::INT AS dim,
           round(CAST(sum(CAST(embedding[g.i + 1] AS DECIMAL(18,9))) AS DOUBLE)
                 / count(*), 6) AS mean,
           round(min(CAST(embedding[g.i + 1] AS DOUBLE)), 6) AS min_v,
           round(max(CAST(embedding[g.i + 1] AS DOUBLE)), 6) AS max_v,
           count(*)::BIGINT AS n
    FROM embeddings, UNNEST(generate_series(0, 63)) AS g(i)
    GROUP BY g.i
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (mean/min/max/count over all 64
    dims) — the feature-store hygiene readout a vector pipeline runs
    before training or quantizing (a dead or exploding dimension shows up
    here first, and PQ/IVF codebook quality depends on it). One
    posexplode + one aggregation; the shuffle carries 64 keys of partial
    stats (map-side combined), never vectors. Mean is the plain double
    average on BOTH engines — embedding values are float32-exact in
    double, and the row count per dim is identical, so the division is
    the same IEEE expression; min/max are exact."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return ex.groupBy("dim").agg(
        # DECIMAL(18,9)-truncated sum -> the mean is shuffle-order
        # independent (a double sum's last ulp depends on partition order)
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("mean"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
        F.count("*").alias("n"),
    ).select(F.col("dim").cast("int").alias("dim"), "mean", "min_v", "max_v", "n")


_FERTILITY_FAMS = [
    ("bpe", "bpe_segment_compression"),
    ("unigram", "unigram_token_count"),
    ("wordpiece", "wordpiece_token_count"),
]


def _fertility_sql() -> str:
    """Corpus-level tokens-per-word for the three trained families, each
    nested as its full per-doc replay (training included)."""
    ctes = ",\n    ".join(
        f"fam_{fam} AS ({ORACLES[q]})" for fam, q in _FERTILITY_FAMS
    )
    selects = "\n    UNION ALL ".join(
        f"SELECT '{fam}' AS family, sum(n_words)::BIGINT AS n_words,"
        f" sum(n_pieces)::BIGINT AS n_pieces,"
        f" round(sum(n_pieces) / CAST(sum(n_words) AS DOUBLE), 6) AS fertility"
        f" FROM fam_{fam}"
        for fam, _ in _FERTILITY_FAMS
    )
    return "WITH " + ctes + "\n    " + selects


@_register("tokenizer_fertility_comparison", _fertility_sql())
def tokenizer_fertility_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer bake-off readout: corpus-level FERTILITY (pieces per
    word) of all three trained families — BPE (8 count-argmax merges),
    unigram-LM (2 exact EM rounds, Viterbi encode), WordPiece (8
    likelihood-argmax merges, greedy longest-match) — in one row per
    family. Fertility is THE comparison number tokenizer selection runs
    on (lower = better compression at equal vocab budget), and here each
    family's number is backed by its full train-then-encode replay, so
    the bake-off itself is a hash-checked CORRECTNESS row. Pure
    composition: three existing oracle-backed per-doc encoders, each
    aggregated to corpus totals."""
    parts = []
    for fam, q in _FERTILITY_FAMS:
        per_doc = QUERIES[q](spark, sf_dir)
        parts.append(
            per_doc.agg(
                F.sum("n_words").cast("long").alias("n_words"),
                F.sum("n_pieces").cast("long").alias("n_pieces"),
            ).select(
                F.lit(fam).alias("family"),
                "n_words",
                "n_pieces",
                F.round(
                    F.col("n_pieces") / F.col("n_words").cast("double"), 6
                ).alias("fertility"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "ewma_control_chart",
    # EWMA control chart (Roberts 1959, the SPC standard): z_t = 0.25 x_t
    # + 0.75 z_{t-1} over daily counts, breach where |z_t - mu| exceeds
    # 3 sigma sqrt(lambda/(2-lambda)) sqrt(1 - 0.75^(2t)). mu/sigma come
    # from EXACT integer sums (counts are ints -> sx, sxx exact; one
    # double division each), and the 0.75^(2t) term is CARRIED through
    # the recursion as q_t = q_{t-1} * 0.5625 — no cross-engine pow()
    # whose last ulp could differ. Same arithmetic chain as the fold.
    """
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS rn
      FROM daily),
    st AS MATERIALIZED (
      SELECT event_type, count(*)::BIGINT AS n,
             CAST(sum(y) AS DOUBLE) / count(*) AS mu,
             sqrt(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)
                  / (count(*) * (count(*) - 1))) AS sigma
      FROM seq GROUP BY 1 HAVING count(*) >= 2),
    ew AS (
      SELECT s.event_type, 1 AS rn, CAST(s.y AS DOUBLE) AS z,
             0.5625 AS q,
             CASE WHEN abs(CAST(s.y AS DOUBLE) - st.mu)
                       > 3 * st.sigma * sqrt(0.25 / 1.75) * sqrt(1 - 0.5625)
                  THEN 1 ELSE 0 END AS br
      FROM seq s JOIN st ON s.event_type = st.event_type AND s.rn = 1
      UNION ALL
      SELECT e.event_type, e.rn + 1,
             0.25 * d.y + 0.75 * e.z,
             e.q * 0.5625,
             e.br + CASE WHEN abs((0.25 * d.y + 0.75 * e.z) - st.mu)
                              > 3 * st.sigma * sqrt(0.25 / 1.75)
                                * sqrt(1 - e.q * 0.5625)
                         THEN 1 ELSE 0 END
      FROM ew e
      JOIN seq d ON d.event_type = e.event_type AND d.rn = e.rn + 1
      JOIN st ON st.event_type = e.event_type)
    SELECT ew.event_type, st.n AS n_days,
           round(st.mu, 6) AS mean, round(st.sigma, 6) AS sigma,
           round(ew.z, 6) AS ewma_final, ew.br::BIGINT AS n_breaches
    FROM ew JOIN st ON ew.event_type = st.event_type AND ew.rn = st.n
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) of daily event volume per type —
    the SPC member of the monitoring family (CUSUM finds the changepoint
    after the fact; the EWMA chart is the ONLINE alarm: small persistent
    shifts breach the tightening control limits long before a 3-sigma
    Shewhart rule fires). lambda=0.25, L=3; limits use the exact-variance
    start-up correction sqrt(1 - (1-lambda)^(2t)), with the power carried
    through the recursion (q *= 0.5625) so no cross-engine pow() is in
    the chain. mu/sigma derive from exact integer sums. Output per type:
    (n_days, mean, sigma, ewma_final, n_breaches).

    Scale shape: the CUSUM/Holt day-grain posture — one map-side (type,
    day) count, then the chart folds over each type's ~30-element ordered
    daily array in codegen; nothing per-row, nothing on the driver."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.expr("ts div 86400000000000").alias("day_idx"))
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("y"))
    )
    series = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("day_idx"), F.col("y")))
            ).alias("s"),
            F.count("*").alias("n"),
            F.sum("y").alias("sx"),
            F.sum(F.col("y") * F.col("y")).alias("sxx"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "event_type",
            F.transform("s", lambda e: e["y"].cast("double")).alias("ys"),
            "n",
            (F.col("sx").cast("double") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                / (F.col("n") * (F.col("n") - 1))
            ).alias("sigma"),
        )
    )
    lam, comp, comp2 = F.lit(0.25), F.lit(0.75), F.lit(0.5625)
    mu, sigma = F.col("mu"), F.col("sigma")

    def lim(q):
        return F.lit(3) * sigma * F.sqrt(F.lit(0.25) / F.lit(1.75)) * F.sqrt(
            F.lit(1) - q
        )

    z1 = F.element_at("ys", 1)
    init = F.struct(
        z1.alias("z"),
        comp2.alias("q"),
        F.when(F.abs(z1 - mu) > lim(comp2), F.lit(1)).otherwise(F.lit(0)).alias("br"),
    )

    def step(acc, y):
        z = lam * y + comp * acc["z"]
        q = acc["q"] * comp2
        br = acc["br"] + F.when(F.abs(z - mu) > lim(q), F.lit(1)).otherwise(F.lit(0))
        return F.struct(z.alias("z"), q.alias("q"), br.alias("br"))

    fitted = series.select(
        "event_type",
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(sigma, 6).alias("sigma"),
        F.aggregate(
            F.slice("ys", 2, F.greatest(F.size("ys") - 1, F.lit(0))), init, step
        ).alias("ch"),
    )
    return fitted.select(
        "event_type",
        F.col("n").alias("n_days"),
        "mean",
        "sigma",
        F.round(F.col("ch.z"), 6).alias("ewma_final"),
        F.col("ch.br").cast("long").alias("n_breaches"),
    )


@_register(
    "dup_cluster_size_histogram",
    # the dedup_components closure aggregated to the distribution dedup
    # POLICY decisions read: how many clusters of each size (singletons =
    # docs in no near-dup pair, counted from the complement)
    f"""
    WITH RECURSIVE
    {_dup_pairs_cte(60, "pairs")},
    {_closure_cte("pairs")},
    comp AS (SELECT v AS doc_id, min(u) AS component FROM reach GROUP BY v),
    sizes AS (SELECT component, count(*)::BIGINT AS cluster_size
              FROM comp GROUP BY component)
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS n_docs
    FROM sizes GROUP BY cluster_size
    UNION ALL
    SELECT 1::BIGINT, x.n, x.n FROM (
      SELECT ((SELECT count(*) FROM documents)
              - (SELECT count(*) FROM comp))::BIGINT AS n) x
    WHERE x.n > 0
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER SIZE distribution — the readout a dedup policy is
    tuned on (keep-one-per-cluster removal rate = sum((size-1) *
    n_clusters); a fat tail here means boilerplate families, and the
    cluster count at each size prices the keeper policy). Clustered sizes
    come from the shared staged pair table + components fixpoint; the
    singleton row is the COMPLEMENT count (docs in no pair) so the
    histogram's n_docs column sums to the corpus exactly — no per-doc
    join for documents that never entered the pair graph. Output:
    (cluster_size, n_clusters, n_docs)."""
    from scylla_migrator_spark.analytics.components import connected_components

    edges = _read_parquet_immutable(spark, _simhash_star_edges_staged(spark, sf_dir))
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges))
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    hist = hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
    )
    n_total = _t(spark, sf_dir, "documents").count()
    n_clustered = comp.count()
    n_single = int(n_total - n_clustered)
    if n_single > 0:
        single = spark.createDataFrame(
            [(1, n_single, n_single)], "cluster_size long, n_clusters long, n_docs long"
        )
        hist = hist.unionByName(single)
    return hist


def _query_pairs_builder(qname: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return QUERIES[qname](spark, sf_dir)

    return build


# Registry pair-queries' outputs, one stage each: consumers that COMPOSE
# pair tables (the blocker ensemble, the consensus and recall rows) read
# detections from stages the way components/keep-best do, instead of
# re-running every leg's candidate join fresh. Besides each query's own
# source, the key covers the helper modules its leg may reach and the
# queries.py helpers the perceptual legs delegate to.
_QPAIRS = {
    q: stage(
        f"qpairs_{q}",
        tables=["documents"],
        code=[QUERIES[q], _fan, _image_dhash_fp, _video_frame_fp, D, TXT, MM, SIM],
    )(_query_pairs_builder(q))
    for q in (
        "rrf_hybrid_retrieval",
        "minhash_lsh_pairs",
        "sorted_neighborhood_blocking",
        "ngram_jaccard_block_pairs",
        "simhash_hamming_pairs",
        "image_phash_dup_pairs",
    )
}


def _blocker_ensemble_sql() -> str:
    """Four existing oracle replays tagged with evidence bits, unioned,
    and filtered to >= 2 agreeing blockers."""
    return f"""
    WITH sh AS ({ORACLES["simhash_hamming_pairs"]}),
    mh AS ({ORACLES["minhash_lsh_pairs"]}),
    sn AS ({ORACLES["sorted_neighborhood_blocking"]}),
    ng AS ({ORACLES["ngram_jaccard_block_pairs"]}),
    tagged AS (
      SELECT id_a, id_b, 1 AS ev FROM sh
      UNION ALL SELECT id_a, id_b, 2 FROM mh
      UNION ALL SELECT least(id_a, id_b), greatest(id_a, id_b), 4 FROM sn
      UNION ALL SELECT id_a, id_b, 8 FROM ng WHERE jaccard >= 0.5)
    SELECT id_a, id_b,
           count(DISTINCT ev)::BIGINT AS n_blockers,
           sum(DISTINCT ev)::BIGINT AS evidence
    FROM tagged GROUP BY id_a, id_b
    HAVING count(DISTINCT ev) >= 2
    """


@_register("blocker_ensemble_pairs", _blocker_ensemble_sql())
def blocker_ensemble_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE entity-resolution blocking — pairs surfaced by at least
    TWO independent blockers: SimHash banded Hamming (bit 1), MinHash
    LSH (bit 2), sorted-neighborhood adjacency (bit 4), n-gram Jaccard
    >= 0.5 (bit 8). Each blocker has a blind spot (token-set blockers
    miss lexically-adjacent typos, SimHash misses short docs, SN misses
    reordered prefixes); requiring agreement is the standard
    precision-first merge rule, and the ``evidence`` bitmap tells the
    reviewer WHICH families agreed. Pure composition of four existing
    oracle-backed generators, each read from its detection STAGE (the
    legs' detection costs are timed by their own registry rows — r9
    verdict task #4): the union shuffles already-blocked pair tables
    keyed by pair identity, nothing corpus-sized. Output:
    (id_a, id_b, n_blockers, evidence)."""
    sh = _simhash_pairs_staged(spark, sf_dir).select(
        "id_a", "id_b", F.lit(1).alias("ev")
    )
    mh = _QPAIRS["minhash_lsh_pairs"](spark, sf_dir).select(
        "id_a", "id_b", F.lit(2).alias("ev")
    )
    sn = _QPAIRS["sorted_neighborhood_blocking"](spark, sf_dir).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.lit(4).alias("ev"),
    )
    ng = (
        _QPAIRS["ngram_jaccard_block_pairs"](spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.lit(8).alias("ev"))
    )
    tagged = sh.unionByName(mh).unionByName(sn).unionByName(ng)
    return (
        tagged.groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("ev").alias("n_blockers"),
            F.sum_distinct("ev").alias("evidence"),
        )
        .filter(F.col("n_blockers") >= 2)
    )


@_register(
    "kmv_distinct_estimate",
    # KMV (k-minimum-values, Bar-Yossef et al. 2002) with k=64 over the
    # deterministic 32-bit md5 hash: estimate = (k-1) * 2^32 / h_k. The
    # merged column replays the sketch from two event_id-parity halves
    # (k smallest of the union of the halves' k-lists) — equal to the
    # whole-table sketch by the k-smallest-of-union property, and the
    # equality is hash-checked here, not asserted in a pytest.
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
    kk AS (
      SELECT event_type, max(hv) AS hk, count(*)::BIGINT AS nh
      FROM r WHERE rn <= 64 GROUP BY 1),
    ex AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1),
    hhalf AS (
      SELECT DISTINCT event_id % 2 AS half, event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events),
    rhalf AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY half, event_type ORDER BY hv) AS rn
      FROM hhalf),
    merged AS (
      SELECT DISTINCT event_type, hv FROM rhalf WHERE rn <= 64),
    rm AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM merged),
    km AS (
      SELECT event_type, max(hv) AS hk, count(*)::BIGINT AS nh
      FROM rm WHERE rn <= 64 GROUP BY 1)
    SELECT ex.event_type, 64 AS k, ex.n_exact,
           round(CASE WHEN kk.nh < 64 THEN CAST(kk.nh AS DOUBLE)
                      ELSE 63 * 4294967296.0 / kk.hk END, 3) AS kmv_estimate,
           round(CASE WHEN km.nh < 64 THEN CAST(km.nh AS DOUBLE)
                      ELSE 63 * 4294967296.0 / km.hk END, 3) AS kmv_estimate_merged
    FROM ex JOIN kk ON ex.event_type = kk.event_type
            JOIN km ON ex.event_type = km.event_type
    """,
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (k-minimum-values, Bar-Yossef et al.
    2002, k=64) per event type — the VALUE-ORACLED member of the sketch
    family: unlike HLL++ (approx_count_distinct, engine-internal state,
    rows-only check), KMV over a deterministic md5 hash replays exactly
    in SQL, so the sketch VALUE and its merge law are hash-checked rows.
    ``kmv_estimate_merged`` rebuilds the sketch from two event-parity
    halves (k smallest of the union of the halves' k-lists) and must
    equal the whole-table estimate — the mergeability that makes KMV a
    map-side-combinable sketch at 100 TB (per-partition k-lists merge
    associatively; the shuffle carries 64 longs per type, never users).
    Output: (event_type, k, n_exact, kmv_estimate, kmv_estimate_merged)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    hv = TXT._md5_int(F.col("user_id").cast("string")).alias("hv")
    h = ev.select("event_type", hv).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    kk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(F.max("hv").alias("hk"), F.count("*").alias("nh"))
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    halves = ev.select(
        (F.col("event_id") % 2).alias("half"), "event_type", hv
    ).distinct()
    wh = Window.partitionBy("half", "event_type").orderBy("hv")
    merged = (
        halves.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") <= 64)
        .select("event_type", "hv")
        .distinct()
    )
    km = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(F.max("hv").alias("hk"), F.count("*").alias("nh"))
    )

    def est(kkdf):
        return F.round(
            F.when(F.col("nh") < 64, F.col("nh").cast("double")).otherwise(
                F.lit(63) * F.lit(4294967296.0) / F.col("hk")
            ),
            3,
        )

    a = kk.select("event_type", est(kk).alias("kmv_estimate"))
    b = km.select("event_type", est(km).alias("kmv_estimate_merged"))
    return (
        ex.join(a, "event_type")
        .join(b, "event_type")
        .select(
            "event_type",
            F.lit(64).alias("k"),
            "n_exact",
            "kmv_estimate",
            "kmv_estimate_merged",
        )
    )


@_register(
    "video_dup_clusters",
    # the video shingle-match pairs closed into components by the same
    # transitive-closure recursion image_dup_clusters uses; canonical
    # keeper = min doc_id, cluster_size for the drop policy
    f"""
    WITH RECURSIVE pairs AS ({ORACLES["video_phash_dup_pairs"]}),
    {_CLUSTERS_SQL}""",
)
def video_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO dedup closed end to end (the image_dup_clusters policy on the
    fourth modality): shingled frame-hash pairs form a graph, connected
    components assign every near-dup video its cluster's min doc_id as
    canonical keeper plus the cluster size — keep-one-drop-rest over
    re-uploads and trims that share frame runs. Components run over
    8-byte ids (the pair table is already blocked); the oracle closes the
    same pairs by transitive-closure recursion."""
    from scylla_migrator_spark.analytics.components import connected_components

    # graph consumer -> star-contracted shingle-match edges (identical
    # closure, linear intra-group edges) read from
    # the staged star-edge table (decode+detection cost visible via
    # video_phash_dup_pairs' own row)
    edges = _video_star_edges_staged(spark, sf_dir)
    comp = connected_components(edges, src="id_a", dst="id_b", edge_rows_hint=_staged_rows(edges))
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        "cluster_size",
    )


@_register("incremental_components_update", ORACLES["dedup_components"])
def incremental_components_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup-graph maintenance: 10% of the corpus (doc_id % 10
    == 0) arrives as an ingest batch against the already-labelled
    remainder. New near-dup edges (every simhash pair touching an
    arriving doc) are CONTRACTED onto the existing component labels, the
    fixpoint runs only on that batch-sized contracted graph, and old
    labels remap through one join
    (analytics/components.py::incremental_components_update). The oracle
    is the FULL-corpus transitive closure (dedup_components' SQL,
    verbatim) — the incremental path must reproduce the full recompute
    exactly, which is the whole point: at 100 TB the history's
    trillion-edge fixpoint never re-runs; each batch pays for itself."""
    from scylla_migrator_spark.analytics.components import (
        contracted_merge,
        incremental_components_apply,
        minlabel_union_find,
    )
    from scylla_migrator_spark.streaming.components_cdc import KEY_BUCKET_COL

    # STAGED-KEY edge generation (r9 verdict task #1) against SERVED
    # state: the pre-batch state — fingerprints + min-label fixpoint of
    # the 90% already-ingested corpus — is the staged serving table
    # (_incr_state_staged) PLUS its persistent union-key stage
    # (_incr_keys_staged); in production both simply exist. The batch
    # probes the staged keys with its own broadcast key set
    # (partition-pruned scan — never a full-state key re-explode), the
    # fixpoint runs on the batch-sized contracted graph, and old labels
    # remap through one broadcast join. That single remap pass over the
    # labelling is the row's OUTPUT, not overhead.
    state = _read_parquet_immutable(spark, _incr_state_staged(spark, sf_dir))
    keys = _read_parquet_immutable(spark, _incr_keys_staged(spark, sf_dir))
    inc = _fan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).filter(F.col("doc_id") % 10 == 0)
    fp_inc = D.simhash_fingerprints(
        inc, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    ).localCheckpoint(eager=True)
    base = state.filter(F.col("paired")).select("id", "comp")
    pr = D.simhash_staged_probe(
        fp_inc, keys, id_col="doc_id", sh_col="sh", group_col="source",
        bits=60, blocks=10, max_hamming=8,
        key_bucket_col=KEY_BUCKET_COL, n_key_buckets=32,
        materialize="checkpoint",
    )
    # batch-bounded contracted graph -> driver-side min-label union-find
    # (one collect; the distributed fixpoint's per-round job scheduling
    # dominates at batch scale), distributed fallback past the cap
    from scylla_migrator_spark.streaming.components_cdc import (
        MAX_LOCAL_MERGE_EDGES,
    )

    edge_rows = [(r[0], r[1]) for r in pr.edges.take(MAX_LOCAL_MERGE_EDGES + 1)]
    if len(edge_rows) <= MAX_LOCAL_MERGE_EDGES:
        base_map = {r["id"]: r["comp"] for r in pr.anchor_labels.collect()}
        merged_map = minlabel_union_find(
            (base_map.get(a, a), base_map.get(b, b)) for a, b in edge_rows
        )
        edges = spark.createDataFrame(edge_rows, "id_a long, id_b long")
        merged = spark.createDataFrame(
            list(merged_map.items()), "__mid long, __mc long"
        )
    else:
        edges = pr.edges.localCheckpoint(eager=True)
        merged = contracted_merge(pr.anchor_labels, edges, "id_a", "id_b")
    labels = incremental_components_apply(base, merged, edges, "id_a", "id_b")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def _doc_fp60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, sh): 60-bit simhash fingerprints of the documents."""
    return D.simhash_fingerprints(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "text",
        "doc_id",
        carry_cols=["source"],
        bits=60,
        hash_hex=15,
    )


@stage(
    "docfp60_halves",
    tables=["documents"],
    code=[_doc_fp60, D, TXT, _write_parity_halves, _write_half_files],
)
def _docfp60_halves_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The documents' 60-bit fingerprints as two files: even doc_ids,
    then odd ones."""
    _write_parity_halves(out, _doc_fp60(spark, sf_dir), "doc_id")


@_register("stream_components_update", ORACLES["dedup_components"])
def stream_components_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-graph maintenance (streaming/components_cdc.py):
    the documents replayed as two micro-batches; each batch's
    fingerprints join the served state for new near-dup edges, the
    fixpoint runs on the batch-sized CONTRACTED graph
    (incremental_components_update), and the component table commits
    atomically. After the replay the paired labelling must equal the
    batch dedup_components over the full corpus — the oracle is that
    full-corpus transitive closure verbatim, so the streaming maintenance
    invariant is a hash-checked row (the incremental_scd2 posture applied
    to the dedup graph)."""
    import tempfile
    import uuid

    from scylla_migrator_spark.streaming.components_cdc import (
        incremental_components_stream,
    )

    # the stream carries FINGERPRINTS, not text (the upstream-encode
    # shape: encoding runs at ingest, only 8-byte hashes reach the graph
    # maintainer)
    stage = _docfp60_halves_stage(spark, sf_dir)
    stream = _replay_stream(spark, stage)
    serving = tempfile.mkdtemp(prefix="sgs_cc_") + f"/serving_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = incremental_components_stream(
            stream, serving, tempfile.mkdtemp(prefix="sgs_cc_ckpt_"), bits=60
        )
        q.awaitTermination()
    return (
        spark.read.parquet(serving)
        .filter(F.col("paired"))
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
    )


@stage("cc_state", tables=["documents"], code=[_fan, D, TXT, CMOD, CC])
def _cc_state_staged(spark: SparkSession, sf_dir: str, out: str) -> None:
    """The maintained dedup-graph STATE (serving + union-key stage +
    merge journal) over the full corpus, built through the streaming
    maintainer in two batches (so the journal is non-trivial). Mutating
    consumers (the retraction row) copy it to a scratch dir — in
    production this state simply exists; re-building it inside the
    scenario would measure base construction, not the retraction the row
    is about."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(
        docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    ).localCheckpoint(eager=True)
    serving = os.path.join(out, "serving")
    os.makedirs(out)
    for r in (0, 1):
        CC.components_upsert_batch(
            fp.filter(F.col("doc_id") % 2 == r), serving, id_col="doc_id", bits=60
        )


@_register(
    "components_retract_rebalance",
    # full-corpus wide closure over the REMAINING documents — the
    # retraction path must reproduce it exactly, splits included
    f"""
    WITH RECURSIVE
    live AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
    {_dup_pairs_cte(60, "pairs", "live")},
    {_closure_cte("pairs")}
    SELECT v AS doc_id, min(u)::BIGINT AS component FROM reach GROUP BY v
    """,
)
def components_retract_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION support for the maintained dup-graph (GDPR takedowns,
    licence pulls): retract every doc_id % 17 == 0 from the served state
    and return the surviving paired labelling — which must equal a full
    recompute over the remaining corpus, COMPONENT SPLITS included (the
    case the insert-only merge journal cannot express; see
    streaming/components_cdc.components_retract_batch for the design:
    combo-0 stage probe locates the victims' components bucket-pruned,
    survivors re-solve per component with the driver-side union-find,
    serving buckets + key partitions + journal rewrite commit in one
    record). The pre-delete state is staged (it EXISTS in
    production) and copied to scratch, so the row measures what a
    retraction batch actually costs."""
    import shutil
    import tempfile

    from scylla_migrator_spark.streaming.components_cdc import (
        components_retract_batch,
    )

    state = _cc_state_staged(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="sgs_cc_retract_")
    # hardlink the scratch copy: files are never rewritten in place (a
    # generation writes new files and a new record, and the sweep only
    # unlinks), so the mutable working set costs O(#files) directory
    # entries, not a byte copy — the timed body measures retraction work,
    # not copytree. Cross-device fallback copies for real.
    def _link_tree(src: str, dst: str) -> None:
        try:
            shutil.copytree(src, dst, copy_function=os.link)
        except OSError:
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)

    for entry in os.listdir(state):
        if entry.startswith("serving"):
            _link_tree(os.path.join(state, entry), os.path.join(scratch, entry))
    serving = os.path.join(scratch, "serving")
    victims = _fan(
        _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).filter(F.col("doc_id") % 17 == 0)
    fp_del = D.simhash_fingerprints(
        victims, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    )
    with _stream_shuffle_partitions(spark):
        components_retract_batch(fp_del, serving, id_col="doc_id", bits=60)
    return (
        spark.read.parquet(serving)
        .filter(F.col("paired"))
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
    )


@stage("doccdc60_feed", tables=["documents"], code=[_doc_fp60, D, TXT, _write_half_files])
def _doccdc60_feed_stage(spark: SparkSession, sf_dir: str, out: str) -> None:
    """An op-tagged (doc_id, source, sh, op) change feed in two files: the
    upserts of the even doc_ids, then the upserts of the odd ones plus a
    delete of every doc_id % 17 == 0."""
    fp = _doc_fp60(spark, sf_dir)
    ups = fp.select("doc_id", "source", "sh", F.lit("upsert").alias("op"))
    dels = fp.select("doc_id", "source", "sh", F.lit("delete").alias("op"))
    _write_half_files(
        out,
        [
            ("0", ups.filter(F.col("doc_id") % 2 == 0)),
            (
                "1",
                ups.filter(F.col("doc_id") % 2 == 1).unionByName(
                    dels.filter(F.col("doc_id") % 17 == 0)
                ),
            ),
        ],
    )


@_register(
    "components_cdc_replay",
    # net-live wide closure over doc_id % 17 != 0 — the surviving corpus
    # after the mixed feed below nets out (same remaining set as the
    # retraction row, so the oracle is that row's recursive closure)
    ORACLES["components_retract_rebalance"],
)
def components_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED insert/delete CDC maintenance end to end
    (streaming/components_cdc.components_cdc_stream): one op-tagged feed
    replayed as two micro-batches — batch 1 ingests the even half of the
    corpus; batch 2 ingests the odd half AND retracts every doc_id % 17
    == 0 in the same micro-batch. That interleaving exercises the full
    lifecycle under the driver's value-hash gate: mid-chain deletes of
    batch-1 documents (component SPLITS against served state), same-batch
    insert-then-delete (odd % 17 docs must net to absence), and the
    upsert→retract ordering contract. The oracle is the full recursive
    closure over the NET-LIVE corpus (doc_id % 17 != 0) — the maintained
    graph must be indistinguishable from a batch recompute over what
    remains. Per-batch I/O follows the maintenance scan contract
    (staged-key probe, bucket-pruned rewrites, one commit record per
    generation; at-least-once replays no-op via the batch marker)."""
    import tempfile
    import uuid

    from scylla_migrator_spark.streaming.components_cdc import (
        components_cdc_stream,
    )

    stage = _doccdc60_feed_stage(spark, sf_dir)
    stream = _replay_stream(spark, stage)
    serving = tempfile.mkdtemp(prefix="sgs_cdc_") + f"/serving_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = components_cdc_stream(
            stream, serving, tempfile.mkdtemp(prefix="sgs_cdc_ckpt_"), bits=60
        )
        q.awaitTermination()
    return (
        spark.read.parquet(serving)
        .filter(F.col("paired"))
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
    )


@_register("components_stage_lifecycle", ORACLES["dedup_components"])
def components_stage_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained graph's STAGE MAINTENANCE path under the value-hash
    gate: two ingest generations (journal goes non-trivial), then
    ``compact_components_stage`` folds the merge journal into the
    union-key stage, then the keys dir is DELETED and
    ``rebuild_components_stage`` reconstructs it from the serving table
    (the migration path the upsert/retract guards point at — pre-stage
    on-disk formats, lost/renamed keys dirs), then a THIRD generation
    ingests against the rebuilt stage. The final labelling must equal the
    full-corpus wide closure — compaction must preserve resolution,
    and the rebuilt stage must preserve the ingest induction (anchors
    connected to every member, comp0s current, journal empty). Both
    operations were pytest-only before this row; the driver's oracle now
    hashes them."""
    import shutil
    import tempfile

    from scylla_migrator_spark.streaming.components_cdc import (
        KEYS_SUFFIX,
        compact_components_stage,
        components_upsert_batch,
        rebuild_components_stage,
    )

    fp = D.simhash_fingerprints(
        _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text")),
        "text",
        "doc_id",
        carry_cols=["source"],
        bits=60,
        hash_hex=15,
    ).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="sgs_ccl_")
    serving = os.path.join(root, "serving")
    with _stream_shuffle_partitions(spark):
        components_upsert_batch(
            fp.filter(F.col("doc_id") % 3 == 0), serving, id_col="doc_id", bits=60
        )
        components_upsert_batch(
            fp.filter(F.col("doc_id") % 3 == 1), serving, id_col="doc_id", bits=60
        )
        compact_components_stage(spark, serving)
        shutil.rmtree(serving + KEYS_SUFFIX)
        rebuild_components_stage(spark, serving, bits=60)
        components_upsert_batch(
            fp.filter(F.col("doc_id") % 3 == 2), serving, id_col="doc_id", bits=60
        )
    return (
        spark.read.parquet(serving)
        .filter(F.col("paired"))
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
    )


@_register(
    "shard_balance_stats",
    r"""
    WITH h AS (
      SELECT doc_id,
             (CAST('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 8) AS BIGINT)
              % 16)::INT AS shard
      FROM documents),
    per AS (SELECT shard, count(*)::BIGINT AS n FROM h GROUP BY shard)
    SELECT count(*)::BIGINT AS n_shards,
           min(n) AS min_rows, max(n) AS max_rows,
           sum(n)::BIGINT AS total_rows,
           round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS max_skew
    FROM per
    """,
)
def shard_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance audit of the deterministic shard layout: per-shard row
    counts reduced to (n_shards, min, max, total, max_skew) where
    max_skew = max/mean — the number that says whether the salted-md5
    shuffle actually spread the corpus (a straggler shard is a straggler
    TRAINING reader at 100 TB; >1.2 on big shards means the key has
    structure and the salt should change). One hash projection + a
    16-key aggregate; nothing corpus-sized leaves the scan stage."""
    from scylla_migrator_spark.analytics.sampling import shard_of

    docs = _t(spark, sf_dir, "documents").select(
        shard_of(F.col("doc_id"), 16, "shuffle").alias("shard")
    )
    per = docs.groupBy("shard").agg(F.count("*").alias("n"))
    return per.agg(
        F.count("*").alias("n_shards"),
        F.min("n").alias("min_rows"),
        F.max("n").alias("max_rows"),
        F.sum("n").alias("total_rows"),
        F.round(
            F.max("n").cast("double") * F.count("*") / F.sum("n"), 6
        ).alias("max_skew"),
    )


@_register(
    "daily_volume_autocorr",
    # lag-1 Pearson autocorrelation of the daily count series per type,
    # from EXACT integer sums over the n-1 aligned (y_t, y_{t+1}) pairs:
    # r = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)).
    # counts are ints -> every S is exact; one double expression both
    # engines evaluate identically.
    f"""
    WITH {_DAILY_SEQ_CTE},
    lagged AS (
      SELECT a.event_type, a.y AS x, b.y AS z
      FROM seq a JOIN seq b
        ON a.event_type = b.event_type AND b.rn = a.rn + 1),
    s AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(z)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(z * z)::BIGINT AS syy,
             sum(x * z)::BIGINT AS sxy
      FROM lagged GROUP BY 1 HAVING count(*) >= 2)
    SELECT event_type, n AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS autocorr_lag1
    FROM s
    """,
)
def daily_volume_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume per type — the
    time-series diagnostic that separates trending/seasonal series
    (autocorr near 1) from independent noise (near 0): it tells the
    monitoring family which alarms apply (CUSUM/EWMA assume exchangeable
    residuals; a high lag-1 says deseasonalize first — see
    daily_seasonal_decomposition). Day-grain counts, the (y_t, y_{t+1})
    alignment as a rn+1 self-join of the ~30-row daily table, and the
    Pearson ratio from EXACT integer sums — one identical double
    expression on both engines, rounded once at the output."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.expr("ts div 86400000000000").alias("day_idx"))
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("y"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day_idx")
    seq = daily.withColumn("rn", F.row_number().over(w))
    a, b = seq.alias("a"), seq.alias("b")
    lagged = a.join(
        b,
        on=[
            F.col("a.event_type") == F.col("b.event_type"),
            F.col("b.rn") == F.col("a.rn") + 1,
        ],
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.y").alias("x"),
        F.col("b.y").alias("z"),
    )
    s = (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("z").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("z") * F.col("z")).alias("syy"),
            F.sum(F.col("x") * F.col("z")).alias("sxy"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    return s.select(
        "event_type",
        n.alias("n_pairs"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            ),
            6,
        ).alias("autocorr_lag1"),
    )


@_register(
    "near_dup_under_duplication",
    # skew-stressed corpus: every doc with doc_id%10<3 duplicated once
    # (re-upload noise) AND doc 0 duplicated 200x (the degenerate hot
    # fingerprint — blank-page/boilerplate shape). Oracle = unblocked
    # all-pairs popcount (pigeonhole-lossless vs the banded join),
    # aggregated by hamming.
    f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT 2000000 + doc_id, text FROM documents WHERE doc_id % 10 < 3
      UNION ALL
      SELECT 1000000 + g.i, text
      FROM documents, UNNEST(generate_series(1, 200)) AS g(i)
      WHERE doc_id = 0),
    {_simhash_cte(rel="docs2", source=False)},
    pr AS (
      SELECT bit_count(xor(a.sh, b.sh))::INT AS hamming
      {_hamming_join(3)})
    SELECT hamming, count(*)::BIGINT AS n_pairs FROM pr GROUP BY hamming
    """,
)
def near_dup_under_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket governance under ACTUAL skew, bench-timed: the
    corpus is stressed with 30% re-uploads (every doc_id%10<3 duplicated
    once) plus ONE document duplicated 200x — the degenerate fingerprint
    (blank page / solid thumbnail / boilerplate) that collapses into a
    single band bucket. simhash_banded_pairs runs its distinct-
    fingerprint band join on it: the 200-copy group contributes ONE row
    per band instead of 200 (so ~200^2/2 join candidates never form) and
    its member pairs come back arithmetically through the expansion legs.
    The oracle is the UNBLOCKED all-pairs popcount (lossless by the
    pigeonhole bound), aggregated by hamming — so both the skew-safety
    AND the losslessness are certified on a corpus built to break naive
    banding; the bench timing of this row is the evidence the
    plan stays sub-quadratic."""
    base = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    reups = base.filter(F.col("doc_id") % 10 < 3).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    hot = (
        base.filter(F.col("doc_id") == 0)
        .select(F.explode(F.sequence(F.lit(1), F.lit(200))).alias("i"), "text")
        .select((F.col("i") + 1000000).cast("long").alias("doc_id"), "text")
    )
    corpus = base.unionByName(reups).unionByName(hot)
    fp = D.simhash_fingerprints(corpus, "text", "doc_id", bits=32)
    pairs = D.simhash_banded_pairs(
        fp, "doc_id", bits=32, bands=4, max_hamming=3
    )
    return pairs.groupBy("hamming").agg(F.count("*").alias("n_pairs"))


@_register(
    "user_activity_streaks",
    # gaps-and-islands: distinct (user, day) grid; day_idx - row_number is
    # constant within a consecutive run, so grouping by it isolates each
    # streak without a self-join or iteration
    """
    WITH d AS (
      SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day_idx
      FROM events),
    r AS (
      SELECT user_id, day_idx,
             day_idx - row_number() OVER (PARTITION BY user_id ORDER BY day_idx)
               AS isl
      FROM d),
    s AS (
      SELECT user_id, count(*)::BIGINT AS streak_len
      FROM r GROUP BY user_id, isl)
    SELECT user_id, max(streak_len) AS longest_streak,
           sum(streak_len)::BIGINT AS n_active_days,
           count(*)::BIGINT AS n_streaks
    FROM s GROUP BY user_id
    """,
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands pattern (day_idx minus the user's day rank is
    constant within a run, so one windowed subtraction isolates every
    streak; no self-join, no iteration, no per-day explode). The
    engagement readout behind retention/DAU curves: cohort_retention says
    WHO came back, streaks say how CONTINUOUSLY. Scale shape: the
    distinct (user, day) grid is the only shuffle-heavy step (map-side
    combined); both windows partition by user."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts div 86400000000000").alias("day_idx")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_idx")
    r = d.withColumn("isl", F.col("day_idx") - F.row_number().over(w))
    s = r.groupBy("user_id", "isl").agg(F.count("*").alias("streak_len"))
    return s.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
    )


@_register(
    "rake_keyphrases",
    # RAKE (Rose et al. 2010): candidate phrases are maximal stopword-free
    # token runs (gaps-and-islands on token position); word score =
    # degree/freq where degree sums the lengths of the word's phrases;
    # phrase score = sum of member word scores. Word scores truncate to
    # DECIMAL(18,9) before the phrase sum (shuffle-order independence).
    r"""
    WITH toks AS (
      SELECT d.doc_id, g.i AS pos, d.arr[g.i] AS w
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
            FROM documents) d,
           UNNEST(generate_series(1, len(d.arr))) AS g(i)
      WHERE len(d.arr[g.i]) > 0),
    nt AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM toks
      WHERE w NOT IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'it')),
    phr AS (
      SELECT doc_id, isl,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*)::BIGINT AS plen
      FROM nt GROUP BY doc_id, isl),
    wph AS (
      SELECT n.doc_id, n.isl, n.w, p.plen, p.phrase
      FROM nt n JOIN phr p ON n.doc_id = p.doc_id AND n.isl = p.isl),
    ws AS (
      SELECT w,
             CAST(CAST(sum(plen) AS DOUBLE) / count(*) AS DECIMAL(18,9)) AS s
      FROM wph GROUP BY w),
    occ AS (
      SELECT wph.doc_id, wph.isl, wph.phrase, wph.plen,
             sum(ws.s) AS sc
      FROM wph JOIN ws ON wph.w = ws.w
      GROUP BY wph.doc_id, wph.isl, wph.phrase, wph.plen)
    SELECT phrase, plen AS n_words, count(*)::BIGINT AS n_occurrences,
           round(CAST(min(sc) AS DOUBLE), 6) AS score
    FROM occ GROUP BY phrase, plen
    ORDER BY score DESC, phrase LIMIT 20
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus — the
    classic unsupervised keyword miner a curation pipeline runs for topic
    inventories and boilerplate discovery: candidate phrases are maximal
    stopword-free token runs (the gaps-and-islands subtraction — position
    minus non-stopword rank is constant within a run, so NO self-join and
    no per-phrase explode), each word scores degree/freq (degree = summed
    length of the word's phrases: favors words that live in long
    collocations), and a phrase scores the sum of its member word scores.
    Word scores truncate to DECIMAL(18,9) before the phrase sum, so the
    aggregation is shuffle-order independent and the top-20 (score desc,
    phrase asc) is deterministic. Scale shape: one posexplode, two
    windows partitioned by doc, vocabulary-sized word-score join."""
    from pyspark.sql.window import Window

    docs = _fan(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(TXT.tokens(F.col("text"))).alias("p", "w")
    ).filter(F.length("w") > 0).select(
        "doc_id", (F.col("p") + 1).alias("pos"), "w"
    )
    stop = F.array(*[F.lit(s) for s in TXT.STOPWORDS])
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    nt = (
        toks.filter(~F.array_contains(stop, F.col("w")))
        .withColumn("isl", F.col("pos") - F.row_number().over(w_doc))
    )
    phr = nt.groupBy("doc_id", "isl").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    wph = nt.join(phr, ["doc_id", "isl"]).select(
        "doc_id", "isl", "w", "plen", "phrase"
    )
    ws = wph.groupBy("w").agg(
        (F.sum("plen").cast("double") / F.count("*"))
        .cast("decimal(18,9)")
        .alias("s")
    )
    occ = (
        wph.join(ws, "w")
        .groupBy("doc_id", "isl", "phrase", "plen")
        .agg(F.sum("s").alias("sc"))
    )
    return (
        occ.groupBy("phrase", F.col("plen").alias("n_words"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.round(F.min("sc").cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(20)
    )


@_register(
    "session_gap_distribution",
    # per-user consecutive-event gaps bucketed by power-of-two minutes:
    # the distribution a sessionization threshold (the 30-min industry
    # default) should be READ OFF, not assumed. Integer math end to end.
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS t,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
               AS rn
      FROM events),
    g AS (
      SELECT (b.t - a.t) // 60000000000 AS gap_min
      FROM e a JOIN e b ON a.user_id = b.user_id AND b.rn = a.rn + 1),
    bk AS (
      SELECT CASE WHEN gap_min <= 0 THEN 0
                  ELSE CAST(floor(log2(CAST(gap_min AS DOUBLE))) AS INT) + 1
             END AS bucket
      FROM g)
    SELECT bucket,
           CASE WHEN bucket = 0 THEN 0 ELSE (1::BIGINT << (bucket - 1)) END
             AS ge_minutes,
           count(*)::BIGINT AS n_gaps
    FROM bk GROUP BY bucket
    """,
)
def session_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user, bucketed by power-of-two
    minutes — the histogram a sessionization timeout should be read off
    (the valley between the intra-session mass and the return-visit mass
    is the threshold; events_sessionization assumes one, this query
    justifies it). Gap minutes are integer nanosecond arithmetic; the
    log2 bucket of a positive integer is exact in double well past any
    realistic gap, so both engines bucket identically. One user-
    partitioned window + a ~40-key aggregate."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    e = ev.select("user_id", F.col("ts").cast("long").alias("t"), "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    a, b = e.alias("a"), e.alias("b")
    g = a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("b.rn") == F.col("a.rn") + 1,
        ],
    ).select(((F.col("b.t") - F.col("a.t")) / F.lit(60000000000)).cast("long").alias("gap_min"))
    bk = g.select(
        F.when(F.col("gap_min") <= 0, F.lit(0))
        .otherwise(F.floor(F.log2(F.col("gap_min").cast("double"))).cast("int") + 1)
        .alias("bucket")
    )
    return bk.groupBy("bucket").agg(F.count("*").alias("n_gaps")).select(
        "bucket",
        F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("shiftleft(1L, bucket - 1)"))
        .alias("ge_minutes"),
        "n_gaps",
    )


def _lsh_dedup_recall_sql() -> str:
    return f"""
    WITH truth AS (
      SELECT id_a, id_b FROM ({ORACLES["ngram_jaccard_block_pairs"]}) t
      WHERE jaccard >= 0.5),
    cand AS ({ORACLES["minhash_lsh_pairs"]}),
    u AS (
      SELECT id_a, id_b, max(it) AS it, max(ic) AS ic FROM (
        SELECT id_a, id_b, 1 AS it, 0 AS ic FROM truth
        UNION ALL SELECT id_a, id_b, 0, 1 FROM cand) x
      GROUP BY id_a, id_b)
    SELECT sum(it)::BIGINT AS n_true, sum(ic)::BIGINT AS n_candidates,
           sum(it * ic)::BIGINT AS n_caught,
           round(CAST(sum(it * ic) AS DOUBLE) / sum(it), 6) AS recall
    FROM u
    """


@_register("lsh_dedup_recall", _lsh_dedup_recall_sql())
def lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP candidate quality as a CORRECTNESS row (the recall@k posture
    applied to near-dup blocking): recall of the banded MinHash LSH
    candidate set (16 hashes x 4 bands) against the EXACT shingle-Jaccard
    >= 0.5 pairs — both sides share ONE shingle definition
    (dedup.shingles), so the truth set lives in exactly the similarity
    space the signatures estimate. A banding/signature regression now
    moves a hash-checked recall value instead of silently shrinking the
    candidate set. The comparison aggregates a tagged union of two
    already-blocked pair tables — one pair-keyed groupBy, nothing
    corpus-sized, no cross join. Both pair tables read the legs' staged
    detections (`_QPAIRS`, the blocker-ensemble posture):
    detection cost stays bench-visible through ngram_jaccard_block_pairs'
    and minhash_lsh_pairs' own rows; this row measures the recall
    comparison itself."""
    truth = _QPAIRS["ngram_jaccard_block_pairs"](spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    )
    cand = _QPAIRS["minhash_lsh_pairs"](spark, sf_dir)
    t = truth.select("id_a", "id_b", F.lit(1).alias("it"), F.lit(0).alias("ic"))
    c = cand.select("id_a", "id_b", F.lit(0).alias("it"), F.lit(1).alias("ic"))
    u = (
        t.unionByName(c)
        .groupBy("id_a", "id_b")
        .agg(F.max("it").alias("it"), F.max("ic").alias("ic"))
    )
    return u.agg(
        F.sum("it").alias("n_true"),
        F.sum("ic").alias("n_candidates"),
        F.sum(F.col("it") * F.col("ic")).alias("n_caught"),
        F.round(
            F.sum(F.col("it") * F.col("ic")).cast("double") / F.sum("it"), 6
        ).alias("recall"),
    )


@_register(
    "chi_square_type_drift",
    # Exact-integer contingency table (event_type x time-half, the ks
    # midpoint split); expected counts and chi-square terms are the SAME
    # double expression text on both engines (left-assoc double*int/int),
    # rounded once at the end.
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    c AS (
      SELECT event_type,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 1 ELSE 0 END)::BIGINT AS n_ref,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 0 ELSE 1 END)::BIGINT AS n_cur
      FROM events, med GROUP BY event_type),
    t AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM c)
    SELECT event_type, n_ref, n_cur,
           round(CAST(n_ref + n_cur AS DOUBLE) * tr / (tr + tc), 6) AS expected_ref,
           round((n_ref - CAST(n_ref + n_cur AS DOUBLE) * tr / (tr + tc))
                 * (n_ref - CAST(n_ref + n_cur AS DOUBLE) * tr / (tr + tc))
                 / (CAST(n_ref + n_cur AS DOUBLE) * tr / (tr + tc))
               + (n_cur - CAST(n_ref + n_cur AS DOUBLE) * tc / (tr + tc))
                 * (n_cur - CAST(n_ref + n_cur AS DOUBLE) * tc / (tr + tc))
                 / (CAST(n_ref + n_cur AS DOUBLE) * tc / (tr + tc)), 6) AS chi2_term
    FROM c, t
    WHERE tr > 0 AND tc > 0
    """,
)
def chi_square_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity test of the event-type MIX between the first
    and second time halves — the classic categorical-drift statistic the
    monitoring family lacked (PSI needs practitioner bins and a floor
    hack for empty cells; chi-square is the textbook test with a known
    null distribution, dof = |types| - 1). Per-type rows carry the
    observed halves, the expected reference count under homogeneity, and
    the type's chi-square contribution — the per-cell drill-down an alert
    needs, with the total statistic one trivial sum away.

    Scale shape (the CUSUM/PSI posture): ONE map-side-combined
    groupBy(event_type) conditional-count pass over the scan carries all
    the data; expectations and terms are arithmetic over the |types|-row
    frame joined to a broadcast 1-row total. The time split is the
    integer-exact (min+max) div 2 epoch midpoint shared with
    ks_value_drift. Counts stay BIGINT; doubles appear only in the final
    per-row expected/term arithmetic, same op order as the oracle."""
    ev = _fan(_t(spark, sf_dir, "events"))
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    is_ref = F.when(F.col("ts") < F.col("cut"), F.lit(1)).otherwise(F.lit(0))
    c = (
        ev.join(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum(is_ref).cast("bigint").alias("n_ref"),
            F.sum(F.lit(1) - is_ref).cast("bigint").alias("n_cur"),
        )
    )
    t = c.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    row_tot = (F.col("n_ref") + F.col("n_cur")).cast("double")
    e_ref = row_tot * F.col("tr") / (F.col("tr") + F.col("tc"))
    e_cur = row_tot * F.col("tc") / (F.col("tr") + F.col("tc"))
    term = (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / e_ref + (
        F.col("n_cur") - e_cur
    ) * (F.col("n_cur") - e_cur) / e_cur
    return (
        c.join(F.broadcast(t))
        .filter((F.col("tr") > 0) & (F.col("tc") > 0))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.round(e_ref, 6).alias("expected_ref"),
            F.round(term, 6).alias("chi2_term"),
        )
    )


@_register(
    "mann_whitney_value_drift",
    # Tie-corrected two-sample Mann-Whitney U per event type over the ks
    # midpoint time split. Rank sums stay INTEGER via the 2x trick
    # (2*avg_rank of a tied run = 2*count_before + t + 1), the tie term
    # sum(t^3 - t) is integer, and doubles appear only in the final
    # u/z arithmetic with identical op order on both engines.
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    vc AS (
      SELECT event_type, value,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 1 ELSE 0 END)::BIGINT AS c1,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 0 ELSE 1 END)::BIGINT AS c2
      FROM events, med GROUP BY event_type, value),
    cum AS (
      SELECT event_type, c1, c2, (c1 + c2)::BIGINT AS t,
             (sum(c1 + c2) OVER (PARTITION BY event_type ORDER BY value)
              - (c1 + c2))::BIGINT AS cb
      FROM vc),
    agg AS (
      SELECT event_type,
             sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
             sum(c1 * (2 * cb + t + 1))::BIGINT AS r2,
             sum(t * t * t - t)::BIGINT AS ties
      FROM cum GROUP BY event_type),
    s AS (
      SELECT event_type, n1, n2, (r2 - n1 * (n1 + 1))::BIGINT AS u2,
             (n1 + n2)::BIGINT AS n, ties
      FROM agg WHERE n1 > 0 AND n2 > 0)
    SELECT event_type, n1 AS n_ref, n2 AS n_cur,
           CAST(u2 AS DOUBLE) / 2 AS u_stat,
           round((CAST(u2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((n + 1) - CAST(ties AS DOUBLE)
                                     / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS z
    FROM s
    WHERE n > 1
      AND CAST(n1 AS DOUBLE) * n2 / 12
          * ((n + 1) - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) > 0
    """,
)
def mann_whitney_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) drift test per event
    type between the first- and second-half value distributions — the
    rank-based LOCATION-shift companion to ks_value_drift (KS reacts to
    any shape change; U specifically asks "did values get systematically
    larger/smaller", robust to outliers where a mean-shift CUSUM is not).
    Tie-corrected normal approximation: z from U, mu = n1*n2/2 and the
    tie-adjusted variance n1*n2/12 * ((n+1) - sum(t^3-t)/(n(n-1))).

    Exactness: ranks never materialize per row — for a tied run of t
    values with cb values before it, the run's 2x-average-rank is the
    INTEGER 2*cb + t + 1, so the reference rank-sum accumulates as the
    exact integer r2 = sum(c1 * (2cb + t + 1)) and U = (r2 - n1(n1+1))/2
    leaves integers only at the final halving. Doubles appear once, in
    the z arithmetic, same op order both engines, rounded to 6dp.

    Scale shape: identical to ks_value_drift — one map-side-combined
    (type, value) count pass, then the cumulative window runs over
    DISTINCT values per type (never raw rows), partitioned BY TYPE. For
    continuous 100 TB values, quantize to a measurement grid first; the
    statistic degrades gracefully. sum(t^3) bounds the integer range:
    fine to ~2M rows per (type, value); past that, rescale ties to
    DECIMAL before summing."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    is_ref = F.when(F.col("ts") < F.col("cut"), F.lit(1)).otherwise(F.lit(0))
    vc = (
        ev.join(F.broadcast(med))
        .groupBy("event_type", "value")
        .agg(
            F.sum(is_ref).cast("bigint").alias("c1"),
            F.sum(F.lit(1) - is_ref).cast("bigint").alias("c2"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("value")
    t_run = (F.col("c1") + F.col("c2")).cast("bigint")
    cum = vc.select(
        "event_type",
        "c1",
        "c2",
        t_run.alias("t"),
        (F.sum(F.col("c1") + F.col("c2")).over(w) - (F.col("c1") + F.col("c2")))
        .cast("bigint")
        .alias("cb"),
    )
    agg = cum.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (F.lit(2) * F.col("cb") + F.col("t") + F.lit(1)))
        .cast("bigint")
        .alias("r2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties"),
    )
    s = agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "event_type",
        "n1",
        "n2",
        (F.col("r2") - F.col("n1") * (F.col("n1") + F.lit(1)))
        .cast("bigint")
        .alias("u2"),
        (F.col("n1") + F.col("n2")).cast("bigint").alias("n"),
        "ties",
    )
    u1 = F.col("u2").cast("double") / F.lit(2)
    mu = F.col("n1").cast("double") * F.col("n2") / F.lit(2)
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / F.lit(12)
        * (
            (F.col("n") + F.lit(1))
            - F.col("ties").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - F.lit(1)))
        )
    )
    return (
        s.filter((F.col("n") > 1) & (var > 0))
        .select(
            "event_type",
            F.col("n1").alias("n_ref"),
            F.col("n2").alias("n_cur"),
            u1.alias("u_stat"),
            F.round((u1 - mu) / F.sqrt(var), 6).alias("z"),
        )
    )


@_register(
    "theil_sen_daily_trend",
    # Median-of-pairwise-slopes robust trend over daily volumes, beside
    # the exact-moment OLS slope. Slopes are single divisions of exact
    # integers (identical doubles both engines); the median picks rows by
    # (slope, xi, xj) row_number over the tiny |days|^2/2 pair frame.
    """
    WITH d AS (
      SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day, count(*)::BIGINT AS n
      FROM events GROUP BY day),
    m0 AS (SELECT min(day) AS d0 FROM d),
    x AS (SELECT (day - d0)::BIGINT AS x, n FROM d, m0),
    p AS (
      SELECT a.x AS xi, b.x AS xj,
             CAST(b.n - a.n AS DOUBLE) / (b.x - a.x) AS slope
      FROM x a JOIN x b ON b.x > a.x),
    r AS (
      SELECT slope, row_number() OVER (ORDER BY slope, xi, xj) AS rn,
             count(*) OVER () AS np FROM p),
    med AS (
      SELECT avg(slope) AS ts_slope, max(np)::BIGINT AS n_pairs FROM r
      WHERE rn IN ((np + 1) // 2, (np + 2) // 2)),
    mom AS (
      SELECT count(*)::BIGINT AS k, sum(x)::BIGINT AS sx, sum(n)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(x * n)::BIGINT AS sxy
      FROM x)
    SELECT k AS n_days, n_pairs,
           round(ts_slope, 6) AS theil_sen_slope,
           round(CAST(k * sxy - sx * sy AS DOUBLE)
                 / (k * sxx - sx * sx), 6) AS ols_slope
    FROM med, mom
    WHERE k > 1
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume — the median of all
    pairwise slopes (n_j - n_i)/(day_j - day_i), the estimator that
    shrugs off the outlier days (deploy spikes, backfills, outages) that
    drag an OLS fit; the exact-moment OLS slope rides alongside so the
    robust-vs-classical gap is itself a monitored value (they diverge
    exactly when outlier days are present). Completes the trend corner
    of the monitoring family: value_trend_slope (per-type OLS), Holt
    (smoothed forecast), Theil-Sen (robust level change).

    Scale shape: ONE map-side-combined groupBy(day) collapses the corpus
    to |days| rows; the pairwise self-join and the global-order median
    window run over the ~|days|^2/2 pair frame (~500 rows per month of
    data) — a deliberate tiny-frame-only total order, the documented
    rank_by posture, never touching raw events. Slopes are single
    divisions of exact BIGINTs (bit-identical doubles both engines);
    the even-count median averages two doubles (commutative, exact)."""
    from pyspark.sql import Window

    ev = _fan(_t(spark, sf_dir, "events"))
    day_ns = 86_400_000_000_000
    d = ev.groupBy(F.expr(f"ts DIV {day_ns}").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    m0 = d.agg(F.min("day").alias("d0"))
    x = d.join(F.broadcast(m0)).select(
        (F.col("day") - F.col("d0")).cast("bigint").alias("x"), "n"
    )
    a = x.select(F.col("x").alias("xi"), F.col("n").alias("ni"))
    b = x.select(F.col("x").alias("xj"), F.col("n").alias("nj"))
    p = a.join(b, F.col("xj") > F.col("xi")).select(
        "xi",
        "xj",
        ((F.col("nj") - F.col("ni")).cast("double") / (F.col("xj") - F.col("xi"))).alias(
            "slope"
        ),
    )
    # tiny-frame-only global window (|days|^2/2 rows) — the rank_by posture
    w = Window.orderBy("slope", "xi", "xj")
    r = p.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("np"),
    )
    # integer-div semantics match the oracle's (np+1)//2 exactly via DIV
    med = r.filter(
        (F.col("rn") == F.expr("(np + 1) DIV 2")) | (F.col("rn") == F.expr("(np + 2) DIV 2"))
    ).agg(F.avg("slope").alias("ts_slope"), F.max("np").cast("bigint").alias("n_pairs"))
    mom = x.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("n").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("n")).cast("bigint").alias("sxy"),
    )
    ols = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        med.join(F.broadcast(mom))
        .filter(F.col("k") > 1)
        .select(
            F.col("k").alias("n_days"),
            "n_pairs",
            F.round("ts_slope", 6).alias("theil_sen_slope"),
            F.round(ols, 6).alias("ols_slope"),
        )
    )


@_register(
    "hll_distinct_estimate",
    # HyperLogLog (Flajolet 2007, p=6 / m=64) over the deterministic
    # 32-bit md5 hash, replayed register-for-register in SQL: bucket =
    # hv % 64, rho = leading zeros of the 26-bit remainder + 1 (exact via
    # bin-string length, identical in both engines), and the harmonic-sum
    # denominator kept as the exact INTEGER sum(2^(27-r)) so no float
    # summation order exists. The merged column rebuilds the registers
    # from two event-parity halves (register-wise max) and must equal the
    # whole-table estimate — HLL's merge law as a hash-checked value.
    f"""
    WITH {_HLL_CTE},
    hh AS (
      SELECT DISTINCT event_id % 2 AS half, event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM events),
    bh AS (
      SELECT half, event_type, (hv % 64)::BIGINT AS bucket,
             CASE WHEN hv // 64 = 0 THEN 27
                  ELSE 27 - length(bin((hv // 64)::BIGINT)) END AS rho
      FROM hh),
    regh AS (
      SELECT half, event_type, bucket, max(rho)::BIGINT AS r
      FROM bh GROUP BY 1, 2, 3),
    regm AS (
      SELECT event_type, bucket, max(r)::BIGINT AS r
      FROM regh GROUP BY 1, 2),
    sm AS (
      SELECT event_type,
             (sum(1::BIGINT << (27 - r))
              + (64 - count(*)) * 134217728)::BIGINT AS s_int,
             (64 - count(*))::BIGINT AS v
      FROM regm GROUP BY 1),
    ex AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1)
    SELECT ex.event_type, 64 AS m, ex.n_exact,
           round(CASE WHEN 0.709 * 4096 * 134217728 / s.s_int <= 160 AND s.v > 0
                      THEN 64 * ln(64.0 / s.v)
                      ELSE 0.709 * 4096 * 134217728 / s.s_int END, 3) AS hll_estimate,
           round(CASE WHEN 0.709 * 4096 * 134217728 / sm.s_int <= 160 AND sm.v > 0
                      THEN 64 * ln(64.0 / sm.v)
                      ELSE 0.709 * 4096 * 134217728 / sm.s_int END, 3)
             AS hll_estimate_merged
    FROM ex JOIN s ON ex.event_type = s.event_type
            JOIN sm ON ex.event_type = sm.event_type
    """,
)
def hll_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type (Flajolet et al.
    2007, p=6 / m=64) — the production-standard cardinality sketch as a
    FULLY VALUE-ORACLED row beside KMV and linear counting: the md5-based
    hash makes every register (bucket = low 6 bits, rho = leading zeros
    of the 26-bit remainder + 1) replayable in SQL, and the harmonic-mean
    denominator is kept as the exact INTEGER sum(2^(27-rho)) — scaled by
    2^27, so no float accumulation order exists anywhere in the sketch;
    doubles appear once, in the final alpha_64*m^2*2^27/S estimate (and
    the small-range linear-counting branch E <= 2.5m with empty
    registers, rounded at 3dp like its siblings). ``hll_estimate_merged``
    rebuilds registers from two event-parity halves and takes the
    register-wise max — the merge law that makes HLL the map-side
    combinable sketch (64 bytes of state per group at 100 TB; Spark's own
    approx_count_distinct is this sketch with engine-internal state,
    checked rows-only as sketch_merge_distinct).

    Scale shape: DISTINCT (type, hv) collapse first (map-side combinable),
    then everything is arithmetic over <= 64 register rows per type."""
    ev = _t(spark, sf_dir, "events")
    hv = TXT._md5_int(F.col("user_id").cast("string")).alias("hv")

    def regs(df, keys):
        w = F.expr("hv DIV 64")
        b = df.select(
            *keys,
            (F.col("hv") % 64).cast("bigint").alias("bucket"),
            F.when(w == 0, F.lit(27))
            .otherwise(F.lit(27) - F.length(F.bin(w)))
            .alias("rho"),
        )
        return b.groupBy(*keys, "bucket").agg(F.max("rho").cast("bigint").alias("r"))

    def sketch(reg):
        return reg.groupBy("event_type").agg(
            (
                F.sum(F.expr("shiftleft(cast(1 as bigint), 27 - cast(r as int))"))
                + (F.lit(64) - F.count("*")) * F.lit(134217728)
            )
            .cast("bigint")
            .alias("s_int"),
            (F.lit(64) - F.count("*")).cast("bigint").alias("v"),
        )

    h = ev.select("event_type", hv).distinct()
    s = sketch(regs(h, ["event_type"]))
    hh = ev.select((F.col("event_id") % 2).alias("half"), "event_type", hv).distinct()
    regh = regs(hh, ["half", "event_type"])
    regm = regh.groupBy("event_type", "bucket").agg(F.max("r").cast("bigint").alias("r"))
    smm = sketch(regm)
    ex = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))

    def est(pref):
        raw = F.lit(0.709) * F.lit(4096) * F.lit(134217728) / F.col(f"{pref}s_int")
        return F.round(
            F.when(
                (raw <= 160) & (F.col(f"{pref}v") > 0),
                F.lit(64) * F.log(F.lit(64.0) / F.col(f"{pref}v")),
            ).otherwise(raw),
            3,
        )

    a = s.select("event_type", F.col("s_int").alias("a_s_int"), F.col("v").alias("a_v"))
    b2 = smm.select(
        "event_type", F.col("s_int").alias("b_s_int"), F.col("v").alias("b_v")
    )
    return (
        ex.join(a, "event_type")
        .join(b2, "event_type")
        .select(
            "event_type",
            F.lit(64).alias("m"),
            "n_exact",
            est("a_").alias("hll_estimate"),
            est("b_").alias("hll_estimate_merged"),
        )
    )


@_register(
    "dup_graph_local_clustering",
    # Per-vertex triangle participation over the staged near-dup pair
    # graph: each a<b<c triangle found once by compact-forward enumeration
    # credits all three corners; local coefficient = 2*t / (deg*(deg-1)).
    f"""
    WITH {_dup_pairs_cte(32, "prs")},
    tris AS (
      SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
      FROM prs p1 JOIN prs p2 ON p1.id_b = p2.id_a
                  JOIN prs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
    tv AS (
      SELECT v, count(*)::BIGINT AS t FROM (
        SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris) x
      GROUP BY v),
    deg AS (
      SELECT v, count(*)::BIGINT AS dg FROM (
        SELECT id_a AS v FROM prs UNION ALL SELECT id_b FROM prs) t
      GROUP BY v)
    SELECT deg.v AS doc_id, dg AS degree, coalesce(tv.t, 0)::BIGINT AS n_triangles,
           CASE WHEN dg < 2 THEN 0.0
                ELSE round(2.0 * coalesce(tv.t, 0) / (dg * (dg - 1)), 6)
           END AS local_coeff
    FROM deg LEFT JOIN tv ON deg.v = tv.v
    """,
)
def dup_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient of the near-dup pair graph:
    for each doc with near-duplicates, the fraction of its neighbor pairs
    that are themselves near-duplicates — 2*t_v / (deg_v*(deg_v - 1)).
    The per-doc drill-down under the global dup_graph_triangles
    transitivity number: a LOW local coefficient flags a doc whose
    near-dup edges do not agree with each other (banding noise, a hub
    template bridging unrelated clusters — exactly the vertices that make
    connected components over-merge), while genuine duplicate clusters
    sit at 1.0.

    Scale shape: same compact-forward enumeration as the census — each
    a<b<c triangle found ONCE by two equi-joins on the a<b staged pair
    table plus the closing-edge join, then exploded to credit its three
    corners (3 rows per triangle, never vertex^2); degrees are one
    aggregate over the pair list; the final frame is |vertices-with-
    degree| rows. Integer counts throughout; the one double division is
    per-row arithmetic rounded at 6dp identically to the oracle."""
    pairs = _simhash_pairs_staged(spark, sf_dir)
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tris = p1.join(p2, "b").join(p3, ["a", "c"])
    tv = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("dg"))
    )
    t0 = F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
    return deg.join(tv, "v", "left").select(
        F.col("v").alias("doc_id"),
        F.col("dg").alias("degree"),
        t0.alias("n_triangles"),
        F.when(F.col("dg") < 2, F.lit(0.0))
        .otherwise(F.round(F.lit(2.0) * t0 / (F.col("dg") * (F.col("dg") - 1)), 6))
        .alias("local_coeff"),
    )


@_register(
    "sentence_dedup_fraction",
    # CCNet-style sentence-level duplication readout: split on [.!?]+
    # runs, trim, drop empties; a sentence occurrence is duplicated when
    # its exact text appears in >= 2 DISTINCT docs. Same regex + trim +
    # md5 grouping on both engines; the one double is the final per-doc
    # ratio rounded at 6dp.
    r"""
    WITH sents AS (
      SELECT doc_id, trim(s) AS s
      FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+')) AS s
            FROM documents) t
      WHERE length(trim(s)) > 0),
    dfq AS (
      SELECT md5(s) AS h, count(DISTINCT doc_id)::BIGINT AS nd
      FROM sents GROUP BY 1),
    j AS (
      SELECT doc_id, CASE WHEN nd >= 2 THEN 1 ELSE 0 END AS isdup
      FROM sents JOIN dfq ON md5(sents.s) = dfq.h)
    SELECT doc_id, count(*)::BIGINT AS n_sentences,
           sum(isdup)::BIGINT AS n_dup_sentences,
           round(CAST(sum(isdup) AS DOUBLE) / count(*), 6) AS dup_fraction
    FROM j GROUP BY doc_id
    """,
)
def sentence_dedup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level cross-document duplication per doc — the CCNet
    deduplication readout (Wenzek et al. 2020 dedup by sentence hash):
    each sentence occurrence is flagged when its exact text occurs in
    >= 2 distinct documents, and the doc's duplicated-sentence fraction
    is the curation signal (high fraction = boilerplate/templated page;
    CCNet drops the duplicated sentences themselves — this emits the
    per-doc ledger a drop policy consumes). Complements the shingle
    families: paragraph/sentence granularity catches shared boilerplate
    that whole-doc MinHash dilutes below threshold and char-shingles
    spread across bands.

    Scale shape: one Generate (sentence explode) off the scan; the
    document-frequency join keys on the 16-byte md5 digest, never
    sentence text twice (sentences ride the df join only as digests);
    both aggregates are map-side combinable. Docs with zero non-empty
    sentences have no ledger row (nothing to govern). At 100 TB the df
    table is the distinct-sentence corpus — bounded by content entropy,
    the same posture as the shingle df caps."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    sents = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s0")
        )
        .select("doc_id", F.trim(F.col("s0")).alias("s"))
        .filter(F.length("s") > 0)
        .select("doc_id", F.md5("s").alias("h"))
    )
    dfq = sents.distinct().groupBy("h").agg(F.count("*").cast("bigint").alias("nd"))
    j = sents.join(dfq, "h").select(
        "doc_id", F.when(F.col("nd") >= 2, F.lit(1)).otherwise(F.lit(0)).alias("isdup")
    )
    return j.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sentences"),
        F.sum("isdup").cast("bigint").alias("n_dup_sentences"),
        F.round(F.sum("isdup").cast("double") / F.count("*"), 6).alias("dup_fraction"),
    )


@_register(
    "embedding_cosine_histogram",
    # Corpus-geometry health readout: cosine distribution over a
    # derandomized random matching — md5-bucket the vectors (64 buckets),
    # rank by (md5, id) inside each bucket, pair consecutive ranks. Same
    # cosine + rounding contract as brute_force_topk's oracle; bin edges
    # computed from the ALREADY-6dp-rounded cosine with identical double
    # ops on both engines.
    """
    WITH e AS (
      SELECT vec_id, embedding,
             md5(CAST(vec_id AS VARCHAR)) AS hx,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 64
               AS bkt
      FROM embeddings),
    r AS (
      SELECT vec_id, embedding, bkt,
             row_number() OVER (PARTITION BY bkt ORDER BY hx, vec_id) AS rn
      FROM e),
    p AS (
      SELECT a.embedding AS va, b.embedding AS vb
      FROM r a JOIN r b ON a.bkt = b.bkt AND b.rn = a.rn + 1
      WHERE a.rn % 2 = 1),
    c AS (
      SELECT round(list_cosine_similarity(CAST(va AS DOUBLE[]),
                                          CAST(vb AS DOUBLE[])), 6) AS cos
      FROM p),
    bn AS (
      SELECT least(19, greatest(0, CAST(floor((cos + 1) * 10) AS INT))) AS bin
      FROM c)
    SELECT bin, round(bin / 10.0 - 1.0, 1) AS lo, count(*)::BIGINT AS n_pairs
    FROM bn GROUP BY bin
    """,
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space geometry health check: the cosine-similarity
    histogram over a derandomized random matching of the corpus vectors
    (20 bins of width 0.1 on [-1, 1]). The readout an embedding pipeline
    watches before trusting ANN or SemDedup downstream: healthy spaces
    put random-pair mass near 0 with modest positive shift; anisotropic
    collapse (all-pairs mass piling toward 1.0) silently breaks
    cosine-threshold dedup and recall@k alike. Random pairs are
    DERANDOMIZED: vectors land in 64 md5 buckets, rank inside a bucket by
    (md5, id), consecutive ranks pair — reproducible in SQL, no RNG.

    Scale shape: no global sort — the only window partitions BY BUCKET
    (the rank_by escape); each vector joins exactly one partner via the
    (bucket, rank+1) equi-join, so pair work is N/2 rows; the histogram
    is one 20-group aggregate. Cosine arithmetic follows the
    brute_force_topk contract (array<double> cast, 6dp round) that
    already hash-matches DuckDB's list_cosine_similarity."""
    from pyspark.sql import Window

    emb = _fan(_t(spark, sf_dir, "embeddings"))
    hx = F.md5(F.col("vec_id").cast("string"))
    e = emb.select(
        "vec_id",
        "embedding",
        hx.alias("hx"),
        (TXT._md5_int(F.col("vec_id").cast("string")) % 64).alias("bkt"),
    )
    w = Window.partitionBy("bkt").orderBy("hx", "vec_id")
    r = e.select("vec_id", "embedding", "bkt", F.row_number().over(w).alias("rn"))
    a = r.filter(F.col("rn") % 2 == 1).select(
        "bkt", F.col("rn").alias("rna"), F.col("embedding").alias("va")
    )
    b = r.select("bkt", F.col("rn").alias("rnb"), F.col("embedding").alias("vb"))
    p = a.join(b, (a["bkt"] == b["bkt"]) & (F.col("rnb") == F.col("rna") + 1)).select(
        "va", "vb"
    )
    cos = F.round(
        SIM.cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
        6,
    )
    bn = p.select(
        F.least(
            F.lit(19),
            F.greatest(F.lit(0), F.floor((cos + 1) * 10).cast("int")),
        ).alias("bin")
    )
    return bn.groupBy("bin").agg(F.count("*").cast("bigint").alias("n_pairs")).select(
        "bin",
        F.round(F.col("bin") / F.lit(10.0) - F.lit(1.0), 1).alias("lo"),
        "n_pairs",
    )


@_register(
    "cramers_v_association",
    # Full contingency table (observed type x day-of-week crossed from the
    # marginals so ZERO cells contribute their expected mass), per-cell
    # chi-square terms truncated to DECIMAL(18,9) before the sum (exact,
    # shuffle-order-independent), one double sqrt at the end.
    """
    WITH cells AS (
      SELECT event_type, ((epoch_us(ts) // 86400000000) % 7)::BIGINT AS dow,
             count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(o)::BIGINT AS r_tot FROM cells GROUP BY 1),
    ct AS (SELECT dow, sum(o)::BIGINT AS c_tot FROM cells GROUP BY 1),
    n AS (SELECT sum(o)::BIGINT AS n FROM cells),
    full_cells AS (
      SELECT rt.event_type, ct.dow, rt.r_tot, ct.c_tot,
             coalesce(cells.o, 0)::BIGINT AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.event_type = rt.event_type AND cells.dow = ct.dow),
    terms AS (
      SELECT CAST((o - CAST(r_tot AS DOUBLE) * c_tot / n.n)
                  * (o - CAST(r_tot AS DOUBLE) * c_tot / n.n)
                  / (CAST(r_tot AS DOUBLE) * c_tot / n.n) AS DECIMAL(18,9)) AS term
      FROM full_cells, n),
    dims AS (
      SELECT (SELECT count(*) FROM rt)::BIGINT AS r_levels,
             (SELECT count(*) FROM ct)::BIGINT AS c_levels)
    SELECT n.n AS n_rows, dims.r_levels, dims.c_levels,
           round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(sum(term) AS DOUBLE)
                      / (n.n * (least(dims.r_levels, dims.c_levels) - 1))), 6)
             AS cramers_v
    FROM terms, n, dims
    GROUP BY n.n, dims.r_levels, dims.c_levels
    """,
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and day-of-week — the
    normalized [0,1] strength-of-association readout over the full
    contingency table (V = sqrt(chi2 / (n*(min(r,c)-1)))): "is the event
    mix a function of weekday?" is the seasonality-confound question to
    answer BEFORE trusting any weekday-blind drift monitor (a high V
    means chi_square_type_drift alarms are partly calendar artifacts).

    Exactness: cells, marginals, and n are integer counts from ONE
    map-side-combined pass; the |types| x 7 table is completed by
    crossing the marginals (zero cells contribute their expected mass —
    dropping them understates chi2); each cell's double term truncates to
    DECIMAL(18,9) before the sum, so the reduction is shuffle-order
    exact; doubles reappear once for the final sqrt, rounded 6dp."""
    ev = _fan(_t(spark, sf_dir, "events"))
    day_ns = 86_400_000_000_000
    cells = ev.groupBy(
        "event_type", (F.expr(f"ts DIV {day_ns}") % 7).cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    rt = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r_tot"))
    ct = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c_tot"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))
    full_cells = (
        rt.crossJoin(ct)
        .join(cells, ["event_type", "dow"], "left")
        .select(
            "r_tot", "c_tot", F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o")
        )
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    terms = full_cells.join(F.broadcast(n)).select(
        ((F.col("o") - e) * (F.col("o") - e) / e).cast("decimal(18,9)").alias("term")
    )
    dims = rt.agg(F.count("*").cast("bigint").alias("r_levels")).crossJoin(
        ct.agg(F.count("*").cast("bigint").alias("c_levels"))
    )
    chi2 = F.sum("term").cast("double")
    return (
        terms.join(F.broadcast(n))
        .join(F.broadcast(dims))
        .groupBy("n", "r_levels", "c_levels")
        .agg(
            F.round(chi2, 6).alias("chi2"),
            F.round(
                F.sqrt(
                    chi2
                    / (
                        F.col("n")
                        * (F.least(F.col("r_levels"), F.col("c_levels")) - F.lit(1))
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
        .select(
            F.col("n").alias("n_rows"), "r_levels", "c_levels", "chi2", "cramers_v"
        )
    )


@_register(
    "time_decay_user_engagement",
    # Exponential time-decay engagement per user: per-row decayed value
    # exp(-age_days/7)*value truncated to DECIMAL(18,9) before the sum
    # (the bigram-NLL per-row-transcendental discipline), age in exact
    # integer nanos from the corpus max-ts anchor.
    """
    WITH mx AS (SELECT max(epoch_ns(ts))::BIGINT AS tmax FROM events),
    d AS (
      SELECT user_id,
             CAST(value * exp(-(CAST(tmax - epoch_ns(ts) AS DOUBLE)
                                / 604800000000000.0)) AS DECIMAL(18,9)) AS dv,
             value
      FROM events, mx),
    agg AS (
      SELECT user_id, count(*)::BIGINT AS n_events,
             CAST(sum(dv) AS DOUBLE) AS decayed,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS raw
      FROM d GROUP BY user_id)
    SELECT user_id, n_events, round(decayed, 6) AS decayed_value,
           round(raw, 6) AS raw_value,
           round(decayed / raw, 6) AS recency_ratio
    FROM agg WHERE raw <> 0
    """,
)
def time_decay_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score per user — every event's
    value is discounted by exp(-age/tau) with tau = 7 days, anchored at
    the corpus max timestamp: the standard recency-weighted activity
    score (feature stores, churn models, freshness-weighted sampling
    upstream of corpus mixing). ``recency_ratio`` (decayed/raw) is the
    per-user freshness readout — near 1 means all activity is recent,
    near 0 long-dormant.

    Exactness: age is exact integer nanos (tmax broadcast from one
    1-row agg); the per-row transcendental exp runs on bit-identical
    double inputs on both engines and its product truncates to
    DECIMAL(18,9) BEFORE the sum (the bigram-NLL discipline), so the
    per-user reduction is shuffle-order exact; raw values accumulate
    in DECIMAL(18,6) like the zscore moments. One scan, one
    map-side-combined groupBy(user_id)."""
    ev = _fan(_t(spark, sf_dir, "events"))
    mx = ev.agg(F.max("ts").cast("bigint").alias("tmax"))
    dv = (
        F.col("value")
        * F.exp(
            -(
                (F.col("tmax") - F.col("ts")).cast("double")
                / F.lit(604800000000000.0)
            )
        )
    ).cast("decimal(18,9)")
    d = ev.join(F.broadcast(mx)).select(
        "user_id", dv.alias("dv"), F.col("value").cast("decimal(18,6)").alias("v6")
    )
    agg = d.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("dv").cast("double").alias("decayed"),
        F.sum("v6").cast("double").alias("raw"),
    )
    return agg.filter(F.col("raw") != 0).select(
        "user_id",
        "n_events",
        F.round("decayed", 6).alias("decayed_value"),
        F.round("raw", 6).alias("raw_value"),
        F.round(F.col("decayed") / F.col("raw"), 6).alias("recency_ratio"),
    )


@_register(
    "winsorized_value_stats",
    # Per-type winsorization ledger: exact interpolated p01/p99
    # (quantile_cont = F.percentile, the mad_value_outliers contract)
    # broadcast back onto the scan; raw and clamped values accumulate in
    # DECIMAL(18,6) so the means are shuffle-order exact.
    """
    WITH q AS (
      SELECT event_type, quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type),
    c AS (
      SELECT e.event_type, q.p01, q.p99, e.value,
             CASE WHEN e.value < q.p01 THEN q.p01
                  WHEN e.value > q.p99 THEN q.p99
                  ELSE e.value END AS w
      FROM events e JOIN q USING (event_type))
    SELECT event_type, count(*)::BIGINT AS n_rows,
           sum(CASE WHEN value < p01 THEN 1 ELSE 0 END)::BIGINT AS n_clipped_low,
           sum(CASE WHEN value > p99 THEN 1 ELSE 0 END)::BIGINT AS n_clipped_high,
           round(max(p01), 6) AS p01, round(max(p99), 6) AS p99,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS mean_raw,
           round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS mean_winsorized
    FROM c GROUP BY event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization ledger per event type: clamp values to the exact
    interpolated [p01, p99] band and report clipped counts plus the
    raw-vs-winsorized mean shift — the standard tail-taming transform a
    numeric feature pipeline applies before z-scoring or model training
    (clipping is the FIX; zscore/mad_value_outliers are the alarms), and
    the mean shift quantifies exactly how much the tails were moving the
    statistic.

    Shape: one exact-percentile pass per type (F.percentile ==
    quantile_cont, the mad_value_outliers cross-engine contract), tiny
    per-type scalars broadcast back onto the scan, then ONE
    map-side-combined aggregate; raw and clamped values accumulate in
    DECIMAL(18,6) so both means are shuffle-order exact. At 100 TB the
    exact percentiles swap for approx_percentile on the same plan."""
    ev = _fan(_t(spark, sf_dir, "events"))
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    c = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        "p01",
        "p99",
        "value",
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
        .alias("w"),
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum((F.col("value") < F.col("p01")).cast("long"))
        .cast("bigint")
        .alias("n_clipped_low"),
        F.sum((F.col("value") > F.col("p99")).cast("long"))
        .cast("bigint")
        .alias("n_clipped_high"),
        F.round(F.max("p01"), 6).alias("p01"),
        F.round(F.max("p99"), 6).alias("p99"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("mean_raw"),
        F.round(
            F.sum(F.col("w").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("mean_winsorized"),
    )


@_register(
    "gini_user_concentration",
    # Exact Gini + top-1% share WITHOUT a per-user global sort: users
    # collapse to the (events-per-user, n_users) count histogram, rank
    # sums over tied tiers close arithmetically (ranks s+1..s+m sum to
    # m*s + m(m+1)/2), and both statistics stay INTEGER until one final
    # division. Windows run over the |distinct counts| tier frame.
    """
    WITH u AS (
      SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY user_id),
    hist AS (SELECT c, count(*)::BIGINT AS m FROM u GROUP BY c),
    tot AS (
      SELECT sum(m)::BIGINT AS n, sum(c * m)::BIGINT AS t FROM hist),
    asc_t AS (
      SELECT c, m, (sum(m) OVER (ORDER BY c) - m)::BIGINT AS cb
      FROM hist),
    s AS (
      SELECT sum(c * (m * cb + (m * (m + 1)) // 2))::BIGINT AS rank_mass
      FROM asc_t),
    desc_t AS (
      SELECT c, m, (sum(m) OVER (ORDER BY c DESC) - m)::BIGINT AS ub
      FROM hist),
    topk AS (
      SELECT sum(c * least(m, greatest(0, (n + 99) // 100 - ub)))::BIGINT
               AS top_events
      FROM desc_t, tot)
    SELECT tot.n AS n_users, tot.t AS total_events,
           round(CAST(2 * s.rank_mass - (tot.n + 1) * tot.t AS DOUBLE)
                 / (tot.n * tot.t), 6) AS gini,
           ((tot.n + 99) // 100)::BIGINT AS k_top_users,
           round(CAST(topk.top_events AS DOUBLE) / tot.t, 6) AS top1pct_share
    FROM tot, s, topk
    WHERE tot.n > 0 AND tot.t > 0
    """,
)
def gini_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration readout: the exact Gini coefficient of
    events-per-user plus the share held by the top 1% of users — the
    ownership-skew metric a training pipeline checks before user-keyed
    sampling or per-user privacy budgeting (a corpus where 1% of users
    produce half the events needs capping before it needs mixing), and
    the early-warning for user-keyed join/agg hot spots.

    Scale shape — the reason this query exists in this form: the
    textbook Gini (2*sum(rank*x) formula) wants a GLOBAL SORT of users
    by activity, corpus-sized at 100 TB. Instead users collapse to the
    (count, n_users) histogram — bounded by the distinct activity levels,
    thousands at most — and the rank sum over a tied tier of m users
    after cb closes arithmetically as c*(m*cb + m(m+1)/2); the top-1%
    cut walks the same histogram descending with a clamped partial tier.
    Both windows order the TIER frame, both statistics are exact BIGINT
    arithmetic until one final division each (past ~10^9 users, move
    rank_mass to DECIMAL(38,0) — same plan)."""
    from pyspark.sql import Window

    ev = _fan(_t(spark, sf_dir, "events"))
    u = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    # four downstream branches (totals, rank mass, top-k walk, final join)
    # read the histogram; materialize the |distinct counts|-row frame ONCE
    # so the corpus-sized user aggregation never re-runs per branch
    hist = (
        u.groupBy("c")
        .agg(F.count("*").cast("bigint").alias("m"))
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(
        F.sum("m").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("m")).cast("bigint").alias("t"),
    )
    # tier frames are |distinct activity levels| rows — documented
    # tiny-frame global windows (the rank_by posture)
    wa = Window.orderBy("c")
    asc_t = hist.select(
        "c", "m", (F.sum("m").over(wa) - F.col("m")).cast("bigint").alias("cb")
    )
    s = asc_t.agg(
        F.sum(
            F.col("c")
            * (F.col("m") * F.col("cb") + F.expr("(m * (m + 1)) DIV 2"))
        )
        .cast("bigint")
        .alias("rank_mass")
    )
    wd = Window.orderBy(F.col("c").desc())
    desc_t = hist.select(
        "c", "m", (F.sum("m").over(wd) - F.col("m")).cast("bigint").alias("ub")
    )
    topk = (
        desc_t.join(F.broadcast(tot))
        .select(
            (
                F.col("c")
                * F.least(
                    F.col("m"),
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.expr("(n + 99) DIV 100") - F.col("ub"),
                    ),
                )
            ).alias("te")
        )
        .agg(F.sum("te").cast("bigint").alias("top_events"))
    )
    return (
        tot.join(F.broadcast(s))
        .join(F.broadcast(topk))
        .filter((F.col("n") > 0) & (F.col("t") > 0))
        .select(
            F.col("n").alias("n_users"),
            F.col("t").alias("total_events"),
            F.round(
                (F.lit(2) * F.col("rank_mass") - (F.col("n") + 1) * F.col("t")).cast(
                    "double"
                )
                / (F.col("n") * F.col("t")),
                6,
            ).alias("gini"),
            F.expr("(n + 99) DIV 100").cast("bigint").alias("k_top_users"),
            F.round(F.col("top_events").cast("double") / F.col("t"), 6).alias(
                "top1pct_share"
            ),
        )
    )


@_register(
    "source_lang_entropy",
    # Shannon entropy of each source's language mix: integer (source,
    # lang) counts, per-term -p*ln(p) truncated to DECIMAL(18,9) before
    # the shuffle-order-exact sum (the bigram-NLL discipline), normalized
    # by ln(n_langs) once at the end.
    """
    WITH c AS (
      SELECT source, lang, count(*)::BIGINT AS n FROM documents GROUP BY 1, 2),
    t AS (
      SELECT source, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_langs
      FROM c GROUP BY 1),
    terms AS (
      SELECT c.source,
             CAST(-(CAST(c.n AS DOUBLE) / t.n_docs)
                  * ln(CAST(c.n AS DOUBLE) / t.n_docs) AS DECIMAL(18,9)) AS term
      FROM c JOIN t USING (source))
    SELECT t.source, t.n_docs, t.n_langs,
           round(CAST(sum(term) AS DOUBLE), 6) AS lang_entropy,
           CASE WHEN t.n_langs > 1
                THEN round(CAST(sum(term) AS DOUBLE) / ln(CAST(t.n_langs AS DOUBLE)), 6)
                ELSE 0.0 END AS normalized_entropy
    FROM terms JOIN t USING (source)
    GROUP BY t.source, t.n_docs, t.n_langs
    """,
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix diversity per source: Shannon entropy of the lang
    distribution plus the [0,1] normalized form (entropy / ln(n_langs))
    — the corpus-composition readout beside source_js_divergence (JS
    asks "do two sources differ"; entropy asks "how monolingual is each
    source by itself"), and the upstream sanity check for lang_id-driven
    filtering: a source whose entropy jumps grew a new language the
    curation config hasn't seen.

    Shape: ONE map-side-combined (source, lang) count pass; per-term
    -p*ln(p) runs on bit-identical double ratios of exact integers and
    truncates to DECIMAL(18,9) before the sum (the bigram-NLL
    transcendental discipline), so the per-source reduction is
    shuffle-order exact; everything after the first aggregate is
    |sources x langs|-sized."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    c = docs.groupBy("source", "lang").agg(F.count("*").cast("bigint").alias("n"))
    t = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    p = F.col("n").cast("double") / F.col("n_docs")
    terms = c.join(t, "source").select(
        "source", (-p * F.log(p)).cast("decimal(18,9)").alias("term")
    )
    ent = F.sum("term").cast("double")
    return (
        terms.join(t, "source")
        .groupBy("source", "n_docs", "n_langs")
        .agg(
            F.round(ent, 6).alias("lang_entropy"),
            F.when(
                F.col("n_langs") > 1,
                F.round(ent / F.log(F.col("n_langs").cast("double")), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("normalized_entropy"),
        )
        .select(
            "source", "n_docs", "n_langs", "lang_entropy", "normalized_entropy"
        )
    )


def _vocab_overlap_sql(n_merges: int = 8) -> str:
    """Both trainer families unrolled in ONE oracle: the BPE rounds keep
    their canonical CTE names, the WordPiece rounds take the ``wp_``
    prefix, and the shared ``words`` corpus CTE is emitted once."""
    bpe = _bpe_state_parts(n_merges)
    wp = _bpe_state_parts(n_merges, wordpiece=True, prefix="wp_")[1:]  # share words
    bv = "\n      UNION ".join(
        f"SELECT p1 || p2 AS piece FROM best{r}" for r in range(n_merges)
    )
    wv = "\n      UNION ".join(
        f"SELECT p1 || p2 AS piece FROM wp_best{r}" for r in range(n_merges)
    )
    return (
        ",\n    ".join(bpe + wp)
        + f""",
    bv AS ({bv}),
    wv AS ({wv}),
    j AS (
      SELECT coalesce(bv.piece, wv.piece) AS piece,
             CASE WHEN bv.piece IS NOT NULL THEN 1 ELSE 0 END AS in_bpe,
             CASE WHEN wv.piece IS NOT NULL THEN 1 ELSE 0 END AS in_wp
      FROM bv FULL OUTER JOIN wv ON bv.piece = wv.piece)
    SELECT sum(in_bpe)::BIGINT AS n_bpe_pieces,
           sum(in_wp)::BIGINT AS n_wp_pieces,
           sum(in_bpe * in_wp)::BIGINT AS n_shared,
           round(CAST(sum(in_bpe * in_wp) AS DOUBLE)
                 / (sum(in_bpe) + sum(in_wp) - sum(in_bpe * in_wp)), 6) AS jaccard,
           string_agg(CASE WHEN in_bpe * in_wp = 1 THEN piece END, ','
                      ORDER BY piece) AS shared_pieces
    FROM j
    """
    )


@_register("tokenizer_vocab_overlap", _vocab_overlap_sql(8))
def tokenizer_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-vocabulary agreement between the BPE (count-argmax) and
    WordPiece (likelihood-argmax) trainers on the same corpus: Jaccard of
    the merged-piece sets after 8 rounds each, plus the shared pieces
    themselves — the bake-off's SECOND axis next to fertility (fertility
    says which compresses better; overlap says whether the two objectives
    are even learning the same units, the divergence that decides whether
    a vocab can be swapped without re-training downstream tokencounts).
    Both trainings replay fully in the oracle — the two families' rounds
    compose in one SQL statement via prefixed CTEs, so a regression in
    EITHER trainer moves this row.

    Shape: both trained vocabularies come from the build-once merge
    stages (`_bpe_merges_staged` / `_wordpiece_merges_staged` — r8
    verdict task #6: the bake-off no longer replays either trainer); the
    overlap math is a full outer join of two 8-row literal frames."""
    bm = {str(m[0]) + str(m[1]) for m in _bpe_merges_staged(spark, sf_dir)}
    wm = {
        str(m[0]) + str(m[1])
        for m in _wordpiece_merges_staged(spark, sf_dir)
    }
    bv = spark.createDataFrame(
        [(p,) for p in sorted(bm)], "piece string"
    ).withColumn("in_bpe", F.lit(1))
    wv = spark.createDataFrame(
        [(p,) for p in sorted(wm)], "piece string"
    ).withColumn("in_wp", F.lit(1))
    j = bv.join(wv, "piece", "full_outer").select(
        "piece",
        F.coalesce(F.col("in_bpe"), F.lit(0)).alias("in_bpe"),
        F.coalesce(F.col("in_wp"), F.lit(0)).alias("in_wp"),
    )
    both = F.col("in_bpe") * F.col("in_wp")
    return j.agg(
        F.sum("in_bpe").cast("bigint").alias("n_bpe_pieces"),
        F.sum("in_wp").cast("bigint").alias("n_wp_pieces"),
        F.sum(both).cast("bigint").alias("n_shared"),
        F.round(
            F.sum(both).cast("double")
            / (F.sum("in_bpe") + F.sum("in_wp") - F.sum(both)),
            6,
        ).alias("jaccard"),
        F.array_join(
            F.array_sort(F.collect_list(F.when(both == 1, F.col("piece")))), ","
        ).alias("shared_pieces"),
    )


@_register(
    "daily_volume_acf_profile",
    # Full ACF profile (lags 1..7) per type: the lag-1 machinery
    # generalized by a 7-row lag dimension crossed onto the daily frame;
    # per-(type, lag) Pearson from exact integer sums, one identical
    # double expression both engines.
    f"""
    WITH {_DAILY_SEQ_CTE},
    lagged AS (
      SELECT a.event_type, l.lag, a.y AS x, b.y AS z
      FROM seq a
      CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
      JOIN seq b
        ON a.event_type = b.event_type AND b.rn = a.rn + l.lag),
    s AS (
      SELECT event_type, lag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(z)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(z * z)::BIGINT AS syy,
             sum(x * z)::BIGINT AS sxy
      FROM lagged GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT event_type, lag::BIGINT AS lag, n AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS acf
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def daily_volume_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile of daily event volume per type at lags
    1..7 — the full week of ACF the single lag-1 number can't show: a
    spike at lag 7 with low intermediate lags is WEEKLY seasonality
    (deseasonalize before CUSUM/EWMA), high lag-1 decaying smoothly is
    trend, all-flat is exchangeable noise. The shape diagnostic that
    picks which monitoring-family alarm applies.

    Shape: the daily aggregate collapses the corpus to |types| x |days|
    rows ONCE; the 7-row lag dimension crosses onto that tiny frame and
    each (type, lag) alignment is the same rn + lag equi-join as the
    lag-1 query; Pearson per cell from exact integer sums, one identical
    double expression both engines, degenerate-variance cells dropped
    identically."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.expr("ts div 86400000000000").alias("day_idx"))
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("y"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("day_idx")
    seq = daily.withColumn("rn", F.row_number().over(w))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b = seq.alias("a"), seq.alias("b")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            on=[
                F.col("a.event_type") == F.col("b.event_type"),
                F.col("b.rn") == F.col("a.rn") + F.col("lag"),
            ],
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.y").alias("x"),
            F.col("b.y").alias("z"),
        )
    )
    s = (
        lagged.groupBy("event_type", "lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("z").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("z") * F.col("z")).alias("syy"),
            F.sum(F.col("x") * F.col("z")).alias("sxy"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vz = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        s.filter((vx > 0) & (vz > 0))
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("lag"),
            n.alias("n_pairs"),
            F.round(
                (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.sqrt(vx) * F.sqrt(vz)),
                6,
            ).alias("acf"),
        )
    )


def _silhouette_sql(dim: int = 16, k: int = 8, iters: int = 2) -> str:
    """Silhouette oracle: the doc-cluster training CTEs (shared with
    doc_cluster_assignments — same seed, rounds, argmax) extended by an
    all-centroid cosine scoring, top-2 selection per doc, and the
    simplified-silhouette arithmetic on 6dp-PREROUNDED cosines (both
    engines round before comparing, so ordering and the DECIMAL(18,9)
    truncation see bit-identical doubles)."""
    return (
        _hashed_emb_cte(dim)
        + ",\n    base AS (SELECT doc_id AS vec_id, CAST(v AS DOUBLE[]) AS v FROM emb),\n    "
        + ",\n    ".join(_kmeans_train_parts(iters, k, dim))
        + f""",
    scored AS (
      SELECT b.vec_id, c.cidx,
             round(list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos
      FROM base b CROSS JOIN cent{iters} c),
    top2 AS (
      SELECT vec_id, cidx, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cidx) AS rn
      FROM scored),
    sil AS (
      SELECT o.vec_id, o.cidx AS cluster_id,
             CASE WHEN greatest(1 - o.cos, 1 - n.cos) <= 0
                  THEN CAST(0 AS DECIMAL(18,9))
                  ELSE CAST((o.cos - n.cos) / greatest(1 - o.cos, 1 - n.cos)
                            AS DECIMAL(18,9)) END AS s
      FROM top2 o JOIN top2 n ON o.vec_id = n.vec_id AND o.rn = 1 AND n.rn = 2)
    SELECT cluster_id::INT AS cluster_id, count(*)::BIGINT AS n_docs,
           round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_silhouette
    FROM sil GROUP BY 1
    """
    )


@_register("cluster_silhouette_score", _silhouette_sql())
def cluster_silhouette_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette of the trained document
    clustering (Kaufman-Rousseeuw centroid variant): for every doc,
    a = cosine distance to its OWN centroid, b = distance to the nearest
    OTHER centroid, s = (b - a)/max(a, b) — the cluster-quality number
    that tells a curriculum/mixture pipeline whether its corpus buckets
    are real structure or arbitrary cuts (mean s near 0 = overlapping
    blobs; a single low-s cluster = a catch-all bucket to split). The
    full all-pairs silhouette is corpus-quadratic; the centroid form is
    THE production approximation and reuses the k-means scoring shape.

    Exactness: cosines are 6dp-ROUNDED before the top-2 window and the
    silhouette arithmetic, so ordering, ties (broken by centroid index,
    the assignment's own tie-break), and the DECIMAL(18,9) truncation
    all see bit-identical doubles on both engines; per-cluster means are
    shuffle-order exact. Scale shape: corpus x k scoring is the same
    broadcast-literal cross as ivf_assign (centroids ride as an 8-row
    broadcast frame; nothing corpus-sized shuffles except the one
    doc-keyed window over k=8 rows per doc)."""
    from pyspark.sql import Window

    emb = _doc_emb16(_fan(_t(spark, sf_dir, "documents").select("doc_id", "text")))
    cents = _doc_kmeans_staged(spark, sf_dir)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cidx INT, cv ARRAY<DOUBLE>",
    )
    scored = emb.crossJoin(F.broadcast(cdf)).select(
        "doc_id",
        "cidx",
        F.round(SIM.cosine(F.col("v"), F.col("cv")), 6).alias("cos"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("cos").desc(), F.col("cidx").asc())
    top2 = scored.select("doc_id", "cidx", "cos", F.row_number().over(w).alias("rn"))
    own = top2.filter(F.col("rn") == 1).select(
        "doc_id", F.col("cidx").alias("cluster_id"), F.col("cos").alias("c1")
    )
    nxt = top2.filter(F.col("rn") == 2).select("doc_id", F.col("cos").alias("c2"))
    denom = F.greatest(F.lit(1) - F.col("c1"), F.lit(1) - F.col("c2"))
    sil = own.join(nxt, "doc_id").select(
        "cluster_id",
        F.when(denom <= 0, F.lit(0).cast("decimal(18,9)"))
        .otherwise(((F.col("c1") - F.col("c2")) / denom).cast("decimal(18,9)"))
        .alias("s"),
    )
    return sil.groupBy(F.col("cluster_id").cast("int").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.sum("s").cast("double") / F.count("*"), 6).alias("mean_silhouette"),
    )


@_register("stream_cusum_alarm", ORACLES["cusum_changepoint"])
def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM changepoint alarm maintained OVER A STREAM: the event
    stream (two event-parity micro-batches) feeds an update-mode
    (type, day) count rollup upserted into a serving table per trigger
    (streaming/rollup.py — the stream_continuous_rollup machinery), and
    the Page-1954 CUSUM/argmax runs on the drained serving table. The
    result must equal the batch cusum_changepoint exactly (counts are
    integers — batch-split independent), which is the point: this is the
    production monitoring deployment shape (alarm recomputed per trigger
    over the day-grain continuous aggregate, NEVER over raw history),
    and its correctness against the batch oracle is hash-checked.

    At 100 TB the serving table is |types| x |days| rows regardless of
    stream volume; the per-trigger alarm cost is window math over that
    tiny frame."""
    import tempfile

    from scylla_migrator_spark.streaming.rollup import continuous_rollup
    from pyspark.sql.window import Window

    _session_proof(spark)
    day_ns = 86_400_000_000_000
    stage = _events_halves_stage(spark, sf_dir)
    batch_schema = _read_parquet_immutable(spark, stage).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = stream.groupBy(
        "event_type", F.expr(f"ts DIV {day_ns}").alias("day_idx")
    ).agg(F.count("*").alias("c"))
    serving = tempfile.mkdtemp(prefix="sgs_cusum_") + "/serving"
    with _stream_shuffle_partitions(spark):
        q = continuous_rollup(
            agg,
            serving,
            ["event_type", "day_idx"],
            tempfile.mkdtemp(prefix="sgs_cusum_ckpt_"),
        )
        q.awaitTermination()
    daily = spark.read.parquet(serving).select("event_type", "day_idx", "c")
    m = daily.groupBy("event_type").agg((F.sum("c") / F.count("*")).alias("mu"))
    wsum = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = daily.join(m, "event_type").withColumn(
        "cusum", F.sum(F.col("c") - F.col("mu")).over(wsum)
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("day_idx")
    )
    return (
        cs.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_idx").alias("changepoint_day"),
            F.round(F.abs(F.col("cusum")), 6).alias("max_abs_cusum"),
        )
    )


@_register(
    "gap_survival_curve",
    # Kaplan-Meier over inter-event gaps at day grain, right-censored at
    # the corpus horizon. The product-limit estimator is made
    # shuffle-order exact by the log trick: per-event-day terms
    # ln(1 - d/n) truncate to DECIMAL(18,9), the cumulative sum runs over
    # the tiny distinct-gap frame, and ONE exp at the end rebuilds S(t);
    # a d = n day zeroes survival from there on via a cummax flag
    # (ln(0) never evaluates).
    """
    WITH mx AS (SELECT max(epoch_ns(ts))::BIGINT AS tmax FROM events),
    seq AS (
      SELECT user_id, epoch_ns(ts)::BIGINT AS tns,
             lead(epoch_ns(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events),
    obs AS (
      SELECT (nxt - tns) // 86400000000000 AS g, 0 AS c
      FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT (tmax - tns) // 86400000000000 AS g, 1 AS c
      FROM seq, mx WHERE nxt IS NULL),
    byg AS (
      SELECT g, sum(1 - c)::BIGINT AS d, count(*)::BIGINT AS m
      FROM obs GROUP BY g),
    tot AS (SELECT sum(m)::BIGINT AS tot FROM byg),
    risk AS (
      SELECT g, d, m,
             (tot.tot - coalesce(sum(m) OVER (ORDER BY g
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n
      FROM byg, tot),
    terms AS (
      SELECT g, d, n,
             CASE WHEN d = n THEN CAST(0 AS DECIMAL(18,9))
                  ELSE CAST(ln(1 - CAST(d AS DOUBLE) / n) AS DECIMAL(18,9))
             END AS term,
             CASE WHEN d = n THEN 1 ELSE 0 END AS dead
      FROM risk),
    cum AS (
      SELECT g, d, n,
             sum(term) OVER (ORDER BY g) AS lsum,
             max(dead) OVER (ORDER BY g) AS anydead
      FROM terms)
    SELECT g AS gap_days, n AS n_at_risk, d AS n_events,
           CASE WHEN anydead = 1 THEN 0.0
                ELSE round(exp(CAST(lsum AS DOUBLE)), 6) END AS survival
    FROM cum WHERE d > 0
    """,
)
def gap_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of the time-to-next-event gap (day
    grain), right-censored at the corpus horizon — the survival-analysis
    answer to "how long until a user comes back", done properly: the gap
    from each user's LAST event to the corpus max timestamp enters as a
    censored observation (still at risk, never an event), which naive
    gap histograms silently drop, biasing retention short. The output is
    the classic product-limit table (gap, risk set, events, S(gap)) —
    churn thresholds and engagement SLAs read directly off it.

    Exactness (the product-limit product has no associative form): per
    event-day hazard terms ln(1 - d/n) truncate to DECIMAL(18,9) — the
    bigram-NLL transcendental discipline — so the cumulative sum over
    the distinct-gap-day frame is exact, and ONE exp rebuilds S(t);
    a fully-dying day (d = n) zeroes survival onward via a cummax flag
    without ever evaluating ln(0). Scale shape: one per-user lead
    window over the scan, then everything runs on the <= |distinct gap
    days| frame (the CUSUM posture); the risk-set and cumulative windows
    order THAT tiny frame only."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    day_ns = 86_400_000_000_000
    mx = ev.agg(F.max("ts").cast("bigint").alias("tmax"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", F.col("ts").alias("tns"), F.lead("ts").over(wu).alias("nxt")
    )
    uncens = seq.filter(F.col("nxt").isNotNull()).select(
        F.expr(f"(nxt - tns) DIV {day_ns}").alias("g"), F.lit(0).alias("c")
    )
    cens = (
        seq.filter(F.col("nxt").isNull())
        .join(F.broadcast(mx))
        .select(F.expr(f"(tmax - tns) DIV {day_ns}").alias("g"), F.lit(1).alias("c"))
    )
    obs = uncens.unionByName(cens)
    byg = obs.groupBy("g").agg(
        F.sum(F.lit(1) - F.col("c")).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    )
    tot = byg.agg(F.sum("m").cast("bigint").alias("tot"))
    # the remaining windows order the tiny distinct-gap-day frame
    wprev = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    risk = byg.join(F.broadcast(tot)).select(
        "g",
        "d",
        "m",
        (F.col("tot") - F.coalesce(F.sum("m").over(wprev), F.lit(0)))
        .cast("bigint")
        .alias("n"),
    )
    term = F.when(F.col("d") == F.col("n"), F.lit(0).cast("decimal(18,9)")).otherwise(
        F.log(F.lit(1) - F.col("d").cast("double") / F.col("n")).cast("decimal(18,9)")
    )
    dead = F.when(F.col("d") == F.col("n"), F.lit(1)).otherwise(F.lit(0))
    terms = risk.select("g", "d", "n", term.alias("term"), dead.alias("dead"))
    wcum = Window.orderBy("g")
    cum = terms.select(
        "g",
        "d",
        "n",
        F.sum("term").over(wcum).alias("lsum"),
        F.max("dead").over(wcum).alias("anydead"),
    )
    return cum.filter(F.col("d") > 0).select(
        F.col("g").alias("gap_days"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("anydead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("lsum").cast("double")), 6))
        .alias("survival"),
    )


@_register(
    "stream_hll_distinct",
    # the batch HLL oracle's single-sketch half: registers from the md5
    # hash, integer harmonic denominator, alpha_64 estimate + linear
    # counting branch — the stream must drain to exactly this.
    f"""
    WITH {_HLL_CTE}
    SELECT event_type, 64 AS m,
           round(CASE WHEN 0.709 * 4096 * 134217728 / s_int <= 160 AND v > 0
                      THEN 64 * ln(64.0 / v)
                      ELSE 0.709 * 4096 * 134217728 / s_int END, 3) AS hll_estimate
    FROM s
    """,
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL distinct-user sketch MAINTAINED OVER A STREAM: per-row
    (bucket, rho) derive statelessly from the md5 hash in the stream's
    scan stage, an update-mode max aggregation holds the registers
    (64 longs per type — the whole streaming state), and each trigger
    upserts changed registers into the serving table; the estimate off
    the drained registers must equal the batch hll_distinct_estimate
    sketch exactly (register max is insensitive to batch splits — the
    merge law, exercised here across micro-batch boundaries instead of
    event-parity halves). The production shape for live cardinality
    dashboards: state is registers, never user sets.

    At 100 TB stream volume the serving table stays |types| x 64 rows
    and the per-trigger alarm cost is arithmetic over it."""
    import tempfile

    from scylla_migrator_spark.streaming.rollup import continuous_rollup

    _session_proof(spark)
    stage = _events_halves_stage(spark, sf_dir)
    batch_schema = _read_parquet_immutable(spark, stage).schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    hv = TXT._md5_int(F.col("user_id").cast("string"))
    w = F.expr(
        "conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10) div 64"
    ).cast("bigint")
    b = stream.select(
        "event_type",
        (hv % 64).cast("bigint").alias("bucket"),
        F.when(w == 0, F.lit(27))
        .otherwise(F.lit(27) - F.length(F.bin(w)))
        .alias("rho"),
    )
    reg = b.groupBy("event_type", "bucket").agg(F.max("rho").cast("bigint").alias("r"))
    serving = tempfile.mkdtemp(prefix="sgs_hll_") + "/serving"
    with _stream_shuffle_partitions(spark):
        q = continuous_rollup(
            reg,
            serving,
            ["event_type", "bucket"],
            tempfile.mkdtemp(prefix="sgs_hll_ckpt_"),
        )
        q.awaitTermination()
    regs = spark.read.parquet(serving)
    s = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 27 - cast(r as int))"))
            + (F.lit(64) - F.count("*")) * F.lit(134217728)
        )
        .cast("bigint")
        .alias("s_int"),
        (F.lit(64) - F.count("*")).cast("bigint").alias("v"),
    )
    raw = F.lit(0.709) * F.lit(4096) * F.lit(134217728) / F.col("s_int")
    return s.select(
        "event_type",
        F.lit(64).alias("m"),
        F.round(
            F.when(
                (raw <= 160) & (F.col("v") > 0),
                F.lit(64) * F.log(F.lit(64.0) / F.col("v")),
            ).otherwise(raw),
            3,
        ).alias("hll_estimate"),
    )


@_register(
    "wasserstein_value_drift",
    # W1 = integral |F_ref - F_cur| between the time-half value CDFs:
    # per-segment |cum1/n1 - cum2/n2| * (next_value - value) truncates to
    # DECIMAL(18,9) before the shuffle-order-exact sum; the CDF windows
    # run over distinct values per type (the KS machinery + a gap weight).
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    vc AS (
      SELECT event_type, value,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 1 ELSE 0 END)::BIGINT AS c1,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 0 ELSE 1 END)::BIGINT AS c2
      FROM events, med GROUP BY event_type, value),
    tot AS (
      SELECT event_type, sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2
      FROM vc GROUP BY 1 HAVING sum(c1) > 0 AND sum(c2) > 0),
    cum AS (
      SELECT event_type, value,
             sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS cum1,
             sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS cum2,
             lead(value) OVER (PARTITION BY event_type ORDER BY value) AS nxt
      FROM vc),
    terms AS (
      SELECT event_type,
             CAST(abs(cum1 / n1 - cum2 / n2) * (nxt - value)
                  AS DECIMAL(18,9)) AS term
      FROM cum JOIN tot USING (event_type)
      WHERE nxt IS NOT NULL)
    SELECT t.event_type, t.n1 AS n_ref, t.n2 AS n_cur,
           round(CAST(coalesce(sum(term), 0) AS DOUBLE), 6) AS wasserstein_1
    FROM tot t LEFT JOIN terms USING (event_type)
    GROUP BY t.event_type, t.n1, t.n2
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the first- and
    second-half value distributions per event type — the optimal-
    transport drift metric that completes the family: KS reports the
    WORST CDF gap (shape-sensitive, unit-free), W1 reports the TOTAL
    area between the CDFs (magnitude-sensitive, in value units — "how
    far did mass actually move"), which is what a retraining-threshold
    policy wants to know. For 1-D empirical distributions W1 is exactly
    the integral of |F_ref - F_cur|, evaluated segment-by-segment
    between consecutive distinct values.

    Shape: the ks_value_drift machinery plus a gap weight — one
    map-side (type, value) half-count pass, CDF + lead windows over
    DISTINCT values per type, per-segment terms truncated to
    DECIMAL(18,9) before the exact sum (CDF ratios and gaps are
    bit-identical doubles from exact integers). Same quantize-first
    escape for continuous 100 TB values as KS."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    is_ref = F.when(F.col("ts") < F.col("cut"), F.lit(1)).otherwise(F.lit(0))
    vc = (
        ev.join(F.broadcast(med))
        .groupBy("event_type", "value")
        .agg(
            F.sum(is_ref).cast("bigint").alias("c1"),
            F.sum(F.lit(1) - is_ref).cast("bigint").alias("c2"),
        )
    )
    tot = (
        vc.groupBy("event_type")
        .agg(F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2"))
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    w = Window.partitionBy("event_type").orderBy("value")
    cum = vc.select(
        "event_type",
        "value",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.lead("value").over(w).alias("nxt"),
    )
    terms = (
        cum.join(tot, "event_type")
        .filter(F.col("nxt").isNotNull())
        .select(
            "event_type",
            (
                F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))
                * (F.col("nxt") - F.col("value"))
            )
            .cast("decimal(18,9)")
            .alias("term"),
        )
    )
    return (
        tot.join(terms, "event_type", "left")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.round(
                F.coalesce(F.sum("term"), F.lit(0)).cast("double"), 6
            ).alias("wasserstein_1")
        )
        .select(
            "event_type",
            F.col("n1").alias("n_ref"),
            F.col("n2").alias("n_cur"),
            "wasserstein_1",
        )
    )


@_register(
    "ab_proportion_ztest",
    # classic two-sample proportion z-test between user-parity cohorts:
    # conversion = fraction of users with >= 1 purchase event; pooled-
    # variance z from exact integer counts, one double expression chain.
    """
    WITH mx AS (SELECT max(epoch_ns(ts))::BIGINT AS tmax FROM events),
    u AS (
      SELECT user_id, user_id % 2 AS cohort,
             max(CASE WHEN event_type = 'purchase'
                       AND epoch_ns(ts) >= tmax - 604800000000000
                      THEN 1 ELSE 0 END) AS conv
      FROM events, mx GROUP BY user_id),
    c AS (
      SELECT cohort, count(*)::BIGINT AS n, sum(conv)::BIGINT AS x
      FROM u GROUP BY cohort),
    s AS (
      SELECT max(CASE WHEN cohort = 0 THEN n END)::BIGINT AS n_a,
             max(CASE WHEN cohort = 0 THEN x END)::BIGINT AS x_a,
             max(CASE WHEN cohort = 1 THEN n END)::BIGINT AS n_b,
             max(CASE WHEN cohort = 1 THEN x END)::BIGINT AS x_b
      FROM c)
    SELECT n_a, x_a, n_b, x_b,
           round(CAST(x_a AS DOUBLE) / n_a, 6) AS p_a,
           round(CAST(x_b AS DOUBLE) / n_b, 6) AS p_b,
           round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z
    FROM s
    WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
    """,
)
def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion z-test between user-parity cohorts on the
    user-level purchase-conversion rate — the A/B-test readout (pooled-
    variance z, the experiment-dashboard standard) next to the
    per-day Wilson bounds: Wilson answers "how uncertain is each rate",
    the z-test answers "are the two cohorts' rates different". The
    user-id parity split is the classic hash-bucket assignment an
    experimentation layer uses, derandomized here by construction.

    Shape: ONE map-side pass collapses events to per-user conversion
    flags, a 2-row cohort aggregate, then scalar arithmetic — exact
    integer counts into one identical double expression chain, rounded
    6dp; degenerate cases (all/none converted, empty cohort) excluded
    identically on both engines."""
    ev = _fan(_t(spark, sf_dir, "events"))
    mx = ev.agg(F.max("ts").cast("bigint").alias("tmax"))
    # conversion = purchased within the trailing 7 days: an all-time flag
    # saturates to 1 for every user on a long-enough fixture (x = n on
    # both sides -> the degenerate-case filter drops the row); the
    # recency-window rate stays interior at every scale and is the
    # realistic experiment metric anyway
    u = (
        ev.join(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("tmax") - F.lit(604_800_000_000_000)),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("cohort"), "conv")
    )
    c = u.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("conv").cast("bigint").alias("x")
    )
    s = c.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).cast("bigint").alias("n_a"),
        F.max(F.when(F.col("cohort") == 0, F.col("x"))).cast("bigint").alias("x_a"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).cast("bigint").alias("n_b"),
        F.max(F.when(F.col("cohort") == 1, F.col("x"))).cast("bigint").alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1) - pp) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return (
        s.filter(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
        )
        .select(
            "n_a",
            "x_a",
            "n_b",
            "x_b",
            F.round(pa, 6).alias("p_a"),
            F.round(pb, 6).alias("p_b"),
            F.round(z, 6).alias("z"),
        )
    )


@_register(
    "gap_logrank_test",
    # Mantel-Haenszel log-rank between the user-parity cohorts' gap
    # survival: per-event-day O1/E1/V from exact integer risk sets
    # (cumulative windows over the distinct-gap frame), E1 and the
    # hypergeometric V truncated to DECIMAL(18,9) before their sums.
    """
    WITH mx AS (SELECT max(epoch_ns(ts))::BIGINT AS tmax FROM events),
    seq AS (
      SELECT user_id, user_id % 2 AS grp, epoch_ns(ts)::BIGINT AS tns,
             lead(epoch_ns(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events),
    obs AS (
      SELECT grp, (nxt - tns) // 86400000000000 AS g, 0 AS c
      FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT grp, (tmax - tns) // 86400000000000 AS g, 1 AS c
      FROM seq, mx WHERE nxt IS NULL),
    byg AS (
      SELECT g,
             sum(CASE WHEN grp = 1 THEN 1 - c ELSE 0 END)::BIGINT AS d1,
             sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS m1,
             sum(1 - c)::BIGINT AS d, count(*)::BIGINT AS m
      FROM obs GROUP BY g),
    tot AS (
      SELECT sum(m)::BIGINT AS tot, sum(m1)::BIGINT AS tot1 FROM byg),
    risk AS (
      SELECT g, d1, d,
             (tot.tot - coalesce(sum(m) OVER (ORDER BY g
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n,
             (tot.tot1 - coalesce(sum(m1) OVER (ORDER BY g
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n1
      FROM byg, tot),
    terms AS (
      SELECT g, d1,
             CAST(CAST(n1 AS DOUBLE) * d / n AS DECIMAL(18,9)) AS e1,
             CASE WHEN n > 1
                  THEN CAST(d * (CAST(n1 AS DOUBLE) / n)
                            * (1 - CAST(n1 AS DOUBLE) / n)
                            * (n - d) / (n - 1) AS DECIMAL(18,9))
                  ELSE CAST(0 AS DECIMAL(18,9)) END AS v
      FROM risk WHERE d > 0)
    SELECT count(*)::BIGINT AS n_event_days,
           sum(d1)::BIGINT AS o1,
           round(CAST(sum(e1) AS DOUBLE), 6) AS e1,
           round(CAST(sum(v) AS DOUBLE), 6) AS var,
           round((sum(d1) - CAST(sum(e1) AS DOUBLE))
                 * (sum(d1) - CAST(sum(e1) AS DOUBLE))
                 / CAST(sum(v) AS DOUBLE), 6) AS logrank_chi2
    FROM terms
    HAVING CAST(sum(v) AS DOUBLE) > 0
    """,
)
def gap_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Haenszel) test between the user-parity cohorts'
    time-to-next-event survival curves — the standard "are these two
    retention curves different" test (chi2 with 1 dof under the null),
    completing the survival pair: gap_survival_curve DESCRIBES the
    curve, this COMPARES two of them, censoring handled identically
    (a censored last-event gap stays in the risk set, never an event).
    The A/B experiment readout for engagement changes, where the naive
    mean-gap t-test is wrecked by censoring.

    Shape: per-user lead window over the scan, then every statistic
    lives on the distinct-gap-day frame — risk sets from cumulative
    windows over exact integer tier masses (the KM posture), per-day E1
    and hypergeometric V truncated to DECIMAL(18,9) before their
    shuffle-order-exact sums, O1 pure integer; one double expression
    chain at the end."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    day_ns = 86_400_000_000_000
    mx = ev.agg(F.max("ts").cast("bigint").alias("tmax"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (F.col("user_id") % 2).alias("grp"),
        F.col("ts").alias("tns"),
        F.lead("ts").over(wu).alias("nxt"),
    )
    uncens = seq.filter(F.col("nxt").isNotNull()).select(
        "grp", F.expr(f"(nxt - tns) DIV {day_ns}").alias("g"), F.lit(0).alias("c")
    )
    cens = (
        seq.filter(F.col("nxt").isNull())
        .join(F.broadcast(mx))
        .select(
            "grp", F.expr(f"(tmax - tns) DIV {day_ns}").alias("g"), F.lit(1).alias("c")
        )
    )
    obs = uncens.unionByName(cens)
    g1 = F.when(F.col("grp") == 1, F.lit(1)).otherwise(F.lit(0))
    byg = obs.groupBy("g").agg(
        F.sum(g1 * (F.lit(1) - F.col("c"))).cast("bigint").alias("d1"),
        F.sum(g1).cast("bigint").alias("m1"),
        F.sum(F.lit(1) - F.col("c")).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    )
    tot = byg.agg(
        F.sum("m").cast("bigint").alias("tot"), F.sum("m1").cast("bigint").alias("tot1")
    )
    wprev = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    risk = byg.join(F.broadcast(tot)).select(
        "g",
        "d1",
        "d",
        (F.col("tot") - F.coalesce(F.sum("m").over(wprev), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (F.col("tot1") - F.coalesce(F.sum("m1").over(wprev), F.lit(0)))
        .cast("bigint")
        .alias("n1"),
    )
    frac = F.col("n1").cast("double") / F.col("n")
    e1 = (F.col("n1").cast("double") * F.col("d") / F.col("n")).cast("decimal(18,9)")
    v = (
        F.when(
            F.col("n") > 1,
            (
                F.col("d")
                * frac
                * (F.lit(1) - frac)
                * (F.col("n") - F.col("d"))
                / (F.col("n") - 1)
            ).cast("decimal(18,9)"),
        ).otherwise(F.lit(0).cast("decimal(18,9)"))
    )
    terms = risk.filter(F.col("d") > 0).select(
        "d1", e1.alias("e1"), v.alias("v")
    )
    se1 = F.sum("e1").cast("double")
    sv = F.sum("v").cast("double")
    diff = F.sum("d1") - se1
    return (
        terms.agg(
            F.count("*").cast("bigint").alias("n_event_days"),
            F.sum("d1").cast("bigint").alias("o1"),
            F.round(se1, 6).alias("e1"),
            F.round(sv, 6).alias("var"),
            F.round(diff * diff / sv, 6).alias("logrank_chi2"),
        )
        .filter(F.col("var") > 0)
    )


@_register(
    "dp_laplace_event_counts",
    # sensitivity-1 count query through the Laplace mechanism with a
    # DERANDOMIZED draw: u from the md5 of the group key (the poisson-
    # bootstrap shared-CDF contract), noise = -b*sign(u-.5)*ln(1-2|u-.5|);
    # one row per type, no noise summation, so the per-row transcendental
    # needs only the final rounding.
    """
    WITH c AS (
      SELECT event_type, count(*)::BIGINT AS n_true FROM events GROUP BY 1),
    u AS (
      SELECT event_type, n_true,
             (CAST('0x' || substr(md5(event_type), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS u
      FROM c)
    SELECT event_type, n_true, 1.0 AS epsilon,
           round(-1.0 * (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                 * ln(1 - 2 * abs(u - 0.5)), 6) AS noise,
           round(n_true + (-1.0 * (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                           * ln(1 - 2 * abs(u - 0.5))), 3) AS n_noisy
    FROM u
    """,
)
def dp_laplace_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Laplace mechanism on per-type event counts (Dwork et al. 2006
    — sensitivity-1 count query, scale b = 1/epsilon, epsilon = 1): the
    differential-privacy release shape a data platform applies before
    publishing usage aggregates. The draw is DERANDOMIZED the way the
    Poisson bootstrap's are — u comes from the md5 of the group key
    through the inverse Laplace CDF, so the mechanism is bit-replayable
    in SQL and this row is the hash-checked MECHANISM LEDGER (true
    count, noise, noisy count side by side — a correctness contract for
    the engine's implementation; an actual private release would publish
    the noisy column only, with a fresh secret seed folded into the
    hash).

    Shape: one map-side count pass; the per-type inverse-CDF
    transcendental runs once per group on bit-identical doubles with
    NO summation after it, so only the output rounding is needed."""
    ev = _fan(_t(spark, sf_dir, "events"))
    c = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_true"))
    u = (TXT._md5_int(F.col("event_type")) + F.lit(0.5)) / F.lit(4294967296.0)
    sgn = F.when(u >= 0.5, F.lit(1)).otherwise(F.lit(-1))
    noise = F.lit(-1.0) * sgn * F.log(F.lit(1) - F.lit(2) * F.abs(u - F.lit(0.5)))
    return c.select(
        "event_type",
        "n_true",
        F.lit(1.0).alias("epsilon"),
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n_true") + noise, 3).alias("n_noisy"),
    )


@_register(
    "video_scene_cut_profile",
    # the video frame-hash CTEs (identical to video_phash_dup_pairs up to
    # dh) + adjacent-frame Hamming distances: a cut = popcount > 20 of 56
    # bits; per-video transition count, cut count, mean/max Hamming.
    """
    WITH d AS (
      SELECT doc_id, text, 1000 + (doc_id % 50) * 250 AS dur FROM documents),
    fr AS (
      SELECT d.doc_id, gs.f,
             hex(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) AS hx,
             octet_length(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) AS nb
      FROM d, UNNEST(generate_series(0, d.dur // 1000)) AS gs(f)
      WHERE octet_length(encode(substr(d.text, CAST(1 + 7 * gs.f AS INT), 61))) > 0),
    g AS (
      SELECT doc_id, f, ys.y AS y, xs.x AS x,
        (CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 1) % nb) + 1, 2) AS INT)
       + CAST('0x' || substring(hx, 2*((96*ys.y + 6*xs.x + 2) % nb) + 1, 2) AS INT)) // 3 AS gray
      FROM fr
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs),
    dh AS (
      SELECT l.doc_id, l.f,
             CAST(sum(CASE WHEN l.gray < r.gray
                           THEN 1::BIGINT << (l.y * 7 + l.x)
                           ELSE 0::BIGINT END) AS BIGINT) AS sh
      FROM g l JOIN g r ON l.doc_id = r.doc_id AND l.f = r.f
                       AND l.y = r.y AND r.x = l.x + 1
      GROUP BY l.doc_id, l.f),
    adj AS (
      SELECT l.doc_id, CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hd
      FROM dh l JOIN dh r ON l.doc_id = r.doc_id AND r.f = l.f + 1)
    SELECT doc_id, count(*)::BIGINT AS n_transitions,
           sum(CASE WHEN hd > 20 THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
           round(CAST(sum(hd) AS DOUBLE) / count(*), 6) AS mean_hamming,
           max(hd)::INT AS max_hamming
    FROM adj GROUP BY doc_id
    """,
)
def video_scene_cut_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection per video: Hamming distance between
    consecutive sampled frames' perceptual hashes, a cut where the
    distance exceeds 20 of 56 dHash bits — the shot-boundary profile a
    video-training pipeline uses to pick representative frames (sample
    once per SHOT, not per second) and to flag slideshows (cuts at every
    transition) vs static screens (zero cuts, one frame represents the
    whole asset). Same real container parse -> metadata frame grid ->
    per-frame dHash plumbing as video_phash_dup_pairs; the NEW math is
    adjacent-frame popcounts aggregated per video — integer throughout,
    one exact-rational mean rounded at 6dp.

    100 TB shape: frames decode once inside Arrow stages, the per-frame
    8-byte hashes are checkpointed, and the adjacent-frame join keys on
    (video, frame+1) — bounded fan-out, never pixels. Reads the staged
    frame-fingerprint table (`_video_frame_fp_staged` — the identical
    pipeline, previously inlined here verbatim; decode cost stays
    bench-visible via video_phash_dup_pairs)."""
    fp = _video_frame_fp_staged(spark, sf_dir)
    l = fp.select("doc_id", F.col("f").alias("fl"), F.col("sh").alias("shl"))
    r = fp.select(
        F.col("doc_id").alias("doc_id_r"),
        F.col("f").alias("fr"),
        F.col("sh").alias("shr"),
    )
    adj = l.join(
        r, (F.col("doc_id") == F.col("doc_id_r")) & (F.col("fr") == F.col("fl") + 1)
    ).select(
        "doc_id",
        F.bit_count(F.col("shl").bitwiseXOR(F.col("shr"))).cast("int").alias("hd"),
    )
    return adj.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.sum(F.when(F.col("hd") > 20, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_cuts"),
        F.round(F.sum("hd").cast("double") / F.count("*"), 6).alias("mean_hamming"),
        F.max("hd").cast("int").alias("max_hamming"),
    )


def _nmi_sql(dim: int = 16, k: int = 8, iters: int = 2) -> str:
    """NMI oracle: the shared doc-cluster training/assignment CTEs + the
    contingency arithmetic (per-cell and marginal entropy terms truncated
    to DECIMAL(18,9) before their sums)."""
    return (
        _hashed_emb_cte(dim)
        + ",\n    base AS (SELECT doc_id AS vec_id, CAST(v AS DOUBLE[]) AS v FROM emb),\n    "
        + ",\n    ".join(_kmeans_train_parts(iters, k, dim))
        + ",\n    "
        + _kmeans_assign_cte("assigned", f"cent{iters}")
        + """,
    lab AS (
      SELECT a.vec_id AS doc_id, a.centroid_id AS c, d.source AS s
      FROM assigned a JOIN documents d ON d.doc_id = a.vec_id),
    cs AS (SELECT c, s, count(*)::BIGINT AS n FROM lab GROUP BY 1, 2),
    mc AS (SELECT c, sum(n)::BIGINT AS nc FROM cs GROUP BY 1),
    ms AS (SELECT s, sum(n)::BIGINT AS ns FROM cs GROUP BY 1),
    nn AS (SELECT sum(n)::BIGINT AS nn FROM cs),
    mi_t AS (
      SELECT CAST((CAST(cs.n AS DOUBLE) / nn.nn)
                  * ln(CAST(cs.n AS DOUBLE) * nn.nn
                       / (CAST(mc.nc AS DOUBLE) * ms.ns))
                  AS DECIMAL(18,9)) AS term
      FROM cs JOIN mc USING (c) JOIN ms USING (s), nn),
    hc_t AS (
      SELECT CAST(-(CAST(nc AS DOUBLE) / nn.nn)
                  * ln(CAST(nc AS DOUBLE) / nn.nn) AS DECIMAL(18,9)) AS term
      FROM mc, nn),
    hs_t AS (
      SELECT CAST(-(CAST(ns AS DOUBLE) / nn.nn)
                  * ln(CAST(ns AS DOUBLE) / nn.nn) AS DECIMAL(18,9)) AS term
      FROM ms, nn),
    agg AS (
      SELECT (SELECT sum(term) FROM mi_t) AS mi,
             (SELECT sum(term) FROM hc_t) AS hc,
             (SELECT sum(term) FROM hs_t) AS hs,
             (SELECT nn FROM nn) AS n_docs,
             (SELECT count(*) FROM mc) AS n_clusters,
             (SELECT count(*) FROM ms) AS n_sources)
    SELECT n_docs::BIGINT AS n_docs, n_clusters::BIGINT AS n_clusters,
           n_sources::BIGINT AS n_sources,
           round(CAST(mi AS DOUBLE), 6) AS mutual_information,
           round(CAST(hc AS DOUBLE), 6) AS h_cluster,
           round(CAST(hs AS DOUBLE), 6) AS h_source,
           round(CAST(mi AS DOUBLE)
                 / sqrt(CAST(hc AS DOUBLE) * CAST(hs AS DOUBLE)), 6) AS nmi
    FROM agg
    WHERE CAST(hc AS DOUBLE) > 0 AND CAST(hs AS DOUBLE) > 0
    """
    )


@_register("cluster_source_nmi", _nmi_sql())
def cluster_source_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between the trained document
    clusters and the source labels — the external-validity companion to
    the silhouette's internal quality: silhouette asks "are the clusters
    geometrically tight", NMI asks "do they recover anything a human
    label knows" (NMI near 0 = clustering is orthogonal to provenance —
    fine for topical bucketing, fatal if the goal was source
    separation; near 1 = the expensive clustering rediscovered the
    source column). Sqrt-normalized NMI = I(C;S)/sqrt(H(C)H(S)).

    Exactness: the contingency table and marginals are integer counts;
    every ln term runs on bit-identical double ratios of exact integers
    and truncates to DECIMAL(18,9) before its sum (the entropy-family
    discipline); one double expression chain at the end. Shape: the
    k-means artifact is the SAME staged training the assignment and
    silhouette queries share; the NMI math is |clusters x sources|
    arithmetic after one map-side count pass."""
    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    emb = _doc_emb16(docs)
    cents = _doc_kmeans_staged(spark, sf_dir)
    lab = (
        SIM.ivf_assign(emb, cents, "doc_id", "v")
        .select("doc_id", F.col("centroid_id").alias("c"))
        .join(docs.select("doc_id", F.col("source").alias("s")), "doc_id")
    )
    # six downstream branches read the contingency table; materialize the
    # |clusters x sources|-row frame ONCE so the text-hash-embed-assign
    # pipeline never re-runs per branch
    cs = (
        lab.groupBy("c", "s")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    mc = cs.groupBy("c").agg(F.sum("n").cast("bigint").alias("nc"))
    ms = cs.groupBy("s").agg(F.sum("n").cast("bigint").alias("ns"))
    nn = cs.agg(F.sum("n").cast("bigint").alias("nn"))
    mi_t = (
        cs.join(mc, "c")
        .join(ms, "s")
        .join(F.broadcast(nn))
        .select(
            (
                (F.col("n").cast("double") / F.col("nn"))
                * F.log(
                    F.col("n").cast("double")
                    * F.col("nn")
                    / (F.col("nc").cast("double") * F.col("ns"))
                )
            )
            .cast("decimal(18,9)")
            .alias("term")
        )
        .agg(F.sum("term").alias("mi"))
    )
    hc_t = (
        mc.join(F.broadcast(nn))
        .select(
            (
                -(F.col("nc").cast("double") / F.col("nn"))
                * F.log(F.col("nc").cast("double") / F.col("nn"))
            )
            .cast("decimal(18,9)")
            .alias("term")
        )
        .agg(F.sum("term").alias("hc"), F.count("*").cast("bigint").alias("n_clusters"))
    )
    hs_t = (
        ms.join(F.broadcast(nn))
        .select(
            (
                -(F.col("ns").cast("double") / F.col("nn"))
                * F.log(F.col("ns").cast("double") / F.col("nn"))
            )
            .cast("decimal(18,9)")
            .alias("term")
        )
        .agg(F.sum("term").alias("hs"), F.count("*").cast("bigint").alias("n_sources"))
    )
    mi = F.col("mi").cast("double")
    hc = F.col("hc").cast("double")
    hs = F.col("hs").cast("double")
    return (
        nn.crossJoin(F.broadcast(mi_t))
        .crossJoin(F.broadcast(hc_t))
        .crossJoin(F.broadcast(hs_t))
        .filter((hc > 0) & (hs > 0))
        .select(
            F.col("nn").alias("n_docs"),
            "n_clusters",
            "n_sources",
            F.round(mi, 6).alias("mutual_information"),
            F.round(hc, 6).alias("h_cluster"),
            F.round(hs, 6).alias("h_source"),
            F.round(mi / F.sqrt(hc * hs), 6).alias("nmi"),
        )
    )


@_register(
    "int8_recall_at_k",
    # int8 round-trip recall: quantize (the embedding_quantize_int8
    # formulas), dequantize with the PUBLISHED round-6 qmin/qscale, exact
    # cosine top-k over the reconstructed corpus vs the true ranking.
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qz AS (
      SELECT vec_id, round(list_min(v), 6) AS qmin,
             round(list_max(v) - list_min(v), 6) AS qscale,
             list_transform(v, x ->
               CASE WHEN list_max(v) = list_min(v) THEN 0
                    ELSE CAST(floor((x - list_min(v)) / (list_max(v) - list_min(v))
                                    * 255 + 0.5) AS INT) END) AS codes
      FROM v),
    deq AS (
      SELECT vec_id,
             list_transform(codes, c -> qmin + c * qscale / 255.0) AS dv
      FROM qz),
    qv AS (SELECT v AS q FROM v WHERE vec_id = 0),
    approx AS (
      SELECT vec_id FROM (
        SELECT d.vec_id,
               round(list_cosine_similarity(d.dv, qv.q), 6) AS cos
        FROM deq d, qv ORDER BY cos DESC, vec_id LIMIT 10)),
    exact AS ({{ORACLE_ANN}})
    SELECT 10 AS k, count(*)::BIGINT AS hits,
           round(count(*) / 10.0, 6) AS recall
    FROM approx JOIN exact USING (vec_id)
    """.replace("{ORACLE_ANN}", ORACLES["ann_cosine_topk"]),
)
def int8_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact search over the int8-DEQUANTIZED corpus against
    the float ranking — the round-trip quality number for the scalar
    quantizer (embedding_quantize_int8 publishes the codes; this row says
    what 4x compression costs in ranking fidelity), completing the
    recall gate across every quantizer in the repo: LSH, IVF, PQ-ADC,
    PQ re-rank, Matryoshka truncation, and now int8. Dequantization uses
    the PUBLISHED round-6 qmin/qscale (what a consumer of the codes
    table would use), so the metric grades the actual artifact.

    Shape: quantize + dequantize fuse into the scan stage (narrow
    projections, no shuffle); the top-k is the brute_force_topk
    TakeOrdered; the recall join is k-vs-k."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec0_staged(spark, sf_dir)
    q = SIM.quantize_int8(emb, "vec_id", "embedding")
    deq = q.select(
        "vec_id",
        F.transform(
            F.col("codes"),
            lambda c: F.col("qmin") + c * F.col("qscale") / F.lit(255.0),
        ).alias("dv"),
    )
    approx = SIM.brute_force_topk(deq, qv, "vec_id", "dv", k=10)
    exact = _ann_exact_top10_staged(spark, sf_dir)
    return _recall_of(approx, exact, k=10)


@_register(
    "dispersion_index_daily",
    # variance-to-mean ratio of daily counts per type from exact integer
    # moments (n, sum, sum of squares); one identical double chain.
    """
    WITH daily AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
             sum(c * c)::BIGINT AS ss
      FROM daily GROUP BY 1 HAVING count(*) > 1 AND sum(c) > 0)
    SELECT event_type, n AS n_days,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_daily,
           round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1), 6)
             AS var_daily,
           round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
                 / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index
    FROM m
    """,
)
def dispersion_index_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion index (variance-to-mean ratio) of daily event volume
    per type — the Poisson-assumption check under the whole monitoring
    family: a Poisson arrival process has D = 1; D >> 1 (overdispersion:
    bursts, campaigns, batch ingests) means Poisson-based alert
    thresholds will fire constantly and need a negative-binomial
    widening, D << 1 (underdispersion: rate-limited or quota'd flows)
    means they are too loose. One map-side day-grain count pass, exact
    integer moments, one identical double expression chain rounded 6dp."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts div 86400000000000").alias("day_idx")
    ).agg(F.count("*").cast("bigint").alias("c"))
    m = (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
        )
        .filter((F.col("n") > 1) & (F.col("s") > 0))
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


@_register(
    "retention_decay_rate",
    # exponential fit of the pooled retention curve: per-offset retention
    # over cohorts OBSERVABLE at that offset (censoring-aware pooling of
    # the cohort_retention CTE), ln-linearized OLS with y terms truncated
    # to DECIMAL(18,9) (x*y products stay exact decimals), half-life
    # ln2/rate.
    """
    WITH cr AS ("""
    + ORACLES["cohort_retention"]
    + """),
    mw AS (SELECT max(cohort_week + week_offset) AS maxw FROM cr),
    base AS (SELECT cohort_week, n_users AS c0 FROM cr WHERE week_offset = 0),
    ofs AS (SELECT DISTINCT week_offset AS o FROM cr WHERE week_offset >= 1),
    ro AS (
      SELECT ofs.o,
             sum(coalesce(cr2.n_users, 0))::BIGINT AS ret,
             sum(b.c0)::BIGINT AS tot
      FROM ofs JOIN base b ON b.cohort_week + ofs.o <= (SELECT maxw FROM mw)
      LEFT JOIN cr cr2 ON cr2.cohort_week = b.cohort_week
                      AND cr2.week_offset = ofs.o
      GROUP BY ofs.o
      HAVING sum(coalesce(cr2.n_users, 0)) > 0 AND sum(b.c0) > 0),
    terms AS (
      SELECT o, CAST(ln(CAST(ret AS DOUBLE) / tot) AS DECIMAL(18,9)) AS y,
             CASE WHEN o = 1
                  THEN round(CAST(ret AS DOUBLE) / tot, 6) END AS r1
      FROM ro),
    mom AS (
      SELECT count(*)::BIGINT AS n, sum(o)::BIGINT AS sx, sum(y) AS sy,
             sum(o * o)::BIGINT AS sxx, sum(o * y) AS sxy, max(r1) AS r1
      FROM terms)
    SELECT n AS n_offsets, r1 AS retention_week1,
           round(-(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx)), 6) + 0.0 AS decay_rate,
           CASE WHEN CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) < 0
                THEN round(0.6931471805599453
                           / -(CAST(n * sxy - sx * sy AS DOUBLE)
                               / (n * sxx - sx * sx)), 6)
                ELSE 0.0 END AS half_life_weeks
    FROM mom WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
)
def retention_decay_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential decay fit of the pooled retention curve — the single
    number the cohort_retention MATRIX is usually read for: assume
    r(o) ~ r1 * exp(-lambda*(o-1)), fit lambda by ln-linearized least
    squares over week offsets, report the decay rate and half-life in
    weeks (the "how fast do we lose returning users" KPI). Pooling is
    CENSORING-AWARE: offset o averages only cohorts old enough to be
    observable at o (young cohorts never drag the tail down), the same
    correctness idea as the survival family's risk sets.

    Exactness: retention ratios come from exact integer counts; the
    per-offset ln terms truncate to DECIMAL(18,9) (x*y moment products
    stay exact decimals), the OLS arithmetic is one double chain; ln 2
    ships as a literal, not a cross-engine ln(2) call. Everything after
    the cohort aggregate runs on the |offsets| frame."""
    from pyspark.sql import functions as F2

    cr = QUERIES["cohort_retention"](spark, sf_dir).localCheckpoint(eager=True)
    mw = cr.agg(
        F2.max(F2.col("cohort_week") + F2.col("week_offset")).alias("maxw")
    )
    base = cr.filter(F2.col("week_offset") == 0).select(
        "cohort_week", F2.col("n_users").alias("c0")
    )
    ofs = (
        cr.filter(F2.col("week_offset") >= 1)
        .select(F2.col("week_offset").alias("o"))
        .distinct()
    )
    cr2 = cr.select(
        F2.col("cohort_week").alias("cw2"),
        F2.col("week_offset").alias("o2"),
        F2.col("n_users").alias("ret_u"),
    )
    ro = (
        ofs.join(F.broadcast(mw))
        .join(base, F2.col("cohort_week") + F2.col("o") <= F2.col("maxw"))
        .join(
            cr2,
            (F2.col("cw2") == F2.col("cohort_week")) & (F2.col("o2") == F2.col("o")),
            "left",
        )
        .groupBy("o")
        .agg(
            F2.sum(F2.coalesce(F2.col("ret_u"), F2.lit(0))).cast("bigint").alias("ret"),
            F2.sum("c0").cast("bigint").alias("tot"),
        )
        .filter((F2.col("ret") > 0) & (F2.col("tot") > 0))
    )
    terms = ro.select(
        "o",
        F2.log(F2.col("ret").cast("double") / F2.col("tot"))
        .cast("decimal(18,9)")
        .alias("y"),
        F2.when(
            F2.col("o") == 1, F2.round(F2.col("ret").cast("double") / F2.col("tot"), 6)
        ).alias("r1"),
    )
    mom = terms.agg(
        F2.count("*").cast("bigint").alias("n"),
        F2.sum("o").cast("bigint").alias("sx"),
        F2.sum("y").alias("sy"),
        F2.sum(F2.col("o") * F2.col("o")).cast("bigint").alias("sxx"),
        F2.sum(F2.col("o") * F2.col("y")).alias("sxy"),
        F2.max("r1").alias("r1"),
    )
    slope = (F2.col("n") * F2.col("sxy") - F2.col("sx") * F2.col("sy")).cast(
        "double"
    ) / (F2.col("n") * F2.col("sxx") - F2.col("sx") * F2.col("sx"))
    return (
        mom.filter(
            (F2.col("n") >= 2)
            & (F2.col("n") * F2.col("sxx") - F2.col("sx") * F2.col("sx") > 0)
        )
        .select(
            F2.col("n").alias("n_offsets"),
            F2.col("r1").alias("retention_week1"),
            # + 0.0 canonicalizes IEEE negative zero when the slope is
            # exactly 0 (flat retention) — the engines disagree on -0.0
            (F2.round(-slope, 6) + F2.lit(0.0)).alias("decay_rate"),
            F2.when(slope < 0, F2.round(F2.lit(0.6931471805599453) / -slope, 6))
            .otherwise(F2.lit(0.0))
            .alias("half_life_weeks"),
        )
    )


def _markov_sql(rounds: int = 3) -> str:
    """Unrolled power-iteration oracle over the transition-matrix CTE:
    uniform start, per-step products truncated to DECIMAL(18,9) before
    the exact sums (the PageRank discipline), final renormalization."""
    parts = [
        "WITH tm AS (" + ORACLES["event_transition_matrix"] + ")",
        "rt AS (SELECT from_type, sum(n)::BIGINT AS rn FROM tm GROUP BY 1)",
        """tmr AS (
      SELECT from_type, to_type, CAST(n AS DOUBLE) / rn AS p
      FROM tm JOIN rt USING (from_type))""",
        """types AS (
      SELECT DISTINCT from_type AS t FROM tm
      UNION SELECT DISTINCT to_type FROM tm)""",
        "nt AS (SELECT count(*)::BIGINT AS k FROM types)",
        """pi0 AS (
      SELECT t, CAST(1.0 / k AS DECIMAL(18,9)) AS p FROM types, nt)""",
    ]
    for r in range(rounds):
        parts.append(
            f"""pi{r + 1} AS (
      SELECT m.to_type AS t,
             sum(CAST(pi{r}.p * m.p AS DECIMAL(18,9))) AS p
      FROM pi{r} JOIN tmr m ON m.from_type = pi{r}.t
      GROUP BY m.to_type)"""
        )
    parts.append(
        f"s AS (SELECT sum(p) AS s FROM pi{rounds})"
    )
    parts.append(
        f"""emp AS (
      SELECT event_type, count(*)::BIGINT AS c FROM events GROUP BY 1)"""
    )
    parts.append("te AS (SELECT sum(c)::BIGINT AS te FROM emp)")
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT emp.event_type,
           round(CAST(coalesce(pi{rounds}.p, 0) AS DOUBLE)
                 / CAST(s.s AS DOUBLE), 6) AS stationary_p,
           round(CAST(emp.c AS DOUBLE) / te.te, 6) AS empirical_p
    FROM emp LEFT JOIN pi{rounds} ON pi{rounds}.t = emp.event_type, s, te
    """
    )


@_register("markov_stationary_profile", _markov_sql(3))
def markov_stationary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where user behavior CONVERGES: the (approximate) stationary
    distribution of the first-order event-type Markov chain — three
    power-iteration rounds from uniform over the trained transition
    matrix, renormalized — next to the empirical type frequency. A gap
    between the two is the behavioral-drift forecast: the chain says
    where the mix is HEADING if today's transition behavior persists,
    which leads the raw-frequency monitors (weekly_event_drift sees the
    mix move; this says it was predictable from the transitions).

    Exactness (the PageRank discipline): transition probabilities are
    exact-integer ratios; each step's per-edge products truncate to
    DECIMAL(18,9) before the shuffle-order-exact sums; three unrolled
    rounds replay CTE-for-CTE in the oracle; one renormalizing division
    at the end. Shape: the matrix is |types|^2 from one user-keyed lag
    pass (shared with event_transition_matrix); every iteration is a
    |types|-row join."""
    from pyspark.sql import functions as F2

    tm = QUERIES["event_transition_matrix"](spark, sf_dir).localCheckpoint(eager=True)
    rt = tm.groupBy("from_type").agg(F2.sum("n").cast("bigint").alias("rn"))
    tmr = tm.join(rt, "from_type").select(
        "from_type", "to_type", (F2.col("n").cast("double") / F2.col("rn")).alias("tp")
    )
    types = (
        tm.select(F2.col("from_type").alias("t"))
        .union(tm.select(F2.col("to_type").alias("t")))
        .distinct()
    )
    nt = types.agg(F2.count("*").cast("bigint").alias("k"))
    pi = types.join(F.broadcast(nt)).select(
        "t", (F2.lit(1.0) / F2.col("k")).cast("decimal(18,9)").alias("p")
    )
    for _ in range(3):
        pi = (
            pi.join(tmr, tmr["from_type"] == pi["t"])
            .select(
                F2.col("to_type").alias("t2"),
                (F2.col("p") * F2.col("tp")).cast("decimal(18,9)").alias("q"),
            )
            .groupBy(F2.col("t2").alias("t"))
            .agg(F2.sum("q").alias("p"))
        )
    s = pi.agg(F2.sum("p").alias("s"))
    ev = _t(spark, sf_dir, "events")
    emp = ev.groupBy("event_type").agg(F2.count("*").cast("bigint").alias("c"))
    te = emp.agg(F2.sum("c").cast("bigint").alias("te"))
    return (
        emp.join(pi.withColumnRenamed("t", "event_type"), "event_type", "left")
        .join(F.broadcast(s))
        .join(F.broadcast(te))
        .select(
            "event_type",
            F2.round(
                F2.coalesce(F2.col("p"), F2.lit(0)).cast("double")
                / F2.col("s").cast("double"),
                6,
            ).alias("stationary_p"),
            F2.round(F2.col("c").cast("double") / F2.col("te"), 6).alias(
                "empirical_p"
            ),
        )
    )


@_register(
    "session_duration_percentiles",
    # sessions from the 30-min gaps-and-islands flags (the sessionization
    # machinery) -> per-session integer nano durations -> interpolated
    # percentiles (quantile_cont == F.percentile) converted to seconds
    # once at the output.
    """
    WITH marked AS (
      SELECT user_id, epoch_ns(ts) AS tns, event_id,
             CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                       > 1800000000000 OR
                       lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, tns,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY tns, event_id) AS sid
      FROM marked),
    d AS (
      SELECT user_id, sid, (max(tns) - min(tns))::BIGINT AS dur,
             count(*)::BIGINT AS ne
      FROM sess GROUP BY 1, 2)
    SELECT count(*)::BIGINT AS n_sessions,
           round(quantile_cont(dur, 0.5) / 1000000000.0, 6) AS p50_duration_s,
           round(quantile_cont(dur, 0.95) / 1000000000.0, 6) AS p95_duration_s,
           round(CAST(sum(ne) AS DOUBLE) / count(*), 6) AS mean_events
    FROM d
    """,
)
def session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution under the 30-minute sessionization:
    p50/p95 duration in seconds plus mean events per session — the
    engagement-depth readout next to events_sessionization's per-user
    counts (counts say how often users come; durations say how long they
    stay — the pair a timeout change is evaluated on, closing the loop
    with session_gap_distribution which picks the timeout itself).

    Shape: the same ONE user-keyed window pass marks session starts, a
    second window over the same partitioning assigns ids (one shuffle
    end to end — shared partition spec), per-session aggregates are
    integer nano durations, and the exact interpolated percentiles
    (F.percentile == quantile_cont, the established contract) run over
    the session frame; seconds conversion happens once at the output."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    marked = ev.select(
        "user_id",
        F.col("ts").alias("tns"),
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > gap_ns),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    w2 = Window.partitionBy("user_id").orderBy("tns", "event_id")
    sess = marked.select(
        "user_id", "tns", F.sum("new_session").over(w2).alias("sid")
    )
    d = sess.groupBy("user_id", "sid").agg(
        (F.max("tns") - F.min("tns")).cast("bigint").alias("dur"),
        F.count("*").cast("bigint").alias("ne"),
    )
    return d.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.round(F.percentile("dur", F.lit(0.5)) / F.lit(1000000000.0), 6).alias(
            "p50_duration_s"
        ),
        F.round(F.percentile("dur", F.lit(0.95)) / F.lit(1000000000.0), 6).alias(
            "p95_duration_s"
        ),
        F.round(F.sum("ne").cast("double") / F.count("*"), 6).alias("mean_events"),
    )


@_register(
    "label_separability_profile",
    # Fisher-style separability of the embedding labels: per-(label, dim)
    # decimal-exact means rounded at 6 (the k-means centroid discipline),
    # per-row squared distances to the own-label centroid truncated to
    # DECIMAL(18,9) per (row, dim) term, between-class distance from the
    # same rounded centroids vs the global mean.
    """
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cells AS (
      SELECT label, gs.i AS dim, vec_id, v[gs.i] AS x
      FROM v, generate_series(1, 64) AS gs(i)),
    cl AS (
      SELECT label, dim,
             round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS m,
             count(*)::BIGINT AS nl
      FROM cells GROUP BY 1, 2),
    cg AS (
      SELECT dim,
             round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS g
      FROM cells GROUP BY 1),
    within_t AS (
      SELECT c.label, c.vec_id,
             CAST((c.x - cl.m) * (c.x - cl.m) AS DECIMAL(18,9)) AS t
      FROM cells c JOIN cl ON cl.label = c.label AND cl.dim = c.dim),
    within AS (
      SELECT label, count(DISTINCT vec_id)::BIGINT AS n_vecs,
             round(CAST(sum(t) AS DOUBLE) / count(DISTINCT vec_id), 6)
               AS within_mean_sq
      FROM within_t GROUP BY label),
    between_t AS (
      SELECT cl.label,
             CAST((cl.m - cg.g) * (cl.m - cg.g) AS DECIMAL(18,9)) AS t
      FROM cl JOIN cg USING (dim)),
    betw AS (
      SELECT label, round(CAST(sum(t) AS DOUBLE), 6) AS centroid_dist_sq
      FROM between_t GROUP BY label)
    SELECT w.label, w.n_vecs, w.within_mean_sq, b.centroid_dist_sq,
           round(b.centroid_dist_sq / w.within_mean_sq, 6) AS separability
    FROM within w JOIN betw b USING (label)
    WHERE w.within_mean_sq > 0
    """,
)
def label_separability_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style class separability of the labeled embeddings: per
    label, the mean squared distance of its vectors to their OWN
    centroid (within-class scatter) vs the squared distance of that
    centroid to the global mean (between-class) and their ratio — the
    readout that says whether the labels are learnable structure in this
    embedding space BEFORE anyone trains a probe on it (linear_probe
    accuracy collapsing while separability holds means the probe broke;
    both collapsing means the embeddings did). Completes the embedding
    quality trio: silhouette (unsupervised geometry), NMI (clusters vs
    labels), Fisher (labels vs geometry).

    Exactness: centroids are decimal-exact per-dim means rounded at 6
    (the shared k-means discipline, so both engines' distances see
    identical centroid doubles); every squared term truncates to
    DECIMAL(18,9) before its shuffle-order-exact sum. Shape: the
    (row x dim) explode is the honest cost (64x narrow rows, two
    map-side aggregates); at 100 TB swap the explode for the
    F.aggregate vector folds over the same decimal discipline —
    identical math, scan-stage."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    cells = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    ).select("vec_id", "label", (F.col("i") + 1).alias("dim"), "x")
    cl = cells.groupBy("label", "dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("m")
    )
    cg = cells.groupBy("dim").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("g")
    )
    within_t = cells.join(cl, ["label", "dim"]).select(
        "label",
        "vec_id",
        ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
        .cast("decimal(18,9)")
        .alias("t"),
    )
    within = within_t.groupBy("label").agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_vecs"),
        F.round(
            F.sum("t").cast("double") / F.countDistinct("vec_id"), 6
        ).alias("within_mean_sq"),
    )
    between_t = cl.join(cg, "dim").select(
        "label",
        ((F.col("m") - F.col("g")) * (F.col("m") - F.col("g")))
        .cast("decimal(18,9)")
        .alias("t"),
    )
    betw = between_t.groupBy("label").agg(
        F.round(F.sum("t").cast("double"), 6).alias("centroid_dist_sq")
    )
    return (
        within.join(betw, "label")
        .filter(F.col("within_mean_sq") > 0)
        .select(
            "label",
            "n_vecs",
            "within_mean_sq",
            "centroid_dist_sq",
            F.round(F.col("centroid_dist_sq") / F.col("within_mean_sq"), 6).alias(
                "separability"
            ),
        )
    )


@_register(
    "source_marginal_novelty",
    # per-source exclusive-shingle fraction: distinct (source, 3-gram)
    # pairs -> source-df per gram -> fraction with df 1; grams cross the
    # df join as md5 digests on both engines.
    f"""
    WITH sh AS (
      SELECT source,
             list_distinct({_trigrams(False)}) AS s
      FROM documents
      WHERE len({_TOKENS}) >= 3),
    g AS (SELECT DISTINCT source, md5(gram) AS h
          FROM (SELECT source, unnest(s) AS gram FROM sh)),
    sdf AS (SELECT h, count(*)::BIGINT AS ns FROM g GROUP BY h)
    SELECT g.source,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN sdf.ns = 1 THEN 1 ELSE 0 END)::BIGINT AS n_exclusive,
           round(CAST(sum(CASE WHEN sdf.ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS marginal_novelty
    FROM g JOIN sdf USING (h)
    GROUP BY g.source
    """,
)
def source_marginal_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What each source UNIQUELY contributes: the fraction of a source's
    distinct word 3-grams that occur in NO other source — the
    corpus-composition counterpart of per-doc ngram_novelty_score, and
    the number a mixing policy reads before dropping a source ("source X
    is 90% covered by the others" vs "source Y is the only holder of a
    third of its phrasing"). Pairs with cross_source_dup_matrix: the
    matrix says who overlaps whom; this says what would be LOST.

    Shape: one shingle explode collapsed to DISTINCT (source, gram)
    pairs map-side; grams cross the source-df join as 16-byte md5
    digests only (never shingle text twice — the sentence-dedup
    posture); both aggregates are |distinct grams|-bounded."""
    docs = _fan(_t(spark, sf_dir, "documents"))
    g = (
        docs.select(
            "source",
            F.explode(F.array_distinct(TXT.shingles(F.col("text"), 3))).alias("gram"),
        )
        .select("source", F.md5("gram").alias("h"))
        .distinct()
    )
    sdf = g.groupBy("h").agg(F.count("*").cast("bigint").alias("ns"))
    ex = F.when(F.col("ns") == 1, F.lit(1)).otherwise(F.lit(0))
    return (
        g.join(sdf, "h")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(ex).cast("bigint").alias("n_exclusive"),
            F.round(F.sum(ex).cast("double") / F.count("*"), 6).alias(
                "marginal_novelty"
            ),
        )
    )


@_register(
    "bpr_triplet_sample",
    # (user, positive item, derandomized negative) triplets for pairwise
    # ranking losses: neg = 1 + md5(user||'_'||pos) % max_item, accidental
    # positives removed by an exact anti-join (single-attempt sampling,
    # the collision loss is the documented price of determinism).
    """
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS pos_item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    mx AS (SELECT max(p_partkey)::BIGINT AS mp FROM part),
    cand AS (
      SELECT user_id, pos_item,
             1 + CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_' ||
                                         CAST(pos_item AS VARCHAR)), 1, 8) AS BIGINT)
                 % mp AS neg_item
      FROM pos, mx)
    SELECT c.user_id, c.pos_item, c.neg_item
    FROM cand c
    WHERE NOT EXISTS (
      SELECT 1 FROM pos p
      WHERE p.user_id = c.user_id AND p.pos_item = c.neg_item)
    """,
)
def bpr_triplet_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPR-style (user, positive, negative) training triplets over the
    purchase graph (customer x part via orders->lineitem) — the data-prep
    step every pairwise-ranking / contrastive recommender loss consumes.
    The negative is DERANDOMIZED: item = 1 + md5(user, pos) % max_item
    (the corpus-mixing hash-sampling contract), and accidental positives
    are removed by an exact left-anti probe — single-attempt sampling,
    whose small collision loss is the documented price of a fully
    replayable sample (a production variant re-salts k attempts; same
    plan, k projections).

    Shape: the positive set is one distinct projection of the join; the
    negative is a scan-stage hash expression; the anti-join keys on
    (user, item) — no RNG, no driver loop, nothing corpus-quadratic."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_custkey").alias("user_id")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey"), F.col("l_partkey").alias("pos_item")
    )
    pos = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "user_id", "pos_item"
    ).distinct()
    mx = _t(spark, sf_dir, "part").agg(
        F.max("p_partkey").cast("bigint").alias("mp")
    )
    cand = pos.join(F.broadcast(mx)).select(
        "user_id",
        "pos_item",
        (
            F.lit(1)
            + TXT._md5_int(
                F.concat_ws("_", F.col("user_id").cast("string"),
                            F.col("pos_item").cast("string"))
            )
            % F.col("mp")
        ).alias("neg_item"),
    )
    anti = pos.select(
        F.col("user_id").alias("u2"), F.col("pos_item").alias("neg_item")
    )
    return cand.join(
        anti,
        (cand["user_id"] == F.col("u2")) & (cand["neg_item"] == anti["neg_item"]),
        "left_anti",
    ).select("user_id", "pos_item", "neg_item")


@_register(
    "transition_entropy",
    # per-state Shannon entropy of the next-event distribution over the
    # trained transition matrix: exact-integer row ratios, -p*ln(p) terms
    # truncated to DECIMAL(18,9) pre-sum, contribution = row weight x H.
    """
    WITH tm AS ("""
    + ORACLES["event_transition_matrix"]
    + """),
    rt AS (SELECT from_type, sum(n)::BIGINT AS rn FROM tm GROUP BY 1),
    tt AS (SELECT sum(n)::BIGINT AS tt FROM tm),
    terms AS (
      SELECT tm.from_type,
             CAST(-(CAST(tm.n AS DOUBLE) / rt.rn)
                  * ln(CAST(tm.n AS DOUBLE) / rt.rn) AS DECIMAL(18,9)) AS term
      FROM tm JOIN rt USING (from_type))
    SELECT rt.from_type, count(*)::BIGINT AS n_out,
           round(CAST(sum(term) AS DOUBLE), 6) AS row_entropy,
           round(CAST(rt.rn AS DOUBLE) / tt.tt, 6) AS weight,
           round((CAST(rt.rn AS DOUBLE) / tt.tt)
                 * CAST(sum(term) AS DOUBLE), 6) AS contribution
    FROM terms JOIN rt USING (from_type), tt
    GROUP BY rt.from_type, rt.rn, tt.tt
    """,
)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How PREDICTABLE user behavior is, state by state: the Shannon
    entropy of each event type's next-event distribution over the
    trained transition matrix, its stationary weight, and the weighted
    contribution (their sum is the chain's conditional entropy
    H(next | current) — the per-step surprise floor for any next-event
    model; a state whose row entropy jumps is where behavior drifted,
    sharper than the marginal-mix monitors). Completes the Markov trio:
    matrix (what), stationary profile (where it converges), entropy
    (how predictable).

    Shape: everything after the shared user-keyed lag pass is
    |types|^2 arithmetic; the entropy-family DECIMAL(18,9) term
    discipline makes the row sums shuffle-order exact."""
    from pyspark.sql import functions as F2

    tm = QUERIES["event_transition_matrix"](spark, sf_dir).localCheckpoint(eager=True)
    rt = tm.groupBy("from_type").agg(F2.sum("n").cast("bigint").alias("rn"))
    tt = tm.agg(F2.sum("n").cast("bigint").alias("tt"))
    p = F2.col("n").cast("double") / F2.col("rn")
    terms = tm.join(rt, "from_type").select(
        "from_type", (-p * F2.log(p)).cast("decimal(18,9)").alias("term")
    )
    h = F2.sum("term").cast("double")
    w = F2.col("rn").cast("double") / F2.col("tt")
    return (
        terms.join(rt, "from_type")
        .join(F.broadcast(tt))
        .groupBy("from_type", "rn", "tt")
        .agg(
            F2.count("*").cast("bigint").alias("n_out"),
            F2.round(h, 6).alias("row_entropy"),
            F2.round(w, 6).alias("weight"),
            F2.round(w * h, 6).alias("contribution"),
        )
        .select("from_type", "n_out", "row_entropy", "weight", "contribution")
    )


@_register(
    "heaps_law_fit",
    # ln-ln OLS over the 10 cumulative (tokens, vocab) growth points:
    # ln terms truncate to DECIMAL(18,9), moments cast to double
    # individually before one pinned arithmetic chain; K = exp(intercept).
    f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    sh AS (
      SELECT doc_id,
             {_trigrams(False)} AS s
      FROM documents
      WHERE len({_TOKENS}) >= 3),
    w AS (SELECT doc_id, unnest(s) AS word FROM sh),
    tok AS (
      SELECT CAST(doc_id * 10 // (m + 1) AS INT) AS bucket, count(*)::BIGINT AS tk
      FROM w, mx GROUP BY 1),
    fs AS (SELECT word, min(doc_id) AS fd FROM w GROUP BY word),
    nw AS (
      SELECT CAST(fd * 10 // (m + 1) AS INT) AS bucket, count(*)::BIGINT AS nv
      FROM fs, mx GROUP BY 1),
    cum AS (
      SELECT t.bucket,
             (sum(t.tk) OVER (ORDER BY t.bucket))::BIGINT AS n,
             (sum(coalesce(nw.nv, 0)) OVER (ORDER BY t.bucket))::BIGINT AS v
      FROM tok t LEFT JOIN nw USING (bucket)),
    pts AS (
      SELECT CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS x,
             CAST(ln(CAST(v AS DOUBLE)) AS DECIMAL(18,9)) AS y
      FROM cum WHERE n > 0 AND v > 0),
    mom AS (
      SELECT count(*)::BIGINT AS k,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pts)
    SELECT k AS n_points,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS heaps_beta,
           round(exp((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k), 6)
             AS heaps_k,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
    FROM mom
    WHERE k >= 2 AND k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law parameters for the corpus: fit V(n) = K * n^beta by
    ln-ln least squares over the 10 cumulative (tokens seen, vocabulary
    size) growth points — the EXTRAPOLATION the raw vocab_growth_curve
    cannot give: beta is what decides whether a 10x corpus means ~2x or
    ~8x more phrase types (vocab budgeting, OOV forecasting, tokenizer
    sizing ahead of a crawl expansion); the type inventory here is word
    3-grams — the fixture's word vocabulary saturates in the first
    bucket (31 types), which is exactly the flat curve the r2 column
    exists to flag, while the 3-gram inventory keeps growing; r2 says whether the power law
    actually holds for this corpus (templated corpora flatten early and
    the fit degrades visibly).

    Exactness: growth points are exact integer cumulative counts; their
    ln terms truncate to DECIMAL(18,9) (x*x / x*y products stay exact
    decimals), each moment casts to double ONCE, and the slope/
    intercept/r2 arithmetic is a single pinned double chain. Everything
    after the word-frequency pass runs on 10 rows."""
    from pyspark.sql import Window, functions as F2

    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    mx = docs.agg(F2.max("doc_id").alias("m"))
    w = docs.select(
        F2.explode(TXT.shingles(F2.col("text"), 3)).alias("word"), "doc_id"
    )
    tok = (
        w.join(F.broadcast(mx))
        .groupBy(F2.expr("CAST(doc_id * 10 DIV (m + 1) AS INT)").alias("bucket"))
        .agg(F2.count("*").cast("bigint").alias("tk"))
    )
    fs = w.groupBy("word").agg(F2.min("doc_id").alias("fd"))
    nw = (
        fs.join(F.broadcast(mx))
        .groupBy(F2.expr("CAST(fd * 10 DIV (m + 1) AS INT)").alias("bucket"))
        .agg(F2.count("*").cast("bigint").alias("nv"))
    )
    wc = Window.orderBy("bucket")
    cum = (
        tok.join(nw, "bucket", "left")
        .select(
            "bucket",
            F2.col("tk"),
            F2.coalesce(F2.col("nv"), F2.lit(0)).alias("nv"),
        )
        .select(
            F2.sum("tk").over(wc).cast("bigint").alias("n"),
            F2.sum("nv").over(wc).cast("bigint").alias("v"),
        )
    )
    pts = cum.filter((F2.col("n") > 0) & (F2.col("v") > 0)).select(
        F2.log(F2.col("n").cast("double")).cast("decimal(18,9)").alias("x"),
        F2.log(F2.col("v").cast("double")).cast("decimal(18,9)").alias("y"),
    )
    mom = pts.agg(
        F2.count("*").cast("bigint").alias("k"),
        F2.sum("x").cast("double").alias("sx"),
        F2.sum("y").cast("double").alias("sy"),
        F2.sum(F2.col("x") * F2.col("x")).cast("double").alias("sxx"),
        F2.sum(F2.col("x") * F2.col("y")).cast("double").alias("sxy"),
        F2.sum(F2.col("y") * F2.col("y")).cast("double").alias("syy"),
    )
    k, sx, sy = F2.col("k"), F2.col("sx"), F2.col("sy")
    sxx, sxy, syy = F2.col("sxx"), F2.col("sxy"), F2.col("syy")
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return (
        mom.filter(
            (k >= 2) & (k * sxx - sx * sx > 0) & (k * syy - sy * sy > 0)
        )
        .select(
            k.alias("n_points"),
            F2.round(beta, 6).alias("heaps_beta"),
            F2.round(F2.exp((sy - beta * sx) / k), 6).alias("heaps_k"),
            F2.round(
                (k * sxy - sx * sy)
                * (k * sxy - sx * sy)
                / ((k * sxx - sx * sx) * (k * syy - sy * sy)),
                6,
            ).alias("r2"),
        )
    )


@_register(
    "probe_calibration_curve",
    # reliability diagram of the SQL-replayed trained probe: per-row
    # sigmoid scores (identical z both engines -> identical doubles),
    # rounded at 6dp before decile binning and the DECIMAL(18,9) mean
    # truncation, empirical positive rate beside mean predicted.
    _PROBE_TRAIN_CTE
    + """,
    scored AS (
      SELECT l.y,
             round(1.0 / (1.0 + exp(-(w2_0 * v[1] + w2_1 * v[2] + w2_2 * v[3] + w2_3 * v[4] + w2_4 * v[5] + w2_5 * v[6] + w2_6 * v[7] + w2_7 * v[8] + w2_8 * v[9] + w2_9 * v[10] + w2_10 * v[11] + w2_11 * v[12] + w2_12 * v[13] + w2_13 * v[14] + w2_14 * v[15] + w2_15 * v[16]))), 6) AS p
      FROM lab l CROSS JOIN w2p)
    SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
           count(*)::BIGINT AS n,
           round(CAST(sum(CAST(p AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
             AS mean_predicted,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS empirical_rate
    FROM scored
    GROUP BY 1
    """,
)
def probe_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the trained linear probe: predicted
    probabilities binned into deciles, each bin's mean prediction beside
    its EMPIRICAL positive rate — the calibration readout that decides
    whether probe scores can gate data by threshold (quality_percentile
    -style cuts assume monotone calibrated scores) or only rank it. A
    probe can hold accuracy while its calibration drifts; this row
    catches that separately. Extends the trained-model family: training
    (linear_probe_training), selection (probe_quality_selection), and
    now evaluation — all with the SAME fully SQL-replayed two-step
    training, so the calibration values themselves are hash-checked.

    Exactness: z is bit-identical on both engines (the probe-training
    contract); sigmoid runs once per row on those doubles, rounds at
    6dp BEFORE binning and before the DECIMAL(18,9) mean truncation;
    bins and rates are integer arithmetic after that."""
    feats, w2, pivot_w, dot = _probe_train(spark, sf_dir)
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-dot("w2_"))), 6
    )
    scored = feats.crossJoin(F.broadcast(pivot_w(w2, "w2_"))).select(
        "y", p.alias("p")
    )
    return (
        scored.groupBy(
            F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("p").cast("decimal(18,9)")).cast("double") / F.count("*"),
                6,
            ).alias("mean_predicted"),
            F.round(F.sum("y").cast("double") / F.count("*"), 6).alias(
                "empirical_rate"
            ),
        )
    )


def _lsh_recall_threshold_sql() -> str:
    return f"""
    WITH truth AS ({ORACLES["ngram_jaccard_block_pairs"]}),
    cand AS ({ORACLES["minhash_lsh_pairs"]}),
    tagged AS (
      SELECT t.id_a, t.id_b, t.jaccard,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS ic
      FROM truth t LEFT JOIN cand c
        ON c.id_a = t.id_a AND c.id_b = t.id_b),
    th AS (SELECT unnest([0.3, 0.5, 0.7, 0.9]) AS t)
    SELECT th.t AS threshold,
           count(*)::BIGINT AS n_true,
           sum(ic)::BIGINT AS n_caught,
           round(CAST(sum(ic) AS DOUBLE) / count(*), 6) AS recall
    FROM tagged JOIN th ON tagged.jaccard >= th.t
    GROUP BY th.t
    """


@_register("lsh_recall_by_threshold", _lsh_recall_threshold_sql())
def lsh_recall_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banding TUNING CURVE: recall of the 16-hash/4-band MinHash
    candidate set against the exact shingle-Jaccard truth at thresholds
    0.3/0.5/0.7/0.9 — the S-curve a banding configuration is actually
    chosen on (the single-threshold lsh_dedup_recall row is one point of
    it; the curve shows WHERE the bands' similarity cliff sits, so a
    bands/hashes change is judged against the whole operating range, not
    one point). A pair is true at threshold t when its exact Jaccard
    >= t; candidates never in the truth table have no Jaccard and count
    at no threshold.

    Shape: both pair tables are already blocked; the tag join keys on
    pair identity, the 4-row threshold dimension crosses onto the
    jaccard-tagged pairs via a range join on the TINY side — nothing
    corpus-sized. Both pair tables read the legs' staged detections
    (`_QPAIRS`, the blocker-ensemble posture): detection cost
    stays bench-visible through the legs' own rows; this row measures the
    tuning-curve comparison itself."""
    truth = _QPAIRS["ngram_jaccard_block_pairs"](spark, sf_dir)
    cand = _QPAIRS["minhash_lsh_pairs"](spark, sf_dir).select(
        F.col("id_a").alias("ca"), F.col("id_b").alias("cb"), F.lit(1).alias("ic0")
    )
    tagged = truth.join(
        cand,
        (truth["id_a"] == F.col("ca")) & (truth["id_b"] == F.col("cb")),
        "left",
    ).select(
        "jaccard", F.coalesce(F.col("ic0"), F.lit(0)).alias("ic")
    )
    th = spark.createDataFrame([(0.3,), (0.5,), (0.7,), (0.9,)], "t DOUBLE")
    return (
        tagged.join(F.broadcast(th), tagged["jaccard"] >= F.col("t"))
        .groupBy(F.col("t").alias("threshold"))
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum("ic").cast("bigint").alias("n_caught"),
            F.round(F.sum("ic").cast("double") / F.count("*"), 6).alias("recall"),
        )
    )


@_register(
    "cohens_d_effect_size",
    # standardized mean difference between the time halves per type from
    # DECIMAL-exact moments (the zscore discipline), pooled-variance
    # denominator, one identical double chain.
    """
    WITH med AS (
      SELECT (epoch_ns(min(ts)) + epoch_ns(max(ts))) // 2 AS cut FROM events),
    m AS (
      SELECT event_type,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 1 ELSE 0 END)::BIGINT AS n1,
             CAST(sum(CASE WHEN epoch_ns(ts) < cut
                           THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS sx1,
             CAST(sum(CASE WHEN epoch_ns(ts) < cut
                           THEN CAST(value * value AS DECIMAL(24,8)) ELSE 0 END) AS DOUBLE) AS sxx1,
             sum(CASE WHEN epoch_ns(ts) < cut THEN 0 ELSE 1 END)::BIGINT AS n2,
             CAST(sum(CASE WHEN epoch_ns(ts) < cut
                           THEN 0 ELSE CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx2,
             CAST(sum(CASE WHEN epoch_ns(ts) < cut
                           THEN 0 ELSE CAST(value * value AS DECIMAL(24,8)) END) AS DOUBLE) AS sxx2
      FROM events, med GROUP BY event_type)
    SELECT event_type, n1 AS n_ref, n2 AS n_cur,
           round(sx1 / n1, 6) AS mean_ref,
           round(sx2 / n2, 6) AS mean_cur,
           round((sx1 / n1 - sx2 / n2)
                 / sqrt(((sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2))
                        / (n1 + n2 - 2)), 6) AS cohens_d
    FROM m
    WHERE n1 > 1 AND n2 > 1
      AND (sxx1 - sx1 * sx1 / n1) + (sxx2 - sx2 * sx2 / n2) > 0
    """,
)
def cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between the time halves' value distributions per event
    type — the EFFECT-SIZE companion the significance family needs:
    Mann-Whitney/KS/chi-square say "the halves differ beyond chance"
    (which at corpus scale is true of trivial shifts — p-values drown in
    n), d says "by how many pooled standard deviations", which is what a
    retraining decision actually weighs. One conditional-moment pass
    (the zscore DECIMAL discipline: sums exact, shuffle-order free),
    pooled-variance arithmetic in one identical double chain."""
    ev = _fan(_t(spark, sf_dir, "events"))
    med = ev.agg(F.expr("(min(ts) + max(ts)) div 2").alias("cut"))
    ref = F.col("ts") < F.col("cut")
    v6 = F.col("value").cast("decimal(18,6)")
    v8 = (F.col("value") * F.col("value")).cast("decimal(24,8)")
    m = (
        ev.join(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(ref, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(ref, v6).otherwise(F.lit(0))).cast("double").alias("sx1"),
            F.sum(F.when(ref, v8).otherwise(F.lit(0))).cast("double").alias("sxx1"),
            F.sum(F.when(ref, 0).otherwise(1)).cast("bigint").alias("n2"),
            F.sum(F.when(ref, F.lit(0)).otherwise(v6)).cast("double").alias("sx2"),
            F.sum(F.when(ref, F.lit(0)).otherwise(v8)).cast("double").alias("sxx2"),
        )
    )
    ss = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1")) + (
        F.col("sxx2") - F.col("sx2") * F.col("sx2") / F.col("n2")
    )
    d = (F.col("sx1") / F.col("n1") - F.col("sx2") / F.col("n2")) / F.sqrt(
        ss / (F.col("n1") + F.col("n2") - 2)
    )
    return (
        m.filter((F.col("n1") > 1) & (F.col("n2") > 1) & (ss > 0))
        .select(
            "event_type",
            F.col("n1").alias("n_ref"),
            F.col("n2").alias("n_cur"),
            F.round(F.col("sx1") / F.col("n1"), 6).alias("mean_ref"),
            F.round(F.col("sx2") / F.col("n2"), 6).alias("mean_cur"),
            F.round(d, 6).alias("cohens_d"),
        )
    )


@_register(
    "dup_graph_assortativity",
    # Newman degree assortativity over the staged near-dup pair graph:
    # per-edge endpoint degrees from one aggregate, the three edge sums
    # (jk, j+k, j^2+k^2) exact integers, one double chain (the standard
    # symmetric undirected form).
    f"""
    WITH {_dup_pairs_cte(32, "prs")},
    deg AS (
      SELECT v, count(*)::BIGINT AS d FROM (
        SELECT id_a AS v FROM prs UNION ALL SELECT id_b FROM prs) t
      GROUP BY v),
    ed AS (
      SELECT da.d AS j, db.d AS k
      FROM prs JOIN deg da ON da.v = prs.id_a
               JOIN deg db ON db.v = prs.id_b),
    s AS (
      SELECT count(*)::BIGINT AS m2, sum(j * k)::BIGINT AS sjk,
             sum(j + k)::BIGINT AS sjpk,
             sum(j * j + k * k)::BIGINT AS sj2k2
      FROM ed)
    SELECT m2 AS n_edges,
           round((CAST(sjk AS DOUBLE) / m2
                  - (CAST(sjpk AS DOUBLE) / (2 * m2)) * (CAST(sjpk AS DOUBLE) / (2 * m2)))
                 / (CAST(sj2k2 AS DOUBLE) / (2 * m2)
                    - (CAST(sjpk AS DOUBLE) / (2 * m2)) * (CAST(sjpk AS DOUBLE) / (2 * m2))), 6)
             AS assortativity
    FROM s
    WHERE CAST(sj2k2 AS DOUBLE) / (2 * m2)
          - (CAST(sjpk AS DOUBLE) / (2 * m2)) * (CAST(sjpk AS DOUBLE) / (2 * m2)) > 0
    """,
)
def dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup pair graph (Newman 2002) —
    do high-degree docs pair with other high-degree docs? POSITIVE
    assortativity means duplication concentrates in a dense template
    core (one keep-best sweep collapses it); NEGATIVE means hub docs
    attach to many otherwise-unique docs — the boilerplate-contamination
    shape where component-based dedup over-merges (the macro readout
    whose per-vertex view is dup_graph_local_clustering). Completes the
    graph-QC family: degree histogram, triangles/transitivity, local
    clustering, communities/modularity, k-core, PageRank, assortativity.

    Exactness: the three per-edge sums (jk, j+k, j^2+k^2) are exact
    BIGINTs over integer degrees; one double chain (the standard
    symmetric undirected estimator) at the end. Shape: degrees from one
    aggregate over the staged pair list; the edge join keys on 8-byte
    ids."""
    pairs = _simhash_pairs_staged(spark, sf_dir)
    deg = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("v").alias("id_a"), F.col("d").alias("j"))
    db = deg.select(F.col("v").alias("id_b"), F.col("d").alias("k"))
    ed = pairs.join(da, "id_a").join(db, "id_b").select("j", "k")
    s = ed.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("sjpk"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint")
        .alias("sj2k2"),
    )
    mu = F.col("sjpk").cast("double") / (2 * F.col("m2"))
    num = F.col("sjk").cast("double") / F.col("m2") - mu * mu
    den = F.col("sj2k2").cast("double") / (2 * F.col("m2")) - mu * mu
    return s.filter(den > 0).select(
        F.col("m2").alias("n_edges"), F.round(num / den, 6).alias("assortativity")
    )


@_register(
    "median_ci_order_stats",
    # distribution-free 95% CI for the median from binomial order-statistic
    # ranks (no bootstrap, no normality): lo/hi ranks from the exact-integer
    # cumulative counts over distinct values per type, interpolated median
    # beside them.
    """
    WITH vc AS (
      SELECT event_type, value, count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(c)::BIGINT AS n FROM vc GROUP BY 1
      HAVING sum(c) >= 4),
    rk AS (
      SELECT event_type,
             CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) AS lo_r,
             CAST(ceil(1 + (n + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) AS hi_r,
             n
      FROM tot),
    cum AS (
      SELECT event_type, value,
             sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cu,
             (sum(c) OVER (PARTITION BY event_type ORDER BY value) - c) AS cb
      FROM vc),
    med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS median_value
      FROM events GROUP BY 1)
    SELECT rk.event_type, rk.n,
           round(med.median_value, 6) AS median_value,
           round(min(CASE WHEN cum.cu >= greatest(rk.lo_r, 1)
                          THEN cum.value END), 6) AS ci_lo,
           round(min(CASE WHEN cum.cu >= least(rk.hi_r, rk.n)
                          THEN cum.value END), 6) AS ci_hi
    FROM rk JOIN cum USING (event_type) JOIN med USING (event_type)
    GROUP BY rk.event_type, rk.n, med.median_value
    """,
)
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the per-type median
    via binomial order statistics (ranks n/2 -+ 1.96*sqrt(n)/2) — the
    exact nonparametric CI that needs NO resampling (the Poisson
    bootstrap's B replicates buy nothing here) and no normality (Wilson
    covers proportions; this covers the location of an arbitrary value
    distribution). The uncertainty companion to mad_value_outliers'
    point estimates — an alerting rule that compares medians should fire
    on CI separation, not point difference.

    Shape: the ks_value_drift posture — one map-side (type, value) count
    pass, cumulative window over DISTINCT values per type; rank bounds
    are floor/ceil of one identical double expression on exact integer
    n; the order statistics come from the first distinct value whose
    cumulative count reaches the rank (exact integer comparison)."""
    from pyspark.sql import Window

    ev = _fan(_t(spark, sf_dir, "events"))
    vc = ev.groupBy("event_type", "value").agg(F.count("*").cast("bigint").alias("c"))
    tot = (
        vc.groupBy("event_type")
        .agg(F.sum("c").cast("bigint").alias("n"))
        .filter(F.col("n") >= 4)
    )
    z = F.lit(1.959964)
    rk = tot.select(
        "event_type",
        F.floor((F.col("n") - z * F.sqrt(F.col("n").cast("double"))) / 2)
        .cast("bigint")
        .alias("lo_r"),
        F.ceil(F.lit(1) + (F.col("n") + z * F.sqrt(F.col("n").cast("double"))) / 2)
        .cast("bigint")
        .alias("hi_r"),
        "n",
    )
    w = Window.partitionBy("event_type").orderBy("value")
    cum = vc.select(
        "event_type", "value", F.sum("c").over(w).alias("cu")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("median_value")
    )
    lo = F.min(
        F.when(F.col("cu") >= F.greatest(F.col("lo_r"), F.lit(1)), F.col("value"))
    )
    hi = F.min(
        F.when(F.col("cu") >= F.least(F.col("hi_r"), F.col("n")), F.col("value"))
    )
    return (
        rk.join(cum, "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type", "n", "median_value")
        .agg(F.round(lo, 6).alias("ci_lo"), F.round(hi, 6).alias("ci_hi"))
        .select(
            "event_type",
            "n",
            F.round("median_value", 6).alias("median_value"),
            "ci_lo",
            "ci_hi",
        )
    )


@_register(
    "spearman_length_readability",
    # Spearman rho per source between doc length and the rounded Flesch
    # score, with tied ranks handled EXACTLY: a tied run's doubled
    # average rank 2*cb + t + 1 is an integer, so all rank moments are
    # exact BIGINTs (Pearson is scale-invariant, so rho over doubled
    # ranks equals rho over ranks); one double chain at the end.
    r"""
    WITH base AS (
      SELECT source, doc_id, n_chars AS x,
             round(206.835
                   - 1.015 * len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
                           / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   - 84.6 * len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
                          / len(regexp_split_to_array(trim(text), '\s+')), 6) AS y
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\s+')) > 0),
    xr AS (
      SELECT source, x,
             (2 * (sum(count(*)) OVER (PARTITION BY source ORDER BY x) - count(*))
              + count(*) + 1)::BIGINT AS rx2
      FROM base GROUP BY source, x),
    yr AS (
      SELECT source, y,
             (2 * (sum(count(*)) OVER (PARTITION BY source ORDER BY y) - count(*))
              + count(*) + 1)::BIGINT AS ry2
      FROM base GROUP BY source, y),
    rks AS (
      SELECT b.source, xr.rx2, yr.ry2
      FROM base b JOIN xr ON xr.source = b.source AND xr.x = b.x
                  JOIN yr ON yr.source = b.source AND yr.y = b.y),
    mom AS (
      SELECT source, count(*)::BIGINT AS n,
             sum(rx2)::BIGINT AS sx, sum(ry2)::BIGINT AS sy,
             sum(rx2 * rx2)::BIGINT AS sxx, sum(ry2 * ry2)::BIGINT AS syy,
             sum(rx2 * ry2)::BIGINT AS sxy
      FROM rks GROUP BY source)
    SELECT source, n AS n_docs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
    FROM mom
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def spearman_length_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length and Flesch
    reading ease per source — the monotone-confound check a quality
    pipeline runs before trusting either signal independently (a strong
    negative rho means readability cuts are silently length cuts, and a
    length-stratified gate is needed); rank-based, so the heavy-tailed
    length distribution can't dominate the way it would in Pearson.

    Exactness: ranks never materialize per row — tied runs contribute
    their doubled average rank 2*cb + t + 1 as an exact integer (the
    Mann-Whitney trick applied to BOTH variables), Pearson's scale
    invariance absorbs the doubling, and all six rank moments are exact
    BIGINTs into one final double chain. Shape: two distinct-value
    windows partitioned BY SOURCE, two (source, value) equi-joins back
    onto docs, one map-side moment pass. Past ~10^6 docs per source,
    move the rank moments to DECIMAL(38,0) — same plan."""
    from pyspark.sql import Window

    docs = _fan(_t(spark, sf_dir, "documents"))
    base = docs.filter(F.size(TXT.tokens(F.col("text"))) > 0).select(
        "source",
        "doc_id",
        F.col("n_chars").alias("x"),
        F.round(TXT.flesch_score(F.col("text")), 6).alias("y"),
    )

    def ranks(col, alias):
        w = Window.partitionBy("source").orderBy(col)
        g = base.groupBy("source", col).agg(F.count("*").alias("t"))
        return g.select(
            "source",
            col,
            (
                F.lit(2) * (F.sum("t").over(w) - F.col("t"))
                + F.col("t")
                + F.lit(1)
            )
            .cast("bigint")
            .alias(alias),
        )

    xr = ranks("x", "rx2")
    yr = ranks("y", "ry2")
    rks = base.join(xr, ["source", "x"]).join(yr, ["source", "y"]).select(
        "source", "rx2", "ry2"
    )
    mom = rks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy"))
    return (
        mom.filter((vx > 0) & (vy > 0))
        .select(
            "source",
            n.alias("n_docs"),
            F.round(
                (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            ).alias("spearman_rho"),
        )
    )


@_register(
    "daily_volume_pacf",
    # PACF at lags 1-3 per type via the Durbin-Levinson recursion over
    # autocorrelations; autocovariance terms (y_t - mu)(y_{t+k} - mu)
    # truncate to DECIMAL(24,6) pre-sum, r_k = S_k/S_0 as one double
    # division, the three DL levels unrolled identically on both engines.
    f"""
    WITH {_DAILY_SEQ_CTE},
    mu AS (
      SELECT event_type, CAST(sum(y) AS DOUBLE) / count(*) AS mu
      FROM daily GROUP BY 1),
    terms AS (
      SELECT a.event_type, l.lag,
             CAST((a.y - mu.mu) * (b.y - mu.mu) AS DECIMAL(24,6)) AS t
      FROM seq a
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS lag) l
      JOIN seq b ON a.event_type = b.event_type AND b.rn = a.rn + l.lag
      JOIN mu ON mu.event_type = a.event_type),
    cov AS (
      SELECT event_type, lag, sum(t) AS s FROM terms GROUP BY 1, 2),
    rs AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN CAST(s AS DOUBLE) END)
               / max(CASE WHEN lag = 0 THEN CAST(s AS DOUBLE) END) AS r1,
             max(CASE WHEN lag = 2 THEN CAST(s AS DOUBLE) END)
               / max(CASE WHEN lag = 0 THEN CAST(s AS DOUBLE) END) AS r2,
             max(CASE WHEN lag = 3 THEN CAST(s AS DOUBLE) END)
               / max(CASE WHEN lag = 0 THEN CAST(s AS DOUBLE) END) AS r3
      FROM cov GROUP BY 1
      HAVING max(CASE WHEN lag = 0 THEN CAST(s AS DOUBLE) END) > 0
         AND count(*) = 4),
    dl AS (
      SELECT event_type, r1, r2, r3,
             (r2 - r1 * r1) / (1 - r1 * r1) AS p22
      FROM rs WHERE 1 - r1 * r1 <> 0),
    dl3 AS (
      SELECT event_type, r1, r2, r3, p22,
             r1 - p22 * r1 AS p21
      FROM dl)
    SELECT event_type, 1::BIGINT AS lag, round(r1, 6) AS pacf FROM dl3
    UNION ALL
    SELECT event_type, 2, round(p22, 6) FROM dl3
    UNION ALL
    SELECT event_type, 3,
           round((r3 - p21 * r2 - p22 * r1)
                 / (1 - p21 * r1 - p22 * r2), 6)
    FROM dl3 WHERE 1 - p21 * r1 - p22 * r2 <> 0
    """,
)
def daily_volume_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily volume per type at lags 1-3
    (Durbin-Levinson) — the AR-order diagnostic the raw ACF profile
    cannot give: ACF at lag 2 is inflated by lag-1 carryover, PACF
    removes it, so "PACF cuts off after lag k" reads the AR(k) order
    directly (which residual model the EWMA/CUSUM alarms should run on).
    Completes the time-series identification pair: ACF profile for MA
    signatures, PACF for AR.

    Exactness: day-grain counts are integers; the per-type mean is one
    exact-integer ratio; autocovariance terms truncate to DECIMAL(24,6)
    before their shuffle-order-exact sums; r_k = S_k/S_0 and the three
    unrolled Durbin-Levinson levels are one identical double chain.
    Everything after the daily aggregate is |types| x 4 arithmetic."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("ts div 86400000000000").alias("day_idx")
    ).agg(F.count("*").cast("bigint").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day_idx")
    seq = daily.withColumn("rn", F.row_number().over(w))
    mu = daily.groupBy("event_type").agg(
        (F.sum("y").cast("double") / F.count("*")).alias("mu")
    )
    lags = spark.range(0, 4).select(F.col("id").cast("int").alias("lag"))
    a = seq.alias("a")
    b = seq.select(
        F.col("event_type").alias("et_b"), F.col("y").alias("yb"), F.col("rn").alias("rnb")
    )
    terms = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("a.event_type") == F.col("et_b"))
            & (F.col("rnb") == F.col("a.rn") + F.col("lag")),
        )
        .join(mu.withColumnRenamed("event_type", "et_m"), F.col("a.event_type") == F.col("et_m"))
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            ((F.col("a.y") - F.col("mu")) * (F.col("yb") - F.col("mu")))
            .cast("decimal(24,6)")
            .alias("t"),
        )
    )
    cov = terms.groupBy("event_type", "lag").agg(F.sum("t").alias("s"))

    def r_at(k):
        return F.max(F.when(F.col("lag") == k, F.col("s").cast("double"))) / F.max(
            F.when(F.col("lag") == 0, F.col("s").cast("double"))
        )

    rs = (
        cov.groupBy("event_type")
        .agg(
            r_at(1).alias("r1"),
            r_at(2).alias("r2"),
            r_at(3).alias("r3"),
            F.max(F.when(F.col("lag") == 0, F.col("s").cast("double"))).alias("c0"),
            F.count("*").alias("nl"),
        )
        .filter((F.col("c0") > 0) & (F.col("nl") == 4))
    )
    p22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        F.lit(1) - F.col("r1") * F.col("r1")
    )
    dl3 = rs.filter(F.lit(1) - F.col("r1") * F.col("r1") != 0).select(
        "event_type", "r1", "r2", "r3", p22.alias("p22")
    ).withColumn("p21", F.col("r1") - F.col("p22") * F.col("r1"))
    l1 = dl3.select(
        "event_type", F.lit(1).cast("bigint").alias("lag"), F.round("r1", 6).alias("pacf")
    )
    l2 = dl3.select(
        "event_type", F.lit(2).cast("bigint").alias("lag"), F.round("p22", 6).alias("pacf")
    )
    den3 = F.lit(1) - F.col("p21") * F.col("r1") - F.col("p22") * F.col("r2")
    l3 = (
        dl3.filter(den3 != 0)
        .select(
            "event_type",
            F.lit(3).cast("bigint").alias("lag"),
            F.round(
                (F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1"))
                / den3,
                6,
            ).alias("pacf"),
        )
    )
    return l1.unionByName(l2).unionByName(l3)


def _lsh_budget_sql() -> str:
    o = ORACLES["minhash_lsh_pairs"]
    prefix = o[: o.rindex("SELECT DISTINCT")]
    return (
        prefix
        + """,
    bk AS (
      SELECT band_id, array_to_string(bh, ',') AS key, count(*)::BIGINT AS m
      FROM bands GROUP BY 1, 2)
    SELECT band_id::BIGINT AS band_id, count(*)::BIGINT AS n_buckets,
           max(m)::BIGINT AS max_bucket_size,
           sum((m * (m - 1)) // 2)::BIGINT AS candidate_pairs
    FROM bk GROUP BY band_id
    """
    )


@_register("lsh_candidate_budget", _lsh_budget_sql())
def lsh_candidate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH join's cost PRE-FLIGHT: per band, the bucket count, the
    hottest bucket, and the exact candidate-pair budget sum m(m-1)/2 the
    band join will generate — computable from ONE cheap bucket histogram
    BEFORE the self-join runs, which is how a scheduler (or the
    hot-bucket governor) decides whether to run, cap, or re-band at
    100 TB: a degenerate corpus shows up here as one huge max_bucket
    long before it shows up as a dying join. The same hot-key readout
    the stop-shingle caps act on, promoted to a hash-checked row.

    Shape: signatures are the shared minhash pass; the budget is a
    (band, bucket)-keyed count plus a |buckets|-sized aggregate —
    integer arithmetic only, no pair ever materializes. (Grouping keys:
    the engine buckets on sha2 of the joined band slice, the oracle on
    the joined slice itself — an injective relabeling, so the size
    HISTOGRAM is identical.)"""
    docs = _fan(_t(spark, sf_dir, "documents"))
    sig = D.minhash_signatures(docs, "text", "doc_id", 16)
    banded = D._banded(sig, ["doc_id"], 16, 4)
    bk = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").cast("bigint").alias("m")
    )
    return bk.groupBy(F.col("band_id").cast("bigint").alias("band_id")).agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.max("m").cast("bigint").alias("max_bucket_size"),
        F.sum(F.expr("(m * (m - 1)) DIV 2")).cast("bigint").alias("candidate_pairs"),
    )


@_register(
    "seasonal_strength_index",
    # Hyndman-Wang seasonal strength Fs = max(0, 1 - var(remainder) /
    # var(detrended)) over the 7-day decomposition frame; both series
    # are the SAME double chains as daily_seasonal_decomposition, values
    # truncated to DECIMAL(18,9) before the exact moment sums.
    """
    WITH daily_raw AS (
      SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
             count(*)::BIGINT AS n
      FROM events GROUP BY day),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily_raw),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds),
    daily AS (
      SELECT s.day, coalesce(d.n, 0)::BIGINT AS n
      FROM spine s LEFT JOIN daily_raw d USING (day)),
    win AS (
      SELECT day, n,
             sum(n) OVER (ORDER BY day
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
             count(*) OVER (ORDER BY day
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
      FROM daily),
    full7 AS (
      SELECT day, n, CAST(sum7 AS BIGINT) AS sum7, day % 7 AS dow
      FROM win WHERE cnt7 = 7),
    seas AS (
      SELECT dow, CAST(sum(7 * n - sum7) AS BIGINT) AS snum,
             count(*)::BIGINT AS scnt
      FROM full7 GROUP BY dow),
    vals AS (
      SELECT CAST(CAST(7 * f.n - f.sum7 AS DOUBLE) / 7 AS DECIMAL(18,9)) AS det,
             CAST(CAST(7 * f.n - f.sum7 AS DOUBLE) / 7
                  - CAST(s.snum AS DOUBLE) / (7 * s.scnt) AS DECIMAL(18,9)) AS rem
      FROM full7 f JOIN seas s ON f.dow = s.dow),
    mom AS (
      SELECT count(*)::BIGINT AS k,
             CAST(sum(det) AS DOUBLE) AS sd, CAST(sum(det * det) AS DOUBLE) AS sdd,
             CAST(sum(rem) AS DOUBLE) AS sr, CAST(sum(rem * rem) AS DOUBLE) AS srr
      FROM vals)
    SELECT k AS n_days,
           round((sdd - sd * sd / k) / k, 6) AS var_detrended,
           round((srr - sr * sr / k) / k, 6) AS var_remainder,
           round(greatest(0, 1 - ((srr - sr * sr / k) / k)
                             / ((sdd - sd * sd / k) / k)), 6) AS seasonal_strength
    FROM mom
    WHERE k > 1 AND (sdd - sd * sd / k) / k > 0
    """,
)
def seasonal_strength_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman-Wang seasonal-strength index over the 7-day decomposition:
    Fs = max(0, 1 - var(remainder)/var(detrended)) — the single [0,1]
    number that says how much of the detrended daily variation the
    day-of-week pattern explains (Fs near 0: don't bother
    deseasonalizing; near 1: every alarm must run on the remainder).
    The scalar dashboard verdict over daily_seasonal_decomposition's
    per-day table, computed from the SAME trend/seasonal arithmetic so
    the two can never disagree.

    Exactness: detrended and remainder are the decomposition's own
    double chains, truncated to DECIMAL(18,9) before the exact moment
    sums; the variance ratio is one double chain. Everything runs on
    the |days| frame."""
    from pyspark.sql import Window

    ev = _fan(_t(spark, sf_dir, "events"))
    day_ns = 86_400_000_000_000
    daily_raw = ev.groupBy(F.expr(f"ts DIV {day_ns}").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    bounds = daily_raw.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    daily = spine.join(daily_raw, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "n",
        F.sum("n").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("cnt7"),
    )
    full7 = win.filter(F.col("cnt7") == 7).select(
        "day", "n", F.col("sum7").cast("bigint").alias("sum7"),
        (F.col("day") % 7).alias("dow"),
    )
    seas = full7.groupBy("dow").agg(
        F.sum(F.lit(7) * F.col("n") - F.col("sum7")).cast("bigint").alias("snum"),
        F.count("*").cast("bigint").alias("scnt"),
    )
    det = (F.lit(7) * F.col("n") - F.col("sum7")).cast("double") / F.lit(7)
    rem = det - F.col("snum").cast("double") / (F.lit(7) * F.col("scnt"))
    vals = full7.join(seas, "dow").select(
        det.cast("decimal(18,9)").alias("det"),
        rem.cast("decimal(18,9)").alias("rem"),
    )
    mom = vals.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("det").cast("double").alias("sd"),
        F.sum(F.col("det") * F.col("det")).cast("double").alias("sdd"),
        F.sum("rem").cast("double").alias("sr"),
        F.sum(F.col("rem") * F.col("rem")).cast("double").alias("srr"),
    )
    k = F.col("k")
    vd = (F.col("sdd") - F.col("sd") * F.col("sd") / k) / k
    vr = (F.col("srr") - F.col("sr") * F.col("sr") / k) / k
    return (
        mom.filter((k > 1) & (vd > 0))
        .select(
            k.alias("n_days"),
            F.round(vd, 6).alias("var_detrended"),
            F.round(vr, 6).alias("var_remainder"),
            F.round(F.greatest(F.lit(0), F.lit(1) - vr / vd), 6).alias(
                "seasonal_strength"
            ),
        )
    )


@_register(
    "embedding_outlier_vectors",
    # per-dim mean/std from decimal-exact sums rounded at 6 (the shared
    # centroid discipline -> identical z inputs both engines); a vector
    # is flagged when any dim sits beyond 3 sigma; max|z| rounded 6.
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cells AS (
      SELECT vec_id, gs.i AS dim, v[gs.i] AS x
      FROM v, generate_series(1, 64) AS gs(i)),
    st AS (
      SELECT dim,
             round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS m,
             round(sqrt(CAST(sum(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) / count(*)
                        - (CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*))
                          * (CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*))), 6)
               AS s
      FROM cells GROUP BY dim),
    z AS (
      SELECT c.vec_id, abs((c.x - st.m) / st.s) AS az
      FROM cells c JOIN st USING (dim) WHERE st.s > 0)
    SELECT vec_id, sum(CASE WHEN az > 3 THEN 1 ELSE 0 END)::BIGINT AS n_extreme_dims,
           round(max(az), 6) AS max_abs_z
    FROM z GROUP BY vec_id
    HAVING sum(CASE WHEN az > 3 THEN 1 ELSE 0 END) >= 1
    """,
)
def embedding_outlier_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-embedding detector: vectors with any dimension beyond 3
    per-dim sigmas, with the extreme-dim count and the worst |z| — the
    per-VECTOR alarm beside embedding_dim_stats' per-dim profile (scale
    bugs, half-written rows, and NaN-adjacent garbage show up as a few
    vectors with wildly extreme single dims long before they move a
    dimension's aggregate). Run it before ANN indexing: one poisoned
    vector in a centroid seed skews a whole IVF partition.

    Exactness: per-dim mean/sigma come from decimal-exact sums rounded
    at 6 (the shared centroid discipline — both engines' z inputs are
    bit-identical doubles); flags are exact comparisons; max|z| rounds
    once. Shape: the row x dim explode + one broadcast of the 64-row
    stats table; at 100 TB swap the explode for F.aggregate folds over
    the same decimal discipline."""
    emb = _fan(_t(spark, sf_dir, "embeddings"))
    cells = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    ).select("vec_id", (F.col("i") + 1).alias("dim"), "x")
    mean = F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count("*")
    msq = F.sum((F.col("x") * F.col("x")).cast("decimal(24,12)")).cast(
        "double"
    ) / F.count("*")
    st = cells.groupBy("dim").agg(
        F.round(mean, 6).alias("m"),
        F.round(F.sqrt(msq - mean * mean), 6).alias("s"),
    )
    z = (
        cells.join(F.broadcast(st), "dim")
        .filter(F.col("s") > 0)
        .select("vec_id", F.abs((F.col("x") - F.col("m")) / F.col("s")).alias("az"))
    )
    ex = F.sum(F.when(F.col("az") > 3, F.lit(1)).otherwise(F.lit(0)))
    return (
        z.groupBy("vec_id")
        .agg(
            ex.cast("bigint").alias("n_extreme_dims"),
            F.round(F.max("az"), 6).alias("max_abs_z"),
        )
        .filter(F.col("n_extreme_dims") >= 1)
    )


@_register(
    "growth_accounting_weekly",
    # the standard growth-accounting matrix over distinct (user, week)
    # activity: new = first week, retained = active previous week,
    # resurrected = returning after a gap, churned = active previous week
    # but not this one (counted in the week they went missing). Pure
    # integer set logic via one distinct collapse + (user, week-1) joins.
    """
    WITH wk AS (
      SELECT DISTINCT user_id, (epoch_us(ts) // 604800000000)::BIGINT AS w
      FROM events),
    fw AS (SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id),
    spine AS (SELECT DISTINCT w FROM wk),
    act AS (
      SELECT a.user_id, a.w, fw.fw,
             CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS retained
      FROM wk a JOIN fw USING (user_id)
      LEFT JOIN wk p ON p.user_id = a.user_id AND p.w = a.w - 1),
    gains AS (
      SELECT w,
             sum(CASE WHEN w = fw THEN 1 ELSE 0 END)::BIGINT AS n_new,
             sum(CASE WHEN w > fw AND retained = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_retained,
             sum(CASE WHEN w > fw AND retained = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_resurrected
      FROM act GROUP BY w),
    churn AS (
      SELECT a.w + 1 AS w, count(*)::BIGINT AS n_churned
      FROM wk a LEFT JOIN wk n ON n.user_id = a.user_id AND n.w = a.w + 1
      WHERE n.user_id IS NULL
      GROUP BY a.w + 1)
    SELECT s.w AS week, coalesce(g.n_new, 0)::BIGINT AS n_new,
           coalesce(g.n_retained, 0)::BIGINT AS n_retained,
           coalesce(g.n_resurrected, 0)::BIGINT AS n_resurrected,
           coalesce(c.n_churned, 0)::BIGINT AS n_churned
    FROM spine s LEFT JOIN gains g ON g.w = s.w
                 LEFT JOIN churn c ON c.w = s.w
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-accounting matrix (the standard startup/engagement
    ledger): per week, users split into NEW (first activity), RETAINED
    (also active the previous week), RESURRECTED (returning after a
    gap), and CHURNED (active last week, missing this week — counted in
    the week they went missing), so week-over-week active-user change
    decomposes exactly as new + resurrected - churned. The accounting
    identity the DAU/WAU and cohort-retention views can't give directly,
    and the upstream summary the retention-decay fit consumes.

    Shape: ONE distinct collapse to (user, week) pairs carries the
    corpus; classification is two self-equi-joins on (user, week-1)
    (8-byte keys) and a broadcast-sized first-week table; everything
    after is |weeks|-row arithmetic. Integer counts only."""
    ev = _t(spark, sf_dir, "events")
    week_ns = 604_800_000_000_000
    wk = ev.select(
        "user_id", F.expr(f"ts DIV {week_ns}").cast("bigint").alias("w")
    ).distinct()
    fw = wk.groupBy("user_id").agg(F.min("w").alias("fw"))
    spine = wk.select("w").distinct()
    prev = wk.select(F.col("user_id").alias("pu"), (F.col("w") + 1).alias("pw"))
    act = (
        wk.join(fw, "user_id")
        .join(
            prev,
            (F.col("pu") == F.col("user_id")) & (F.col("pw") == F.col("w")),
            "left",
        )
        .select(
            "w",
            "fw",
            F.when(F.col("pu").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "retained"
            ),
        )
    )
    gains = act.groupBy("w").agg(
        F.sum(F.when(F.col("w") == F.col("fw"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.when((F.col("w") > F.col("fw")) & (F.col("retained") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when((F.col("w") > F.col("fw")) & (F.col("retained") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    nxt = wk.select(F.col("user_id").alias("nu"), (F.col("w") - 1).alias("nw"))
    churn = (
        wk.join(
            nxt,
            (F.col("nu") == F.col("user_id")) & (F.col("nw") == F.col("w")),
            "left_anti",
        )
        .groupBy((F.col("w") + 1).alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_churned"))
    )
    return (
        spine.join(gains, "w", "left")
        .join(churn, "w", "left")
        .select(
            F.col("w").alias("week"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint").alias("n_new"),
            F.coalesce(F.col("n_retained"), F.lit(0)).cast("bigint").alias("n_retained"),
            F.coalesce(F.col("n_resurrected"), F.lit(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint").alias("n_churned"),
        )
    )


@_register(
    "hourly_activity_profile",
    # hour-of-day x type counts with per-type share and peak flag — one
    # map-side pass, |types| x 24 arithmetic after.
    """
    WITH c AS (
      SELECT event_type, ((epoch_us(ts) // 3600000000) % 24)::BIGINT AS hour,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, sum(n)::BIGINT AS tot, max(n)::BIGINT AS mx
          FROM c GROUP BY 1)
    SELECT c.event_type, c.hour, c.n,
           round(CAST(c.n AS DOUBLE) / t.tot, 6) AS share,
           CASE WHEN c.n = t.mx THEN 1 ELSE 0 END AS is_peak
    FROM c JOIN t USING (event_type)
    """,
)
def hourly_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile per event type with per-type share
    and peak-hour flag — the diurnal fingerprint under the weekly
    monitors (capacity planning reads the peak; a NEW peak hour on an
    unchanged weekly total is a timezone/traffic-mix shift the
    day-grain family cannot see; pairs with cramers_v_association's
    weekday axis). One map-side (type, hour) pass; everything after is
    |types| x 24 arithmetic; exact counts, one rounded ratio."""
    ev = _fan(_t(spark, sf_dir, "events"))
    hour_ns = 3_600_000_000_000
    c = ev.groupBy(
        "event_type",
        (F.expr(f"ts DIV {hour_ns}") % 24).cast("bigint").alias("hour"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    t = c.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot"), F.max("n").cast("bigint").alias("mx")
    )
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hour",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
        F.when(F.col("n") == F.col("mx"), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_peak"
        ),
    )


@_register(
    "zipf_law_fit",
    # ln-ln OLS over the top-200 word frequencies (rank by freq desc,
    # ties lexical): the Heaps-fit arithmetic contract — ln terms
    # truncate to DECIMAL(18,9) so cross-row sums are order-exact, each
    # moment casts to double once, slope/r2 in one pinned double chain.
    r"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents),
    f AS (
      SELECT word, count(*)::BIGINT AS freq
      FROM w WHERE word <> '' GROUP BY word),
    r AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rnk
      FROM f QUALIFY rnk <= 200),
    pts AS (
      SELECT CAST(ln(CAST(rnk AS DOUBLE)) AS DECIMAL(18,9)) AS x,
             CAST(ln(CAST(freq AS DOUBLE)) AS DECIMAL(18,9)) AS y
      FROM r),
    mom AS (
      SELECT count(*)::BIGINT AS k,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pts)
    SELECT k AS n_points,
           round(-(k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_s,
           round((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) AS r2
    FROM mom
    WHERE k >= 2 AND k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus word distribution: fit freq(r) ~ r^-s
    by ln-ln least squares over the top-200 ranks — the vocabulary
    concentration number next to heaps_law_fit's growth exponent (s near
    1 is natural text; templated/boilerplate corpora push s up, near-dup
    spam flattens it) and the prior a count-min / top-k budget should be
    sized against. Rank is deterministic (freq desc, lexical ties).

    Shape: one word-frequency pass (corpus-sized, map-side combinable),
    TakeOrdered top-200 to the driver-side of nothing — the fit runs as
    a 200-row frame; the Heaps-fit decimal-truncation contract makes
    every cross-row sum shuffle-order exact."""
    from pyspark.sql import Window

    docs = _fan(_t(spark, sf_dir, "documents").select("text"))
    f = (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    top = f.orderBy(F.desc("freq"), F.asc("word")).limit(200)
    r = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("word")))
    )
    pts = r.select(
        F.log(F.col("rnk").cast("double")).cast("decimal(18,9)").alias("x"),
        F.log(F.col("freq").cast("double")).cast("decimal(18,9)").alias("y"),
    )
    mom = pts.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    return (
        mom.filter(
            (k >= 2) & (k * sxx - sx * sx > 0) & (k * syy - sy * sy > 0)
        )
        .select(
            k.alias("n_points"),
            F.round(-(k * sxy - sx * sy) / (k * sxx - sx * sx), 6).alias("zipf_s"),
            F.round(
                (k * sxy - sx * sy)
                * (k * sxy - sx * sy)
                / ((k * sxx - sx * sx) * (k * syy - sy * sy)),
                6,
            ).alias("r2"),
        )
    )


@_register(
    "k_anonymity_audit",
    # equivalence classes over the quasi-identifier (nation, segment,
    # acctbal rounded down to 100s); per-k violation ledger for the
    # standard k ladder. Pure integer aggregates.
    """
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             (floor(c_acctbal / 100) * 100)::BIGINT AS bal_band,
             count(*)::BIGINT AS n
      FROM customer GROUP BY 1, 2, 3),
    ks AS (SELECT unnest([2, 5, 10, 20]) AS k)
    SELECT ks.k::INT AS k,
           count(*)::BIGINT AS n_classes,
           sum(CASE WHEN cls.n < ks.k THEN 1 ELSE 0 END)::BIGINT
             AS n_violating_classes,
           sum(CASE WHEN cls.n < ks.k THEN cls.n ELSE 0 END)::BIGINT
             AS n_violating_rows,
           min(cls.n) AS min_class_size
    FROM cls CROSS JOIN ks GROUP BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    (nation, market segment, account-balance 100-band) — the privacy
    governance readout next to pii_redaction and the DP counts: for each
    k in the standard ladder, how many equivalence classes (and rows)
    would re-identify under a k-anonymity release policy. The
    generalization step (balance banding) is part of the audit contract:
    publish-ready data is judged on the GENERALIZED quasi-identifier.

    Shape: ONE map-side-combined groupBy over the quasi-identifier, then
    |classes| x 4 integer arithmetic; nothing row-sized leaves the first
    aggregate."""
    cust = _fan(_t(spark, sf_dir, "customer"))
    cls = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 100) * 100).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    ks = spark.range(0, 1).select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10), F.lit(20))).alias("k")
    )
    viol = F.col("n") < F.col("k")
    return (
        cls.crossJoin(F.broadcast(ks))
        .groupBy(F.col("k").cast("int").alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias(
                "n_violating_classes"
            ),
            F.sum(F.when(viol, F.col("n")).otherwise(0)).cast("bigint").alias(
                "n_violating_rows"
            ),
            F.min("n").alias("min_class_size"),
        )
    )


@_register(
    "sprt_conversion_monitor",
    # Wald SPRT (1945) on the daily purchase rate: H0 p = p0 (pooled rate
    # of the first 7 days) vs H1 p = 1.2*p0; cumulative log-likelihood
    # ratio with symmetric alpha = beta = 0.05 boundaries +-ln(19). Per-day
    # LLR terms are one identical double chain truncated to DECIMAL(18,9),
    # so the day-frame cumulative sum is shuffle-order exact.
    """
    WITH d AS (
      SELECT epoch_ns(ts) // 86400000000000 AS day_idx,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS k
      FROM events GROUP BY 1),
    seq AS (SELECT day_idx, n, k, row_number() OVER (ORDER BY day_idx) AS rn FROM d),
    base AS (
      SELECT CAST(sum(k) AS DOUBLE) / sum(n) AS p0 FROM seq WHERE rn <= 7),
    terms AS (
      SELECT s.day_idx, s.rn, s.n, s.k,
             CAST(s.k * ln((1.2 * b.p0) / b.p0)
                  + (s.n - s.k) * ln((1 - 1.2 * b.p0) / (1 - b.p0))
               AS DECIMAL(18,9)) AS t
      FROM seq s CROSS JOIN base b),
    w AS (
      SELECT day_idx, n, k, sum(t) OVER (ORDER BY rn) AS llr FROM terms)
    SELECT day_idx, n, k, round(CAST(llr AS DOUBLE), 6) AS llr,
           CASE WHEN CAST(llr AS DOUBLE) >= 2.9444389791664403 THEN 'reject_h0'
                WHEN CAST(llr AS DOUBLE) <= -2.9444389791664403 THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM w
    """,
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald 1945) on the daily purchase
    rate — the ALWAYS-VALID companion of the fixed-horizon z-test and the
    CUSUM/EWMA charts: every day appends its log-likelihood-ratio
    increment for H1 "conversion lifted 20%" vs H0 "baseline (first-week
    pooled rate)", and the cumulative LLR walk crosses +-ln(19)
    (alpha = beta = 0.05) the moment the evidence suffices — the earliest
    defensible stopping day, not a fixed calendar horizon. Output: one
    row per day with the walk and its decision state.

    Exactness/scale: counts are one map-side day-grain aggregate; the LLR
    term arithmetic is an op-order-identical double chain truncated to
    DECIMAL(18,9) per day, and the cumulative window runs over the ~|days|
    frame only — never raw events."""
    from pyspark.sql import Window

    ev = _fan(_t(spark, sf_dir, "events"))
    d = ev.groupBy(F.expr("ts div 86400000000000").alias("day_idx")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    seq = d.withColumn("rn", F.row_number().over(Window.orderBy("day_idx")))
    base = seq.filter(F.col("rn") <= 7).agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("p0")
    )
    p0 = F.col("p0")
    term = (
        F.col("k") * F.log((F.lit(1.2) * p0) / p0)
        + (F.col("n") - F.col("k"))
        * F.log((F.lit(1) - F.lit(1.2) * p0) / (F.lit(1) - p0))
    ).cast("decimal(18,9)")
    terms = seq.crossJoin(F.broadcast(base)).withColumn("t", term)
    llr = F.sum("t").over(Window.orderBy("rn")).cast("double")
    bound = 2.9444389791664403
    return terms.select(
        "day_idx",
        "n",
        "k",
        F.round(llr, 6).alias("llr"),
        F.when(llr >= bound, F.lit("reject_h0"))
        .when(llr <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@_register(
    "blocked_dup_under_duplication",
    # the near_dup_under_duplication stress corpus (30% re-uploads + one
    # document duplicated 200x) run through the BLOCKED hamming<=8
    # generator; oracle = the unblocked all-pairs popcount at the same
    # threshold, aggregated by hamming.
    # corpus = a deterministic fifth of documents (h<=8 UNGROUPED is ~20x
    # denser than the banded h<=3 twin; the full corpus would make this
    # certification row the slowest bench scenario without adding skew
    # coverage) + 20% re-uploads + doc 0 duplicated 200x
    f"""
    WITH docs2 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 2000000 + doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT 1000000 + g.i, text
      FROM documents, UNNEST(generate_series(1, 200)) AS g(i)
      WHERE doc_id = 0),
    {_simhash_cte(rel="docs2", source=False)},
    pr AS (
      SELECT bit_count(xor(a.sh, b.sh))::INT AS hamming
      {_hamming_join(8)})
    SELECT hamming, count(*)::BIGINT AS n_pairs FROM pr GROUP BY hamming
    """,
)
def blocked_dup_under_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew certification for the Manku-blocked hamming<=8 generator —
    the near_dup_under_duplication posture applied to the blocked
    candidate path: the corpus is stressed with 20% re-uploads plus one
    document duplicated 200x (the degenerate fingerprint), and
    simhash_blocked_pairs must emit EXACTLY the unblocked all-pairs
    popcount's pair multiset (lossless block-union keys; the 200-copy
    group collapses to ONE distinct fingerprint before the key join and
    its ~200^2/2 member pairs return arithmetically through the
    expansion legs). Bench-timed, so the sub-quadratic behavior under
    constructed skew is a measured number, not a one-off test. Exercises the ungrouped (corpus-wide) path of the generator
    over a deterministic fifth of the corpus — ungrouped h<=8 semantics
    are ~20x denser than the banded twin's h<=3, and the stress
    construction, not corpus bulk, is what this row certifies."""
    base = _fan(
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)
    )
    reups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    hot = (
        base.filter(F.col("doc_id") == 0)
        .select(F.explode(F.sequence(F.lit(1), F.lit(200))).alias("i"), "text")
        .select((F.col("i") + 1000000).cast("long").alias("doc_id"), "text")
    )
    corpus = base.unionByName(reups).unionByName(hot)
    fp = D.simhash_fingerprints(corpus, "text", "doc_id", bits=32)
    pairs = D.simhash_blocked_pairs(fp, "doc_id", bits=32, blocks=10, max_hamming=8)
    return pairs.groupBy("hamming").agg(F.count("*").cast("bigint").alias("n_pairs"))


@_register(
    "wide_dedup_clusters",
    # the wide-fingerprint pair CTE closed into components by the same
    # transitive-closure recursion the image/video cluster oracles use;
    # canonical keeper = min doc_id, cluster_size for the drop policy.
    f"""
    WITH RECURSIVE {_dup_pairs_cte(60, "pairs")},
    {_CLUSTERS_SQL}""",
)
def wide_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-SCALE dedup pipeline end to end: 60-bit fingerprints
    (only genuine near-dups pair at hamming<=8 — the precision semantics
    a 100 TB run wants), Manku-blocked star-contracted edges (~12-bit
    union keys, linear intra-group edges), connected components, and the
    keep-one-drop-rest readout (canonical keeper = min doc_id + cluster
    size). This row composes three scale pieces —
    simhash_wide_blocked_pairs' fingerprint width, emit="star"'s linear
    edges, and the iterative components fixpoint — into the one pipeline
    a production near-dedup actually ships; the oracle closes the wide
    pair set by transitive-closure recursion."""
    from scylla_migrator_spark.analytics.components import connected_components

    docs = _fan(_t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    fp = D.simhash_fingerprints(
        docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
    )
    edges = D.simhash_blocked_pairs(
        fp, "doc_id", bits=60, blocks=10, max_hamming=8,
        group_col="source", emit="star",
    ).select("id_a", "id_b")
    comp = connected_components(edges, src="id_a", dst="id_b")
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("canonical_id"),
        "cluster_size",
    )
