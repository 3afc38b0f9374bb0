"""Incrementally-maintained dedup graph over a DOCUMENT stream — the
streaming companion of analytics/components.incremental_components_update
(T6 extension; same maintenance shape as streaming/scd_cdc.py, applied to
the near-dup component labelling instead of version history).

Pattern:

    readStream(documents) -> foreachBatch:
        fp      = simhash fingerprints of the batch's docs
        edges   = near-dup pairs touching a batch doc (staged-key probe)
        labels' = contracted fixpoint over batch edges + touched labels
        state'  = state rows remapped + batch rows appended (journaled swap)

Correctness invariant (checked by the oracle): after any prefix of the
stream, the paired rows of the serving table equal the batch
connected-components labelling over all documents seen so far — because a
new batch can only create pairs that TOUCH a batch document (old-old pairs
were already present), which is exactly the contract the contracted merge
requires.

State layout (three sibling tables, all under the caller's serving path):

* ``serving``             (id, source, sh, comp, paired), partitioned by a
  COMPONENT-hash bucket (streaming/rollup.py layout); each batch swaps
  ONLY the buckets whose labels moved.
* ``serving_keys``        the persistent union-key stage: one row per
  (unit, probe combo) — (grp, combo_id, key_val, sh, anchor, comp0) —
  partitioned by ``pmod(xxhash64(combo_id, key_val), n_key_buckets)``.
  Union keys are a pure function of the immutable fingerprint, so this
  table is APPEND-ONLY: a batch appends keys for its new units and probes
  with its own (batch-sized, broadcast) key set. A micro-batch therefore
  never re-explodes or re-shuffles the full state — its stage scan is
  pruned to the partitions the batch's keys hash into.
* ``serving_journal``     append-only component-merge log (old, new): the
  stage's ``comp0`` labels go stale when components merge; resolving a
  probe's touched anchors is comp0 followed through the journal. The
  journal is merge-EVENT metadata (one row per component ever retired),
  orders smaller than the state; ``compact_components_stage`` folds it
  back into the stage when it grows.

Crash safety: every generation's mutations (bucket swaps, key appends,
journal appends) are listed in a manifest written BEFORE the first
mutation and removed after the last; ``_recover_pending`` rolls an
interrupted generation FORWARD on the next batch, so a crash can never
leave a bucket directory missing or a mixed-generation labelling in use.
Readers that race a live swap can still observe a bucket mid-replace —
snapshot consumers should read a quiesced table (the streaming query is
the single writer).

Scale notes: per batch the fixpoint runs on the CONTRACTED graph (batch
edges + the component labels they touch), never the history; edge
generation probes the staged union keys (partition-pruned to the key
buckets the batch's keys hash into, batch-linear edges); and per-batch
writes are proportional to touched components + new units. A batch of at
most ``LOCAL_BATCH_DOCS_CAP`` documents is read with ONE bounded collect
and computed in-process; while the partitions it touches are under
``LOCAL_PARTITION_BYTES_CAP`` on disk, they are read and written with
pyarrow, so the step schedules no other Spark job. Past either cap the
same step runs distributed (dedup.simhash_staged_probe — broadcast batch
keys against the pruned stage scan — and Spark bucket rewrites). At
100 TB raise ``n_buckets``/``n_key_buckets`` so each directory stays a
few GB.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics import dedup as D
from scylla_migrator_spark.analytics.components import (
    contracted_merge,
    minlabel_union_find,
)
from scylla_migrator_spark.pathio import for_path
from scylla_migrator_spark.streaming.rollup import (
    _M64,
    BUCKET_COL,
    _bucket_expr,
    _table_buckets,
    _write_meta,
    bucket_of_combo_key,
    bucket_of_long,
)

DEFAULT_COMPONENT_BUCKETS = 16  # fixture scale; thousands at 100 TB
DEFAULT_KEY_BUCKETS = 32
# above this many touching edges a batch's merge falls back to the
# distributed fixpoint instead of the driver-side union-find (~16 B/edge
# collected; the touching contract keeps real batches far below this)
MAX_LOCAL_MERGE_EDGES = 5_000_000
KEYS_SUFFIX = "_keys"
JOURNAL_SUFFIX = "_journal"
KEY_BUCKET_COL = "__kb"
_GEOMETRY_FILE = "_geometry.json"


def _run_writes(*fns) -> None:
    """Run a generation's independent parquet writes (keys append /
    serving rewrite) concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(fns)) as ex:
        futs = [ex.submit(f) for f in fns]
        for fu in futs:
            fu.result()


def _pending_path(serving_path: str) -> str:
    return serving_path + "__pending.json"


def _applied_path(serving_path: str) -> str:
    return serving_path + "__applied.json"


def read_applied_marker(serving_path: str) -> dict | None:
    """The last streaming batch the maintainers COMMITTED, written with the
    generation's manifest: ``{"batch_id": ..., "steps": ["upsert", ...]}``.
    foreachBatch is at-least-once: a crash between the generation's commit
    and the checkpoint's replays the batch, and ``components_upsert_batch``
    would append its rows twice. The CDC drivers no-op steps a replayed
    batch already applied (the manifest makes a generation atomic; the
    marker makes it idempotent per batch id)."""
    ap = _applied_path(serving_path)
    return _read_json(ap) if os.path.exists(ap) else None


def _read_json(path: str):
    return json.loads(for_path(path).read_utf8(path))


def _write_json(path: str, obj) -> None:
    for_path(path).write_utf8_atomically(path, json.dumps(obj).encode("utf-8"))


def _write_applied(serving_path: str, marker: dict) -> None:
    _write_json(_applied_path(serving_path), marker)


def _check_geometry(
    keys_path: str, bits: int, blocks: int, max_hamming: int
) -> None:
    """The stage's key layout is a pure function of (bits, blocks,
    max_hamming): a batch probing with a DIFFERENT geometry derives
    mismatched (combo_id, key_val) keys, silently matches nothing, and
    mislabels — the failure class ``_table_buckets`` exists to prevent
    for the bucket modulus, applied to the block structure. The geometry
    is pinned in the keys-table meta at creation and validated on every
    upsert/retract."""
    gp = os.path.join(keys_path, _GEOMETRY_FILE)
    if not os.path.exists(gp):
        return  # pre-geometry layout: pinned by the next committed batch
    g = _read_json(gp)
    ours = {"bits": bits, "blocks": blocks, "max_hamming": max_hamming}
    if g != ours:
        raise ValueError(
            f"union-key stage at {keys_path} was created with geometry "
            f"{g} but this batch probes with {ours}: the (combo_id, "
            "key_val) keys would not line up, so the probe would silently "
            "match nothing and mislabel. Call with the original geometry, "
            "or rebuild the stage (rebuild_components_stage)."
        )


def _move_part_files(src_dir: str, dst_dir: str) -> list[list[str]]:
    """Plan (src, dst) moves for every data file under a Spark-written
    directory tree, preserving partition subdirs. Returns the move list
    (nothing is moved here — the manifest records it first)."""
    moves: list[list[str]] = []
    for root, _dirs, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        for f in files:
            if not f.startswith("part-"):
                continue
            dst = dst_dir if rel == "." else os.path.join(dst_dir, rel)
            moves.append([os.path.join(root, f), os.path.join(dst, f)])
    return moves


def _execute_manifest(serving_path: str, man: dict) -> None:
    """Apply a generation's mutations. IDEMPOTENT: every step checks
    source existence first, so a crashed run re-applies cleanly."""
    for src, dst in man.get("file_moves", []):
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    if man["kind"] == "full":
        if not os.path.isdir(serving_path) and os.path.isdir(man["src"]):
            os.rename(man["src"], serving_path)
        _write_meta(serving_path, man["n_buckets"])
    elif man["kind"] == "compact":
        kp = serving_path + KEYS_SUFFIX
        if os.path.isdir(man["tmp"]):
            if os.path.isdir(kp):
                os.replace(kp, man["old"])
            os.replace(man["tmp"], kp)
        _write_meta(kp, man["n_key_buckets"])
        shutil.rmtree(man["old"], ignore_errors=True)
        # journal entries map RETIRED comps; folded comp0s are current, so
        # re-applying a journal that outlived a crash is a no-op — safe to
        # drop it only after the folded stage is live
        shutil.rmtree(serving_path + JOURNAL_SUFFIX, ignore_errors=True)
    elif man["kind"] == "swap":
        gen = man["gen"]
        for b in man.get("swap_buckets", []):
            entry = f"{BUCKET_COL}={b}"
            src = os.path.join(man["tmp"], entry)
            dst = os.path.join(serving_path, entry)
            old = f"{serving_path}__old_{gen}_{b}"
            if os.path.isdir(src):
                if os.path.isdir(dst):
                    os.replace(dst, old)
                os.replace(src, dst)
            # src missing => this bucket's swap already completed
        for b in man.get("drop_buckets", []):
            # an affected bucket emptied by a label hop: remove, not stale
            dst = os.path.join(serving_path, f"{BUCKET_COL}={b}")
            if os.path.isdir(dst):
                os.replace(dst, f"{serving_path}__old_{gen}_{b}")
        # retractions also swap union-key stage partitions (anchor/comp0
        # corrections + dead-unit removal) — same idempotent protocol
        kp = serving_path + KEYS_SUFFIX
        for b in man.get("keys_swap_buckets", []):
            entry = f"{KEY_BUCKET_COL}={b}"
            src = os.path.join(man["keys_tmp"], entry)
            dst = os.path.join(kp, entry)
            old = f"{serving_path}__old_{gen}_kb{b}"
            if os.path.isdir(src):
                if os.path.isdir(dst):
                    os.replace(dst, old)
                os.replace(src, dst)
        for b in man.get("keys_drop_buckets", []):
            dst = os.path.join(kp, f"{KEY_BUCKET_COL}={b}")
            if os.path.isdir(dst):
                os.replace(dst, f"{serving_path}__old_{gen}_kb{b}")
        # retractions rewrite the merge journal: entries whose chain
        # terminates in a re-solved component are dead for every
        # surviving unit (all got direct comp0s) and DANGEROUS if their
        # old label was resurrected as a split subset's new minimum
        if man.get("journal_tmp") or man.get("journal_clear"):
            jp = serving_path + JOURNAL_SUFFIX
            jold = f"{serving_path}__old_{gen}_journal"
            jt = man.get("journal_tmp")
            if jt and os.path.isdir(jt):
                if os.path.isdir(jp):
                    os.replace(jp, jold)
                os.replace(jt, jp)
            elif man.get("journal_clear") and os.path.isdir(jp):
                os.replace(jp, jold)
    keys_path = serving_path + KEYS_SUFFIX
    if man.get("n_key_buckets") and os.path.isdir(keys_path):
        _write_meta(keys_path, man["n_key_buckets"])
    # geometry pin (once, at stage creation) and the applied-batch marker
    # commit INSIDE the manifest: a crash anywhere in this protocol rolls
    # forward to a state where the generation AND its marker are visible
    # together — never a committed generation a replayed batch re-applies
    if man.get("geometry") and os.path.isdir(keys_path):
        gp = os.path.join(keys_path, _GEOMETRY_FILE)
        if not os.path.exists(gp):
            _write_json(gp, man["geometry"])
    if man.get("applied_marker"):
        _write_applied(serving_path, man["applied_marker"])
    # cleanup: displaced generations + scratch dirs, then the manifest
    _sweep_generations(serving_path)
    for scratch in man.get("scratch", []):
        shutil.rmtree(scratch, ignore_errors=True)
    os.remove(_pending_path(serving_path))


def _recover_pending(serving_path: str) -> None:
    """Roll FORWARD an interrupted generation before touching state —
    the crash-recovery half of the manifest protocol. Also sweeps
    scratch dirs orphaned by a crash that happened BEFORE the manifest
    was written (those generations never started mutating state)."""
    pp = _pending_path(serving_path)
    if os.path.exists(pp):
        _execute_manifest(serving_path, _read_json(pp))
        return
    _sweep_generations(serving_path)


def _sweep_generations(serving_path: str) -> None:
    """Remove the displaced (`__old_`) and scratch (`__gen_`) generation
    dirs beside ``serving_path``."""
    parent = os.path.dirname(serving_path) or "."
    base = os.path.basename(serving_path)
    if os.path.isdir(parent):
        for e in os.listdir(parent):
            if e.startswith(f"{base}__old_") or e.startswith(f"{base}__gen_"):
                shutil.rmtree(os.path.join(parent, e), ignore_errors=True)


def _write_manifest(serving_path: str, man: dict) -> None:
    _write_json(_pending_path(serving_path), man)


def _read_journal(spark: SparkSession, journal_path: str) -> dict[int, int]:
    """The component-merge log as a driver dict (merge-event metadata —
    one row per component ever retired; orders smaller than state, and
    compact_components_stage folds it down when it grows). Cached
    in-process keyed by the journal's file listing: the streaming query
    is the SINGLE writer (module contract), so between this process's
    own appends/rewrites the listing is the identity of the content —
    a micro-batch pays an fs listing, not a Spark job, to resolve. A
    changed listing is read with pyarrow: the log is collected into a
    driver dict either way, so a Spark read would only add a job."""
    if not os.path.isdir(journal_path):
        return {}
    parts = tuple(
        sorted(
            (f, os.path.getsize(os.path.join(journal_path, f)))
            for f in os.listdir(journal_path)
            if f.startswith("part-")
        )
    )
    if not parts:
        return {}
    sc = spark.sparkContext
    cache = getattr(sc, "_sgs_journal_cache", None)
    if cache is None:
        cache = {}
        sc._sgs_journal_cache = cache
    hit = cache.get(journal_path)
    if hit is not None and hit[0] == parts:
        return hit[1]
    mp = dict(_read_parquet_dir(journal_path, ["old", "new"]))
    cache[journal_path] = (parts, mp)
    return mp


def _resolve_labels(
    anchor_labels: DataFrame, spark: SparkSession, mp: dict[int, int]
) -> DataFrame:
    """Resolve staged ``comp0`` labels to CURRENT components by following
    the merge journal to its terminal targets (path-compressed on the
    driver, applied as one broadcast map join)."""
    if not mp:
        return anchor_labels
    term: dict[int, int] = {}

    def resolve(x: int) -> int:
        seen = []
        while x in mp and x not in term:
            seen.append(x)
            x = mp[x]
        final = term.get(x, x)
        for s in seen:
            term[s] = final
        return final

    rows = [(o, resolve(o)) for o in mp]
    jdf = spark.createDataFrame(rows, "old long, new long")
    return (
        anchor_labels.join(
            F.broadcast(jdf), anchor_labels["comp"] == jdf["old"], "left_outer"
        )
        .select("id", F.coalesce("new", "comp").alias("comp"))
    )


# small-batch LOCAL path: up to this many batch documents the whole
# generation (keys, probe, edges, merge, journal, bucket math) is computed
# in-process from ONE bounded collect of the batch's fingerprints
# (``limit(cap + 1)``: one more row than the cap tells an over-cap batch
# apart without a separate count). Batches past the cap (e.g. a
# corpus-sized initial load) take the distributed path unchanged. The
# collect is bounded by the cap (~50 B/row), the same driver-boundedness
# argument as the edge-take/union-find (MAX_LOCAL_MERGE_EDGES).
LOCAL_BATCH_DOCS_CAP = 20_000
# keys fan out C(blocks, blocks-h)x per unit; bound the driver-resident
# key list independently of the doc cap
LOCAL_BATCH_KEYS_CAP = 2_000_000
# the on-disk byte gate of every in-process partition read: the touched
# key partitions of an upsert's stage probe, the affected serving buckets
# of its rewrite, a retraction's buckets and key partitions, and the whole
# stage or serving table of compaction and rebuild. Under it the read is
# a pyarrow read of the pruned partitions (actual bytes — the same signal
# AQE plans on); past it (a mega-cluster, a GB-sized key partition) the
# same step runs as Spark jobs.
LOCAL_PARTITION_BYTES_CAP = 8 << 20

_PA_TYPES = {"string": "string", "bigint": "int64", "int": "int32", "boolean": "bool_"}


def _pa_field(name: str, spark_simple: str):
    import pyarrow as pa

    return pa.field(name, getattr(pa, _PA_TYPES[spark_simple])())


def _write_bucketed_parquet(
    tmp_dir: str,
    bucket_col: str,
    by_bucket: dict[int, list[tuple]],
    fields: list,
    gen: str,
) -> None:
    """Mirror Spark's ``repartition(bucket).write.partitionBy(bucket)``
    layout from driver-resident rows: one parquet file per bucket dir,
    bucket column NOT in the file (partition-dir encoding), written with
    pyarrow — no Spark job. Consumed by the same manifest/move protocol
    as the Spark-written generations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(fields)
    for b, rows in by_bucket.items():
        d = os.path.join(tmp_dir, f"{bucket_col}={b}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        pq.write_table(
            pa.table(
                {f.name: pa.array(cols[i], f.type) for i, f in enumerate(fields)}
            ),
            os.path.join(d, f"part-00000-{gen}.parquet"),
        )


def _local_grp_type(schema, id_col: str, source_col: str) -> str | None:
    """The group column's type when a batch of ``schema`` fits the local
    paths — the pyarrow writers and the driver-side hash twins assume a
    long id, a long ``sh`` fingerprint and a group of a ``_PA_TYPES``
    type — else None (the batch runs the distributed path)."""
    fields = {f.name: f.dataType.simpleString() for f in schema.fields}
    grp = fields.get(source_col)
    if fields.get(id_col) != "bigint" or fields.get("sh") != "bigint":
        return None
    return grp if grp in _PA_TYPES else None


def _hamming(a: int, b: int) -> int:
    """Spark's ``bit_count(a ^ b)`` of two longs (two's complement)."""
    return ((a ^ b) & _M64).bit_count()


def _stage_scan_metrics(keys_path: str, kbs: list[int], metrics: dict) -> None:
    """The stage probe's scan numbers from the directory listing and the
    parquet footers — no Spark job: the rows and files under the probed
    key partitions, and the files of the whole stage."""
    import pyarrow.parquet as pq

    scanned = [
        f
        for b in kbs
        for f in _part_files(os.path.join(keys_path, f"{KEY_BUCKET_COL}={b}"))
    ]
    metrics["staged_rows_scanned"] = sum(
        pq.read_metadata(f).num_rows for f in scanned
    )
    metrics["staged_files_scanned"] = len(scanned)
    metrics["staged_files_total"] = len(_part_files(keys_path))


def _local_upsert(
    spark: SparkSession,
    rows: list[tuple],
    grp_type: str,
    have_state: bool,
    serving_path: str,
    keys_path: str,
    journal_path: str,
    bits: int,
    blocks: int,
    max_hamming: int,
    n_buckets: int,
    n_key_buckets: int,
    compact_journal_above: int | None,
    metrics: dict | None,
    applied_marker: dict | None,
) -> tuple[bool, list[int] | None]:
    """In-process generation for a small batch of ``(id, source, sh)``
    ``rows`` (already collected, of the types ``_local_grp_type``
    admits): returns ``(handled, result)`` — ``handled=False`` means a
    cap or null guard tripped before anything was written and the caller
    must run the distributed path instead. Semantics are IDENTICAL to the
    distributed body (same edge families, same journal resolution, same
    manifest protocol); the only difference is where the batch-sized half
    of the work happens. While the touched key partitions and the
    affected serving buckets fit ``LOCAL_PARTITION_BYTES_CAP``, the stage
    probe and the serving rewrite read them with pyarrow and the
    generation schedules no Spark job; past the cap the probe is one
    broadcast join over the pruned stage scan and the rewrite one pruned
    Spark write, as at scale."""
    import time as _time

    from scylla_migrator_spark.analytics.dedup import (
        block_union_key_rows,
        union_key_geometry,
    )

    _phases: dict[str, float] = {}
    _last = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _last
        now = _time.perf_counter()
        _phases[name] = round(now - _last, 3)
        _last = now

    if any(g is None for _i, g, _s in rows):
        # SQL null-group semantics (null joins nothing) differ from
        # Python dict keys — preserve them via the distributed path
        return False, None
    if not have_state and not rows:
        # an empty first batch must not create a schema-less table
        return True, None

    units: dict[tuple, int] = {}
    for i, g, s in rows:
        u = (g, s)
        if u not in units or i < units[u]:
            units[u] = i
    n_combos = len(union_key_geometry(bits, blocks, max_hamming)[2])
    if len(units) * n_combos > LOCAL_BATCH_KEYS_CAP:
        return False, None
    # each unit's (combo_id, key_val, key bucket), hashed once: the probe's
    # partition list and the new units' key append both read it
    unit_keys: dict[tuple, list[tuple[int, int, int]]] = {
        u: [
            (j, kv, bucket_of_combo_key(j, kv, n_key_buckets))
            for j, kv in block_union_key_rows(u[1], bits, blocks, max_hamming)
        ]
        for u in units
    }
    journal_map = _read_journal(spark, journal_path)

    def _term(c: int) -> int:
        while c in journal_map:
            c = journal_map[c]
        return c

    # probe the persistent stage with the batch's keys, pruned to the key
    # partitions they hash into
    exact: dict[tuple, tuple[int, int]] = {}
    cand_sb: dict[tuple, dict[int, int]] = {}
    kbs: list[int] | None = None
    if have_state:
        kbs = sorted({kb for keys in unit_keys.values() for _j, _kv, kb in keys})
        kb_dirs = [os.path.join(keys_path, f"{KEY_BUCKET_COL}={b}") for b in kbs]
        if not units:
            matches = []
        elif sum(_dir_bytes(d) for d in kb_dirs) <= LOCAL_PARTITION_BYTES_CAP:
            # small partitions: match them in-process against the batch's
            # keys — the broadcast join below, as a dict lookup
            probe: dict[tuple, list[int]] = {}
            for u, keys in unit_keys.items():
                for j, kv, _kb in keys:
                    probe.setdefault((u[0], j, kv), []).append(u[1])
            matches = [
                (g, psh, ssh, a, c0)
                for d in kb_dirs
                for g, j, kv, ssh, a, c0 in _read_parquet_dir(
                    d, ["grp", "combo_id", "key_val", "sh", "anchor", "comp0"]
                )
                for psh in probe.get((g, j, kv), ())
                if _hamming(psh, ssh) <= max_hamming
            ]
        else:
            probe_df = spark.createDataFrame(
                [
                    (u[0], j, kv, u[1])
                    for u, keys in unit_keys.items()
                    for j, kv, _kb in keys
                ],
                schema=f"grp {grp_type}, combo_id int, key_val bigint, sh bigint",
            )
            st = spark.read.parquet(keys_path).filter(
                F.col(KEY_BUCKET_COL).isin(kbs)
            )
            p, s = probe_df.alias("p"), st.alias("s")
            ham = F.bit_count(F.col("p.sh").bitwiseXOR(F.col("s.sh"))).cast("int")
            matches = (
                F.broadcast(p)
                .join(
                    s,
                    on=[
                        F.col("p.grp") == F.col("s.grp"),
                        F.col("p.combo_id") == F.col("s.combo_id"),
                        F.col("p.key_val") == F.col("s.key_val"),
                    ],
                )
                .filter(ham <= max_hamming)
                .select("p.grp", "p.sh", "s.sh", "s.anchor", "s.comp0")
                .collect()
            )
        for g, psh, ssh, a, c0 in matches:
            u = (g, psh)
            if psh == ssh:
                exact[u] = (a, c0)
            else:
                cand_sb.setdefault(u, {})[a] = c0
    _mark("probe")

    anchor = {u: (exact[u][0] if u in exact else units[u]) for u in units}
    new_units = [u for u in units if u not in exact]
    new_set = set(new_units)
    # star: every member -> its unit's anchor
    edges: list[tuple[int, int]] = []
    for i, g, s in rows:
        a = anchor[(g, s)]
        if i != a:
            edges.append((i, a) if i < a else (a, i))
    # cross (batch x stage), NEW units only
    base_map: dict[int, int] = {}
    for u, (a, c0) in exact.items():
        base_map[a] = _term(c0)
    for u, cands in cand_sb.items():
        if u not in new_set:
            continue
        a = anchor[u]
        for oa, oc0 in cands.items():
            base_map[oa] = _term(oc0)
            edges.append((a, oa) if a < oa else (oa, a))
    # cross (batch x batch) among new units, via their own keys
    bykey: dict[tuple, list[tuple]] = {}
    for u in new_units:
        for j, kv, _kb in unit_keys[u]:
            bykey.setdefault((u[0], j, kv), []).append(u)
    n_pairs = sum(len(v) * (len(v) - 1) // 2 for v in bykey.values())
    if n_pairs > MAX_LOCAL_MERGE_EDGES or len(edges) > MAX_LOCAL_MERGE_EDGES:
        return False, None
    seen_bb: set = set()
    for (g, _j, _kv), us in bykey.items():
        if len(us) < 2:
            continue
        us = sorted(us, key=lambda u: u[1])
        for x in range(len(us)):
            for y in range(x + 1, len(us)):
                ua, ub = us[x], us[y]
                key = (g, ua[1], ub[1])
                if key in seen_bb:
                    continue
                seen_bb.add(key)
                if _hamming(ua[1], ub[1]) <= max_hamming:
                    a, b = anchor[ua], anchor[ub]
                    edges.append((a, b) if a < b else (b, a))
    merged_map = minlabel_union_find(
        (base_map.get(a, a), base_map.get(b, b)) for a, b in edges
    )
    base_vals = set(base_map.values())
    jnew_rows = [
        [o, n] for o, n in merged_map.items() if o != n and o in base_vals
    ]
    evert = {v for e in edges for v in e}
    batch_rows_local = [
        (i, g, s, merged_map.get(i, i), i in evert) for i, g, s in rows
    ]
    _mark("merge")

    gen = uuid.uuid4().hex[:8]
    file_moves: list[list[str]] = []
    scratch: list[str] = []
    # keys append for NEW units (comp0 = the anchor's label after this
    # batch's fixpoint), one pyarrow file per touched key bucket
    tmp_keys = f"{serving_path}__gen_{gen}_keys"
    keys_by_bucket: dict[int, list[tuple]] = {}
    for u in new_units:
        a = anchor[u]
        c0 = merged_map.get(a, a)
        for j, kv, kb in unit_keys[u]:
            keys_by_bucket.setdefault(kb, []).append((u[0], j, kv, u[1], a, c0))
    key_fields = [
        _pa_field("grp", grp_type),
        _pa_field("combo_id", "int"),
        _pa_field("key_val", "bigint"),
        _pa_field("sh", "bigint"),
        _pa_field("anchor", "bigint"),
        _pa_field("comp0", "bigint"),
    ]
    _write_bucketed_parquet(tmp_keys, KEY_BUCKET_COL, keys_by_bucket, key_fields, gen)
    file_moves += _move_part_files(tmp_keys, keys_path)
    scratch.append(tmp_keys)
    # journal append (driver-resident merge events, pyarrow — as before)
    tmp_journal = f"{serving_path}__gen_{gen}_journal"
    if jnew_rows:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(tmp_journal, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "old": pa.array([r[0] for r in jnew_rows], pa.int64()),
                    "new": pa.array([r[1] for r in jnew_rows], pa.int64()),
                }
            ),
            os.path.join(tmp_journal, f"part-00000-{gen}.parquet"),
        )
        file_moves += _move_part_files(tmp_journal, journal_path)
        scratch.append(tmp_journal)
    _mark("plan_writes")

    if metrics is not None:
        metrics["probe_kbs"] = kbs
        metrics["n_edges"] = len(edges)
        metrics["n_merged"] = len(merged_map)
        metrics["local_batch"] = True
        if kbs is not None:
            _stage_scan_metrics(keys_path, kbs, metrics)

    serving_fields = [
        _pa_field("id", "bigint"),
        _pa_field("source", grp_type),
        _pa_field("sh", "bigint"),
        _pa_field("comp", "bigint"),
        _pa_field("paired", "boolean"),
    ]
    if not have_state:
        # first generation: whole table written from the driver rows
        nxt = serving_path + f"__gen_{gen}_full"
        by_bucket: dict[int, list[tuple]] = {}
        for row in batch_rows_local:
            by_bucket.setdefault(bucket_of_long(row[3], n_buckets), []).append(row)
        _write_bucketed_parquet(nxt, BUCKET_COL, by_bucket, serving_fields, gen)
        scratch.append(nxt)
        man = {
            "kind": "full",
            "src": nxt,
            "n_buckets": n_buckets,
            "n_key_buckets": n_key_buckets,
            "file_moves": file_moves,
            "scratch": scratch,
            "geometry": {
                "bits": bits, "blocks": blocks, "max_hamming": max_hamming
            },
            "applied_marker": applied_marker,
        }
        _write_manifest(serving_path, man)
        _execute_manifest(serving_path, man)
        _mark("full_write")
        if metrics is not None:
            metrics["affected_buckets"] = None
            metrics["phases"] = _phases
        return True, None

    # incremental: rewrite ONLY the buckets whose labels move (driver-side
    # bucket math; the pruned read + local-relation joins are ONE write job)
    affected_vals = (
        set(merged_map)
        | set(merged_map.values())
        | {merged_map.get(i, i) for i, _g, _s in rows}
    )
    affected = sorted({bucket_of_long(c, n_buckets) for c in affected_vals})
    tmp = f"{serving_path}__gen_{gen}"
    written: set[int] = set()
    if affected:
        aff_dirs = [
            os.path.join(serving_path, f"{BUCKET_COL}={b}") for b in affected
        ]
        if sum(_dir_bytes(d) for d in aff_dirs) <= LOCAL_PARTITION_BYTES_CAP:
            # affected partitions small on disk: apply the remap/pair
            # flips in-process and write the generation with pyarrow
            by_bucket: dict[int, list[tuple]] = {}
            for d in aff_dirs:
                for i, g, s, c, p in _read_parquet_dir(
                    d, ["id", "source", "sh", "comp", "paired"]
                ):
                    c2 = merged_map.get(c, c)
                    by_bucket.setdefault(bucket_of_long(c2, n_buckets), []).append(
                        (i, g, s, c2, p or (i in evert))
                    )
            for row in batch_rows_local:
                by_bucket.setdefault(
                    bucket_of_long(row[3], n_buckets), []
                ).append(row)
            _write_bucketed_parquet(tmp, BUCKET_COL, by_bucket, serving_fields, gen)
            scratch.append(tmp)
            written = set(by_bucket)
        else:
            pruned = (
                spark.read.parquet(serving_path)
                .filter(F.col(BUCKET_COL).isin(affected))
                .select("id", "source", "sh", "comp", "paired")
            )
            merged_df = spark.createDataFrame(
                list(merged_map.items()) or [], "__mid long, __mc long"
            )
            everts_df = spark.createDataFrame(
                [(v,) for v in sorted(evert)] or [], "__vid long"
            ).withColumn("__touched", F.lit(True))
            batch_local_df = spark.createDataFrame(
                batch_rows_local or [],
                f"id bigint, source {grp_type}, sh bigint, comp bigint, paired boolean",
            )
            rewritten = (
                pruned.join(
                    F.broadcast(merged_df), pruned["comp"] == merged_df["__mid"], "left_outer"
                )
                .join(F.broadcast(everts_df), pruned["id"] == everts_df["__vid"], "left_outer")
                .select(
                    "id",
                    "source",
                    "sh",
                    F.coalesce("__mc", pruned["comp"]).alias("comp"),
                    (F.col("paired") | F.coalesce("__touched", F.lit(False))).alias(
                        "paired"
                    ),
                )
                .unionByName(batch_local_df)
            )
            rewritten.withColumn(
                BUCKET_COL, _bucket_expr(["comp"], n_buckets)
            ).repartition(F.col(BUCKET_COL)).write.partitionBy(BUCKET_COL).parquet(tmp)
            scratch.append(tmp)
            written = {
                int(e.split("=", 1)[1])
                for e in os.listdir(tmp)
                if e.startswith(f"{BUCKET_COL}=")
            }
    _mark("rewrite")
    man = {
        "kind": "swap",
        "gen": gen,
        "tmp": tmp,
        "swap_buckets": sorted(written & set(affected)),
        "drop_buckets": sorted(set(affected) - written),
        "file_moves": file_moves,
        "scratch": scratch,
        "geometry": {
            "bits": bits, "blocks": blocks, "max_hamming": max_hamming
        },
        "applied_marker": applied_marker,
    }
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    _mark("swap")
    if metrics is not None:
        metrics["affected_buckets"] = affected
        metrics["phases"] = _phases
    if (
        compact_journal_above is not None
        and len(journal_map) + len(jnew_rows) > compact_journal_above
    ):
        compact_components_stage(spark, serving_path)
    return True, affected


def components_upsert_batch(
    batch_df: DataFrame,
    serving_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bits: int = 32,
    max_hamming: int = 8,
    n_buckets: int = DEFAULT_COMPONENT_BUCKETS,
    n_key_buckets: int = DEFAULT_KEY_BUCKETS,
    compact_journal_above: int | None = None,
    metrics: dict | None = None,
    applied_marker: dict | None = None,
) -> list[int] | None:
    """foreachBatch body: fold one micro-batch of documents into the served
    (id, source, sh, comp, paired) component table plus its union-key
    stage and merge journal (module docstring has the layout). A batch
    that already carries an ``sh`` fingerprint column (the upstream-encode
    shape — at scale the fingerprint stage runs where the text is
    ingested, and only 8-byte hashes reach the graph maintainer) is used
    as-is; otherwise the batch is fingerprinted here.

    Per-batch I/O scales with the batch plus what it touches — NOT |state|:
    * stage scan: partition-pruned to the key buckets the batch's probe
      keys hash into, streamed against the broadcast batch keys;
    * serving scan: only the affected component-hash buckets;
    * writes: affected buckets + the batch's new unit keys + merge events.

    Returns the list of bucket ids this batch rewrote (None for the first
    generation, which writes every bucket). ``compact_journal_above``
    wires the journal-fold amortization policy into the maintainer: when
    the merge-event log would exceed the threshold after this batch, the
    committed generation is followed by compact_components_stage (one
    O(stage) rewrite buying journal-free resolution for the next
    ~threshold merges) — size it to the driver-side resolution budget.
    ``metrics``, when a dict is passed, is filled with per-batch
    observability numbers the plan pins assert on (probe_kbs,
    staged_rows_scanned, n_edges, n_merged, affected_buckets)."""
    return _upsert_batch(
        _fp_frame(batch_df, text_col, id_col, source_col, bits), None,
        serving_path, bits, max_hamming, n_buckets, n_key_buckets,
        compact_journal_above, metrics, applied_marker,
    )


def _fp_frame(
    batch_df: DataFrame, text_col: str, id_col: str, source_col: str, bits: int
) -> DataFrame:
    """An upsert batch's (id, source, sh) frame: its own ``sh`` column
    when it carries one, else fingerprinted here."""
    if "sh" not in batch_df.columns:
        batch_df = D.simhash_fingerprints(
            batch_df.select(id_col, source_col, text_col),
            text_col,
            id_col,
            carry_cols=[source_col],
            bits=bits,
            hash_hex=(bits + 3) // 4,
        )
    return batch_df.select(
        F.col(id_col).alias("id"), F.col(source_col).alias("source"), "sh"
    )


def _upsert_batch(
    fp_plan: DataFrame,
    rows: list[tuple] | None,
    serving_path: str,
    bits: int,
    max_hamming: int,
    n_buckets: int,
    n_key_buckets: int,
    compact_journal_above: int | None,
    metrics: dict | None,
    applied_marker: dict | None,
) -> list[int] | None:
    """``components_upsert_batch`` over the batch's (id, source, sh)
    frame. ``rows`` is that batch already collected — at most
    ``LOCAL_BATCH_DOCS_CAP`` rows of types ``_local_grp_type`` admits, as
    the CDC driver's one read of a micro-batch gives them — or None, and
    then one bounded collect reads it here. Only a batch past the cap, or
    one the local path declines, runs ``fp_plan`` through Spark."""
    import time as _time

    spark = fp_plan.sparkSession
    _phases: dict[str, float] = {}
    _last = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _last
        now = _time.perf_counter()
        _phases[name] = round(now - _last, 3)
        _last = now

    _recover_pending(serving_path)
    keys_path = serving_path + KEYS_SUFFIX
    journal_path = serving_path + JOURNAL_SUFFIX
    blocks = min(bits, max(10, max_hamming + 2))
    if blocks <= max_hamming:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} blocks but "
            f"bits={bits} admits at most {bits}"
        )
    have_state = os.path.isdir(serving_path)
    if have_state:
        n_buckets = _table_buckets(serving_path, n_buckets)
        if not os.path.isdir(keys_path):
            # probing an absent stage would treat EVERY batch unit as new
            # (no batch-x-state edges, self-labelled appends) — silent
            # mislabelling of the maintained graph, not a degraded mode
            raise ValueError(
                f"serving table {serving_path} exists but its union-key "
                f"stage {keys_path} is missing (pre-stage on-disk format, "
                "or a lost/renamed keys dir). Rebuild it with "
                "rebuild_components_stage(spark, serving_path, ...) "
                "before ingesting further batches."
            )
        n_key_buckets = _table_buckets(keys_path, n_key_buckets)
        _check_geometry(keys_path, bits, blocks, max_hamming)
    # small-batch local path: the type guard, then ONE bounded collect
    # decides; a batch within the cap runs the whole generation
    # in-process (see _local_upsert)
    grp_type = _local_grp_type(fp_plan.schema, "id", "source")
    if rows is None and grp_type is not None:
        got = fp_plan.limit(LOCAL_BATCH_DOCS_CAP + 1).collect()
        if len(got) <= LOCAL_BATCH_DOCS_CAP:
            rows = [tuple(r) for r in got]
    if rows is not None:
        handled, res = _local_upsert(
            spark, rows, grp_type, have_state, serving_path, keys_path,
            journal_path, bits, blocks, max_hamming, n_buckets,
            n_key_buckets, compact_journal_above, metrics, applied_marker,
        )
        if handled:
            return res
    staged = spark.read.parquet(keys_path) if have_state else None
    fp_b = fp_plan.localCheckpoint(eager=True)
    _mark("fingerprint")
    if not have_state and fp_b.isEmpty():
        # an empty first batch must not create an unreadable (schema-less)
        # serving table; the next non-empty batch becomes generation 0
        return None
    pr = D.simhash_staged_probe(
        fp_b,
        staged,
        id_col="id",
        sh_col="sh",
        group_col="source",
        bits=bits,
        blocks=blocks,
        max_hamming=max_hamming,
        key_bucket_col=KEY_BUCKET_COL,
        n_key_buckets=n_key_buckets,
    )
    journal_map = _read_journal(spark, journal_path)

    def _term(c: int) -> int:
        while c in journal_map:
            c = journal_map[c]
        return c

    # the touching contract bounds the edge set by batch size + touched
    # candidate units — collect once and run the merge as a driver-side
    # min-label union-find: at micro-batch cadence the distributed
    # fixpoint's per-round job scheduling dwarfs the actual graph work.
    # Pathological batches past the cap fall back to the fixpoint.
    _mark("probe_build")
    edge_rows = [(r[0], r[1]) for r in pr.edges.take(MAX_LOCAL_MERGE_EDGES + 1)]
    _mark("edges_take")
    if len(edge_rows) <= MAX_LOCAL_MERGE_EDGES:
        base_map = {
            r["id"]: _term(r["comp"]) for r in pr.anchor_labels.collect()
        }
        merged_map = minlabel_union_find(
            (base_map.get(a, a), base_map.get(b, b)) for a, b in edge_rows
        )
        edges = spark.createDataFrame(edge_rows, "id_a long, id_b long")
        merged = spark.createDataFrame(
            list(merged_map.items()), "__mid long, __mc long"
        )
        base_vals = set(base_map.values())
        jnew_rows = [
            [o, n]
            for o, n in merged_map.items()
            if o != n and o in base_vals
        ]
        # batch comps, driver-side: a batch vertex's label is its merged
        # target or itself — no Spark pass over batch_rows just to
        # enumerate the touched components. Only the incremental path
        # needs them: the first generation writes every bucket, so a
        # full initial load must not pay a driver collect of its ids
        if have_state:
            batch_ids = [r["id"] for r in fp_b.select("id").collect()]
            affected_vals = (
                set(merged_map) | set(merged_map.values())
                | {merged_map.get(i, i) for i in batch_ids}
            )
        else:
            affected_vals = None
        evert_ids = sorted({v for e in edge_rows for v in e})
    else:
        edges = pr.edges.localCheckpoint(eager=True)
        base = _resolve_labels(pr.anchor_labels, spark, journal_map)
        merged = contracted_merge(base, edges, "id_a", "id_b").localCheckpoint(
            eager=True
        )
        jnew_rows = None
        affected_vals = None
        evert_ids = None
    _mark("merge")
    if evert_ids is not None and len(evert_ids) <= 400_000:
        # touched-vertex set is already on the driver (the collected edge
        # endpoints): a local relation skips the union+distinct shuffle
        # that both downstream joins would otherwise re-exchange
        everts = spark.createDataFrame(
            [(v,) for v in evert_ids], "__vid long"
        ).withColumn("__touched", F.lit(True))
    else:
        everts = (
            edges.select(F.col("id_a").alias("__vid"))
            .union(edges.select("id_b"))
            .distinct()
            .withColumn("__touched", F.lit(True))
        )
    batch_rows = (
        fp_b.join(merged, fp_b["id"] == merged["__mid"], "left_outer")
        .join(everts, fp_b["id"] == everts["__vid"], "left_outer")
        .select(
            "id",
            "source",
            "sh",
            # a batch vertex enters the contracted graph under its own id
            F.coalesce("__mc", "id").alias("comp"),
            F.coalesce("__touched", F.lit(False)).alias("paired"),
        )
        # no materialization needed pre-swap: derives only from the
        # checkpointed fp_b and the batch-local merged/everts frames,
        # never from the serving files the manifest replaces
    )
    # stage append for NEW units: comp0 = the anchor's label after this
    # batch's fixpoint (current at append time; the journal covers later
    # merges)
    nu = (
        pr.new_units.join(
            merged, pr.new_units["__anchor"] == merged["__mid"], "left_outer"
        )
        .select(
            "__grp",
            "__sh",
            "__anchor",
            F.coalesce("__mc", "__anchor").alias("__comp0"),
        )
    )
    new_keys = D.staged_union_keys(nu, bits, blocks, max_hamming).withColumn(
        KEY_BUCKET_COL, _bucket_expr(["combo_id", "key_val"], n_key_buckets)
    )
    gen = uuid.uuid4().hex[:8]
    tmp_keys = f"{serving_path}__gen_{gen}_keys"
    _mark("plan_keys")

    def _write_keys() -> None:
        # the table layout is by DIRECTORY, so the per-batch append skips
        # a shuffle; incremental appends additionally coalesce to 2 tasks
        # (batch-sized rows) so each generation adds O(touched buckets)
        # files, not O(batch partitions x buckets) — at micro-batch
        # cadence the stage's FILE COUNT is what later probes pay for;
        # compact_components_stage re-clusters when it runs. The first
        # (corpus-sized) generation keeps its parallelism.
        if have_state:
            nk = new_keys.coalesce(2)
        else:
            # first (corpus-sized) generation: cluster by bucket so the
            # stage starts at ONE file per partition — later probes pay
            # for stage FILE COUNT at listing time, and an unclustered
            # initial write from P tasks seeds P x n_key_buckets files
            nk = new_keys.repartition(F.col(KEY_BUCKET_COL))
        nk.write.partitionBy(KEY_BUCKET_COL).parquet(tmp_keys)

    file_moves: list[list[str]] = []
    scratch = [tmp_keys]
    # journal append: only genuine merge EVENTS (a pre-batch current comp
    # remapped) — new-vertex contractions never anchor a stale comp0
    tmp_journal = f"{serving_path}__gen_{gen}_journal"
    if jnew_rows is None:
        jnew = (
            merged.filter(F.col("__mid") != F.col("__mc"))
            .join(
                base.select(F.col("comp").alias("__mid")).distinct(),
                "__mid",
                "left_semi",
            )
            .select(F.col("__mid").alias("old"), F.col("__mc").alias("new"))
            .localCheckpoint(eager=True)
        )
        n_jnew = jnew.count()
        if n_jnew > 0:
            jnew.coalesce(1).write.parquet(tmp_journal)
    else:
        n_jnew = len(jnew_rows)
        if n_jnew > 0:
            # merge events are DRIVER-resident on the local-merge path:
            # write the tiny journal delta with pyarrow — one fs write,
            # no Spark job scheduled at micro-batch cadence
            import pyarrow as pa
            import pyarrow.parquet as pq

            os.makedirs(tmp_journal, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "old": pa.array([r[0] for r in jnew_rows], pa.int64()),
                        "new": pa.array([r[1] for r in jnew_rows], pa.int64()),
                    }
                ),
                os.path.join(tmp_journal, f"part-00000-{gen}.parquet"),
            )
    if n_jnew > 0:
        file_moves += _move_part_files(tmp_journal, journal_path)
        scratch.append(tmp_journal)

    _mark("journal_write")
    if metrics is not None:
        metrics["probe_kbs"] = pr.probe_kbs
        metrics["n_edges"] = edges.count()
        metrics["n_merged"] = merged.count()
        if have_state and pr.probe_kbs is not None:
            _stage_scan_metrics(keys_path, pr.probe_kbs, metrics)

    if not have_state:
        # first generation: full write, bucketed layout from the start
        # (one-off — the keys write runs alongside it, same overlap as
        # the incremental path)
        nxt = serving_path + f"__gen_{gen}_full"

        def _write_full() -> None:
            batch_rows.withColumn(
                BUCKET_COL, _bucket_expr(["comp"], n_buckets)
            ).repartition(F.col(BUCKET_COL)).write.partitionBy(
                BUCKET_COL
            ).parquet(nxt)

        _run_writes(_write_keys, _write_full)
        file_moves += _move_part_files(tmp_keys, keys_path)
        scratch.append(nxt)
        man = {
            "kind": "full",
            "src": nxt,
            "n_buckets": n_buckets,
            "n_key_buckets": n_key_buckets,
            "file_moves": file_moves,
            "scratch": scratch,
            "geometry": {
                "bits": bits, "blocks": blocks, "max_hamming": max_hamming
            },
            "applied_marker": applied_marker,
        }
        _write_manifest(serving_path, man)
        _execute_manifest(serving_path, man)
        for f in pr.persisted:
            f.unpersist()
        _mark("full_write")
        if metrics is not None:
            metrics["affected_buckets"] = None
            metrics["phases"] = _phases
        return None

    # incremental generation: rewrite ONLY the buckets whose labels move.
    # ``merged`` is the contracted-fixpoint remap (batch-sized); a label
    # absent from it is untouched, so its bucket is untouched.
    if affected_vals is not None:
        # driver-side bucket math (pinned vs Spark's xxhash64): no
        # local-relation Spark job just to hash a handful of comp ids
        affected = sorted({bucket_of_long(c, n_buckets) for c in affected_vals})
    else:
        affected_comps = (
            merged.select(F.col("__mid").alias("c"))
            .unionByName(merged.select(F.col("__mc").alias("c")))
            .unionByName(batch_rows.select(F.col("comp").alias("c")))
            .distinct()
        )
        affected = sorted(
            r["b"]
            for r in affected_comps.select(
                _bucket_expr(["c"], n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
    _mark("affected")
    # prune the state read to affected buckets (partition filter — the
    # only serving rows this batch reads): a state row changes only if
    # its comp is remapped (comp in merged.__mid) or its paired flag
    # flips (a previously-unpaired row's comp IS its id, which the
    # contracted graph contains when it gains an edge) — both put
    # bucket(comp) in the affected set. No materialization: the single
    # consumer is the serving rewrite, whose write to the generation's
    # tmp dir completes BEFORE the manifest swaps these files out.
    pruned = (
        spark.read.parquet(serving_path)
        .filter(
            F.col(BUCKET_COL).isin(affected) if affected else F.lit(False)
        )
        .select("id", "source", "sh", "comp", "paired")
    )
    rewritten = (
        pruned.join(
            F.broadcast(merged), pruned["comp"] == merged["__mid"], "left_outer"
        )
        .join(everts, pruned["id"] == everts["__vid"], "left_outer")
        .select(
            "id",
            "source",
            "sh",
            F.coalesce("__mc", pruned["comp"]).alias("comp"),
            (F.col("paired") | F.coalesce("__touched", F.lit(False))).alias(
                "paired"
            ),
        )
        .unionByName(batch_rows)
    )
    _mark("pruned_read")
    tmp = f"{serving_path}__gen_{gen}"

    def _write_serving() -> None:
        rewritten.withColumn(
            BUCKET_COL, _bucket_expr(["comp"], n_buckets)
        ).repartition(F.col(BUCKET_COL)).write.partitionBy(BUCKET_COL).parquet(
            tmp
        )

    # the keys append and the serving rewrite are independent jobs on
    # independent frames: submit them CONCURRENTLY so the batch pays one
    # write latency, not two (both must land before the manifest commits
    # — the crash protocol is unchanged)
    _run_writes(_write_keys, _write_serving)
    file_moves += _move_part_files(tmp_keys, keys_path)
    scratch.append(tmp)
    _mark("rewrite")
    written = {
        int(e.split("=", 1)[1])
        for e in os.listdir(tmp)
        if e.startswith(f"{BUCKET_COL}=")
    }
    man = {
        "kind": "swap",
        "gen": gen,
        "tmp": tmp,
        "swap_buckets": sorted(written & set(affected)),
        "drop_buckets": sorted(set(affected) - written),
        "file_moves": file_moves,
        "scratch": scratch,
        "geometry": {
            "bits": bits, "blocks": blocks, "max_hamming": max_hamming
        },
        "applied_marker": applied_marker,
    }
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    for f in pr.persisted:
        f.unpersist()
    _mark("swap")
    if metrics is not None:
        metrics["affected_buckets"] = affected
        metrics["phases"] = _phases
    # amortized maintenance: once the merge journal outgrows the caller's
    # per-batch resolution budget, fold it into the stage HERE (after the
    # generation committed) — one O(stage) rewrite buys journal-free
    # resolution for the next ~threshold merge events
    if (
        compact_journal_above is not None
        and len(journal_map) + n_jnew > compact_journal_above
    ):
        compact_components_stage(spark, serving_path)
    return affected


def _part_files(d: str) -> list[str]:
    """The data files under a (possibly partitioned) table directory."""
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(d)
        for f in files
        if f.startswith("part-")
    ]


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(f) for f in _part_files(d))


def _read_parquet_dir(d: str, columns: list[str]) -> list[tuple]:
    """Driver-side read of one bucket directory (local-fs parquet, the
    maintainers' storage contract) — rows as tuples in ``columns`` order."""
    import pyarrow.parquet as pq

    if not os.path.isdir(d):
        return []
    t = pq.read_table(d, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _local_retract(
    spark: SparkSession,
    serving_path: str,
    keys_path: str,
    journal_path: str,
    del_rows: list,
    journal_map: dict[int, int],
    bits: int,
    blocks: int,
    max_hamming: int,
    n_buckets: int,
    n_key_buckets: int,
    local_merge_cap: int,
    metrics: dict | None,
    applied_marker: dict | None,
    grp_type: str,
) -> tuple[bool, list[int] | None]:
    """In-process retraction for small affected state: ``(handled,
    result)``; ``handled=False`` → caller runs the distributed body.
    Semantics identical to the distributed path (same probe keys, same
    re-solve, same stage correction and manifest); every read is the
    SAME pruned partition set, just via pyarrow instead of scheduled
    jobs. Byte gates (not row guesses) decide: affected serving buckets,
    then the touched key partitions, must each fit the cap."""
    from scylla_migrator_spark.analytics.dedup import block_union_key_rows

    if grp_type not in _PA_TYPES:
        return False, None
    driver_rows = len(del_rows) + len(journal_map)

    def _term(c: int) -> int:
        while c in journal_map:
            c = journal_map[c]
        return c

    del_ids = {r[0] for r in del_rows}
    units_del = {(r[1], r[2]) for r in del_rows}
    if any(g is None for g, _s in units_del):
        return False, None
    # 1. combo-0 stage probe, driver-side: key + bucket via the pinned
    #    twins, partitions read with pyarrow (byte-gated)
    key0 = {
        u: block_union_key_rows(u[1], bits, blocks, max_hamming)[0][1]
        for u in units_del
    }
    kb0 = sorted({bucket_of_combo_key(0, kv, n_key_buckets) for kv in key0.values()})
    kb0_dirs = [os.path.join(keys_path, f"{KEY_BUCKET_COL}={b}") for b in kb0]
    if sum(_dir_bytes(d) for d in kb0_dirs) > LOCAL_PARTITION_BYTES_CAP:
        return False, None
    want = {(u[0], kv, u[1]) for u, kv in key0.items()}
    comps_old: set[int] = set()
    n_hits = 0
    for d in kb0_dirs:
        for g, cid, kv, s, c0 in _read_parquet_dir(
            d, ["grp", "combo_id", "key_val", "sh", "comp0"]
        ):
            if cid == 0 and (g, kv, s) in want:
                comps_old.add(_term(c0))
                n_hits += 1
    driver_rows += n_hits + len(kb0)
    if not comps_old:
        return True, []
    buckets_old = sorted({bucket_of_long(c, n_buckets) for c in comps_old})
    # 2. affected serving buckets, byte-gated, read driver-side
    old_dirs = {
        b: os.path.join(serving_path, f"{BUCKET_COL}={b}") for b in buckets_old
    }
    if sum(_dir_bytes(d) for d in old_dirs.values()) > LOCAL_PARTITION_BYTES_CAP:
        return False, None
    cols = ["id", "source", "sh", "comp", "paired"]
    passthrough: list[tuple] = []
    survivors: list[tuple] = []
    for d in old_dirs.values():
        for row in _read_parquet_dir(d, cols):
            if row[3] in comps_old:
                if row[0] not in del_ids:
                    survivors.append(row)
            else:
                passthrough.append(row)
    driver_rows += len(survivors) + len(passthrough)
    # 3. re-solve the survivor subgraph (star + blocked cross per
    #    component) with the driver union-find — local_merge_cap bounds it
    units_s: dict[tuple, int] = {}  # (comp, grp, sh) -> rep (min id)
    for i, g, s, c, _p in survivors:
        u = (c, g, s)
        if u not in units_s or i < units_s[u]:
            units_s[u] = i
    edges: list[tuple[int, int]] = []
    for i, g, s, c, _p in survivors:
        rep = units_s[(c, g, s)]
        if i != rep:
            edges.append((i, rep) if i < rep else (rep, i))
    bykey: dict[tuple, list[tuple]] = {}
    for (c, g, s), rep in units_s.items():
        for j, kv in block_union_key_rows(s, bits, blocks, max_hamming):
            bykey.setdefault((c, g, j, kv), []).append((s, rep))
    n_pairs = sum(len(v) * (len(v) - 1) // 2 for v in bykey.values())
    if n_pairs > local_merge_cap or len(edges) > local_merge_cap:
        return False, None
    seen: set = set()
    for (c, g, _j, _kv), us in bykey.items():
        if len(us) < 2:
            continue
        us = sorted(us)
        for x in range(len(us)):
            for y in range(x + 1, len(us)):
                (sa, ra), (sb, rb) = us[x], us[y]
                k = (c, g, sa, sb)
                if k in seen:
                    continue
                seen.add(k)
                if _hamming(sa, sb) <= max_hamming:
                    edges.append((ra, rb) if ra < rb else (rb, ra))
    if len(edges) > local_merge_cap:
        return False, None
    labels_map = minlabel_union_find(edges)
    driver_rows += len(edges) + len(labels_map)
    relabelled = [
        (i, g, s, labels_map.get(i, i), i in labels_map)
        for i, g, s, _c, _p in survivors
    ]
    buckets_new = {bucket_of_long(r[3], n_buckets) for r in relabelled}
    extra = sorted(buckets_new - set(buckets_old))
    affected = sorted(set(buckets_old) | buckets_new)
    extra_rows: list[tuple] = []
    if extra:
        extra_dirs = [
            os.path.join(serving_path, f"{BUCKET_COL}={b}") for b in extra
        ]
        if sum(_dir_bytes(d) for d in extra_dirs) > LOCAL_PARTITION_BYTES_CAP:
            return False, None
        for d in extra_dirs:
            extra_rows.extend(_read_parquet_dir(d, cols))
        driver_rows += len(extra_rows)
    # 4. stage correction: surviving units re-anchored to their min
    #    member, dead units removed — only the touched key partitions swap
    corrected: dict[tuple, tuple[int, int]] = {}  # (grp, sh) -> (anchor, comp0)
    for (c, g, s), rep in units_s.items():
        corrected[(g, s)] = (rep, labels_map.get(rep, rep))
    touched = set(corrected) | units_del
    # each touched unit's (combo_id, key_val, key bucket), hashed once
    touched_keys = {
        (g, s): [
            (j, kv, bucket_of_combo_key(j, kv, n_key_buckets))
            for j, kv in block_union_key_rows(s, bits, blocks, max_hamming)
        ]
        for g, s in touched
    }
    kb_aff = sorted({kb for keys in touched_keys.values() for _j, _kv, kb in keys})
    driver_rows += len(kb_aff)
    kb_dirs = {
        b: os.path.join(keys_path, f"{KEY_BUCKET_COL}={b}") for b in kb_aff
    }
    if sum(_dir_bytes(d) for d in kb_dirs.values()) > LOCAL_PARTITION_BYTES_CAP:
        return False, None
    gen = uuid.uuid4().hex[:8]
    keys_by_bucket: dict[int, list[tuple]] = {}
    kcols = ["grp", "combo_id", "key_val", "sh", "anchor", "comp0"]
    for b, d in kb_dirs.items():
        for row in _read_parquet_dir(d, kcols):
            if (row[0], row[3]) not in touched:
                keys_by_bucket.setdefault(b, []).append(row)
    for (g, s), (a, c0) in corrected.items():
        for j, kv, b in touched_keys[(g, s)]:
            keys_by_bucket.setdefault(b, []).append((g, j, kv, s, a, c0))
    # 5. writes (all pyarrow) + the shared manifest protocol
    tmp = f"{serving_path}__gen_{gen}"
    scratch = [tmp]
    by_bucket: dict[int, list[tuple]] = {}
    for row in relabelled:
        by_bucket.setdefault(bucket_of_long(row[3], n_buckets), []).append(row)
    for row in passthrough + extra_rows:
        by_bucket.setdefault(bucket_of_long(row[3], n_buckets), []).append(row)
    serving_fields = [
        _pa_field("id", "bigint"),
        _pa_field("source", grp_type),
        _pa_field("sh", "bigint"),
        _pa_field("comp", "bigint"),
        _pa_field("paired", "boolean"),
    ]
    _write_bucketed_parquet(tmp, BUCKET_COL, by_bucket, serving_fields, gen)
    written = set(by_bucket)
    tmp_keys = f"{serving_path}__gen_{gen}_keys"
    scratch.append(tmp_keys)
    key_fields = [
        _pa_field("grp", grp_type),
        _pa_field("combo_id", "int"),
        _pa_field("key_val", "bigint"),
        _pa_field("sh", "bigint"),
        _pa_field("anchor", "bigint"),
        _pa_field("comp0", "bigint"),
    ]
    _write_bucketed_parquet(tmp_keys, KEY_BUCKET_COL, keys_by_bucket, key_fields, gen)
    keys_written = set(keys_by_bucket)
    kept_journal = [
        [x, y] for x, y in journal_map.items() if _term(x) not in comps_old
    ]
    man = {
        "kind": "swap",
        "gen": gen,
        "tmp": tmp,
        "swap_buckets": sorted(written & set(affected)),
        "drop_buckets": sorted(set(affected) - written),
        "keys_tmp": tmp_keys,
        "keys_swap_buckets": sorted(keys_written & set(kb_aff)),
        "keys_drop_buckets": sorted(set(kb_aff) - keys_written),
        "file_moves": [],
        "scratch": scratch,
        "geometry": {
            "bits": bits, "blocks": blocks, "max_hamming": max_hamming
        },
        "applied_marker": applied_marker,
    }
    if len(kept_journal) != len(journal_map):
        if kept_journal:
            import pyarrow as pa
            import pyarrow.parquet as pq

            tmp_journal = f"{serving_path}__gen_{gen}_journal"
            os.makedirs(tmp_journal, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "old": pa.array([r[0] for r in kept_journal], pa.int64()),
                        "new": pa.array([r[1] for r in kept_journal], pa.int64()),
                    }
                ),
                os.path.join(tmp_journal, f"part-00000-{gen}.parquet"),
            )
            scratch.append(tmp_journal)
            man["journal_tmp"] = tmp_journal
        else:
            man["journal_clear"] = True
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    if metrics is not None:
        metrics["probe_kbs"] = kb0
        metrics["buckets_old"] = list(buckets_old)
        metrics["affected_buckets"] = affected
        metrics["keys_partitions_rewritten"] = kb_aff
        metrics["n_survivor_edges"] = len(edges)
        metrics["local_merge"] = True
        metrics["local_batch"] = True
        metrics["driver_label_rows"] = len(labels_map)
        metrics["driver_rows_collected"] = driver_rows
    return True, affected


def components_retract_batch(
    batch_df: DataFrame,
    serving_path: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    bits: int = 32,
    max_hamming: int = 8,
    n_buckets: int = DEFAULT_COMPONENT_BUCKETS,
    n_key_buckets: int = DEFAULT_KEY_BUCKETS,
    metrics: dict | None = None,
    local_merge_cap: int = MAX_LOCAL_MERGE_EDGES,
    applied_marker: dict | None = None,
) -> list[int] | None:
    """DELETE documents from the maintained dedup graph — the retraction
    half of maintenance completeness (GDPR takedowns, licence pulls,
    quality recalls). Deletion is strictly harder than ingest: removing a
    bridge vertex SPLITS a component, which the insert-only merge journal
    cannot express (a split maps one retired label to MANY successors,
    and the successor depends on the anchor, not the label). The design
    therefore rewrites the affected state directly, all of it pruned:

    * the retraction record carries (id, source, sh) — the same
      upstream-encode shape ingest uses. The fingerprint is what makes
      the delete PRUNED: the unit's combo-0 stage key locates its staged
      anchor/comp0 (one partition-pruned exact probe), the journal
      resolves it to the CURRENT component, and bucket(comp) addresses
      the serving rows — never a full scan by id. (An id-only retraction
      API would need an id->comp index, a different storage trade.)
    * survivors of the affected components are re-solved from scratch:
      deletion never creates pairs and pairs never cross components, so
      the remaining pair graph is confined to each affected component —
      star + blocked cross edges among the survivors' units, merged with
      the same driver-side union-find the ingest path uses below
      ``local_merge_cap`` edges. PAST the cap (a retraction touching a
      boilerplate mega-cluster — exactly the components dedup exists to
      find) the re-solve stays distributed END TO END: labels remain a
      DataFrame (distributed fixpoint), survivors relabel through a
      shuffled join instead of a broadcast map, affected buckets derive
      from a ``distinct()`` of BUCKET ids (≤ n_buckets rows), and the
      stage correction joins the distributed labelling — the driver
      never holds more than O(batch + buckets + cap) rows either way
      (pinned: test_retract_oversized_component_stays_distributed).
      Splits, re-anchored labels, and paired-flag flips (a survivor
      whose only pair died becomes unpaired, component = own id) all
      fall out of the re-solve.
    * the union-key stage is corrected in the same generation: dead
      units' 45 key rows are removed, surviving units get their new
      anchor (min surviving member — the re-solve's star target, so the
      induction "anchor is connected to every member" is preserved for
      future ingest batches) and their comp0 rewritten to the new label.
      Only the key partitions those units hash into are swapped. Stale
      journal entries whose targets were relabelled become unreachable
      (every unit that could resolve through them just got a direct
      comp0) and are dropped by the next compaction.

    Serving buckets and key partitions swap under ONE crash manifest;
    per-batch I/O scales with the retraction batch plus the components
    it touches. Returns the serving bucket ids rewritten (None when
    there is no state)."""
    if "sh" not in batch_df.columns:
        raise ValueError(
            "retraction records must carry the 'sh' fingerprint (the "
            "upstream-encode shape): it is what locates the unit's stage "
            "keys and component bucket without a full scan — an id-only "
            "delete API would need an id->comp index"
        )
    return _retract_batch(
        _del_frame(batch_df, id_col, source_col), None, serving_path, bits,
        max_hamming, n_buckets, n_key_buckets, metrics, local_merge_cap,
        applied_marker,
    )


def _del_frame(batch_df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """A retraction batch's (__did, __grp, __sh) frame."""
    return batch_df.select(
        F.col(id_col).alias("__did"),
        F.col(source_col).alias("__grp"),
        F.col("sh").alias("__sh"),
    )


def _retract_batch(
    del_df: DataFrame,
    rows: list[tuple] | None,
    serving_path: str,
    bits: int,
    max_hamming: int,
    n_buckets: int,
    n_key_buckets: int,
    metrics: dict | None,
    local_merge_cap: int,
    applied_marker: dict | None,
) -> list[int] | None:
    """``components_retract_batch`` over the batch's (__did, __grp, __sh)
    frame; ``rows`` is that frame already collected (the CDC driver's one
    read of a micro-batch), or None to collect it here."""
    spark = del_df.sparkSession
    _recover_pending(serving_path)
    if not os.path.isdir(serving_path):
        return None
    keys_path = serving_path + KEYS_SUFFIX
    journal_path = serving_path + JOURNAL_SUFFIX
    if not os.path.isdir(keys_path):
        raise ValueError(
            f"serving table {serving_path} exists but its union-key stage "
            f"{keys_path} is missing: retraction locates victims through "
            "their combo-0 stage keys. Rebuild it with "
            "rebuild_components_stage(spark, serving_path, ...) first."
        )
    n_buckets = _table_buckets(serving_path, n_buckets)
    n_key_buckets = _table_buckets(keys_path, n_key_buckets)
    blocks = min(bits, max(10, max_hamming + 2))
    _check_geometry(keys_path, bits, blocks, max_hamming)
    # every driver-side materialization is tallied here; the scale pin
    # asserts the total is O(batch + buckets + journal + cap), NEVER
    # member-scale of an affected component
    driver_rows = 0
    del_rows = rows if rows is not None else [tuple(r) for r in del_df.collect()]
    driver_rows += len(del_rows)
    if not del_rows:
        return []
    journal_map = _read_journal(spark, journal_path)
    driver_rows += len(journal_map)
    # small-state local path (byte-gated; falls back on any cap)
    grp_type = {
        f.name: f.dataType.simpleString() for f in del_df.schema.fields
    }["__grp"]
    handled, res = _local_retract(
        spark, serving_path, keys_path, journal_path, del_rows, journal_map,
        bits, blocks, max_hamming, n_buckets, n_key_buckets,
        local_merge_cap, metrics, applied_marker, grp_type,
    )
    if handled:
        return res
    del_ids = {r[0] for r in del_rows}
    dl = spark.createDataFrame(
        del_rows, f"__did bigint, __grp {grp_type}, __sh bigint"
    )

    def _term(c: int) -> int:
        while c in journal_map:
            c = journal_map[c]
        return c

    # 1. locate the deleted units' CURRENT components via their combo-0
    #    stage key (identical fingerprints match every combo, so one
    #    combo suffices for an exact probe) — partition-pruned
    units_df = dl.select("__grp", "__sh").distinct()
    k0 = D._block_union_keys(
        units_df, "__sh", bits, blocks, max_hamming, ["__grp", "__sh"]
    ).filter(F.col("combo_id") == 0)
    kb0 = [
        r["b"]
        for r in k0.select(
            _bucket_expr(["combo_id", "key_val"], n_key_buckets).alias("b")
        )
        .distinct()
        .collect()
    ]
    staged = spark.read.parquet(keys_path)
    hits = (
        F.broadcast(k0.alias("p"))
        .join(
            staged.filter(
                F.col(KEY_BUCKET_COL).isin(kb0) & (F.col("combo_id") == 0)
            ).alias("s"),
            on=[
                F.col("p.__grp") == F.col("s.grp"),
                F.col("p.key_val") == F.col("s.key_val"),
                F.col("p.__sh") == F.col("s.sh"),
            ],
        )
        .select("p.__grp", "p.__sh", "s.comp0")
        .distinct()
        .collect()
    )
    driver_rows += len(hits) + len(kb0)
    comps_old = {_term(r["comp0"]) for r in hits}
    if not comps_old:
        return []
    buckets_old = sorted({bucket_of_long(c, n_buckets) for c in comps_old})

    # 2. read the affected buckets (the files this generation replaces)
    pruned = (
        spark.read.parquet(serving_path)
        .filter(F.col(BUCKET_COL).isin(buckets_old))
        .select("id", "source", "sh", "comp", "paired")
        .localCheckpoint(eager=True)
    )
    in_comps = F.col("comp").isin(list(comps_old))
    survivors = pruned.filter(in_comps & ~F.col("id").isin(list(del_ids)))

    # 3. re-solve the survivor subgraph: star onto per-unit min member +
    #    blocked cross candidates WITHIN each old component
    units_s = (
        survivors.groupBy("comp", "source", F.col("sh").alias("__ush"))
        .agg(F.min("id").alias("__rep"))
        .localCheckpoint(eager=True)
    )
    star = (
        survivors.alias("sv")
        .join(
            units_s.alias("u"),
            on=[
                F.col("sv.comp") == F.col("u.comp"),
                F.col("sv.source") == F.col("u.source"),
                F.col("sv.sh") == F.col("u.__ush"),
            ],
        )
        .filter(F.col("sv.id") != F.col("u.__rep"))
        .select(F.col("sv.id").alias("id_a"), F.col("u.__rep").alias("id_b"))
    )
    uk = D._block_union_keys(
        units_s.select(
            F.col("comp").alias("__c"),
            F.col("source").alias("__grp"),
            F.col("__ush").alias("__sh"),
            "__rep",
        ),
        "__sh",
        bits,
        blocks,
        max_hamming,
        ["__c", "__grp", "__sh", "__rep"],
    )
    a, b = uk.alias("a"), uk.alias("b")
    ham = F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))).cast("int")
    cross = (
        a.join(
            b,
            on=[
                F.col("a.__c") == F.col("b.__c"),
                F.col("a.__grp") == F.col("b.__grp"),
                F.col("a.combo_id") == F.col("b.combo_id"),
                F.col("a.key_val") == F.col("b.key_val"),
                F.col("a.__sh") < F.col("b.__sh"),
            ],
        )
        .filter(ham <= max_hamming)
        .select(F.col("a.__rep").alias("id_a"), F.col("b.__rep").alias("id_b"))
        .distinct()
    )
    edges_all = star.unionByName(cross)
    edge_rows = [(r[0], r[1]) for r in edges_all.take(local_merge_cap + 1)]
    local = len(edge_rows) <= local_merge_cap
    if local:
        # batch-bounded survivor graph: same justification as ingest —
        # at this size the fixpoint's per-round job scheduling dwarfs the
        # actual graph work, so a driver-side union-find is the right call
        labels_map = minlabel_union_find(edge_rows)
        driver_rows += len(edge_rows) + len(labels_map)
        lab_df = spark.createDataFrame(
            list(labels_map.items()), "__lid long, __lc long"
        )
        lab_join = F.broadcast(lab_df)
    else:
        # PAST the cap the affected component is the one thing this
        # corpus cannot bound (a boilerplate mega-cluster): the labelling
        # stays a DataFrame end to end — distributed fixpoint, shuffled
        # relabel join, bucket ids (≤ n_buckets) the only collect
        from scylla_migrator_spark.analytics.components import (
            connected_components,
        )

        driver_rows += len(edge_rows)  # the capped take, then discarded
        ed = edges_all.localCheckpoint(eager=True)
        labels_map = None
        lab_df = (
            connected_components(ed, "id_a", "id_b")
            .select(F.col("id").alias("__lid"), F.col("comp").alias("__lc"))
            .localCheckpoint(eager=True)
        )
        lab_join = lab_df
    relabelled = (
        survivors.join(
            lab_join, survivors["id"] == lab_df["__lid"], "left_outer"
        )
        .select(
            "id",
            "source",
            "sh",
            F.coalesce("__lc", "id").alias("comp"),
            F.col("__lid").isNotNull().alias("paired"),
        )
    )
    # affected buckets from the DISTRIBUTED labelling: distinct of the
    # bucket expression (≤ n_buckets rows to the driver), never the
    # member-scale survivor ids
    buckets_new = {
        r["b"]
        for r in relabelled.select(_bucket_expr(["comp"], n_buckets).alias("b"))
        .distinct()
        .collect()
    }
    driver_rows += len(buckets_new) + len(buckets_old)
    extra = sorted(buckets_new - set(buckets_old))
    affected = sorted(set(buckets_old) | buckets_new)
    pruned2 = (
        spark.read.parquet(serving_path)
        .filter(F.col(BUCKET_COL).isin(extra))
        .select("id", "source", "sh", "comp", "paired")
        .localCheckpoint(eager=True)
        if extra
        else None
    )
    rewritten = (
        pruned.filter(~in_comps)  # same-bucket passthrough
        .unionByName(relabelled)
    )
    if pruned2 is not None:
        rewritten = rewritten.unionByName(pruned2)

    gen = uuid.uuid4().hex[:8]
    tmp = f"{serving_path}__gen_{gen}"
    scratch = [tmp]

    def _write_serving() -> None:
        rewritten.withColumn(
            BUCKET_COL, _bucket_expr(["comp"], n_buckets)
        ).repartition(F.col(BUCKET_COL)).write.partitionBy(BUCKET_COL).parquet(
            tmp
        )

    # 4. correct the union-key stage: every unit of an affected component
    #    gets its post-delete anchor (min surviving member) and comp0;
    #    fully-deleted units disappear. Only their key partitions swap.
    corrected_units = (
        survivors.groupBy(
            F.col("source").alias("__grp"), F.col("sh").alias("__sh")
        )
        .agg(F.min("id").alias("__anchor"))
        .join(
            lab_join,
            F.col("__anchor") == lab_df["__lid"],
            "left_outer",
        )
        .select(
            "__grp", "__sh", "__anchor",
            F.coalesce("__lc", "__anchor").alias("__comp0"),
        )
        .localCheckpoint(eager=True)
    )
    touched_units = (
        corrected_units.select("__grp", "__sh")
        .unionByName(units_df)
        .distinct()
        .localCheckpoint(eager=True)
    )
    tk = D._block_union_keys(
        touched_units, "__sh", bits, blocks, max_hamming, ["__grp", "__sh"]
    )
    kb_aff = sorted(
        r["b"]
        for r in tk.select(
            _bucket_expr(["combo_id", "key_val"], n_key_buckets).alias("b")
        )
        .distinct()
        .collect()
    )
    driver_rows += len(kb_aff)
    # touched_units is UNIT-scale of the affected components — broadcast
    # only when the local cap already certified the component small
    tu = touched_units.select(
        F.col("__grp").alias("grp"), F.col("__sh").alias("sh")
    )
    keep_keys = (
        staged.filter(F.col(KEY_BUCKET_COL).isin(kb_aff))
        .alias("s")
        .join(
            F.broadcast(tu) if local else tu,
            ["grp", "sh"],
            "left_anti",
        )
    )
    new_keys = D.staged_union_keys(
        corrected_units, bits, blocks, max_hamming
    ).withColumn(
        KEY_BUCKET_COL, _bucket_expr(["combo_id", "key_val"], n_key_buckets)
    ).filter(F.col(KEY_BUCKET_COL).isin(kb_aff))
    tmp_keys = f"{serving_path}__gen_{gen}_keys"

    def _write_keys() -> None:
        keep_keys.select(
            "grp", "combo_id", "key_val", "sh", "anchor", "comp0",
            KEY_BUCKET_COL,
        ).unionByName(new_keys).repartition(
            F.col(KEY_BUCKET_COL)
        ).write.partitionBy(KEY_BUCKET_COL).parquet(tmp_keys)

    # serving rewrite and key-partition rewrite are independent frames
    # (both pinned upstream): one write latency, not two, per retraction
    _run_writes(_write_serving, _write_keys)
    written = {
        int(e.split("=", 1)[1])
        for e in os.listdir(tmp)
        if e.startswith(f"{BUCKET_COL}=")
    }
    scratch.append(tmp_keys)
    keys_written = {
        int(e.split("=", 1)[1])
        for e in os.listdir(tmp_keys)
        if e.startswith(f"{KEY_BUCKET_COL}=")
    }
    kept_journal = [
        [x, y] for x, y in journal_map.items() if _term(x) not in comps_old
    ]
    man = {
        "kind": "swap",
        "gen": gen,
        "tmp": tmp,
        "swap_buckets": sorted(written & set(affected)),
        "drop_buckets": sorted(set(affected) - written),
        "keys_tmp": tmp_keys,
        "keys_swap_buckets": sorted(keys_written & set(kb_aff)),
        "keys_drop_buckets": sorted(set(kb_aff) - keys_written),
        "file_moves": [],
        "scratch": scratch,
        "geometry": {
            "bits": bits, "blocks": blocks, "max_hamming": max_hamming
        },
        "applied_marker": applied_marker,
    }
    if len(kept_journal) != len(journal_map):
        if kept_journal:
            # the journal is driver-resident (merge-event metadata):
            # pyarrow write, no Spark job
            import pyarrow as pa
            import pyarrow.parquet as pq

            tmp_journal = f"{serving_path}__gen_{gen}_journal"
            os.makedirs(tmp_journal, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "old": pa.array(
                            [r[0] for r in kept_journal], pa.int64()
                        ),
                        "new": pa.array(
                            [r[1] for r in kept_journal], pa.int64()
                        ),
                    }
                ),
                os.path.join(tmp_journal, f"part-00000-{gen}.parquet"),
            )
            scratch.append(tmp_journal)
            man["journal_tmp"] = tmp_journal
        else:
            man["journal_clear"] = True
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    if metrics is not None:
        metrics["probe_kbs"] = sorted(kb0)
        metrics["buckets_old"] = list(buckets_old)
        metrics["affected_buckets"] = affected
        metrics["keys_partitions_rewritten"] = kb_aff
        metrics["n_survivor_edges"] = len(edge_rows)
        metrics["local_merge"] = local
        metrics["driver_label_rows"] = len(labels_map) if local else 0
        metrics["driver_rows_collected"] = driver_rows
    return affected


def compact_components_stage(spark: SparkSession, serving_path: str) -> int:
    """Maintenance: fold the merge journal into the union-key stage
    (rewrite every staged comp0 to its current component, then truncate
    the journal). Run when the journal's size approaches the per-batch
    resolution budget; returns the number of journal entries folded.
    Full-stage rewrite — amortized maintenance, never on the batch path."""
    _recover_pending(serving_path)
    keys_path = serving_path + KEYS_SUFFIX
    journal_path = serving_path + JOURNAL_SUFFIX
    mp = _read_journal(spark, journal_path)
    if not mp:
        return 0

    def _term(c: int) -> int:
        while c in mp:
            c = mp[c]
        return c

    if _dir_bytes(keys_path) <= LOCAL_PARTITION_BYTES_CAP:
        # small stage: the fold is a per-row comp0 -> terminal-label map
        # (every key row of a unit carries the unit's anchor/comp0, so
        # the anchor join of the distributed path reduces to _term) —
        # rewrite the partitions with pyarrow, same manifest
        kcols = ["grp", "combo_id", "key_val", "sh", "anchor", "comp0"]
        by_bucket: dict[int, list[tuple]] = {}
        grp_type = None
        for e in sorted(os.listdir(keys_path)):
            if not e.startswith(f"{KEY_BUCKET_COL}="):
                continue
            b = int(e.split("=", 1)[1])
            rows = _read_parquet_dir(os.path.join(keys_path, e), kcols)
            by_bucket[b] = [
                (g, cid, kv, s, a, _term(c0)) for g, cid, kv, s, a, c0 in rows
            ]
            if rows and grp_type is None:
                grp_type = "string" if isinstance(rows[0][0], str) else "bigint"
        gen = uuid.uuid4().hex[:8]
        tmp = f"{serving_path}__gen_{gen}_compact"
        key_fields = [
            _pa_field("grp", grp_type or "string"),
            _pa_field("combo_id", "int"),
            _pa_field("key_val", "bigint"),
            _pa_field("sh", "bigint"),
            _pa_field("anchor", "bigint"),
            _pa_field("comp0", "bigint"),
        ]
        _write_bucketed_parquet(tmp, KEY_BUCKET_COL, by_bucket, key_fields, gen)
        man = {
            "kind": "compact",
            "tmp": tmp,
            "old": f"{serving_path}__old_{gen}_keys",
            "n_key_buckets": _table_buckets(keys_path, DEFAULT_KEY_BUCKETS),
            "scratch": [tmp],
        }
        _write_manifest(serving_path, man)
        _execute_manifest(serving_path, man)
        return len(mp)
    staged = spark.read.parquet(keys_path)
    resolved = _resolve_labels(
        staged.select(F.col("anchor").alias("id"), F.col("comp0").alias("comp")),
        spark,
        mp,
    )
    folded = (
        staged.drop("comp0")
        .join(
            resolved.select(
                F.col("id").alias("anchor"), F.col("comp").alias("comp0")
            ).distinct(),
            "anchor",
        )
        .select("grp", "combo_id", "key_val", "sh", "anchor", "comp0", KEY_BUCKET_COL)
    )
    gen = uuid.uuid4().hex[:8]
    tmp = f"{serving_path}__gen_{gen}_compact"
    folded.repartition(F.col(KEY_BUCKET_COL)).write.partitionBy(
        KEY_BUCKET_COL
    ).parquet(tmp)
    man = {
        "kind": "compact",
        "tmp": tmp,
        "old": f"{serving_path}__old_{gen}_keys",
        "n_key_buckets": _table_buckets(keys_path, DEFAULT_KEY_BUCKETS),
        "scratch": [tmp],
    }
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    return len(mp)


def rebuild_components_stage(
    spark: SparkSession,
    serving_path: str,
    bits: int = 32,
    max_hamming: int = 8,
    n_key_buckets: int = DEFAULT_KEY_BUCKETS,
) -> int:
    """Migration: reconstruct the union-key stage FROM the serving table
    (pre-stage on-disk format, or a lost/renamed keys dir — the scenario
    the upsert/retract guards refuse to probe silently). One unit per
    distinct (source, sh); anchor = min member id (the same re-anchoring
    choice the retraction path makes, which preserves the ingest
    induction: an anchor shares its unit's fingerprint, so it is
    connected to every member); comp0 = the unit's CURRENT component, so
    the journal starts empty. Full-state rewrite by construction — a
    one-off migration, never on the batch path. Returns the number of
    staged units."""
    _recover_pending(serving_path)
    keys_path = serving_path + KEYS_SUFFIX
    blocks = min(bits, max(10, max_hamming + 2))
    if _dir_bytes(serving_path) <= LOCAL_PARTITION_BYTES_CAP:
        # small serving table: derive the units and their key rows
        # in-process (pinned twins), write the stage with pyarrow —
        # same manifest, no Spark jobs
        from scylla_migrator_spark.analytics.dedup import block_union_key_rows

        units_l: dict[tuple, tuple[int, int]] = {}
        grp_type = None
        for e in sorted(os.listdir(serving_path)):
            if not e.startswith(f"{BUCKET_COL}="):
                continue
            for i, g, s, c in _read_parquet_dir(
                os.path.join(serving_path, e), ["id", "source", "sh", "comp"]
            ):
                if grp_type is None:
                    grp_type = "string" if isinstance(g, str) else "bigint"
                u = (g, s)
                cur = units_l.get(u)
                if cur is None:
                    units_l[u] = (i, c)
                else:
                    units_l[u] = (min(cur[0], i), min(cur[1], c))
        by_bucket: dict[int, list[tuple]] = {}
        for (g, s), (a, c0) in units_l.items():
            for j, kv in block_union_key_rows(s, bits, blocks, max_hamming):
                by_bucket.setdefault(
                    bucket_of_combo_key(j, kv, n_key_buckets), []
                ).append((g, j, kv, s, a, c0))
        gen = uuid.uuid4().hex[:8]
        tmp = f"{serving_path}__gen_{gen}_rebuild"
        key_fields = [
            _pa_field("grp", grp_type or "string"),
            _pa_field("combo_id", "int"),
            _pa_field("key_val", "bigint"),
            _pa_field("sh", "bigint"),
            _pa_field("anchor", "bigint"),
            _pa_field("comp0", "bigint"),
        ]
        _write_bucketed_parquet(tmp, KEY_BUCKET_COL, by_bucket, key_fields, gen)
        man = {
            "kind": "compact",  # same swap shape: tmp replaces the keys dir
            "tmp": tmp,
            "old": f"{serving_path}__old_{gen}_keys",
            "n_key_buckets": n_key_buckets,
            "scratch": [tmp],
            "geometry": {
                "bits": bits, "blocks": blocks, "max_hamming": max_hamming
            },
        }
        _write_manifest(serving_path, man)
        _execute_manifest(serving_path, man)
        return len(units_l)
    units = (
        spark.read.parquet(serving_path)
        .groupBy(F.col("source").alias("__grp"), F.col("sh").alias("__sh"))
        .agg(F.min("id").alias("__anchor"), F.min("comp").alias("__comp0"))
        .localCheckpoint(eager=True)
    )
    keys = D.staged_union_keys(units, bits, blocks, max_hamming).withColumn(
        KEY_BUCKET_COL, _bucket_expr(["combo_id", "key_val"], n_key_buckets)
    )
    gen = uuid.uuid4().hex[:8]
    tmp = f"{serving_path}__gen_{gen}_rebuild"
    keys.repartition(F.col(KEY_BUCKET_COL)).write.partitionBy(
        KEY_BUCKET_COL
    ).parquet(tmp)
    man = {
        "kind": "compact",  # same swap shape: tmp replaces the keys dir
        "tmp": tmp,
        "old": f"{serving_path}__old_{gen}_keys",
        "n_key_buckets": n_key_buckets,
        "scratch": [tmp],
        "geometry": {
            "bits": bits, "blocks": blocks, "max_hamming": max_hamming
        },
    }
    _write_manifest(serving_path, man)
    _execute_manifest(serving_path, man)
    return units.count()


def components_cdc_stream(
    stream: DataFrame,
    serving_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    op_col: str = "op",
    bits: int = 32,
    max_hamming: int = 8,
    n_buckets: int = DEFAULT_COMPONENT_BUCKETS,
    n_key_buckets: int = DEFAULT_KEY_BUCKETS,
    compact_journal_above: int | None = None,
):
    """Drive a MIXED insert/delete CDC feed into the maintained component
    table: rows with ``op == 'delete'`` retract, everything else ingests
    — including rows with a NULL op (null-safe predicate: a malformed op
    must not silently vanish from both branches). Within a micro-batch,
    ingests apply before retractions, so a same-batch insert+delete nets
    to absence and a delete+reinsert across batches round-trips.

    foreachBatch is at-least-once: a crash after a generation commits
    but before the streaming checkpoint commits replays the batch. Each
    step therefore commits a (batch_id, step) marker INSIDE its
    generation's manifest, and a replayed batch no-ops the steps the
    marker already records — the upsert append is made idempotent per
    batch id (retraction is naturally idempotent: replayed victims are
    no longer staged).

    A micro-batch that carries ``sh`` is read ONCE — one collect bounded
    by ``LOCAL_BATCH_DOCS_CAP`` — and split into upserts and deletes on
    the driver; a step with no rows writes no generation. Without ``sh``,
    or past the cap, each step reads its own filtered frame. Returns the
    started query."""

    if op_col not in stream.columns:
        raise ValueError(f"CDC stream must carry an {op_col!r} column")

    def body(bdf: DataFrame, bid: int) -> None:
        st = read_applied_marker(serving_path)
        done = list(st["steps"]) if st and st.get("batch_id") == bid else []
        if "upsert" in done and "retract" in done:
            return  # replayed batch: both its generations already committed
        ups = bdf.filter(
            (F.col(op_col) != "delete") | F.col(op_col).isNull()
        ).drop(op_col)
        dels = bdf.filter(F.col(op_col) == "delete").drop(op_col)
        up_rows = del_rows = None
        types = {f.name: f.dataType.simpleString() for f in bdf.schema.fields}
        if types[op_col] == "string" and _local_grp_type(
            bdf.schema, id_col, source_col
        ):
            # ONE bounded read of the micro-batch serves both steps; the
            # op split runs on the driver under the same null-safe rule
            got = (
                bdf.select(id_col, source_col, "sh", op_col)
                .limit(LOCAL_BATCH_DOCS_CAP + 1)
                .collect()
            )
            if len(got) <= LOCAL_BATCH_DOCS_CAP:
                up_rows = [(i, g, s) for i, g, s, op in got if op != "delete"]
                del_rows = [(i, g, s) for i, g, s, op in got if op == "delete"]
        if "upsert" not in done:
            marker = {"batch_id": bid, "steps": done + ["upsert"]}
            if up_rows is None and not ups.isEmpty():
                components_upsert_batch(
                    ups,
                    serving_path,
                    id_col=id_col,
                    source_col=source_col,
                    bits=bits,
                    max_hamming=max_hamming,
                    n_buckets=n_buckets,
                    n_key_buckets=n_key_buckets,
                    compact_journal_above=compact_journal_above,
                    applied_marker=marker,
                )
            elif up_rows:
                _upsert_batch(
                    _fp_frame(ups, "text", id_col, source_col, bits), up_rows,
                    serving_path, bits, max_hamming, n_buckets, n_key_buckets,
                    compact_journal_above, None, marker,
                )
            done = done + ["upsert"]
        if "retract" not in done:
            marker = {"batch_id": bid, "steps": done + ["retract"]}
            if del_rows is None and not dels.isEmpty():
                components_retract_batch(
                    dels,
                    serving_path,
                    id_col=id_col,
                    source_col=source_col,
                    bits=bits,
                    max_hamming=max_hamming,
                    n_buckets=n_buckets,
                    n_key_buckets=n_key_buckets,
                    applied_marker=marker,
                )
            elif del_rows:
                _retract_batch(
                    _del_frame(dels, id_col, source_col), del_rows,
                    serving_path, bits, max_hamming, n_buckets, n_key_buckets,
                    None, MAX_LOCAL_MERGE_EDGES, marker,
                )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(body)
        .trigger(availableNow=True)
        .start()
    )


def incremental_components_stream(
    stream: DataFrame,
    serving_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    bits: int = 32,
    max_hamming: int = 8,
    n_buckets: int = DEFAULT_COMPONENT_BUCKETS,
    n_key_buckets: int = DEFAULT_KEY_BUCKETS,
    compact_journal_above: int | None = None,
):
    """Drive a document stream into the incrementally-maintained component
    table; returns the started query. Read the labelling with
    ``spark.read.parquet(serving_path)`` (filter ``paired`` for the
    pair-graph vertex convention). At-least-once replay of a committed
    batch is a no-op (batch-id marker committed inside the generation's
    manifest — see components_cdc_stream)."""

    def body(bdf: DataFrame, bid: int) -> None:
        st = read_applied_marker(serving_path)
        if st and st.get("batch_id") == bid and "upsert" in st["steps"]:
            return  # replayed batch: its generation already committed
        components_upsert_batch(
            bdf,
            serving_path,
            text_col,
            id_col,
            source_col,
            bits=bits,
            max_hamming=max_hamming,
            n_buckets=n_buckets,
            n_key_buckets=n_key_buckets,
            compact_journal_above=compact_journal_above,
            applied_marker={"batch_id": bid, "steps": ["upsert"]},
        )

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(body)
        .trigger(availableNow=True)
        .start()
    )
