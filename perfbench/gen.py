"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical parquet files, and the workloads build these inputs
before the program starts, outside every timer. Each generator also returns
the facts the correctness checks need (seeded fault counts, spot-check rows),
so a check never re-derives them from the program's output.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
# The registry corpus follows the statistics measured on the repository's
# fixture documents (README.md gives the numbers): the 30 words above,
# equally likely; 10 to 99 words per document; and 5% of documents a copy of
# another document with " dup" appended, a planted near-duplicate.
DUP_SHARE = 0.05
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` row-wise into ``n_files`` parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _text(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` documents of ``lo`` to ``hi - 1`` uniform draws from ``WORDS``;
    a ``DUP_SHARE`` of them, in document order, copies another document and
    appends "dup" (so a copy of a copy ends in "dup dup")."""
    words = np.array(WORDS)
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(words), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[picks[pos : pos + ln]]))
        pos += ln
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        j = (i + rng.integers(1, n)) % n
        out[i] = out[j] + " dup"
    return out


def _prefixed(prefix: str, numbers: pa.Array, width: int) -> pa.Array:
    """``prefix`` + each number, zero-padded to ``width`` digits."""
    digits = pc.utf8_lpad(pc.cast(numbers, pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def wide_rows(rng: np.random.Generator, n: int, null_pk_every: int = 1000) -> pa.Table:
    """The reference E2E schema ``(id text PK, col1 text, col2 int, col3 bigint)``
    plus a double ``col4``. Every ``null_pk_every``-th row (offset 7) has a
    null PK, about 0.1% of the table."""
    idx = np.arange(n)
    ids = _prefixed("id", pa.array(idx), 9)
    ids = pc.if_else(pa.array((idx % null_pk_every) == 7), pa.scalar(None, pa.string()), ids)
    col1 = _prefixed("v", pa.array(rng.integers(0, 1_000_000, n)), 0)
    return pa.table(
        {
            "id": ids,
            "col1": col1,
            "col2": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
            "col3": pa.array(rng.integers(-(2**40), 2**40, n)),
            "col4": pa.array(np.round(rng.uniform(0, 1000, n), 4)),
        }
    )


def migrate_inputs(seed: int, out_dir: str, n_rows: int, n_ts_rows: int, n_files: int) -> dict:
    """Parquet source for the rename/where/savepoint job and a ``cql-fixture``
    source with per-column TTL/WRITETIME companions for the exploded write."""
    rng = np.random.default_rng([seed, 1])
    plain = wide_rows(rng, n_rows)
    spot = [0, n_rows // 4, n_rows // 2, n_rows - 1]
    # spot-check rows always survive the job's `where` (col2 < 900)
    col2 = plain.column("col2").to_numpy().copy()
    col2[spot] = np.array([1, 2, 3, 4], dtype=np.int32)
    plain = plain.set_column(2, "col2", pa.array(col2))
    _write_files(plain, os.path.join(out_dir, "plain"), n_files)

    ts = wide_rows(rng, n_ts_rows)
    cols = {"id": ts.column("id")}
    # each cell draws its (ttl, writetime) from a small pool, so rows carry
    # one to four distinct groups; pool entry 0 is (null, null) and entry 1
    # has a writetime but no ttl
    ttl_pool = np.array([0, 0, 3600, 86400, 3600])
    wt_pool = np.array([0, 1_700_000_000_000_000, 1_700_000_000_000_000,
                        1_700_000_500_000_000, 1_700_000_900_000_000])
    for c in ("col1", "col2", "col3", "col4"):
        cols[c] = ts.column(c)
        pick = rng.choice(len(ttl_pool), n_ts_rows, p=[0.1, 0.3, 0.3, 0.2, 0.1])
        null_ttl = pick <= 1
        cols[f"{c}_ttl"] = pa.array(ttl_pool[pick].astype(np.int32), mask=null_ttl)
        cols[f"{c}_writetime"] = pa.array(wt_pool[pick], mask=pick == 0)
    _write_files(pa.table(cols), os.path.join(out_dir, "timestamps"), n_files)
    return {
        "spot_ids": [plain.column("id")[i].as_py() for i in spot],
        "rows": n_rows,
        "ts_rows": n_ts_rows,
    }


def validate_inputs(
    seed: int, out_dir: str, n_rows: int, n_files: int, faults: int
) -> dict:
    """A source table and a target copy carrying ``faults`` rows of each
    seeded fault: missing, extra, out-of-tolerance change, and within-
    tolerance float change (which the validator must not count)."""
    rng = np.random.default_rng([seed, 2])
    src = wide_rows(rng, n_rows)
    _write_files(src, os.path.join(out_dir, "source"), n_files)

    keep = src.filter(pc.is_valid(src.column("id")))
    order = rng.permutation(keep.num_rows)
    missing, changed, nudged = (
        order[:faults], order[faults : 2 * faults], order[2 * faults : 3 * faults]
    )
    col4 = keep.column("col4").to_numpy().copy()
    col4[changed] += 5.0  # far outside the 0.001 tolerance
    col4[nudged] += 0.0004  # inside the tolerance: not a failure
    tgt = keep.set_column(4, "col4", pa.array(col4))
    mask = np.ones(keep.num_rows, dtype=bool)
    mask[missing] = False
    tgt = tgt.filter(pa.array(mask))
    extra = wide_rows(rng, faults, null_pk_every=faults + 10)
    extra = extra.set_column(0, "id", _prefixed("xx", pa.array(np.arange(faults)), 9))
    tgt = pa.concat_tables([tgt, extra])
    _write_files(tgt, os.path.join(out_dir, "target"), n_files)
    return {
        "rows": keep.num_rows,
        "expected_counts": {
            "MissingTargetRow": faults,
            "DifferingFieldValues": faults,
            "ExtraTargetRow": faults,
        },
        "expected_repaired": faults,
    }


def cdc_inputs(
    seed: int, out_dir: str, n_keys: int, n_batches: int, batch_events: int
) -> dict:
    """A snapshot of ``n_keys`` keys and a change log of ``n_batches`` one-file
    batches. Keys are Zipf-skewed; ops are ~70% MODIFY, 20% INSERT (new keys)
    and 10% REMOVE; ~2% of events are late (older than the stored version)."""
    rng = np.random.default_rng([seed, 3])
    t0 = 1_700_000_000_000
    snap = pa.table(
        {
            "key": pa.array(np.arange(n_keys, dtype=np.int64)),
            "ts": pa.array(t0 + rng.integers(0, 1000, n_keys)),
            "event_id": pa.array(np.arange(n_keys, dtype=np.int64)),
            "op": pa.array(["INSERT"] * n_keys),
            "v1": pa.array(np.char.add("s", rng.integers(0, 10**6, n_keys).astype(str))),
            "v2": pa.array(np.round(rng.uniform(0, 100, n_keys), 3)),
        }
    )
    os.makedirs(os.path.join(out_dir, "snapshot"), exist_ok=True)
    pq.write_table(snap, os.path.join(out_dir, "snapshot", "part-00000.parquet"))

    n = n_batches * batch_events
    ops = rng.choice(np.array(["MODIFY", "INSERT", "REMOVE"]), n, p=[0.7, 0.2, 0.1])
    hot = (rng.zipf(1.3, n) - 1) % n_keys
    keys = rng.permutation(n_keys)[hot].astype(np.int64)
    new = ops == "INSERT"
    keys[new] = n_keys + rng.integers(0, n_keys // 4, int(new.sum()))
    ts = t0 + 10_000 + np.arange(n) * 10
    late = rng.random(n) < 0.02
    ts[late] = t0 + rng.integers(0, 2000, int(late.sum()))
    log = pa.table(
        {
            "key": pa.array(keys),
            "ts": pa.array(ts),
            "event_id": pa.array(n_keys + np.arange(n, dtype=np.int64)),
            "op": pa.array(ops),
            "v1": pa.array(np.char.add("s", rng.integers(0, 10**6, n).astype(str))),
            "v2": pa.array(np.round(rng.uniform(0, 100, n), 3)),
        }
    )
    log_dir = os.path.join(out_dir, "log")
    os.makedirs(log_dir, exist_ok=True)
    for b in range(n_batches):
        part = log.slice(b * batch_events, batch_events)
        pq.write_table(part, os.path.join(log_dir, f"batch-{b:05d}.parquet"))
    return {"keys": n_keys, "batches": n_batches, "events": n}


def registry_inputs(
    seed: int, out_dir: str, n_customers: int, n_docs: int, n_events: int
) -> dict:
    """The fixture tables the registry rows read (customer, orders, lineitem,
    documents, events), with the schemas and value ranges of the repository's
    test fixtures: 10 orders per customer, 4 lineitems per order, and the
    fixture corpus's word, length and near-duplicate statistics."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    nc, no, nl = n_customers, n_customers * 10, n_customers * 40
    put("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    day0 = np.datetime64("1995-01-01", "us")
    put("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2400, no).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, 2000, nl)),
        "l_suppkey": pa.array(rng.integers(0, 100, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(day0 + rng.integers(1, 2500, nl).astype("timedelta64[D]")),
    })
    text = _text(rng, n_docs, 10, 100)
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(np.array(LANGS), n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)
    ).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_events)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0, 50, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {"customers": nc, "documents": n_docs, "events": n_events}
