"""Independent answers for every workload, computed with DuckDB from the
generated inputs, and the checks that compare the program's outputs to them.

Each check returns a list of problems; an empty list means the output is
correct. The checks run outside every timer, and a failed check counts as a
failed operation.
"""

from __future__ import annotations

import ast
import math
import os

import duckdb


def _pq(path: str) -> str:
    """DuckDB table expression over every parquet file under ``path``."""
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}')"


def migrate_plain(src_dir: str, tgt_dir: str, spot_ids: list[str]) -> list[str]:
    """Rename + where migration: the target holds exactly the non-null-PK
    source rows that pass ``col2 < 900``, and the spot-check rows (the
    reference ThroughputBenchmarkSupport gate) carry the source values under
    their renamed columns."""
    con = duckdb.connect()
    want = con.sql(
        f"SELECT count(*) FROM {_pq(src_dir)} WHERE id IS NOT NULL AND col2 < 900"
    ).fetchone()[0]
    got = con.sql(f"SELECT count(*) FROM {_pq(tgt_dir)}").fetchone()[0]
    problems = [] if got == want else [f"target rows {got} != expected {want}"]
    ids = ", ".join(f"'{i}'" for i in spot_ids)
    src = con.sql(
        f"SELECT id, col1, col2, col3, col4 FROM {_pq(src_dir)} WHERE id IN ({ids}) ORDER BY id"
    ).fetchall()
    tgt = con.sql(
        f"SELECT id, label, col2, amount, col4 FROM {_pq(tgt_dir)} WHERE id IN ({ids}) ORDER BY id"
    ).fetchall()
    if src != tgt or len(src) != len(spot_ids):
        problems.append(f"spot-check rows differ: {src} vs {tgt}")
    return problems


def exploded_groups(src_dir: str) -> int:
    """Rows the exploded TTL/WRITETIME write must produce: per non-null-PK
    source row, its distinct (ttl, writetime) pairs, less the (null, null)
    pair when the row has other pairs (the tombstone-avoidance rule)."""
    pairs = " UNION ALL ".join(
        f"SELECT id, {c}_ttl AS t, {c}_writetime AS w FROM s" for c in ("col1", "col2", "col3", "col4")
    )
    sql = f"""
    WITH s AS (SELECT * FROM {_pq(src_dir)} WHERE id IS NOT NULL),
    p AS (SELECT DISTINCT id, t, w FROM ({pairs})),
    g AS (SELECT id, count(*) AS n,
                 count(*) FILTER (WHERE t IS NULL AND w IS NULL) AS nn
          FROM p GROUP BY id)
    SELECT sum(CASE WHEN n > 1 AND nn > 0 THEN n - 1 ELSE n END) FROM g
    """
    con = duckdb.connect()
    return int(con.sql(sql).fetchone()[0])


def migrate_exploded(src_dir: str, tgt_dir: str) -> list[str]:
    con = duckdb.connect()
    got = con.sql(f"SELECT count(*) FROM {_pq(tgt_dir)}").fetchone()[0]
    want = exploded_groups(src_dir)
    return [] if got == want else [f"exploded rows {got} != expected {want}"]


def validation_report(counts: dict, repaired: int, expected_counts: dict, expected_repaired: int) -> list[str]:
    """The validator's failure counts and repaired rows equal the seeded faults."""
    problems = []
    if dict(counts) != expected_counts:
        problems.append(f"counts_by_kind {dict(counts)} != seeded {expected_counts}")
    if repaired != expected_repaired:
        problems.append(f"repaired_rows {repaired} != seeded {expected_repaired}")
    return problems


CDC_COLUMNS = ("key", "ts", "event_id", "v1", "v2")


def cdc_state(snapshot_dir: str, log_dir: str, current) -> list[str]:
    """``current`` (a pandas frame of ``CdcReplicator.current()``) equals a
    newest-(ts, event_id)-wins replay of snapshot + log, tombstones removed."""
    con = duckdb.connect()
    cols = ", ".join(CDC_COLUMNS)
    con.sql(
        f"""CREATE VIEW oracle AS
        WITH ev AS (SELECT * FROM {_pq(snapshot_dir)} UNION ALL SELECT * FROM {_pq(log_dir)}),
        r AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev)
        SELECT {cols} FROM r WHERE rn = 1 AND op <> 'REMOVE'"""
    )
    cur = current[list(CDC_COLUMNS)]  # noqa: F841 - read by DuckDB's replacement scan
    n_want = con.sql("SELECT count(*) FROM oracle").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM oracle EXCEPT ALL SELECT {cols} FROM cur)").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM cur EXCEPT ALL SELECT {cols} FROM oracle)").fetchone()[0]
    if missing or extra or len(cur) != n_want:
        return [f"state has {len(cur)} rows, replay {n_want}: {missing} missing, {extra} unexpected"]
    return []


def load_canon(driver_sim_path: str):
    """The ``canon`` function of ``tools/driver_sim.py``, taken from
    its source so that importing it runs none of the script's set-up."""
    with open(driver_sim_path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    namespace = {"math": math}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), driver_sim_path, "exec"), namespace)
    return namespace["canon"]


def registry_oracle(oracle_sql: str, tables_dir: str):
    """The oracle's answer as a pandas frame, over the generated tables."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(tables_dir, f)}'")
    return con.sql(oracle_sql).df()


def registry_row(name: str, got, want, canon) -> list[str]:
    """A registry row's pandas output hash-matches its oracle's answer under
    the ``tools/driver_sim.py`` canonicalizer (sorted columns, sorted rows,
    floats to nine significant digits)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    if hash(tuple(canon(got))) != hash(tuple(canon(want))):
        return [f"{name}: values differ from the oracle"]
    return []
