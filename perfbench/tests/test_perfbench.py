"""Tests of the benchmark itself: deterministic inputs, valid metric names,
and correctness checks that reject planted wrong answers.

    python3 -m pytest perfbench/tests -q

None of these start Spark; the right answers are built with DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import duckdb
import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_DIR = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(dirpath, f), root).encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


GENERATORS = {
    "migrate": lambda seed, d: gen.migrate_inputs(seed, d, 2_000, 500, 4),
    "validate": lambda seed, d: gen.validate_inputs(seed, d, 2_000, 2, 10),
    "cdc": lambda seed, d: gen.cdc_inputs(seed, d, 1_000, 3, 50),
    "registry": lambda seed, d: gen.registry_inputs(seed, d, 20, 30, 200),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    make = GENERATORS[name]
    a, b, c = (str(tmp_path / x) for x in "abc")
    info_a, info_b = make(7, a), make(7, b)
    make(8, c)
    assert info_a == info_b
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(REPO_DIR, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64
        assert m["unit"] == {**run.END_TO_END, **run.PER_LAYER}[m["name"]]
    assert [w["name"] for w in spec["workloads"]] == ["product", "registry"]


def test_registry_corpus_plants_near_duplicates(tmp_path):
    gen.registry_inputs(4, str(tmp_path), 10, 2_000, 10)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    dups = docs[docs.text.str.endswith(" dup")]
    assert 0.03 < len(dups) / len(docs) < 0.07
    texts = set(docs.text)
    assert sum(t[: -len(" dup")] in texts for t in dups.text) > 0.9 * len(dups)
    assert set(" ".join(docs.text).split()) == set(gen.WORDS) | {"dup"}


def _span(sid, name, parent, start, end):
    return tracing.Span(sid, name, parent, start, end)


def test_uncovered_time_check_fails_on_a_planted_gap():
    # two operations of 10 s each, timed from 0.0 and from 20.0
    covered = [
        _span(1, "op", 0, 0.0, 10.0), _span(2, "a", 1, 0.0, 4.0), _span(3, "b", 1, 4.0, 10.0),
        _span(4, "a.inner", 2, 1.0, 2.0),
        _span(5, "op", 0, 20.0, 30.0), _span(6, "a", 5, 20.0, 30.0),
    ]
    assert tracing.uncovered_pct(covered, {1, 5}, 20.0) == pytest.approx(0.0)
    # no layer span covers 3 s of the second operation
    gap = covered[:5] + [_span(6, "a", 5, 20.0, 27.0)]
    pct = tracing.uncovered_pct(gap, {1, 5}, 20.0)
    assert pct == pytest.approx(15.0)
    assert pct > run.SELF_TIME_GAP_PCT


def test_module_calls_records_the_engine_modules_a_block_calls(tmp_path):
    pkg = tmp_path / "pkg"
    for rel, src in {
        "analytics/dedup.py": "def pairs(n):\n    return sum(range(n))\n",
        "plans/queries.py": "def row(dedup, n):\n    return dedup.pairs(n)\n\ndef control():\n    return 3\n",
    }.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(src)

    def load(rel):
        ns = {}
        path = str(pkg / rel)
        exec(compile((pkg / rel).read_text(), path, "exec"), ns)
        return type("M", (), ns)

    dedup, queries = load("analytics/dedup.py"), load("plans/queries.py")
    skip = frozenset({"plans.queries"})
    with tracing.ModuleCalls(str(pkg), skip) as row:
        queries.row(dedup, 10_000)
    assert set(row.seconds) == {"analytics.dedup"} and row.seconds["analytics.dedup"] > 0
    assert all(tracing.is_engine(m) for m in row.seconds)
    with tracing.ModuleCalls(str(pkg), skip) as control:
        queries.control()
    assert control.seconds == {}
    assert not tracing.is_engine("plans.queries") and not tracing.is_engine(None)


@pytest.fixture
def migrated(tmp_path):
    src = str(tmp_path / "src")
    info = gen.migrate_inputs(3, src, 4_000, 1_000, 4)
    return src, info


def _write_target(sql: str, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"COPY ({sql}) TO '{os.path.join(path, 'part-0.parquet')}' (FORMAT parquet)")
    return path


def test_migrate_check_accepts_the_right_target_and_rejects_planted_errors(tmp_path, migrated):
    src, info = migrated
    good = f"""SELECT id, col1 AS label, col2, col3 AS amount, col4
               FROM read_parquet('{src}/plain/*.parquet') WHERE id IS NOT NULL AND col2 < 900"""
    assert checks.migrate_plain(f"{src}/plain", _write_target(good, str(tmp_path / "ok")),
                                info["spot_ids"]) == []
    lost_row = good + " AND id <> (SELECT min(id) FROM read_parquet('" + src + "/plain/*.parquet'))"
    assert checks.migrate_plain(f"{src}/plain", _write_target(lost_row, str(tmp_path / "lost")),
                                info["spot_ids"])
    spot = info["spot_ids"][1]
    changed = good.replace("col4\n", f"CASE WHEN id = '{spot}' THEN col4 + 1 ELSE col4 END AS col4\n", 1)
    assert changed != good
    assert checks.migrate_plain(f"{src}/plain", _write_target(changed, str(tmp_path / "spot")),
                                info["spot_ids"])


def test_exploded_check_rejects_a_wrong_row_count(tmp_path, migrated):
    src, info = migrated
    want = checks.exploded_groups(f"{src}/timestamps")
    assert want > info["ts_rows"]  # rows carry one to four groups
    ok = _write_target(f"SELECT range AS id FROM range({want})", str(tmp_path / "ok"))
    short = _write_target(f"SELECT range AS id FROM range({want - 1})", str(tmp_path / "short"))
    assert checks.migrate_exploded(f"{src}/timestamps", ok) == []
    assert checks.migrate_exploded(f"{src}/timestamps", short)


def test_validation_check_rejects_miscounted_faults(tmp_path):
    info = gen.validate_inputs(5, str(tmp_path), 2_000, 2, 10)
    want, repaired = info["expected_counts"], info["expected_repaired"]
    assert checks.validation_report(dict(want), repaired, want, repaired) == []
    # within-tolerance float changes counted as differences
    over = {**want, "DifferingFieldValues": want["DifferingFieldValues"] + 10}
    assert checks.validation_report(over, repaired, want, repaired)
    assert checks.validation_report(dict(want), repaired - 1, want, repaired)


def test_cdc_check_accepts_the_replay_and_rejects_planted_errors(tmp_path):
    root = str(tmp_path)
    gen.cdc_inputs(9, root, 1_000, 4, 200)
    events = pd.concat(
        [pd.read_parquet(f"{root}/snapshot"), pd.read_parquet(f"{root}/log")], ignore_index=True
    )
    latest = events.sort_values(["ts", "event_id"]).groupby("key").tail(1)
    live = latest[latest.op != "REMOVE"].drop(columns="op").reset_index(drop=True)
    removed = latest[latest.op == "REMOVE"]
    assert len(removed) > 0
    assert checks.cdc_state(f"{root}/snapshot", f"{root}/log", live) == []
    assert checks.cdc_state(f"{root}/snapshot", f"{root}/log", live.iloc[1:])
    resurrected = pd.concat([live, removed.drop(columns="op")], ignore_index=True)
    assert checks.cdc_state(f"{root}/snapshot", f"{root}/log", resurrected)
    # applying late events as if they were newest regresses some keys
    oldest_wins = events.sort_values(["ts", "event_id"]).groupby("key").head(1)
    oldest_wins = oldest_wins[oldest_wins.op != "REMOVE"].drop(columns="op")
    assert checks.cdc_state(f"{root}/snapshot", f"{root}/log", oldest_wins)


def test_registry_check_rejects_a_changed_value():
    canon = checks.load_canon(os.path.join(REPO_DIR, "tools", "driver_sim.py"))
    want = pd.DataFrame({"o_orderkey": [3, 1, 2], "revenue": [10.5, 20.25, 1.0]})
    got = want.sample(frac=1, random_state=0)[["revenue", "o_orderkey"]]
    assert checks.registry_row("q", got, want, canon) == []
    wrong = got.copy()
    wrong.loc[wrong.o_orderkey == 1, "revenue"] = 20.26
    assert checks.registry_row("q", wrong, want, canon)
    assert checks.registry_row("q", got.iloc[1:], want, canon)
