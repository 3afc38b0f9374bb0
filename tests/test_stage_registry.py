"""The declared stage registry (``plans.queries.stage``): every build-once
artifact is declared once, keyed by what it is built from, and built in an
order derived from its declared inputs."""

from __future__ import annotations

import ast
import hashlib
import inspect
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from scylla_migrator_spark.analytics import dedup as D
from scylla_migrator_spark.analytics import text as TXT
from scylla_migrator_spark.plans import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# where the registry itself may build keys, and the two per-call output
# dirs (rewritten on every call, not stages) that name themselves after a
# fixture tag
_KEY_SITES = {
    "_publish_stage": {"_Stage.__call__"},
    "inspect.getsource": {"_source"},
    "hashlib.md5": {"_digest"},
    "_stage_tag": {"_Stage.key", "s3export_roundtrip", "shuffle_shard_manifest"},
}


def _call_sites(tree: ast.Module) -> dict[str, set[str]]:
    """Every call of a `_KEY_SITES` name, mapped to the top-level functions
    and class methods it occurs in."""
    found: dict[str, set[str]] = {k: set() for k in _KEY_SITES}
    for top in tree.body:
        if isinstance(top, ast.ClassDef):
            units = [(f"{top.name}.{m.name}", m) for m in top.body if isinstance(m, ast.FunctionDef)]
        else:
            units = [(getattr(top, "name", "<module>"), top)]
        for name, node in units:
            for n in ast.walk(node):
                if isinstance(n, ast.Call) and ast.unparse(n.func) in found:
                    found[ast.unparse(n.func)].add(name)
    return found


def test_stage_keys_are_built_only_by_the_registry():
    tree = ast.parse(open(inspect.getsourcefile(Q)).read())
    assert _call_sites(tree) == _KEY_SITES


def test_derived_order_lists_every_stage_after_its_inputs():
    waves = Q._stage_waves()
    order = [st.name for wave in waves for st in wave]
    assert sorted(order) == sorted(Q.STAGES) and len(order) == len(set(order))
    wave_of = {st.name: w for w, wave in enumerate(waves) for st in wave}
    for st in Q.STAGES.values():
        for dep in st.inputs:
            assert Q.STAGES[dep.name] is dep, (st.name, dep.name)
            assert wave_of[dep.name] < wave_of[st.name], (st.name, dep.name)


def test_every_stage_is_reached_through_the_registry():
    # bench.py times exactly the registered stages; among them are stages a
    # hand-kept build list used to miss
    for name in ("bpe_counts_8", "unigram_counts_2", "docfp60_halves", "doccdc60_feed",
                 "lsh_layout", "docs_bloomgate", "cc_state"):
        assert name in Q.STAGES
    assert len([n for n in Q.STAGES if n.startswith("qpairs_")]) == 6


def _build_one(spark, sf_dir) -> list:
    return [1]


def _build_two(spark, sf_dir) -> list:
    return [2]


def _helper_one() -> int:
    return 1


def _helper_two() -> int:
    return 2


@pytest.fixture()
def fixture_dir(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 3]}), tmp_path / "t.parquet")
    return str(tmp_path)


def test_key_changes_with_builder_source(fixture_dir):
    one = Q._Stage("s", _build_one, tables=["t"])
    assert one.key(fixture_dir) == Q._Stage("s", _build_one, tables=["t"]).key(fixture_dir)
    assert one.key(fixture_dir) != Q._Stage("s", _build_two, tables=["t"]).key(fixture_dir)


def test_key_changes_with_declared_code(fixture_dir):
    one = Q._Stage("s", _build_one, tables=["t"], code=[_helper_one])
    two = Q._Stage("s", _build_one, tables=["t"], code=[_helper_two])
    assert one.key(fixture_dir) != two.key(fixture_dir)


def test_key_changes_with_input_key(fixture_dir):
    in_one = Q._Stage("in", _build_one, tables=["t"])
    in_two = Q._Stage("in", _build_two, tables=["t"])
    one = Q._Stage("s", _build_one, inputs=[in_one])
    two = Q._Stage("s", _build_one, inputs=[in_two])
    assert one.key(fixture_dir) != two.key(fixture_dir)


def test_key_changes_with_fixture_tag(fixture_dir):
    st = Q._Stage("s", _build_one, tables=["t"])
    before = st.key(fixture_dir)
    pq.write_table(pa.table({"x": [1, 2, 3, 4]}), os.path.join(fixture_dir, "t.parquet"))
    assert st.key(fixture_dir) != before
    path = os.path.join(fixture_dir, "t.parquet")
    resized = st.key(fixture_dir)
    os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 1_000_000))
    assert st.key(fixture_dir) != resized


def _edited_key(monkeypatch, st, sf_dir: str, old: str, new: str) -> str:
    """`st`'s key as it would be after replacing `old` by `new` in its
    builder's source."""
    src = inspect.getsource(st.build)
    assert old in src
    real = Q._source
    monkeypatch.setattr(Q, "_source", lambda o: src.replace(old, new) if o is st.build else real(o))
    return Q._Stage(st.name, st.build, st.tables, st.inputs, st.code).key(sf_dir)


def test_edits_the_old_keys_missed_now_change_the_key(monkeypatch, sf_dir):
    """Two stale-key cases of the hand-built keys. The star-edge stage
    hashed simhash_hamming_pairs' source instead of its own build body,
    and the fingerprint feed was keyed on the fixture alone; so editing
    `blocks=10` in the one or the fingerprint helper call in the other kept
    serving the old stage. Both edits now change the key."""
    star = Q.STAGES["simhash_wstar"]

    def old_star_key() -> str:  # the hand-built key, as it read before
        code = (Q._source(Q.QUERIES["simhash_hamming_pairs"]) + Q._source(Q._fan)
                + Q._source(D) + Q._source(TXT))
        return hashlib.md5(code.encode()).hexdigest()[:8] + Q._stage_tag(sf_dir, "documents")

    before_old, before_new = old_star_key(), star.key(sf_dir)
    after_new = _edited_key(monkeypatch, star, sf_dir, "blocks=10", "blocks=11")
    assert old_star_key() == before_old  # the old key missed the edit
    assert after_new != before_new
    monkeypatch.undo()

    # the feed's old key was `_stage_tag(sf_dir, "documents")` alone
    feed = Q.STAGES["docfp60_halves"]
    before = feed.key(sf_dir)
    assert _edited_key(monkeypatch, feed, sf_dir, '"doc_id")', '"source")') != before


def test_stage_publishes_through_module_publish_and_checks_inputs(monkeypatch, tmp_path, fixture_dir):
    """Stages publish through `queries._publish_stage` looked up at call
    time (the benchmark trace wraps that name); a builder that reads a
    stage it did not declare fails instead of building under a key that
    does not cover that stage."""
    monkeypatch.setenv("SGS_STAGE_ROOT", str(tmp_path / "stages"))
    os.makedirs(tmp_path / "stages")
    published = []
    real = Q._publish_stage
    monkeypatch.setattr(Q, "_publish_stage", lambda p, b: published.append(p) or real(p, b))

    base = Q._Stage("base", _build_one, tables=["t"])

    def reads_base(spark, sf_dir) -> list:
        return base(spark, sf_dir) + [3]

    ok = Q._Stage("ok", reads_base, inputs=[base])
    assert ok(None, fixture_dir) == [1, 3]
    assert len(published) == 2  # ok, then base from inside ok's build
    assert ok(None, fixture_dir) == [1, 3]  # published: read back, not rebuilt
    assert sorted(os.listdir(tmp_path / "stages")) == sorted(os.path.basename(p) for p in set(published))

    bad = Q._Stage("bad", reads_base)
    with pytest.raises(RuntimeError, match="does not declare"):
        bad(None, fixture_dir)


def test_reader_cache_drops_a_stopped_session(sf_dir):
    """Cached readers hold their session; once the session stops, its
    entry goes (run in a child process: it stops its own sessions)."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from scylla_migrator_spark.session import get_spark
from scylla_migrator_spark.plans import queries as Q
s1 = get_spark("cache-a", cpus=1)
Q._t(s1, {sf_dir!r}, "orders")
assert list(Q._READER_CACHE) == [s1]
s1.stop()
s2 = get_spark("cache-b", cpus=1)
assert s2 is not s1
Q._t(s2, {sf_dir!r}, "orders")
assert list(Q._READER_CACHE) == [s2], Q._READER_CACHE
s2.stop()
print("OK")
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=300)
    assert out.stdout.strip().endswith("OK"), out.stderr[-2000:]
