"""Pins for the PERSISTENT union-key stage behind the
incremental/streaming dedup-graph maintainers (components_cdc.py +
dedup.simhash_staged_probe):

* scan contract — a micro-batch's stage read is partition-pruned to the
  key buckets its own probe keys hash into (batch-sized, never |state|);
* crash safety — a generation that dies anywhere in its commit leaves the
  record naming the exact pre-batch or post-batch state, with the
  matching applied-batch marker, and the next step sweeps its files;
* journal chains — staged comp0 labels stale across several generations
  of merges resolve through the merge journal (path-compressed) and the
  labelling still equals the full recompute;
* compaction — folding the journal into the stage preserves behavior.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from scylla_migrator_spark import pathio
from scylla_migrator_spark.analytics import dedup as D
from scylla_migrator_spark.analytics.components import connected_components
from scylla_migrator_spark.streaming import components_cdc as CC


def _full_labelling(spark, rows):
    """Ground truth: min-label components over ALL hamming<=8 pairs of
    the (id, source, sh) rows seen so far."""
    fp = spark.createDataFrame(rows, "doc_id long, source string, sh long")
    pairs = D.simhash_blocked_pairs(fp, "doc_id", group_col="source").select(
        "id_a", "id_b"
    )
    return {
        (r["id"], r["comp"])
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }


def _served(spark, serving):
    return {
        (r["id"], r["comp"])
        for r in spark.read.parquet(serving).filter("paired").collect()
    }


def _upsert(spark, serving, rows, **kw):
    bdf = spark.createDataFrame(rows, "doc_id long, source string, sh long")
    return CC.components_upsert_batch(bdf, serving, id_col="doc_id", **kw)


def test_stage_probe_scan_is_partition_pruned(spark, tmp_path):
    """A micro-batch's stage scan bytes scale
    with the batch (its probe keys' buckets), not |state| — asserted on
    the actual pruned read via inputFiles + the per-batch metrics."""
    serving = str(tmp_path / "serving")
    import random

    random.seed(11)
    fps: list[int] = []
    while len(fps) < 40:
        v = random.getrandbits(32)
        if all(bin(v ^ w).count("1") >= 12 for w in fps):
            fps.append(v)
    b1 = [(i + 1, "s", fps[i]) for i in range(40)]
    assert _upsert(spark, serving, b1, n_key_buckets=64) is None
    # batch 2: ONE new near-dup unit -> <=45 probe keys -> <=45 of the 64
    # stage partitions can match
    m: dict = {}
    _upsert(spark, serving, [(100, "s", fps[0] ^ 1)], metrics=m)
    assert m["probe_kbs"] is not None and len(m["probe_kbs"]) <= 45
    assert 0 < m["staged_files_scanned"] < m["staged_files_total"]
    # the pruned scan is bounded by the touched partitions' population,
    # strictly under the full stage (40 units x 45 combos = 1800 rows)
    assert m["staged_rows_scanned"] < 1800
    assert _served(spark, serving) == _full_labelling(
        spark, b1 + [(100, "s", fps[0] ^ 1)]
    )


def _record_labelling(spark, serving):
    """The paired rows read through the record (its serving files), as a
    sorted list: a duplicated row shows."""
    files = [
        os.path.join(serving, n)
        for n in pathio.live_names(serving)
        if n.startswith(f"{CC.BUCKET_COL}=")
    ]
    df = spark.read.option("basePath", serving).parquet(*files)
    return sorted((r["id"], r["comp"]) for r in df.filter("paired").collect())


def _apply(spark, serving, bid, step, rows):
    """One step of batch ``bid`` as components_cdc_stream runs it: a no-op
    when the applied marker already records it."""
    st = CC.read_applied_marker(serving)
    done = list(st["steps"]) if st and st["batch_id"] == bid else []
    if step not in done:
        run = _upsert if step == "upsert" else _retract
        run(spark, serving, rows, applied_marker={"batch_id": bid, "steps": done + [step]})


@pytest.mark.parametrize("step", ["upsert", "retract"])
def test_crash_in_commit_leaves_one_generation(
    spark, tmp_path, table_path, crash_commit, data_files, step
):
    """A generation that dies after its data write, while writing the
    record, or while sweeping the files it replaced leaves the record
    naming the exact pre-batch labelling with the previous marker, or
    (only the sweep cut) the post-batch one with its own. The next step
    leaves no unnamed file, and replaying the crashed batch then one more
    batch ends at the full recompute."""
    (batch1, batch2), _ = _chain_feed()
    rows1 = [r[:3] for r in batch1]
    ups2 = [r[:3] for r in batch2 if r[3] == "upsert"]
    dels2 = [r[:3] for r in batch2 if r[3] == "delete"]
    rows3 = [(40, "s", 0b11111), (41, "s", 1 << 29)]
    if step == "upsert":
        crashed, before, after = ups2, rows1, rows1 + ups2
    else:
        gone = {r[0] for r in dels2}
        crashed, before = dels2, rows1 + ups2
        after = [r for r in before if r[0] not in gone]
    want_marker = {"batch_id": 1, "steps": ["upsert", "retract"][: 1 + (step == "retract")]}
    for point in crash_commit.points:
        local = str(tmp_path / step / point / "serving")
        serving = table_path(local)
        _apply(spark, serving, 0, "upsert", rows1)
        if step == "retract":
            _apply(spark, serving, 1, "upsert", ups2)
        marker = CC.read_applied_marker(serving)
        with crash_commit(serving, point):
            _apply(spark, serving, 1, step, crashed)
        committed = point == "sweep"
        want = after if committed else before
        assert _record_labelling(spark, serving) == sorted(_full_labelling(spark, want)), point
        assert CC.read_applied_marker(serving) == (want_marker if committed else marker), point
        _apply(spark, serving, 1, step, crashed)  # the at-least-once replay
        _apply(spark, serving, 2, "upsert", rows3)
        assert data_files(local) == set(pathio.live_names(serving)), point
        assert _record_labelling(spark, serving) == sorted(
            _full_labelling(spark, after + rows3)
        ), point
        assert CC.read_applied_marker(serving) == {"batch_id": 2, "steps": ["upsert"]}


def test_journal_chain_resolution_across_generations(spark, tmp_path):
    """comp0 labels written at unit introduction go stale as later
    batches merge components; a probe several generations later must
    resolve the CHAIN old->...->current through the merge journal."""
    serving = str(tmp_path / "serving")
    fam = 0b11110000
    seen = []

    def step(rows):
        seen.extend(rows)
        _upsert(spark, serving, rows)
        assert _served(spark, serving) == _full_labelling(spark, seen), rows

    step([(10, "s", fam), (11, "s", fam)])          # comp 10, unit comp0=10
    step([(5, "s", fam ^ 1)])                        # merge -> comp 5 (journal 10->5)
    step([(3, "s", fam ^ 2)])                        # resolve 10->5, merge -> 3 (5->3)
    step([(1, "s", fam ^ 4)])                        # chain 10->5->3, merge -> 1
    journal = CC._read_journal(spark, serving + CC.JOURNAL_SUFFIX)
    assert journal.get(10) == 5 and journal.get(5) == 3 and journal.get(3) == 1


def test_compact_components_stage_folds_journal(spark, tmp_path):
    serving = str(tmp_path / "serving")
    fam = 0b1100110011
    seen = [(20, "s", fam), (21, "s", fam)]
    _upsert(spark, serving, seen[:2])
    for i, d in enumerate([1, 2, 4]):
        rows = [(9 - i, "s", fam ^ d)]
        seen.extend(rows)
        _upsert(spark, serving, rows)
    assert CC._read_journal(spark, serving + CC.JOURNAL_SUFFIX)
    folded = CC.compact_components_stage(spark, serving)
    assert folded > 0
    assert CC._read_journal(spark, serving + CC.JOURNAL_SUFFIX) == {}
    # post-compaction batches still converge to the full recompute
    rows = [(2, "s", fam ^ 8), (100, "s", 1 << 20)]
    seen.extend(rows)
    _upsert(spark, serving, rows)
    assert _served(spark, serving) == _full_labelling(spark, seen)


def test_minlabel_union_find_matches_fixpoint_semantics():
    """Pure-python check (no Spark): the driver-side union-find produces
    the same {label: min-of-component} remap the iterative fixpoint
    would, on chains, merges of merges, self-edges, and singletons."""
    from scylla_migrator_spark.analytics.components import minlabel_union_find

    got = minlabel_union_find(
        [(5, 9), (9, 2), (7, 7), (10, 11), (3, 10), (2, 11), (20, 30)]
    )
    # {5,9,2,10,11,3} all collapse to 2... no: 3 < 2? 2 is min. chain:
    # 5-9-2, 10-11-3, then 2-11 merges both -> min is 2
    assert {k: v for k, v in got.items() if k != v} == {
        5: 2, 9: 2, 10: 2, 11: 2, 3: 2, 30: 20
    }
    assert got.get(2) == 2 and got.get(20) == 20
    assert 7 not in got  # self-edge never enters the contracted graph
    import random

    rnd = random.Random(7)
    for _ in range(20):
        edges = [
            (rnd.randrange(40), rnd.randrange(40)) for _ in range(rnd.randrange(1, 60))
        ]
        got = minlabel_union_find(edges)
        # brute force: BFS each component, label = min member
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        seen: set[int] = set()
        for v in adj:
            if v in seen:
                continue
            comp, frontier = {v}, [v]
            while frontier:
                u = frontier.pop()
                for w in adj[u]:
                    if w not in comp:
                        comp.add(w)
                        frontier.append(w)
            seen |= comp
            m = min(comp)
            for u in comp:
                want[u] = m
        assert got == want, (edges, got, want)


def test_cc_edge_rows_hint_skips_probe(spark, monkeypatch):
    """connected_components with an over-cap edge_rows_hint must go
    straight to the distributed fixpoint — no take(cap+1) probe, no
    driver union-find (at corpus scale that probe would compute up to
    1M+1 edge rows only to discard them). An
    at-or-under-cap hint changes nothing: the probe IS the local path's
    input collection."""
    from scylla_migrator_spark.analytics import components as C

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def boom(pairs):  # the local path must not run under an over-cap hint
        raise AssertionError("local union-find ran despite over-cap hint")

    monkeypatch.setattr(C, "minlabel_union_find", boom)
    got = {
        r["id"]: r["comp"]
        for r in C.connected_components(edges, edge_rows_hint=3_000_000).collect()
    }
    assert got == want
    monkeypatch.undo()
    # under-cap hint: local path still used, same labelling
    got_local = {
        r["id"]: r["comp"]
        for r in C.connected_components(edges, edge_rows_hint=3).collect()
    }
    assert got_local == want


def test_auto_compaction_threshold(spark, tmp_path):
    """compact_journal_above folds the journal into the stage as part of
    the batch whose merges push it past the threshold — the wired-in
    amortization policy (no manual maintenance call), with the labelling
    invariant intact across the fold."""
    serving = str(tmp_path / "serving")
    fam = 0b101010101
    seen = [(30, "s", fam), (31, "s", fam)]
    _upsert(spark, serving, seen[:2], compact_journal_above=1)
    for i, d in enumerate([1, 2, 4]):
        rows = [(9 - i, "s", fam ^ d)]
        seen.extend(rows)
        _upsert(spark, serving, rows, compact_journal_above=1)
        # each batch adds one merge event; threshold 1 folds it promptly,
        # so the journal never accumulates more than one generation
        assert len(CC._read_journal(spark, serving + CC.JOURNAL_SUFFIX)) <= 1
        assert _served(spark, serving) == _full_labelling(spark, seen)


def _retract(spark, serving, rows, **kw):
    bdf = spark.createDataFrame(rows, "doc_id long, source string, sh long")
    return CC.components_retract_batch(bdf, serving, id_col="doc_id", **kw)


def test_retract_bridge_splits_component(spark, tmp_path):
    """Deleting a bridge vertex SPLITS its component — the case the
    insert-only merge journal cannot express; the retraction path must
    re-solve the survivor subgraph and leave exactly the full-recompute
    labelling over the remaining corpus."""
    serving = str(tmp_path / "serving")
    a, b = 0b0, 0b11110000                     # ham(a,b)=4
    c = b ^ 0b1111000000000000                  # ham(b,c)=4, ham(a,c)=8
    d = c ^ 0b111100000000000000000000          # ham(c,d)=4, ham(b,d)=8, ham(a,d)=12
    far = 0x7FFFFFFF  # >= 19 bits from every chain member
    rows = [(1, "s", a), (2, "s", b), (3, "s", c), (4, "s", d), (9, "s", far)]
    _upsert(spark, serving, rows)
    assert _served(spark, serving) == _full_labelling(spark, rows)
    # delete doc 2 and 3: {1} and {4} separate; 1 still pairs with... a~c
    # gone, a~d ham=12 no -> 1 and 4 become unpaired singletons
    _retract(spark, serving, [(2, "s", b), (3, "s", c)])
    remaining = [(1, "s", a), (4, "s", d), (9, "s", far)]
    assert _served(spark, serving) == _full_labelling(spark, remaining)
    rows_now = {
        r["id"]: (r["comp"], r["paired"])
        for r in spark.read.parquet(serving).collect()
    }
    assert set(rows_now) == {1, 4, 9}
    assert rows_now[1] == (1, False) and rows_now[4] == (4, False)


def test_retract_partial_split_keeps_subclusters(spark, tmp_path):
    """A 5-vertex path loses its middle: the two remaining 2-vertex ends
    must stay paired with their own min-label, not the old component's."""
    serving = str(tmp_path / "serving")
    f0 = 0
    fps = [f0]
    for i in range(4):
        # ham(i,i+1)=5, ham(i,i+2)=10 > 8: ONLY consecutive docs pair
        fps.append(fps[-1] ^ (0b11111 << (5 * i)))
    # chain 10-11-12-13-14
    rows = [(10 + i, "s", fps[i]) for i in range(5)]
    _upsert(spark, serving, rows)
    _retract(spark, serving, [(12, "s", fps[2])])
    remaining = [r for r in rows if r[0] != 12]
    assert _served(spark, serving) == _full_labelling(spark, remaining)
    got = {r["id"]: r["comp"] for r in spark.read.parquet(serving).filter("paired").collect()}
    assert got == {10: 10, 11: 10, 13: 13, 14: 13}


def test_retract_then_ingest_keeps_invariants(spark, tmp_path):
    """After a retraction the stage's anchors/comp0 must still satisfy
    the ingest induction: deleting a unit's ANCHOR re-anchors the unit
    (future members join the right component), and a fully-deleted unit
    must not ghost-pair future docs with its dead anchor."""
    serving = str(tmp_path / "serving")
    u = 0b1010101
    f20 = 0xFFFF0000  # ham(u, f20)=20, ham(u, f20^3)=20 — genuinely far
    rows1 = [(5, "s", u), (9, "s", u), (20, "s", f20), (21, "s", f20 ^ 3)]
    _upsert(spark, serving, rows1)
    # delete the anchor (min member 5) of the identical-fp unit
    _retract(spark, serving, [(5, "s", u)])
    live = [r for r in rows1 if r[0] != 5]
    assert _served(spark, serving) == _full_labelling(spark, live)
    # new member of the re-anchored unit joins 9's component
    rows2 = [(12, "s", u)]
    _upsert(spark, serving, rows2)
    live += rows2
    assert _served(spark, serving) == _full_labelling(spark, live)
    # now delete the ENTIRE unit; a later doc with the same fingerprint
    # must form a fresh singleton-unit component, never pair with ghosts
    _retract(spark, serving, [(9, "s", u), (12, "s", u)])
    live = [r for r in live if r[0] not in (9, 12)]
    assert _served(spark, serving) == _full_labelling(spark, live)
    rows3 = [(30, "s", u)]
    _upsert(spark, serving, rows3)
    live += rows3
    assert _served(spark, serving) == _full_labelling(spark, live)
    final = {r["id"]: r["paired"] for r in spark.read.parquet(serving).collect()}
    assert final[30] is False  # no surviving near-dups -> unpaired


def test_retract_after_merge_history(spark, tmp_path):
    """Retraction on a state whose components grew through several
    journaled merges: the combo-0 probe + journal chain must locate the
    CURRENT component, and the post-delete comp0 rewrite must leave
    future batches consistent (stale journal entries unreachable)."""
    serving = str(tmp_path / "serving")
    fam = 0b11110000
    seq = [[(10, "s", fam), (11, "s", fam)], [(5, "s", fam ^ 1)], [(3, "s", fam ^ 2)]]
    live = []
    for rows in seq:
        live += rows
        _upsert(spark, serving, rows)
    # comps now labelled 3 via chain 10->5->3; delete doc 3 (the label!)
    _retract(spark, serving, [(3, "s", fam ^ 2)])
    live = [r for r in live if r[0] != 3]
    assert _served(spark, serving) == _full_labelling(spark, live)
    # keep ingesting: unit (s, fam)'s comp0 was rewritten, not journaled
    rows = [(2, "s", fam ^ 4)]
    _upsert(spark, serving, rows)
    live += rows
    assert _served(spark, serving) == _full_labelling(spark, live)


def test_maintenance_input_guards(spark, tmp_path):
    """Guard-rail pins: the retraction contract (fingerprint required),
    the CDC op column, and staged_union_keys' block geometry all fail
    FAST with actionable messages instead of deep AnalysisExceptions."""
    serving = str(tmp_path / "serving")
    _upsert(spark, serving, [(1, "s", 7)])
    no_sh = spark.createDataFrame([(1, "s")], "doc_id long, source string")
    with pytest.raises(ValueError, match="sh"):
        CC.components_retract_batch(no_sh, serving, id_col="doc_id")
    with pytest.raises(ValueError, match="op"):
        CC.components_cdc_stream(
            spark.readStream.schema("doc_id long, source string, sh long")
            .parquet(serving),
            serving,
            str(tmp_path / "ckpt"),
        )
    units = spark.createDataFrame(
        [("s", 7, 1, 1)], "__grp string, __sh long, __anchor long, __comp0 long"
    )
    with pytest.raises(ValueError, match="blocks"):
        D.staged_union_keys(units, bits=32, blocks=8, max_hamming=8)
    with pytest.raises(ValueError, match="blocks"):
        D.staged_union_keys(units, bits=8, blocks=10, max_hamming=4)


def test_retract_scan_is_bucket_pruned(spark, tmp_path):
    """Retraction's scan contract: deleting one doc touches only its
    component's serving bucket(s) and the key partitions its unit's keys
    hash into — never the full state (the combo-0 probe + bucket(comp)
    addressing)."""
    import random

    serving = str(tmp_path / "serving")
    random.seed(31)
    fps: list[int] = []
    while len(fps) < 40:
        v = random.getrandbits(32)
        if all(bin(v ^ w).count("1") >= 12 for w in fps):
            fps.append(v)
    rows = [(i + 1, "s", fps[i]) for i in range(40)]
    rows.append((100, "s", fps[0] ^ 1))  # pairs with doc 1
    _upsert(spark, serving, rows, n_key_buckets=64)
    n_serving_buckets = len(
        [e for e in os.listdir(serving) if e.startswith(f"{CC.BUCKET_COL}=")]
    )
    m: dict = {}
    _retract(spark, serving, [(100, "s", fps[0] ^ 1)], metrics=m)
    assert 0 < len(m["buckets_old"]) < n_serving_buckets
    # combo-0 probe of ONE deleted unit: a single key partition
    assert len(m["probe_kbs"]) == 1
    # keys rewrite bounded by TOUCHED units' keys (2 units x 45), never
    # the full stage (41 units x 45)
    assert 0 < len(m["keys_partitions_rewritten"]) <= 90
    live = rows[:-1]
    assert _served(spark, serving) == _full_labelling(spark, live)


def test_components_cdc_stream_mixed_ops(spark, tmp_path):
    """The CDC driver: a mixed insert/delete feed replayed as two
    micro-batches — same-batch insert+delete nets to absence, a
    cross-batch delete splits, and the final labelling equals the full
    recompute over the net-live rows."""
    import os
    import tempfile

    serving = str(tmp_path / "serving")
    f0 = 0
    fps = [f0]
    for i in range(4):
        fps.append(fps[-1] ^ (0b11111 << (5 * i)))  # consecutive-only pairs
    batch1 = [(10 + i, "s", fps[i], "upsert") for i in range(5)]
    # batch 2: extend the chain, delete the middle (12) AND a same-batch
    # insert+delete (99)
    batch2 = [
        (15, "s", fps[4] ^ (0b11111 << 20), "upsert"),
        (99, "s", 0x3FFFFFFF, "upsert"),
        (99, "s", 0x3FFFFFFF, "delete"),
        (12, "s", fps[2], "delete"),
    ]
    stage = str(tmp_path / "feed")
    schema = "doc_id long, source string, sh long, op string"
    for tag, rows in (("0", batch1), ("1", batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(stage, tag)
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage + "/*")
    )
    q = CC.components_cdc_stream(
        stream, serving, tempfile.mkdtemp(prefix="cdc_ckpt_")
    )
    q.awaitTermination()
    live = [(10 + i, "s", fps[i]) for i in range(5) if i != 2] + [
        (15, "s", fps[4] ^ (0b11111 << 20))
    ]
    assert _served(spark, serving) == _full_labelling(spark, live)
    ids = {r["id"] for r in spark.read.parquet(serving).collect()}
    assert 99 not in ids and 12 not in ids


def test_staged_probe_closure_equals_all_pairs_touching(spark):
    """dedup-level contract: closure(prior labelling + staged-probe
    edges) == closure(ALL hamming<=8 pairs) when every state unit is
    staged with a valid anchor/comp0 — the simhash_blocked_edges_touching
    guarantee reproduced by the staged generator."""
    import random

    random.seed(23)
    state = [(i + 1, "s" if i % 2 else "t", random.getrandbits(20)) for i in range(60)]
    batch = [(200 + i, "s", state[i][2] ^ (1 << (i % 5))) for i in range(10)]
    batch += [(300, "t", state[1][2]), (301, "u", 12345)]
    sdf = spark.createDataFrame(state, "id long, source string, sh long")
    bdf = spark.createDataFrame(batch, "id long, source string, sh long")
    prior_pairs = D.simhash_blocked_pairs(sdf, "id", group_col="source").select(
        "id_a", "id_b"
    )
    labels = connected_components(prior_pairs, "id_a", "id_b")
    units = (
        sdf.groupBy("source", "sh")
        .agg(F.min("id").alias("__anchor"))
        .join(
            labels.select(F.col("id").alias("__anchor"), F.col("comp")),
            "__anchor",
            "left",
        )
        .select(
            F.col("source").alias("__grp"),
            F.col("sh").alias("__sh"),
            "__anchor",
            F.coalesce("comp", "__anchor").alias("__comp0"),
        )
    )
    staged = D.staged_union_keys(units, bits=32, blocks=10, max_hamming=8)
    pr = D.simhash_staged_probe(
        bdf, staged, id_col="id", sh_col="sh", group_col="source",
        bits=32, blocks=10, max_hamming=8, materialize="checkpoint",
    )
    got = {
        (r["id"], r["comp"])
        for r in connected_components(
            prior_pairs.unionByName(pr.edges), "id_a", "id_b"
        ).collect()
    }
    alldf = sdf.unionByName(bdf)
    want_pairs = D.simhash_blocked_pairs(alldf, "id", group_col="source").select(
        "id_a", "id_b"
    )
    want = {
        (r["id"], r["comp"])
        for r in connected_components(want_pairs, "id_a", "id_b").collect()
    }
    assert got == want
    assert pr.persisted == []  # checkpoint mode leaves no cache pins

def test_retract_oversized_component_stays_distributed(spark, tmp_path):
    """Retracting from a component LARGER
    than the local-merge cap must never pull member-scale data onto the
    driver — the survivor labels stay a DataFrame (distributed fixpoint),
    survivors relabel through a join (not a broadcast dict), and the
    only collects are bucket ids / batch rows / the capped edge take.
    Asserted on the metrics hook, and the labelling must still equal the
    full recompute (splits included)."""
    serving = str(tmp_path / "serving")
    n = 200
    u = 0b1010101  # one mega-unit: 200 identical fingerprints
    far = 0x55AA1234  # >8 bits from u — an unaffected bystander comp
    rows = [(i + 1, "s", u) for i in range(n)] + [(900, "s", far), (901, "s", far ^ 1)]
    _upsert(spark, serving, rows)
    m: dict = {}
    # cap of 5 << 199 star edges forces the distributed path
    _retract(spark, serving, [(1, "s", u)], metrics=m, local_merge_cap=5)
    assert m["local_merge"] is False
    assert m["driver_label_rows"] == 0  # labels never collected
    # driver touch is O(batch + buckets + journal + cap): 1 victim + 1
    # probe hit + capped take (6) + bucket/key-partition id lists
    # (bounded by 16 + 16 + 90) — NEVER the 200-member component
    assert m["driver_rows_collected"] < n - 20
    live = [r for r in rows if r[0] != 1]
    assert _served(spark, serving) == _full_labelling(spark, live)
    # and the corrected stage still serves future batches (induction)
    _upsert(spark, serving, [(950, "s", u ^ 1)])
    assert _served(spark, serving) == _full_labelling(
        spark, live + [(950, "s", u ^ 1)]
    )
    # same retraction below the cap takes the driver union-find
    m2: dict = {}
    _retract(spark, serving, [(2, "s", u)], metrics=m2)
    assert m2["local_merge"] is True and m2["driver_label_rows"] > 0


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once — a replay of a batch
    whose generation COMMITTED (marker present) must no-op instead of
    appending the batch rows a second time; a crash BETWEEN the upsert
    and retract steps of a mixed batch must re-run only the retract."""
    import tempfile

    serving = str(tmp_path / "serving")
    f0 = 0
    fps = [f0]
    for i in range(4):
        fps.append(fps[-1] ^ (0b11111 << (5 * i)))
    batch1 = [(10 + i, "s", fps[i], "upsert") for i in range(5)]
    batch2 = [
        (15, "s", fps[4] ^ (0b11111 << 20), "upsert"),
        (12, "s", fps[2], "delete"),
    ]
    stage = str(tmp_path / "feed")
    schema = "doc_id long, source string, sh long, op string"
    for tag, rows in (("0", batch1), ("1", batch2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(stage, tag)
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage + "/*")
    )
    q = CC.components_cdc_stream(
        stream, serving, tempfile.mkdtemp(prefix="cdc_ckpt_")
    )
    q.awaitTermination()
    live = [(10 + i, "s", fps[i]) for i in range(5) if i != 2] + [
        (15, "s", fps[4] ^ (0b11111 << 20))
    ]
    want = _served(spark, serving)
    assert want == _full_labelling(spark, live)
    marker = CC.read_applied_marker(serving)
    assert marker == {"batch_id": 1, "steps": ["upsert", "retract"]}
    # full replay of the last batch (checkpoint lost / crash before the
    # streaming commit): the marker makes both steps no-ops in the
    # driver body's skip logic
    bdf = spark.createDataFrame(batch2, schema)
    st = CC.read_applied_marker(serving)
    done = list(st["steps"]) if st and st.get("batch_id") == 1 else []
    assert done == ["upsert", "retract"]  # both steps skip on replay
    # duplicate-append check: simulate the marker MISSING the retract
    # step (crash between steps) — only retract re-runs, and the
    # labelling is unchanged because its victims are already unstaged
    rec = pathio.record(serving)
    stale = {"batch_id": 1, "steps": ["upsert"]}
    pathio.commit(serving, rec["live"], {**rec["meta"], "applied": stale})
    dels = bdf.filter("op = 'delete'").drop("op")
    CC.components_retract_batch(
        dels, serving, id_col="doc_id",
        applied_marker={"batch_id": 1, "steps": ["upsert", "retract"]},
    )
    assert _served(spark, serving) == want
    ids = [r["id"] for r in spark.read.parquet(serving).collect()]
    assert len(ids) == len(set(ids))  # no duplicate (id) rows


def test_geometry_pinned_and_validated(spark, tmp_path):
    """The stage's key geometry (bits, blocks,
    max_hamming) is pinned in the keys-table meta at creation; a later
    batch probing with different geometry must RAISE, not silently match
    nothing and mislabel."""
    serving = str(tmp_path / "serving")
    _upsert(spark, serving, [(1, "s", 7), (2, "s", 6)])
    gp = os.path.join(serving + CC.KEYS_SUFFIX, CC._GEOMETRY_FILE)
    assert json.load(open(gp)) == {"bits": 32, "blocks": 10, "max_hamming": 8}
    with pytest.raises(ValueError, match="geometry"):
        _upsert(spark, serving, [(3, "s", 5)], max_hamming=4)
    with pytest.raises(ValueError, match="geometry"):
        _retract(spark, serving, [(1, "s", 7)], max_hamming=4)
    # matching geometry still flows
    _upsert(spark, serving, [(3, "s", 5)])
    assert _served(spark, serving) == _full_labelling(
        spark, [(1, "s", 7), (2, "s", 6), (3, "s", 5)]
    )


def test_missing_stage_raises_and_rebuilds(spark, tmp_path):
    """A serving table whose union-key stage is missing
    (pre-stage format / lost keys dir) must raise with a migration hint —
    silently probing an empty stage would mislabel every batch — and
    rebuild_components_stage must reconstruct an equivalent stage from
    the serving table."""
    import shutil

    serving = str(tmp_path / "serving")
    rows1 = [(1, "s", 0b1010101), (2, "s", 0b1010100), (9, "s", 1 << 30)]
    _upsert(spark, serving, rows1)
    shutil.rmtree(serving + CC.KEYS_SUFFIX)
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _upsert(spark, serving, [(3, "s", 0b1010110)])
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _retract(spark, serving, [(1, "s", 0b1010101)])
    n_units = CC.rebuild_components_stage(spark, serving)
    assert n_units == 3
    gp = os.path.join(serving + CC.KEYS_SUFFIX, CC._GEOMETRY_FILE)
    assert json.load(open(gp)) == {"bits": 32, "blocks": 10, "max_hamming": 8}
    # the rebuilt stage serves ingest AND retract correctly
    rows2 = [(3, "s", 0b1010110)]
    _upsert(spark, serving, rows2)
    assert _served(spark, serving) == _full_labelling(spark, rows1 + rows2)
    _retract(spark, serving, [(2, "s", 0b1010100)])
    live = [r for r in rows1 + rows2 if r[0] != 2]
    assert _served(spark, serving) == _full_labelling(spark, live)


def test_unrecorded_serving_table_is_adopted_not_deleted(spark, tmp_path, data_files):
    """A serving table written without a commit record and without a
    union-key stage (an earlier version's layout) is adopted, not deleted,
    by the next step: the missing-stage guard refuses the batch with its
    migration hint, and rebuild_components_stage then serves it."""
    import shutil

    serving = str(tmp_path / "serving")
    rows1 = [(1, "s", 0b1010101), (2, "s", 0b1010100), (9, "s", 1 << 30)]
    _upsert(spark, serving, rows1)
    served = _served(spark, serving)
    shutil.rmtree(serving + CC.KEYS_SUFFIX)
    shutil.rmtree(serving + CC.JOURNAL_SUFFIX, ignore_errors=True)
    os.remove(os.path.join(serving, pathio.LIVE_RECORD))
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _upsert(spark, serving, [(3, "s", 0b1010110)])
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _retract(spark, serving, [(1, "s", 0b1010101)])
    assert _served(spark, serving) == served
    assert data_files(serving) == set(pathio.live_names(serving))
    assert CC.rebuild_components_stage(spark, serving) == 3
    rows2 = [(3, "s", 0b1010110)]
    _upsert(spark, serving, rows2)
    assert _served(spark, serving) == _full_labelling(spark, rows1 + rows2)


def test_stage_lost_after_a_retraction_meets_the_guard(spark, tmp_path):
    """A union-key stage lost after a retraction, whose record still marks
    key partitions dirty, meets the missing-stage guard: the opening sweep
    skips the dirty directories that are gone."""
    import shutil

    serving = str(tmp_path / "serving")
    rows1 = [(1, "s", 0b1010101), (2, "s", 0b1010100), (9, "s", 1 << 30)]
    _upsert(spark, serving, rows1)
    _retract(spark, serving, [(2, "s", 0b1010100)])
    assert any(d.startswith("_keys/") for d in pathio.record(serving)["meta"]["dirty"])
    shutil.rmtree(serving + CC.KEYS_SUFFIX)
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _upsert(spark, serving, [(3, "s", 0b1010110)])


@pytest.mark.parametrize("nth", [1, 2])
def test_rebuild_crash_never_pins_new_geometry_on_old_keys(
    spark, tmp_path, monkeypatch, nth
):
    """A rebuild to a new geometry that dies at its ``nth`` commit leaves
    the old stage under its old pins or no stage: the next batch with the
    new geometry raises instead of probing old-geometry keys, and a
    finished rebuild then serves it. Every pair of these rows is within
    hamming 3 or beyond 8, so both geometries give the same labelling."""
    serving = str(tmp_path / "serving")
    rows1 = [(1, "s", 0), (2, "s", 0b11), (9, "s", 0xFFFF0000)]
    rows2 = [(3, "s", 0b111)]
    _upsert(spark, serving, rows1)
    commit, calls = pathio.commit, []

    def crash_nth(*args, **kwargs):
        calls.append(args)
        if len(calls) == nth:
            raise OSError("injected crash")
        return commit(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(pathio, "commit", crash_nth)
        with pytest.raises(OSError, match="injected crash"):
            CC.rebuild_components_stage(spark, serving, max_hamming=4)
    with pytest.raises(ValueError, match="rebuild_components_stage"):
        _upsert(spark, serving, rows2, max_hamming=4)
    CC.rebuild_components_stage(spark, serving, max_hamming=4)
    _upsert(spark, serving, rows2, max_hamming=4)
    assert _served(spark, serving) == _full_labelling(spark, rows1 + rows2)


def test_cdc_stream_null_op_ingests(spark, tmp_path):
    """Rows with a NULL op must ingest ('everything else
    ingests'), not vanish from both branches of the op split."""
    import tempfile

    serving = str(tmp_path / "serving")
    schema = "doc_id long, source string, sh long, op string"
    rows = [(1, "s", 7, "upsert"), (2, "s", 6, None), (3, "s", 1 << 20, None)]
    stage = str(tmp_path / "feed")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
    stream = spark.readStream.schema(schema).parquet(stage)
    q = CC.components_cdc_stream(
        stream, serving, tempfile.mkdtemp(prefix="cdc_ckpt_")
    )
    q.awaitTermination()
    assert {r["id"] for r in spark.read.parquet(serving).collect()} == {1, 2, 3}
    assert _served(spark, serving) == _full_labelling(
        spark, [(1, "s", 7), (2, "s", 6), (3, "s", 1 << 20)]
    )

def test_driver_bucket_matches_spark(spark):
    """The maintainers derive affected-bucket ids DRIVER-side (no
    local-relation Spark job per micro-batch); the Python xxh64 twin must
    match Spark's xxhash64 + pmod bit-for-bit over the signed-long
    domain, or pruning would silently read the wrong buckets."""
    import random

    from scylla_migrator_spark.streaming.rollup import (
        _bucket_expr,
        bucket_of_long,
        xxh64_long,
    )

    random.seed(7)
    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 1 << 62] + [
        random.getrandbits(64) - (1 << 63) for _ in range(200)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    got = df.select(
        F.xxhash64("c").alias("h"), _bucket_expr(["c"], 16).alias("b")
    ).collect()
    for v, r in zip(vals, got):
        assert r["h"] == xxh64_long(v), v
        assert r["b"] == bucket_of_long(v, 16), v


def test_driver_combo_key_bucket_matches_spark(spark):
    """The small-batch local path derives its stage-prune list with
    ``bucket_of_combo_key`` (xxhash64 over (combo_id int, key_val long):
    Spark chains each column's hash as the next column's seed, and hashes
    IntegerType via the 4-byte XXH64 tail path). Must match the writer's
    ``_bucket_expr(["combo_id", "key_val"], n)`` bit-for-bit or the local
    probe would scan the wrong partitions."""
    import random

    from scylla_migrator_spark.streaming.rollup import (
        _bucket_expr,
        bucket_of_combo_key,
    )

    random.seed(13)
    vals = [(0, 0), (44, -1), (7, 2**62), (45, -(2**63))] + [
        (random.randrange(0, 46), random.getrandbits(64) - (1 << 63))
        for _ in range(200)
    ]
    df = spark.createDataFrame(vals, "combo_id int, key_val long")
    got = df.select(
        "combo_id", "key_val", _bucket_expr(["combo_id", "key_val"], 64).alias("b")
    ).collect()
    for r in got:
        assert r["b"] == bucket_of_combo_key(r["combo_id"], r["key_val"], 64)


def test_driver_union_key_rows_match_spark(spark):
    """``block_union_key_rows`` (the local path's in-process key
    generator) must emit exactly the (combo_id, key_val) set of the
    ``_block_union_keys`` Catalyst forest for the same geometry — a
    mismatch would mis-key the stage append and silently break later
    probes."""
    import random

    from scylla_migrator_spark.analytics.dedup import (
        _block_union_keys,
        block_union_key_rows,
    )

    random.seed(17)
    for bits, blocks, h in ((32, 10, 8), (60, 10, 8), (60, 12, 8)):
        shs = [random.getrandbits(bits) for _ in range(20)] + [0, (1 << bits) - 1]
        df = spark.createDataFrame([(s,) for s in shs], "__sh long")
        spark_keys = {
            (r["__sh"], r["combo_id"], r["key_val"])
            for r in _block_union_keys(df, "__sh", bits, blocks, h, ["__sh"]).collect()
        }
        local_keys = {
            (s, j, kv)
            for s in shs
            for j, kv in block_union_key_rows(s, bits, blocks, h)
        }
        assert spark_keys == local_keys, (bits, blocks, h)


def _bridged_family_batches(seed=29):
    """71 (doc_id, source, sh) rows in 3 batches. Each of 8 families is
    two near-dup clusters 12 bits apart (separate components) and one
    bridge doc within 6 bits of both, which arrives in batch 2 and merges
    the two clusters' components; 15 singletons spread over the
    batches. Doc ids are shuffled so merges relabel existing docs."""
    import random

    rnd = random.Random(seed)
    ids = list(range(1, 72))
    rnd.shuffle(ids)
    first, second, third = [], [], []
    for g in range(8):
        src = f"s{g % 2}"
        a = rnd.getrandbits(32)
        b = a ^ 0xFFF
        members = [(x ^ (1 << k), src) for x in (a, b) for k in (20, 25, 30)]
        first += members[:2] + members[3:5]
        third += [members[2], members[5]]
        second.append((a ^ 0x3F, src))
    for i in range(15):
        [first, second, third][i % 3].append((rnd.getrandbits(32), f"s{i % 2}"))
    batches, n = [], 0
    for batch in (first, second, third):
        batches.append([(ids[n + i], src, sh) for i, (sh, src) in enumerate(batch)])
        n += len(batch)
    return batches


def test_distributed_upsert_matches_local_path(spark, tmp_path, monkeypatch):
    """Batches past LOCAL_BATCH_DOCS_CAP take the distributed upsert path
    (probe, merge, journal and swap as Spark jobs). Its served table must
    equal the local path's and the full recompute after every batch. The
    first two batches merge with the driver-side union-find; the last,
    past MAX_LOCAL_MERGE_EDGES, with the distributed fixpoint over labels
    resolved through the journal the second batch's merges wrote."""
    batches = _bridged_family_batches()
    assert sum(map(len, batches)) == 71
    local, dist = str(tmp_path / "local"), str(tmp_path / "dist")
    resolved = []
    real_resolve = CC._resolve_labels

    def spy_resolve(anchor_labels, spark_, mp):
        resolved.append(len(mp))
        return real_resolve(anchor_labels, spark_, mp)

    def table(serving):
        return sorted(
            tuple(r) for r in spark.read.parquet(serving)
            .select("id", "source", "sh", "comp", "paired").collect()
        )

    seen = []
    for i, rows in enumerate(batches):
        seen += rows
        _upsert(spark, local, rows)
        with monkeypatch.context() as m:
            m.setattr(CC, "LOCAL_BATCH_DOCS_CAP", -1)
            m.setattr(CC, "_local_upsert", None)  # must not be reached
            m.setattr(CC, "_resolve_labels", spy_resolve)
            if i == len(batches) - 1:
                m.setattr(CC, "MAX_LOCAL_MERGE_EDGES", 0)
            _upsert(spark, dist, rows)
        assert table(dist) == table(local)
        assert _served(spark, dist) == _full_labelling(spark, seen)
    assert len(resolved) == 1 and resolved[0] > 0


_FEED_SCHEMA = "doc_id long, source string, sh long, op string"


def _write_feed(spark, stage, batches):
    """One parquet file per micro-batch of (doc_id, source, sh, op) rows
    under ``stage`` (an empty batch is an empty file)."""
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, _FEED_SCHEMA).coalesce(1).write.parquet(
            os.path.join(stage, f"{i:02d}")
        )


def _run_feed(spark, stage, serving, checkpoint):
    """Drain the feed under ``stage`` through components_cdc_stream, one
    file per micro-batch."""
    stream = (
        spark.readStream.schema(_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage + "/*")
    )
    CC.components_cdc_stream(stream, serving, checkpoint).awaitTermination()


def _job_mark(spark) -> int:
    """The id of a one-task marker job. Spark numbers jobs in submission
    order, so the ids strictly between two marks are every job the context
    ran in between, on any thread — what a job listener would count."""
    import uuid

    sc = spark.sparkContext
    group = f"job_mark_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job mark")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    (jid,) = sc.statusTracker().getJobIdsForGroup(group)
    return jid


def _chain_feed():
    """Two micro-batches: a 5-doc chain (consecutive docs pair only), then
    a chain extension, a mid-chain delete and a same-batch insert+delete."""
    fps = [0]
    for i in range(4):
        fps.append(fps[-1] ^ (0b11111 << (5 * i)))
    batch1 = [(10 + i, "s", fps[i], "upsert") for i in range(5)]
    batch2 = [
        (15, "s", fps[4] ^ (0b11111 << 20), "upsert"),
        (99, "s", 0x3FFFFFFF, "upsert"),
        (99, "s", 0x3FFFFFFF, "delete"),
        (12, "s", fps[2], "delete"),
    ]
    live = [(10 + i, "s", fps[i]) for i in range(5) if i != 2] + [
        (15, "s", fps[4] ^ (0b11111 << 20))
    ]
    return [batch1, batch2], live


def test_cdc_stream_runs_one_job_per_step(spark, tmp_path):
    """A small micro-batch is read once, with one bounded collect, and
    every other part of its steps runs in-process: the stage probe, the
    journal read and the serving rewrite read their partitions with
    pyarrow. The two-batch mixed feed has three non-empty steps (batch 1's
    upsert, batch 2's upsert and retraction), so it may run at most three
    Spark jobs in all, counted across every thread of the context."""
    import tempfile

    batches, live = _chain_feed()
    stage, serving = str(tmp_path / "feed"), str(tmp_path / "serving")
    _write_feed(spark, stage, batches)
    before = _job_mark(spark)
    _run_feed(spark, stage, serving, tempfile.mkdtemp(prefix="cdc_ckpt_"))
    jobs = _job_mark(spark) - before - 1
    assert jobs <= 3, jobs
    assert _served(spark, serving) == _full_labelling(spark, live)


def _table_rows(spark, path, cols):
    return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())


def test_spark_and_in_process_branches_agree(spark, tmp_path, monkeypatch):
    """Past LOCAL_PARTITION_BYTES_CAP the stage probe and the serving
    rewrite run as Spark jobs (and so does the retraction). A cap of -1
    forces them on a feed with merges, journal chains and deletes: the
    serving rows, the union-key stage rows and the merge journal must be
    the ones the in-process branch writes, and both labellings must equal
    the full recompute over the net-live corpus."""
    import tempfile

    first, second, third = _bridged_family_batches()
    batches = [
        [r + ("upsert",) for r in first],
        [r + ("upsert",) for r in second] + [first[0] + ("delete",)],
        [r + ("upsert",) for r in third]
        + [second[1] + ("delete",), third[0] + ("delete",)],
    ]
    gone = {first[0][0], second[1][0], third[0][0]}
    live = [r for r in first + second + third if r[0] not in gone]
    stage = str(tmp_path / "feed")
    _write_feed(spark, stage, batches)
    state = {}
    for name, cap in (("local", CC.LOCAL_PARTITION_BYTES_CAP), ("spark", -1)):
        serving = str(tmp_path / name / "serving")
        with monkeypatch.context() as m:
            m.setattr(CC, "LOCAL_PARTITION_BYTES_CAP", cap)
            _run_feed(spark, stage, serving, tempfile.mkdtemp(prefix="cdc_ckpt_"))
        assert _served(spark, serving) == _full_labelling(spark, live), name
        state[name] = (
            _table_rows(spark, serving, ["id", "source", "sh", "comp", "paired"]),
            _table_rows(
                spark,
                serving + CC.KEYS_SUFFIX,
                ["grp", "combo_id", "key_val", "sh", "anchor", "comp0", CC.KEY_BUCKET_COL],
            ),
            CC._read_journal(spark, serving + CC.JOURNAL_SUFFIX),
        )
    assert state["spark"] == state["local"]
    assert state["local"][2]  # the feed's merges left a journal to compare


def test_cdc_stream_empty_steps_write_no_generation(spark, tmp_path, monkeypatch):
    """A step with no rows writes no generation: an upserts-only batch
    commits one (its upsert), a deletes-only batch one (its retraction), an
    empty batch none. A replay of the last committed batch (its streaming
    commit lost) is still a no-op."""
    import tempfile

    (batch1, _), _ = _chain_feed()
    ups_only = [(30, "s", (1 << 30) | 7, "upsert"), (31, "s", (1 << 30) | 6, "upsert")]
    batches = [batch1, [(12, "s", batch1[2][2], "delete")], [], ups_only]
    live = [r[:3] for r in batch1 if r[0] != 12] + [r[:3] for r in ups_only]
    generations: list = []
    real_commit = pathio.commit

    def spy(root, live, meta=None):
        generations.append((meta or {}).get("applied"))
        real_commit(root, live, meta)

    monkeypatch.setattr(pathio, "commit", spy)
    stage, serving = str(tmp_path / "feed"), str(tmp_path / "serving")
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")
    _write_feed(spark, stage, batches)
    _run_feed(spark, stage, serving, ckpt)
    assert generations == [
        {"batch_id": 0, "steps": ["upsert"]},
        {"batch_id": 1, "steps": ["upsert", "retract"]},
        {"batch_id": 3, "steps": ["upsert"]},
    ]
    assert _served(spark, serving) == _full_labelling(spark, live)
    served = _table_rows(spark, serving, ["id", "source", "sh", "comp", "paired"])
    # lose batch 3's streaming commit: the restarted query replays it
    for f in ("3", ".3.crc"):
        p = os.path.join(ckpt, "commits", f)
        if os.path.exists(p):
            os.remove(p)
    del generations[:]
    _run_feed(spark, stage, serving, ckpt)
    assert generations == []
    assert os.path.exists(os.path.join(ckpt, "commits", "3"))
    assert _table_rows(
        spark, serving, ["id", "source", "sh", "comp", "paired"]
    ) == served


def test_local_paths_count_hamming_in_twos_complement(spark, tmp_path):
    """64-bit fingerprints are signed longs. The in-process paths must
    count differing bits as Spark's ``bit_count(a ^ b)`` does, over the
    64-bit two's complement: 0 and 0x8000000000000001 are 2 bits apart,
    not the 63 ones of the XOR's magnitude. Checked on the batch-by-batch
    cross of an upsert and on the survivor re-solve of a retraction."""
    serving = str(tmp_path / "serving")
    b = -(2**63) + 1  # 0x8000000000000001
    _upsert(spark, serving, [(1, "s", 0), (2, "s", b)], bits=64)
    assert _served(spark, serving) == {(1, 1), (2, 1)}
    _upsert(spark, serving, [(3, "s", 1)], bits=64)
    assert _served(spark, serving) == {(1, 1), (2, 1), (3, 1)}
    _retract(spark, serving, [(3, "s", 1)], bits=64)
    assert _served(spark, serving) == {(1, 1), (2, 1)}
