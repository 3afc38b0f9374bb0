"""Streaming CDC tests: file-source replay of the events table through the
foreachBatch merge; final state must equal the batch cdc_last_state query
(FIXTURES.md F8 semantics: INSERT/MODIFY upsert, REMOVE delete,
at-least-once idempotency)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scylla_migrator_spark.pathio import commit, live_paths
from scylla_migrator_spark.plans.queries import cdc_last_state, cdc_op_column
from scylla_migrator_spark.streaming.cdc import CdcReplicator


def _events_with_op(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("op", cdc_op_column())
        .select("user_id", "ts", "event_id", "op", "value")
    )


def test_stream_replay_matches_batch_state(spark, sf_dir, tmp_path, table_path):
    events = _events_with_op(spark, sf_dir)
    # replay the event log as a 4-file stream (micro-batch simulation)
    stream_src = table_path(tmp_path / "stream_src")
    events.repartition(4).write.parquet(stream_src)

    target = table_path(tmp_path / "cdc_target")
    rep = CdcReplicator(target_path=target, key_cols=["user_id"], value_cols=["value"])
    stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(stream_src)
    q = rep.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = rep.current(spark).select(
        "user_id", F.col("event_id").alias("last_event_id"), F.col("value").alias("last_value")
    )
    want = cdc_last_state(spark, sf_dir).select("user_id", "last_event_id", "last_value")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # multiple micro-batches actually ran
    assert len(rep.metrics) >= 2


def test_replay_is_idempotent(spark, sf_dir, tmp_path, table_path):
    events = _events_with_op(spark, sf_dir)
    target = table_path(tmp_path / "cdc_target2")
    rep = CdcReplicator(target_path=target, key_cols=["user_id"], value_cols=["value"])
    rep.apply_batch(events, 0)
    first = spark.read.parquet(*live_paths(target)).collect()
    rep.apply_batch(events, 1)  # at-least-once: same batch delivered twice
    second = spark.read.parquet(*live_paths(target)).collect()
    assert sorted(map(str, first)) == sorted(map(str, second))


def test_remove_deletes_key(spark, tmp_path, table_path):
    rows = [
        (1, 100, 1, "INSERT", 1.0),
        (1, 200, 2, "REMOVE", None),
        (2, 100, 3, "INSERT", 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts bigint, event_id bigint, op string, value double")
    target = table_path(tmp_path / "cdc_target3")
    rep = CdcReplicator(target_path=target, key_cols=["user_id"], value_cols=["value"])
    rep.apply_batch(df, 0)
    assert [r["user_id"] for r in rep.current(spark).collect()] == [2]
    # late-arriving older event must not resurrect the deleted key
    late = spark.createDataFrame(
        [(1, 150, 9, "MODIFY", 9.9)], "user_id bigint, ts bigint, event_id bigint, op string, value double"
    )
    rep.apply_batch(late, 1)
    assert [r["user_id"] for r in rep.current(spark).collect()] == [2]


def test_upsert_parquet_replaces_keys(spark, tmp_path):
    """rollup.upsert_parquet: last-writer-wins by key, atomic generation swap."""
    from scylla_migrator_spark.streaming.rollup import upsert_parquet

    path = str(tmp_path / "serving")
    g1 = spark.createDataFrame([("a", 1, 10), ("b", 1, 20)], "k string, day int, total int")
    upsert_parquet(g1, path, ["k", "day"])
    g2 = spark.createDataFrame([("a", 1, 15), ("c", 1, 30)], "k string, day int, total int")
    upsert_parquet(g2, path, ["k", "day"])
    rows = {(r["k"], r["day"]): r["total"] for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1): 15, ("b", 1): 20, ("c", 1): 30}


def test_upsert_crash_in_commit_leaves_one_generation(
    spark, tmp_path, table_path, crash_commit, data_files
):
    """An upsert that dies after its data write, while writing the record,
    or while sweeping the bucket files it replaced leaves the record naming
    the previous table, or (only the sweep cut) the new one. Its replay
    ends where one upsert ends, and leaves no unnamed file."""
    from scylla_migrator_spark import pathio
    from scylla_migrator_spark.streaming.rollup import upsert_parquet

    g1 = [(k, k * 10) for k in range(20)]
    g2 = [(3, 333), (21, 210)]
    before, after = sorted(g1), sorted({**dict(g1), **dict(g2)}.items())

    def record_rows(path):
        df = pathio.read_live(spark.read, path)
        return sorted((r["k"], r["total"]) for r in df.collect())

    for point in crash_commit.points:
        local = str(tmp_path / point)
        path = table_path(local)
        upsert_parquet(spark.createDataFrame(g1, "k int, total int"), path, ["k"])
        batch = spark.createDataFrame(g2, "k int, total int")
        with crash_commit(path, point):
            upsert_parquet(batch, path, ["k"])
        assert record_rows(path) == (after if point == "sweep" else before), point
        upsert_parquet(batch, path, ["k"])  # the at-least-once replay
        assert record_rows(path) == after, point
        assert data_files(local) == set(pathio.live_names(path)), point


def test_stateful_distinct_counts_custom_key(spark, tmp_path):
    """The dedup counter must work with key/event columns of any name
    (regression: the bucketed rewrite once hardcoded user_id/event_id)."""
    import tempfile
    import uuid

    src_dir = str(tmp_path / "s")
    spark.createDataFrame(
        [(7, 100), (7, 100), (7, 101), (9, 200)], "session_id long, click_id long"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("session_id long, click_id long").parquet(src_dir)

    from scylla_migrator_spark.streaming.stateful import stateful_distinct_counts

    counts = stateful_distinct_counts(stream, key_col="session_id", event_col="click_id")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["session_id"]: r["new_events"] for r in spark.table(name).collect()}
    assert rows == {7: 2, 9: 1}


def test_stream_observed_metrics_per_batch(spark, tmp_path):
    """A3 for streams: observed metrics arrive per micro-batch through the
    listener and sum to the exact batch totals."""
    import time

    from pyspark.sql import functions as F

    from scylla_migrator_spark.streaming.observability import (
        MetricsListener,
        observe_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    import pandas as pd

    pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]}).to_parquet(src / "a.parquet")
    pd.DataFrame({"k": [4, 5], "v": [5, 5]}).to_parquet(src / "b.parquet")

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        observed = observe_stream(
            stream, "cdc", n_rows=F.count(F.lit(1)), sum_v=F.sum("v")
        )
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously on the bus thread
        deadline = time.time() + 20
        while time.time() < deadline and len(listener.metrics.get("cdc", [])) < 2:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    rows = listener.metrics["cdc"]
    assert len(rows) == 2
    assert sum(r["n_rows"] for r in rows) == 5
    assert sum(r["sum_v"] for r in rows) == 70
    assert {r["n_rows"] for r in rows} == {3, 2}


def test_upsert_adopts_a_table_written_without_a_record(spark, tmp_path, data_files):
    """A bucketed table written without a commit record (an earlier
    version's layout, or a plain partitionBy write plus the bucket pin) is
    adopted by the next upsert, not deleted: its rows stay, the batch's
    key is replaced under the pinned modulus."""
    from scylla_migrator_spark import pathio
    from scylla_migrator_spark.streaming.rollup import (
        BUCKET_COL,
        _bucket_expr,
        _write_meta,
        upsert_parquet,
    )

    path = str(tmp_path / "unrecorded")
    g = spark.createDataFrame([(k, k * 10) for k in range(12)], "k int, total int")
    g.withColumn(BUCKET_COL, _bucket_expr(["k"], 4)).write.partitionBy(BUCKET_COL).parquet(path)
    _write_meta(path, 4)
    upsert_parquet(spark.createDataFrame([(3, 999)], "k int, total int"), path, ["k"])
    rows = pathio.read_live(spark.read, path).select("k", "total").collect()
    want = {**{k: k * 10 for k in range(12)}, 3: 999}
    assert sorted(tuple(r) for r in rows) == sorted(want.items())
    assert data_files(path) == set(pathio.live_names(path))


def test_upsert_lists_only_the_buckets_it_touches(spark, tmp_path, monkeypatch):
    """The directory listings of a one-key upsert do not grow with the
    table's bucket count: its opening sweep walks the bucket the last
    upsert replaced, and its commit lists and sweeps the one it rewrites."""
    import os

    from scylla_migrator_spark.streaming.rollup import upsert_parquet

    def one(k):
        return spark.createDataFrame([(k, -k)], "k int, total int")

    listings = {}
    for n in (8, 128):
        path = str(tmp_path / f"t{n}")
        g = spark.createDataFrame([(k, k) for k in range(600)], "k int, total int")
        upsert_parquet(g, path, ["k"], n_buckets=n)
        upsert_parquet(one(1), path, ["k"])
        calls = []
        with monkeypatch.context() as m:
            for name in ("listdir", "scandir"):
                real = getattr(os, name)
                m.setattr(os, name, lambda *a, _r=real, **kw: calls.append(a) or _r(*a, **kw))
            upsert_parquet(one(2), path, ["k"])
        listings[n] = len(calls)
    assert listings[8] == listings[128] <= 8, listings


def test_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """Partition-scoped upsert: a batch touching one key's bucket must leave
    every other bucket directory's files byte-identical (never read, never
    rewritten) — the O(affected)-not-O(table) serving-path contract."""
    import os

    from pyspark.sql import functions as F

    from scylla_migrator_spark.streaming.rollup import (
        BUCKET_COL,
        _bucket_expr,
        upsert_parquet,
    )

    path = str(tmp_path / "serving_bkt")
    g1 = spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "k int, total int"
    )
    upsert_parquet(g1, path, ["k"])
    buckets = {
        r["k"]: r["b"]
        for r in g1.select("k", _bucket_expr(["k"], 16).alias("b")).collect()
    }
    # pick a key, then a bucket that no key of the second batch hashes into
    touch_key = 0
    untouched = next(
        b for k, b in buckets.items() if b != buckets[touch_key]
    )
    untouched_dir = os.path.join(path, f"{BUCKET_COL}={untouched}")

    def snapshot(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = (os.stat(p).st_mtime_ns, fh.read())
        return out

    before = snapshot(untouched_dir)
    assert before, "untouched bucket must exist and hold files"
    g2 = spark.createDataFrame([(touch_key, 999)], "k int, total int")
    upsert_parquet(g2, path, ["k"])
    assert snapshot(untouched_dir) == before
    rows = {r["k"]: r["total"] for r in spark.read.parquet(path).collect()}
    assert rows[touch_key] == 999 and len(rows) == 40
    # the pinned modulus survives a caller passing a different n_buckets
    g3 = spark.createDataFrame([(1, 111)], "k int, total int")
    upsert_parquet(g3, path, ["k"], n_buckets=7)
    rows = {r["k"]: r["total"] for r in spark.read.parquet(path).collect()}
    assert rows[1] == 111 and len(rows) == 40


def test_upsert_replay_is_idempotent(spark, tmp_path):
    """The crash-recovery contract of the partition-scoped upsert: replaying
    the SAME micro-batch (what a checkpointed foreachBatch does after a
    mid-swap crash) must leave the table state exactly as a single
    application — last-writer-wins replace is idempotent per bucket."""
    from scylla_migrator_spark.streaming.rollup import upsert_parquet

    path = str(tmp_path / "serving_replay")
    g1 = spark.createDataFrame(
        [(k, k * 10) for k in range(20)], "k int, total int"
    )
    upsert_parquet(g1, path, ["k"])
    g2 = spark.createDataFrame([(3, 333), (21, 210)], "k int, total int")
    upsert_parquet(g2, path, ["k"])
    once = {(r["k"], r["total"]) for r in spark.read.parquet(path).collect()}
    upsert_parquet(g2, path, ["k"])  # replay after simulated crash
    twice = {(r["k"], r["total"]) for r in spark.read.parquet(path).collect()}
    assert once == twice
    assert (3, 333) in twice and (21, 210) in twice and len(twice) == 21


def test_schema_drift_tolerant_upserts(spark, tmp_path, table_path):
    """Alternator items are schemaless: batches may add attributes
    mid-stream or omit declared ones (a put replaces the WHOLE item).
    With allow_schema_drift the replicator widens state with nulls, a
    drift event is recorded, and newest-wins applies to the full row
    image."""
    target = table_path(tmp_path / "cdc_drift")
    rep = CdcReplicator(
        target_path=target,
        key_cols=["user_id"],
        value_cols=["value"],
        allow_schema_drift=True,
    )
    b0 = spark.createDataFrame(
        [(1, 100, 1, "INSERT", 10.0), (2, 100, 2, "INSERT", 20.0)],
        "user_id long, ts long, event_id long, op string, value double",
    )
    rep.apply_batch(b0, 0)
    # batch 1 adds a brand-new attribute `tier`
    b1 = spark.createDataFrame(
        [(1, 200, 3, "MODIFY", 11.0, "gold"), (3, 200, 4, "INSERT", 30.0, "free")],
        "user_id long, ts long, event_id long, op string, value double, tier string",
    )
    rep.apply_batch(b1, 1)
    # batch 2 omits `value` entirely (full-image put without it)
    b2 = spark.createDataFrame(
        [(2, 300, 5, "MODIFY", "silver")],
        "user_id long, ts long, event_id long, op string, tier string",
    )
    rep.apply_batch(b2, 2)

    rows = {r["user_id"]: r for r in rep.current(spark).collect()}
    assert rows[1]["value"] == 11.0 and rows[1]["tier"] == "gold"
    assert rows[2]["value"] is None and rows[2]["tier"] == "silver"  # full replace
    assert rows[3]["value"] == 30.0 and rows[3]["tier"] == "free"
    assert rep.metrics[1].get("drift_added") == ["tier"]
    assert "drift_added" not in rep.metrics[0]


def test_schema_drift_rejected_when_disabled(spark, tmp_path, table_path):
    import pytest as _pytest

    rep = CdcReplicator(
        target_path=table_path(tmp_path / "cdc_strict"),
        key_cols=["user_id"],
        value_cols=["value"],
    )
    bad = spark.createDataFrame(
        [(1, 100, 1, "INSERT", "gold")],
        "user_id long, ts long, event_id long, op string, tier string",
    )
    with _pytest.raises(Exception):
        rep.apply_batch(bad, 0)


def test_schema_drift_survives_replicator_restart(spark, tmp_path, table_path):
    """A RESTARTED replicator (fresh constructor, same target) must
    re-adopt drifted columns persisted in state — a later batch without
    the drifted attribute cannot erase it from every key."""
    target = table_path(tmp_path / "cdc_drift_restart")
    rep1 = CdcReplicator(
        target_path=target, key_cols=["user_id"], value_cols=["value"],
        allow_schema_drift=True,
    )
    rep1.apply_batch(
        spark.createDataFrame(
            [(1, 100, 1, "INSERT", 10.0, "gold")],
            "user_id long, ts long, event_id long, op string, value double, tier string",
        ),
        0,
    )
    # simulate kill/resume: brand-new replicator, constructor knows
    # nothing about 'tier'
    rep2 = CdcReplicator(
        target_path=target, key_cols=["user_id"], value_cols=["value"],
        allow_schema_drift=True,
    )
    rep2.apply_batch(
        spark.createDataFrame(
            [(2, 200, 2, "INSERT", 20.0)],
            "user_id long, ts long, event_id long, op string, value double",
        ),
        1,
    )
    rows = {r["user_id"]: r for r in rep2.current(spark).collect()}
    assert rows[1]["tier"] == "gold"  # drifted column survived the restart
    assert rows[2]["tier"] is None
    # a column adopted from persisted state is NOT re-reported as drift
    assert "drift_added" not in rep2.metrics[0]


def test_components_serving_rewrites_only_moved_buckets(spark, tmp_path):
    """r8 verdict task #4: the streaming components serving table is
    partitioned by component-hash bucket and a micro-batch swaps ONLY the
    buckets whose labels move (returned by components_upsert_batch);
    every other bucket directory must be byte-identical on disk, and the
    final labelling must still equal the full recompute."""
    import os

    from pyspark.sql import functions as F

    from scylla_migrator_spark.analytics.components import connected_components
    from scylla_migrator_spark.analytics.dedup import simhash_blocked_pairs
    from scylla_migrator_spark.streaming.components_cdc import (
        components_upsert_batch,
    )
    from scylla_migrator_spark.streaming.rollup import BUCKET_COL

    import random

    serving = str(tmp_path / "serving")
    # spread-out components: greedily pick fingerprints pairwise hamming
    # >= 12 apart (so no accidental <=8 pairs), + one near-dup of fp[0];
    # batch 2 then touches exactly one existing component
    random.seed(5)
    fps: list[int] = []
    while len(fps) < 25:
        v = random.getrandbits(32)
        if all(bin(v ^ w).count("1") >= 12 for w in fps):
            fps.append(v)
    b1 = [(i + 1, "s", fps[i]) for i in range(25)]
    b1.append((100, "s", fps[0] ^ 1))  # pairs with doc 1
    df1 = spark.createDataFrame(b1, "doc_id long, source string, sh long")
    assert (
        components_upsert_batch(df1, serving, id_col="doc_id") is None
    )  # first generation writes everything
    buckets_before = {
        e: os.path.getmtime(os.path.join(serving, e))
        for e in os.listdir(serving)
        if e.startswith(f"{BUCKET_COL}=")
    }
    b2 = [(200, "s", fps[0] ^ 2)]  # joins component of docs 1/100 only
    df2 = spark.createDataFrame(b2, "doc_id long, source string, sh long")
    affected = components_upsert_batch(df2, serving, id_col="doc_id")
    assert affected is not None and 0 < len(affected) < len(buckets_before)
    for e, mt in buckets_before.items():
        b = int(e.split("=", 1)[1])
        if b not in affected:
            assert os.path.getmtime(os.path.join(serving, e)) == mt, (
                f"untouched bucket {e} was rewritten"
            )
    # labelling still equals the batch recompute over all rows seen
    fp = df1.unionByName(df2)
    want = {
        (r["id"], r["comp"])
        for r in connected_components(
            simhash_blocked_pairs(fp, "doc_id", group_col="source").select(
                "id_a", "id_b"
            ),
            "id_a",
            "id_b",
        ).collect()
    }
    got = {
        (r["id"], r["comp"])
        for r in spark.read.parquet(serving)
        .filter(F.col("paired"))
        .select("id", "comp")
        .collect()
    }
    assert got == want


_CDC_SCHEMA = "user_id long, ts long, event_id long, op string, value double"


def _cdc_batches(spark):
    return [
        spark.createDataFrame(rows, _CDC_SCHEMA)
        for rows in (
            [(1, 100, 1, "INSERT", 1.0), (2, 100, 2, "INSERT", 2.0), (3, 100, 3, "INSERT", 3.0)],
            [(1, 200, 4, "MODIFY", 1.5), (2, 200, 5, "REMOVE", None), (4, 200, 6, "INSERT", 4.0)],
            [(3, 300, 7, "MODIFY", 3.5), (2, 150, 8, "MODIFY", 9.9), (5, 300, 9, "INSERT", 5.0)],
        )
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_crash_between_swap_renames_loses_nothing(spark, tmp_path, table_path, crash_commit):
    """A crash at any step of a batch's commit (after the data write,
    during the record write, during the sweep of the previous generation)
    leaves the record naming one complete generation: the previous state,
    or the new one when only the sweep was cut. A fresh replicator that
    gets the batch again (at-least-once) ends where an uninterrupted run
    ends, and its commit sweeps everything the record does not name."""
    import os

    batches = _cdc_batches(spark)
    ref = CdcReplicator(table_path(tmp_path / "ref"), ["user_id"], ["value"])
    states = []
    for i, b in enumerate(batches):
        ref.apply_batch(b, i)
        states.append(_rows(ref.current(spark)))

    for point in crash_commit.points:
        target = table_path(tmp_path / point)
        rep = CdcReplicator(target, ["user_id"], ["value"])
        rep.apply_batch(batches[0], 0)
        with crash_commit(target, point):
            rep.apply_batch(batches[1], 1)
        fresh = CdcReplicator(target, ["user_id"], ["value"])
        assert _rows(fresh.current(spark)) == states[1 if point == "sweep" else 0], point

        for i in (1, 2):
            fresh.apply_batch(batches[i], i)
        assert _rows(fresh.current(spark)) == states[2], point
        left = [e for e in os.listdir(tmp_path / point) if not e.startswith(("_", "."))]
        assert [os.path.join(target, e) for e in left] == live_paths(target), point
    assert sorted(os.listdir(tmp_path)) == sorted([*crash_commit.points, "ref"])


def test_torn_staging_write_is_ignored(spark, tmp_path, table_path):
    """A generation directory the record does not name (a crash during the
    first batch's write, after the fresh target's empty record) holds no
    committed state: the replicator starts from nothing, and its commit
    sweeps the torn directory."""
    target = tmp_path / "torn"
    commit(table_path(target), [])
    (target / "g-torn").mkdir()
    (target / "g-torn" / "part-00000.parquet").write_bytes(b"PAR1 half-written")
    rep = CdcReplicator(table_path(target), ["user_id"], ["value"])
    rep.apply_batch(_cdc_batches(spark)[0], 0)
    assert sorted(r["user_id"] for r in rep.current(spark).collect()) == [1, 2, 3]
    assert not (target / "g-torn").exists()


def test_empty_batch_records_no_counts(spark, tmp_path, table_path):
    rep = CdcReplicator(table_path(tmp_path / "empty"), ["user_id"], ["value"])
    rep.apply_batch(_cdc_batches(spark)[0], 0)
    before = _rows(rep.current(spark))
    rep.apply_batch(spark.createDataFrame([], _CDC_SCHEMA), 1)
    assert rep.metrics == [{"batch_id": 0, "INSERT": 3}, {"batch_id": 1}]
    assert _rows(rep.current(spark)) == before


def test_op_counts_observed_and_unknown_op_recounted(spark, tmp_path, table_path):
    """Op counts ride the state write; a batch with an op outside
    INSERT/MODIFY/REMOVE (or a null op) is counted by the separate
    aggregation, so no count is lost and keys match the ops present."""
    rep = CdcReplicator(table_path(tmp_path / "ops"), ["user_id"], ["value"])
    b0, b1, _ = _cdc_batches(spark)
    rep.apply_batch(b0, 0)
    rep.apply_batch(b1, 1)
    odd = spark.createDataFrame(
        [(6, 400, 10, "UPSERT", 6.0), (7, 400, 11, None, 7.0), (1, 400, 12, "MODIFY", 1.7)],
        _CDC_SCHEMA,
    )
    rep.apply_batch(odd, 2)
    assert rep.metrics == [
        {"batch_id": 0, "INSERT": 3},
        {"batch_id": 1, "MODIFY": 1, "REMOVE": 1, "INSERT": 1},
        {"batch_id": 2, "UPSERT": 1, None: 1, "MODIFY": 1},
    ]


def test_second_drain_reads_pinned_schema(spark, tmp_path, table_path):
    """After a drain the replicator reads its state with the schema it
    wrote (no footer inference); a second drain of the same log through
    that pinned read is a no-op and matches an inferred read."""
    src = table_path(tmp_path / "log")
    for i, b in enumerate(_cdc_batches(spark)):
        b.write.mode("append").parquet(src)
    target = table_path(tmp_path / "pinned")
    rep = CdcReplicator(target, ["user_id"], ["value"])

    def drain(ckpt):
        stream = (
            spark.readStream.schema(_CDC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        )
        rep.attach(stream, checkpoint=str(tmp_path / ckpt)).awaitTermination(120)

    drain("ckpt1")
    assert rep._schema is not None
    first = _rows(rep.current(spark))
    drain("ckpt2")
    assert _rows(rep.current(spark)) == first
    inferred = spark.read.parquet(*live_paths(target))
    assert [f.name for f in inferred.schema] == [f.name for f in rep._schema]
    assert _rows(inferred.filter(F.col("op") != "REMOVE").drop("op")) == first


def test_unreadable_state_raises(spark, tmp_path, table_path):
    """An existing state that cannot be read must fail the batch, not be
    silently replaced by it."""
    import os

    import pytest

    target = tmp_path / "corrupt"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"not a parquet file")
    rep = CdcReplicator(table_path(target), ["user_id"], ["value"])
    with pytest.raises(Exception):
        rep.apply_batch(_cdc_batches(spark)[0], 0)
    assert os.listdir(target) == ["part-00000.parquet"]
    assert rep.metrics == []
