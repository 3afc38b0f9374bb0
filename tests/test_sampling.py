"""Deterministic hash-sampling properties: reproducibility, rate accuracy,
nesting, split stability, and the no-shuffle plan shape."""

from __future__ import annotations

import pytest

from scylla_migrator_spark.analytics import sampling as SAMP


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_deterministic_across_runs(docs):
    a = {r["doc_id"] for r in SAMP.deterministic_sample(docs, 0.3, "doc_id").collect()}
    b = {r["doc_id"] for r in SAMP.deterministic_sample(docs, 0.3, "doc_id").collect()}
    assert a == b and a


def test_rate_roughly_honored(docs):
    n = docs.count()
    kept = SAMP.deterministic_sample(docs, 0.5, "doc_id").count()
    assert abs(kept / n - 0.5) < 0.2  # 50 docs at sf0.001 — loose bound


def test_samples_nest_as_rate_grows(docs):
    small = {r["doc_id"] for r in SAMP.deterministic_sample(docs, 0.2, "doc_id").collect()}
    large = {r["doc_id"] for r in SAMP.deterministic_sample(docs, 0.6, "doc_id").collect()}
    assert small <= large


def test_weighted_mix_rates_per_group(docs):
    out = SAMP.weighted_mix(
        docs, {"src0": 1.0, "src1": 0.0}, group_col="source", key_col="doc_id",
        default_rate=0.5,
    )
    by_src = {r["source"]: r["cnt"] for r in out.groupBy("source").count()
              .withColumnRenamed("count", "cnt").collect()}
    total = {r["source"]: r["cnt"] for r in docs.groupBy("source").count()
             .withColumnRenamed("count", "cnt").collect()}
    assert by_src["src0"] == total["src0"]  # rate 1.0 keeps everything
    assert "src1" not in by_src  # rate 0.0 keeps nothing


def test_split_assignment_stable_under_row_changes(docs):
    full = {r["doc_id"]: r["split"] for r in SAMP.assign_splits(docs, "doc_id").collect()}
    half = {r["doc_id"]: r["split"]
            for r in SAMP.assign_splits(docs.filter("doc_id % 2 = 0"), "doc_id").collect()}
    # removing rows must not move anyone else's split
    assert all(full[k] == v for k, v in half.items())
    assert set(full.values()) <= {"train", "val", "test"}


def test_sample_plans_no_shuffle(docs):
    plan = (
        SAMP.weighted_mix(docs, {"src0": 0.5}, "source", "doc_id", 0.1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure scan-stage filter


def test_write_training_shards_manifest_consistency(spark, tmp_path):
    """The shard writer's contract: manifest counts equal the written
    files' contents, every shard directory holds its rows in pos order,
    re-running (even from a reshuffled input) reproduces the identical
    layout, and failures never leave a partial root behind."""
    import os

    from pyspark.sql import functions as F

    from scylla_migrator_spark.pathio import live_paths
    from scylla_migrator_spark.sinks.training_manifest import (
        MANIFEST_SUMMARY,
        read_shard_manifest,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 101 + 1) for i in range(500)], "doc_id long, n_toks long"
    )
    root = str(tmp_path / "shards")
    summary = write_training_shards(
        df, root, key_col="doc_id", token_count_col="n_toks", n_shards=8
    )
    assert summary["rowCount"] == 500
    assert summary["tokenCount"] == sum((i * 37) % 101 + 1 for i in range(500))
    loaded, entries = read_shard_manifest(root)
    assert loaded == summary and len(entries) == 8
    total = 0
    for e in entries:
        sdir = os.path.join(live_paths(root)[0], "data", f"shard={e['shard']}")
        rows = (
            spark.read.parquet(sdir).select("doc_id", "n_toks", "pos").collect()
            if e["rowCount"]
            else []
        )
        assert len(rows) == e["rowCount"]
        assert sum(r["n_toks"] for r in rows) == e["tokenCount"]
        # one file per shard, rows stored in position order 1..n
        assert len(e["dataFileKeys"]) == (1 if e["rowCount"] else 0)
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
        total += len(rows)
    assert total == 500

    # determinism + input-order independence: a reshuffled input produces
    # the identical (doc_id -> shard, pos) layout
    first = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in spark.read.parquet(os.path.join(live_paths(root)[0], "data")).collect()
    }
    root2 = str(tmp_path / "shards2")
    write_training_shards(
        df.orderBy(F.rand(7)),
        root2,
        key_col="doc_id",
        token_count_col="n_toks",
        n_shards=8,
    )
    second = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in spark.read.parquet(os.path.join(live_paths(root2)[0], "data")).collect()
    }
    assert first == second
    # manifests identical modulo parquet part-file UUIDs
    with open(os.path.join(live_paths(root)[0], MANIFEST_SUMMARY)) as a, open(
        os.path.join(live_paths(root2)[0], MANIFEST_SUMMARY)
    ) as b:
        assert a.read() == b.read()
    _, entries2 = read_shard_manifest(root2)
    strip = lambda es: [
        {k: v for k, v in e.items() if k != "dataFileKeys"} for e in es
    ]
    assert strip(entries) == strip(entries2)

    # cleanup-on-failure: a bad token column aborts before the commit and
    # leaves no root behind
    root3 = str(tmp_path / "shards3")
    try:
        write_training_shards(
            df, root3, key_col="doc_id", token_count_col="missing", n_shards=4
        )
        raise AssertionError("expected failure on missing column")
    except AssertionError:
        raise
    except Exception:
        pass
    assert not os.path.exists(root3)


def test_write_training_shards_rejects_bad_shard_count(spark, tmp_path):
    import pytest as _pytest

    from scylla_migrator_spark.sinks.training_manifest import write_training_shards

    df = spark.createDataFrame([(1, 2)], "doc_id long, n_toks long")
    with _pytest.raises(ValueError, match="n_shards"):
        write_training_shards(df, str(tmp_path / "x"), "doc_id", "n_toks", 0)


def test_shard_of_matches_shard_layout(spark):
    """The public stateless projection and the writer's layout agree on
    shard membership for every key — the batch/stream routing contract."""
    from pyspark.sql import functions as F

    from scylla_migrator_spark.analytics.sampling import shard_layout, shard_of

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = {r["doc_id"]: r["shard"] for r in shard_layout(df, "doc_id", 16).collect()}
    b = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", shard_of(F.col("doc_id"), 16).alias("s")).collect()
    }
    assert a == b
