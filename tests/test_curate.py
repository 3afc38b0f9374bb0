"""Config-driven curation pipeline (plans/curate.py): composition, per-stage
observed counts riding a single action, decode-time validation, CLI."""

from __future__ import annotations

import json

import pytest

from scylla_migrator_spark.config import ConfigError
from scylla_migrator_spark.plans.curate import CurationConfig, curate, run_curation


@pytest.fixture()
def corpus(spark, tmp_path):
    long = " ".join(f"tok{i}" for i in range(25))
    rows = [
        (1, long + " alpha", "en"),
        (2, long + " alpha", "en"),            # exact dup of 1 (keeper = 1)
        (3, long + " beta mail me a@b.com", "en"),   # PII
        (4, "short doc", "en"),                # fails length_filter
        (5, long + " gamma", "fr"),            # fails lang_filter
        (6, " ".join(["loop loop"] * 20), "en"),  # repetitive bigrams
        (7, long + " delta 123 456 789 000 111", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    path = str(tmp_path / "docs")
    df.write.parquet(path)
    return path


BASE = {
    "source": {"type": "parquet", "path": "PLACEHOLDER"},
    "stages": [
        {"op": "length_filter", "minTokens": 20},
        {"op": "lang_filter", "allow": ["en"]},
        {"op": "pii_redact"},
        {"op": "repetition_filter", "maxTopBigramFrac": 0.4},
        {"op": "exact_dedup"},
    ],
}


def test_curate_pipeline_counts_and_output(spark, corpus):
    raw = dict(BASE, source={"type": "parquet", "path": corpus})
    cfg = CurationConfig.from_dict(raw)
    result = curate(spark, cfg)
    rows = {r["doc_id"]: r for r in result.df.collect()}
    counts = result.counts()
    assert counts["stage00_input"] == 7
    assert counts["stage01_length_filter"] == 6   # drops 4
    assert counts["stage02_lang_filter"] == 5     # drops 5
    assert counts["stage03_pii_redact"] == 5      # transform, no drop
    assert counts["stage04_repetition_filter"] == 4  # drops 6
    assert counts["stage05_exact_dedup"] == 3     # drops 2 (dup of 1)
    assert sorted(rows) == [1, 3, 7]
    assert "[EMAIL]" in rows[3]["text"] and "a@b.com" not in rows[3]["text"]


def test_curate_counts_ride_single_action(spark, corpus):
    raw = dict(BASE, source={"type": "parquet", "path": corpus})
    result = curate(spark, CurationConfig.from_dict(raw))
    n_jobs_marker = result.df.count()  # ONE action; counts must now resolve
    assert n_jobs_marker == 3
    assert len(result.counts()) == 6


def test_run_curation_writes_target(spark, corpus, tmp_path):
    out = str(tmp_path / "curated")
    raw = dict(
        BASE,
        source={"type": "parquet", "path": corpus},
        target={"type": "parquet", "path": out},
    )
    counts = run_curation(spark, CurationConfig.from_dict(raw))
    assert counts["stage05_exact_dedup"] == 3
    assert spark.read.parquet(out).count() == 3


def test_intra_doc_repetition_stage(spark, corpus):
    raw = {
        "source": {"type": "parquet", "path": corpus},
        "stages": [
            {"op": "intra_doc_repetition_filter", "maxDupFrac": 0.5, "windowTokens": 2}
        ],
    }
    result = curate(spark, CurationConfig.from_dict(raw))
    ids = {r["doc_id"] for r in result.df.collect()}
    assert 6 not in ids  # "loop loop loop ..." windows repeat heavily
    assert 1 in ids


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda r: r.update(stages=[]), "non-empty"),
        (lambda r: r.update(stages=[{"op": "nope"}]), "unknown op"),
        (lambda r: r.update(stages=[{"op": "length_filter"}]), "minTokens"),
        (
            lambda r: r.update(stages=[{"op": "quality_filter", "minAlphaRatio": 2}]),
            "minAlphaRatio",
        ),
        (lambda r: r.update(stages=[{"op": "lang_filter", "allow": []}]), "allow"),
        (lambda r: r.update(stages=[{"op": "exact_dedup", "x": 1}]), "unexpected"),
        (lambda r: r.update(source={"type": "jdbc"}), "source"),
        (lambda r: r.update(target={"type": "csv", "path": "x"}), "target"),
    ],
)
def test_config_validation_errors(mutate, msg, corpus):
    raw = dict(BASE, source={"type": "parquet", "path": corpus})
    raw["stages"] = list(BASE["stages"])
    mutate(raw)
    with pytest.raises(ConfigError, match=msg):
        CurationConfig.from_dict(raw)


@pytest.mark.slow
def test_curate_cli(spark, corpus, tmp_path):
    """curate subcommand in a SUBPROCESS (its spark.stop() must not disturb
    the shared test session — same posture as test_cli_compact)."""
    import os
    import subprocess
    import sys

    import yaml

    out = str(tmp_path / "cli_out")
    cfg_path = tmp_path / "curation.yaml"
    cfg_path.write_text(
        yaml.safe_dump(
            dict(
                BASE,
                source={"type": "parquet", "path": corpus},
                target={"type": "parquet", "path": out},
            )
        )
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "8"}
    proc = subprocess.run(
        [sys.executable, "-m", "scylla_migrator_spark", "curate", str(cfg_path)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["stage_counts"]["stage05_exact_dedup"] == 3
    assert spark.read.parquet(out).count() == 3


def test_curation_yaml_example_decodes(tmp_path):
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg = CurationConfig.load(os.path.join(repo, "curation.yaml.example"))
    assert [s["op"] for s in cfg.stages] == [
        "length_filter", "quality_filter", "lang_filter", "pii_redact",
        "repetition_filter", "intra_doc_repetition_filter",
        "gopher_filter", "readability_filter", "diversity_filter",
        "exact_dedup", "near_dedup", "kn_perplexity_filter",
    ]
    assert cfg.target_path == "/tmp/curated_documents"
    assert cfg.stages[5]["n"] == 8
    assert cfg.stages[6] == {"op": "gopher_filter"}
    assert cfg.stages[7] == {"op": "readability_filter", "min_flesch": -50.0, "max_flesch": 150.0}
    assert cfg.stages[8] == {"op": "diversity_filter", "min_ttr": 0.2}


def test_curate_stream_rejects_join_stages(spark, corpus):
    from scylla_migrator_spark.plans.curate import curate_stream

    cfg = CurationConfig.from_dict(
        dict(BASE, source={"type": "parquet", "path": corpus})
    )
    schema = spark.read.parquet(corpus).schema
    stream = spark.readStream.schema(schema).parquet(corpus)
    with pytest.raises(ConfigError, match="corpus-global state"):
        curate_stream(stream, cfg)


def test_curate_stream_gates_rows(spark, corpus, tmp_path):
    from scylla_migrator_spark.plans.curate import curate_stream

    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": corpus},
            "stages": [
                {"op": "length_filter", "minTokens": 20},
                {"op": "lang_filter", "allow": ["en"]},
                {"op": "pii_redact"},
            ],
        }
    )
    schema = spark.read.parquet(corpus).schema
    stream = spark.readStream.schema(schema).parquet(corpus)
    gated = curate_stream(stream, cfg)
    q = (
        gated.writeStream.format("memory")
        .queryName("curate_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM curate_gate_test").collect()}
    assert sorted(rows) == [1, 2, 3, 6, 7]  # length+lang survivors
    assert "a@b.com" not in rows[3]["text"] and "[EMAIL]" in rows[3]["text"]


def test_quality_filter_survives_empty_text(spark, tmp_path):
    """ANSI mode turns x/0 into an error; an empty document must DROP, not
    crash the pipeline."""
    path = str(tmp_path / "empty_docs")
    spark.createDataFrame(
        [(1, "", "en"), (2, "Real words here", "en")], ["doc_id", "text", "lang"]
    ).write.parquet(path)
    raw = {
        "source": {"type": "parquet", "path": path},
        "stages": [{"op": "quality_filter", "minAlphaRatio": 0.5}],
    }
    result = curate(spark, CurationConfig.from_dict(raw))
    assert [r["doc_id"] for r in result.df.collect()] == [2]


def test_typoed_param_and_inverted_range_rejected(corpus):
    for stages, msg in [
        ([{"op": "length_filter", "minTokens": 20, "maxToken": 100}], "unexpected"),
        ([{"op": "length_filter", "minTokens": 100, "maxTokens": 10}], "minTokens > maxTokens"),
        ([{"op": "intra_doc_repetition_filter", "maxDupFrac": 0.5, "windowtokens": 4}], "unexpected"),
        ([{"op": "repetition_filter", "maxTopBigramFrac": 0.2, "x": 1}], "unexpected"),
    ]:
        raw = {"source": {"type": "parquet", "path": corpus}, "stages": stages}
        with pytest.raises(ConfigError, match=msg):
            CurationConfig.from_dict(raw)


def test_repetition_filter_keeps_bigramless_docs(spark, tmp_path):
    """A 0/1-token document has no bigrams and CANNOT be repetitive — the
    stage must keep it (anti-join on repetitive ids), not silently drop it
    for lacking a stats row."""
    path = str(tmp_path / "short_docs")
    spark.createDataFrame(
        [(1, "hello", "en"), (2, " ".join(["loop loop"] * 20), "en"),
         (3, "a normal longer sentence with several distinct words here", "en")],
        ["doc_id", "text", "lang"],
    ).write.parquet(path)
    raw = {
        "source": {"type": "parquet", "path": path},
        "stages": [{"op": "repetition_filter", "maxTopBigramFrac": 0.4}],
    }
    result = curate(spark, CurationConfig.from_dict(raw))
    ids = sorted(r["doc_id"] for r in result.df.collect())
    assert ids == [1, 3]  # 2 dropped for repetition; 1 KEPT despite no bigrams


def test_near_dedup_stage_drops_lsh_neighbor(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(30))
    path = str(tmp_path / "near_docs")
    spark.createDataFrame(
        [
            (1, base, "en"),
            (2, base + " tail", "en"),          # near-dup of 1 -> dropped
            (3, " ".join(f"z{i}" for i in range(30)), "en"),
        ],
        ["doc_id", "text", "lang"],
    ).write.parquet(path)
    raw = {
        "source": {"type": "parquet", "path": path},
        "stages": [{"op": "near_dedup"}],
    }
    result = curate(spark, CurationConfig.from_dict(raw))
    assert sorted(r["doc_id"] for r in result.df.collect()) == [1, 3]
    # bad band split rejected at decode
    with pytest.raises(ConfigError, match="divisible"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": path},
             "stages": [{"op": "near_dedup", "numHashes": 16, "bands": 5}]}
        )


def test_near_dedup_on_stream_requires_watermark(spark, corpus):
    """Streaming near_dedup is supported ONLY in its watermark-bounded form
    (dropDuplicatesWithinWatermark on the signature column); a config
    without withinWatermark still fails at compose time with guidance
    rather than silently running corpus-global semantics on a stream."""
    from scylla_migrator_spark.plans.curate import curate_stream

    cfg = CurationConfig.from_dict(
        {"source": {"type": "parquet", "path": corpus},
         "stages": [{"op": "near_dedup"}]}
    )
    schema = spark.read.parquet(corpus).schema
    stream = spark.readStream.schema(schema).parquet(corpus)
    with pytest.raises(ConfigError, match="withinWatermark"):
        curate_stream(stream, cfg)


def test_curate_randomized_vs_pandas_reference(spark, tmp_path):
    """Randomized differential test: the composed Spark pipeline must equal
    a straight-line pandas/python reference on 120 random docs (length ->
    lang -> intra-dup -> exact-dedup; the stages with exact python twins)."""
    import random
    import re

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        n = rng.randint(0, 40)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        if rng.random() < 0.2 and rows:  # plant exact dups
            text = rows[rng.randrange(len(rows))][1]
        rows.append((i, text, rng.choice(["en", "fr", "es"])))
    path = str(tmp_path / "rand_docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(path)

    cfgd = {
        "source": {"type": "parquet", "path": path},
        "stages": [
            {"op": "length_filter", "minTokens": 5, "maxTokens": 35},
            {"op": "lang_filter", "allow": ["en", "es"]},
            {"op": "intra_doc_repetition_filter", "maxDupFrac": 0.6, "windowTokens": 3},
            {"op": "exact_dedup"},
        ],
    }
    got = sorted(
        r["doc_id"]
        for r in curate(spark, CurationConfig.from_dict(cfgd)).df.collect()
    )

    # python reference
    def toks(t):
        return re.split(r"\s+", t.strip()) if True else []

    def windows(t, n=3):
        ts = toks(t)
        if len(ts) < n:
            return [" ".join(ts)]
        return [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]

    survivors = []
    for i, text, lang in rows:
        ts = toks(text)
        if not (5 <= len(ts) <= 35):
            continue
        if lang not in ("en", "es"):
            continue
        ws = windows(text)
        if 1 - len(set(ws)) / len(ws) > 0.6:
            continue
        survivors.append((i, text))
    seen = {}
    expected = []
    for i, text in survivors:
        if text in seen:
            continue
        seen[text] = i
        expected.append(i)
    assert got == sorted(expected)


def test_run_curation_writes_provenance_report(spark, corpus, tmp_path):
    import json as _json
    import os

    out = str(tmp_path / "curated_with_report")
    raw = dict(
        BASE,
        source={"type": "parquet", "path": corpus},
        target={"type": "parquet", "path": out},
    )
    counts = run_curation(spark, CurationConfig.from_dict(raw))
    report = _json.load(open(os.path.join(out, "_curation_report.json")))
    assert report["stage_counts"] == counts
    assert [s["op"] for s in report["stages"]] == [s["op"] for s in BASE["stages"]]
    # the sidecar must not break re-reading the dataset
    assert spark.read.parquet(out).count() == counts["stage05_exact_dedup"]


def test_near_dedup_num_hashes_capped_at_family_size(corpus):
    with pytest.raises(ConfigError, match="numHashes"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": corpus},
             "stages": [{"op": "near_dedup", "numHashes": 128, "bands": 4}]}
        )


def test_readability_and_diversity_stages(spark, tmp_path):
    """The round-5b quality gates as pipeline stages: a readability BAND
    drops fragment soup / run-on machine text, a TTR floor drops looped
    text — both pure scan-stage predicates, cross-checked against the
    python-side formulas."""
    rows = [
        # natural-ish prose: mid flesch, high TTR -> survives
        (1, "The quick brown fox jumps over the lazy dog. It runs fast."),
        # no sentence marks, long run-on with many syllables -> low flesch
        (2, " ".join("internationalization antidisestablishmentarianism" for _ in range(10))),
        # looped text: TTR collapses
        (3, " ".join(["loop loop"] * 20) + "."),
        # empty text: ttr null -> drops without erroring
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [
                {"op": "readability_filter", "minFlesch": -50, "maxFlesch": 120},
                {"op": "diversity_filter", "minTTR": 0.5},
            ],
        }
    )
    result = curate(spark, cfg)
    survivors = sorted(r["doc_id"] for r in result.df.collect())
    assert survivors == [1]
    counts = result.counts()
    # doc 2 drops below minFlesch (syllable-dense run-on); doc 4's empty
    # text scores 205.8 (one token, one floor sentence, zero vowels),
    # above maxFlesch — the band catches both tails
    assert counts["stage01_readability_filter"] == 2
    assert counts["stage02_diversity_filter"] == 1


def test_readability_diversity_validation_errors():
    with pytest.raises(ConfigError, match="minFlesch and/or maxFlesch"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": "/x"},
             "stages": [{"op": "readability_filter"}]}
        )
    with pytest.raises(ConfigError, match="drops every row"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": "/x"},
             "stages": [{"op": "readability_filter", "minFlesch": 50, "maxFlesch": 10}]}
        )
    with pytest.raises(ConfigError, match="minTTR"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": "/x"},
             "stages": [{"op": "diversity_filter", "minTTR": 1.5}]}
        )
    with pytest.raises(ConfigError, match="unexpected params"):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": "/x"},
             "stages": [{"op": "diversity_filter", "minTtr": 0.5}]}
        )


def test_diversity_filter_alone_drops_empty_text(spark, tmp_path):
    """Blank text must not sail through a diversity-only pipeline: the
    split-of-empty-string artifact (tokens('') = ['']) would score TTR
    1.0 unless type_token_ratio nulls blank text explicitly."""
    df = spark.createDataFrame(
        [(1, "distinct words here"), (2, ""), (3, "   ")],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [{"op": "diversity_filter", "minTTR": 0.5}],
        }
    )
    survivors = sorted(r["doc_id"] for r in curate(spark, cfg).df.collect())
    assert survivors == [1]


def test_curate_stream_applies_quality_gates(spark, tmp_path):
    """The round-5b predicate stages gate a STREAM identically to batch
    (shared _stage_predicate): a TTR floor plus a readability band on a
    streaming source."""
    from scylla_migrator_spark.plans.curate import curate_stream

    rows = [
        (1, "the quick brown fox jumps over a lazy dog. nice."),
        (2, " ".join(["loop loop"] * 20) + "."),  # TTR collapses
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [
                {"op": "readability_filter", "minFlesch": -100, "maxFlesch": 150},
                {"op": "diversity_filter", "minTTR": 0.5},
            ],
        }
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    gated = curate_stream(stream, cfg)
    q = (
        gated.writeStream.format("memory")
        .queryName("quality_gate_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM quality_gate_stream").collect()
    )
    assert got == [1]


def _history_setup(spark, tmp_path):
    """History corpus (3 texts) + incoming corpus (2 historical dups under
    different ids, 2 novel texts)."""
    hist = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "pack my box with jugs"),
         (102, "sphinx of black quartz")],
        ["doc_id", "text"],
    )
    hist_path = str(tmp_path / "history")
    hist.write.parquet(hist_path)
    incoming = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),   # historical dup
         (2, "pack my box with jugs"),       # historical dup
         (3, "a genuinely new document"),
         (4, "another unseen text entirely")],
        ["doc_id", "text"],
    )
    inc_path = str(tmp_path / "incoming")
    incoming.write.parquet(inc_path)
    return hist_path, inc_path


def test_history_bloom_dedup_batch_stage(spark, tmp_path):
    hist_path, inc_path = _history_setup(spark, tmp_path)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": inc_path},
            "stages": [
                {"op": "history_bloom_dedup", "historyPath": hist_path,
                 "numBits": 4096}
            ],
        }
    )
    result = curate(spark, cfg)
    kept = sorted(r["doc_id"] for r in result.df.collect())
    # both historical dups MUST be dropped (no false negatives); with 4096
    # bits over 3 keys the novel docs survive (FP rate ~1e-8)
    assert kept == [3, 4]
    assert result.counts()["stage01_history_bloom_dedup"] == 2


def test_history_bloom_dedup_stream_matches_batch(spark, tmp_path):
    from scylla_migrator_spark.plans.curate import curate_stream

    hist_path, inc_path = _history_setup(spark, tmp_path)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": inc_path},
            "stages": [
                {"op": "history_bloom_dedup", "historyPath": hist_path}
            ],
        }
    )
    schema = spark.read.parquet(inc_path).schema
    stream = spark.readStream.schema(schema).parquet(inc_path)
    gated = curate_stream(stream, cfg)
    q = (
        gated.writeStream.format("memory")
        .queryName("bloom_gate_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM bloom_gate_stream").collect()
    )
    batch = sorted(r["doc_id"] for r in curate(spark, cfg).df.collect())
    assert got == batch == [3, 4]  # stateless predicate: stream == batch


def test_history_bloom_dedup_digest_column(spark, tmp_path):
    from pyspark.sql import functions as F

    hist_path, inc_path = _history_setup(spark, tmp_path)
    digests = (
        spark.read.parquet(hist_path)
        .select(F.substring(F.sha2(F.col("text"), 256), 1, 16).alias("d16"))
    )
    dig_path = str(tmp_path / "hist_digests")
    digests.write.parquet(dig_path)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": inc_path},
            "stages": [
                {"op": "history_bloom_dedup", "historyPath": dig_path,
                 "digestColumn": "d16"}
            ],
        }
    )
    kept = sorted(r["doc_id"] for r in curate(spark, cfg).df.collect())
    assert kept == [3, 4]


@pytest.mark.parametrize(
    "stage,msg",
    [
        ({"op": "history_bloom_dedup"}, "historyPath"),
        ({"op": "history_bloom_dedup", "historyPath": ""}, "historyPath"),
        ({"op": "history_bloom_dedup", "historyPath": "/x", "numBits": 8},
         "numBits"),
        ({"op": "history_bloom_dedup", "historyPath": "/x",
          "digestColumn": 7}, "digestColumn"),
        ({"op": "history_bloom_dedup", "historyPath": "/x", "bogus": 1},
         "unexpected"),
    ],
)
def test_history_bloom_decode_errors(stage, msg):
    with pytest.raises(ConfigError, match=msg):
        CurationConfig.from_dict(
            {"source": {"type": "parquet", "path": "/tmp/x"},
             "stages": [stage]}
        )


def test_history_bloom_report_semantics(spark, tmp_path):
    import json

    hist_path, inc_path = _history_setup(spark, tmp_path)
    out = str(tmp_path / "curated_out")
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": inc_path},
            "target": {"type": "parquet", "path": out},
            "stages": [
                {"op": "history_bloom_dedup", "historyPath": hist_path}
            ],
        }
    )
    from scylla_migrator_spark.plans.curate import run_curation

    run_curation(spark, cfg)
    report = json.loads((tmp_path / "curated_out" / "_curation_report.json").read_text())
    assert "guaranteed-novel" in report["stages"][0]["semantics"]


def test_gopher_filter_stage(spark, tmp_path):
    """gopher_filter: the published Gopher document rules as one
    parameterless scan-stage predicate, byte-identical to the
    gopher_quality flag projection (shared _gopher_stats arithmetic)."""
    from scylla_migrator_spark.analytics.text import gopher_quality

    good = "the and " + " ".join(f"tok{i:03d}" for i in range(48))
    rows = [
        (1, good),                                # every rule passes
        (2, "the and " + " ".join(["abc"] * 40)),  # 42 words: word-count fails
        (3, good.replace("the and ", "zzz qqq ")),  # no designated stopwords
        (4, "the and " + " ".join(["12345"] * 48)),  # alpha ratio fails
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [{"op": "gopher_filter"}],
        }
    )
    result = curate(spark, cfg)
    assert sorted(r["doc_id"] for r in result.df.collect()) == [1]
    # the stage predicate and the flag projection agree doc-for-doc
    flags = {
        r["doc_id"]: r["pass_gopher"]
        for r in gopher_quality(spark.read.parquet(src)).collect()
    }
    assert flags == {1: 1, 2: 0, 3: 0, 4: 0}


def test_gopher_filter_rejects_params():
    with pytest.raises(ConfigError):
        CurationConfig.from_dict(
            {
                "source": {"type": "parquet", "path": "/tmp/x"},
                "stages": [{"op": "gopher_filter", "minWords": 10}],
            }
        )


def test_fully_filtered_corpus_report_stays_factual(spark, corpus, tmp_path):
    """When a stage drops EVERY row, AQE's empty-relation re-plan strips
    the CollectMetrics nodes from the executed plan and Spark completes
    the observations with the schemaless empty row (Observation.get dies
    on it). run_curation must still finish, write the empty target plus
    the report, and the report must stay FACTUAL: the input count is the
    corpus size, not 0 (recount fallback)."""
    tgt = str(tmp_path / "empty_out")
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": corpus},
            "stages": [
                {"op": "length_filter", "minTokens": 10**6},
                {"op": "exact_dedup"},
            ],
            "target": {"type": "parquet", "path": tgt},
        }
    )
    run_curation(spark, cfg)
    assert spark.read.parquet(tgt).count() == 0
    report = json.load(open(f"{tgt}/_curation_report.json"))
    assert report["stage_counts"] == {
        "stage00_input": 7,
        "stage01_length_filter": 0,
        "stage02_exact_dedup": 0,
    }


def test_gopher_filter_gates_a_stream(spark, tmp_path):
    """gopher_filter is a pure scan-stage predicate, so the SAME config
    stage gates a live stream with no state store or watermark — the
    batch/stream unification contract extended to the Gopher rules."""
    from scylla_migrator_spark.plans.curate import curate_stream

    good = "the and " + " ".join(f"tok{i:03d}" for i in range(48))
    rows = [(1, good), (2, "too short"), (3, good.replace("the and ", "zz qq "))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [{"op": "gopher_filter"}],
        }
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        curate_stream(stream, cfg)
        .writeStream.format("memory")
        .queryName("gopher_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM gopher_gate_test").collect()
    )
    assert got == [1]


def test_kn_perplexity_filter_stage(spark, tmp_path):
    """kn_perplexity_filter: trains the interpolated bigram KN LM on the
    corpus and drops documents whose mean transition NLL exceeds the
    threshold. Repeated natural-looking transitions score LOW (the LM has
    seen them); a document of unique never-repeated transitions scores
    HIGH. Unscorable stubs (0/1 tokens) pass through."""
    common = "the cat sat on the mat and then " * 4
    rows = [(i, common + f"tail{i}") for i in range(1, 9)]
    # doc 9: every bigram unique corpus-wide -> maximal surprise
    rows.append((9, " ".join(f"odd{i}" for i in range(40))))
    rows.append((10, "stub"))  # one token: no bigrams, must pass
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)

    from scylla_migrator_spark.analytics.text import kn_doc_nll

    scores = {
        r["doc_id"]: r["avg_kn_nll"]
        for r in kn_doc_nll(spark.read.parquet(src)).collect()
    }
    assert 10 not in scores  # unscorable
    assert scores[9] > max(scores[i] for i in range(1, 9))
    cut = (scores[9] + max(scores[i] for i in range(1, 9))) / 2

    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [{"op": "kn_perplexity_filter", "maxAvgNll": round(cut, 4)}],
        }
    )
    kept = sorted(r["doc_id"] for r in curate(spark, cfg, observe=False).df.collect())
    assert kept == list(range(1, 9)) + [10]


def test_kn_perplexity_filter_validation():
    for stage, msg in [
        ({"op": "kn_perplexity_filter"}, "maxAvgNll"),
        ({"op": "kn_perplexity_filter", "maxAvgNll": -1}, "maxAvgNll"),
        ({"op": "kn_perplexity_filter", "maxAvgNll": 3, "bogus": 1}, "bogus"),
        ({"op": "kn_perplexity_filter", "maxAvgNll": 3, "discount": 2}, "discount"),
    ]:
        with pytest.raises(ConfigError, match=msg):
            CurationConfig.from_dict(
                {"source": {"type": "parquet", "path": "/x"}, "stages": [stage]}
            )


def test_kn_perplexity_filter_rejected_on_stream(spark, tmp_path):
    """Corpus-global LM training cannot run on a stream — compose-time
    rejection, not a silent no-op (the curate_stream contract)."""
    from scylla_migrator_spark.plans.curate import curate_stream

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    src = str(tmp_path / "docs")
    df.write.parquet(src)
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": src},
            "stages": [{"op": "kn_perplexity_filter", "maxAvgNll": 3.0}],
        }
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    with pytest.raises(ConfigError, match="corpus-global"):
        curate_stream(stream, cfg)


def test_curation_shards_target_writes_manifest_layout(spark, tmp_path, sf_dir):
    """target: {type: shards} ends the pipeline at the training last mile:
    survivors land in the deterministic shard layout, the manifest totals
    equal the surviving corpus, and the provenance sidecar carries the
    shard summary."""
    import json
    import os

    from scylla_migrator_spark.pathio import live_paths
    from scylla_migrator_spark.plans.curate import CurationConfig, run_curation
    from scylla_migrator_spark.sinks.training_manifest import read_shard_manifest

    root = str(tmp_path / "shards_out")
    cfg = CurationConfig.from_dict(
        {
            "source": {"type": "parquet", "path": f"{sf_dir}/documents.parquet"},
            "stages": [{"op": "length_filter", "minTokens": 5}],
            "target": {"type": "shards", "path": root, "nShards": 4},
        }
    )
    counts = run_curation(spark, cfg)
    survivors = counts["stage01_length_filter"]
    summary, entries = read_shard_manifest(root)
    assert summary["nShards"] == 4 and summary["rowCount"] == survivors
    assert sum(e["rowCount"] for e in entries) == survivors
    written = spark.read.parquet(os.path.join(live_paths(root)[0], "data"))
    assert written.count() == survivors
    assert {"shard", "pos", "n_tokens"} <= set(written.columns)
    with open(os.path.join(root, "_curation_report.json")) as f:
        report = json.load(f)
    assert report["shards"]["rowCount"] == survivors
    assert report["stage_counts"]["stage01_length_filter"] == survivors


def test_curation_shards_target_validation():
    from scylla_migrator_spark.plans.curate import ConfigError, CurationConfig

    base = {
        "source": {"type": "parquet", "path": "/x"},
        "stages": [{"op": "length_filter", "minTokens": 1}],
    }
    import pytest

    with pytest.raises(ConfigError, match="nShards"):
        CurationConfig.from_dict({**base, "target": {"type": "shards", "path": "/y"}})
    with pytest.raises(ConfigError, match="nShards"):
        CurationConfig.from_dict(
            {**base, "target": {"type": "shards", "path": "/y", "nShards": 0}}
        )
    with pytest.raises(ConfigError, match="salt"):
        CurationConfig.from_dict(
            {**base, "target": {"type": "shards", "path": "/y", "nShards": 2, "salt": ""}}
        )
    with pytest.raises(ConfigError, match="parquet|shards"):
        CurationConfig.from_dict({**base, "target": {"type": "csv", "path": "/y"}})
