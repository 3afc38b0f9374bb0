#!/usr/bin/env python
"""Scale-curve harness: run the heaviest dedup pipelines on the sf fixtures
at 1x and ~10x rows and record PER-ROW cost ratios — the empirical check
that no hidden quadratic survives the plan-shape pins.

The 10x corpus replicates each document ``copies`` times with every token
salted by the copy index (within-copy duplicate structure is preserved
exactly; cross-copy similarity is destroyed, so candidate-pair volume
scales linearly like a real corpus, not quadratically like naive
replication). Embeddings are replicated with a per-copy cyclic roll
(near-orthogonal to the original for generic vectors).

Scale-aware parameters follow each pipeline's documented at-scale recipe:
SemDedup's cluster count grows with the corpus (constant expected cluster
width — the paper's ~0.1% of n posture) and its k-means trains on the
deterministic 1/copies sample (the kmeans_centroids docstring recipe);
everything else runs with the production defaults.

Usage:  python tools/scale_curve.py            # sf0.1, copies=10
        SPARK_GRAFT_SF_DIR=... SGS_SCALE_COPIES=4 python tools/scale_curve.py

Prints one JSON line and writes SCALE_CURVE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scylla_migrator_spark.analytics import dedup as D  # noqa: E402
from scylla_migrator_spark.analytics import similarity as SIM  # noqa: E402
from scylla_migrator_spark.analytics import text as TXT  # noqa: E402
from scylla_migrator_spark.analytics.components import (  # noqa: E402
    connected_components,
    k_core,
    label_propagation,
)

COPY_STRIDE = 100_000_000


def scaled_documents(docs: DataFrame, copies: int) -> DataFrame:
    parts = []
    for k in range(copies):
        text = (
            F.col("text")
            if k == 0
            else F.concat_ws(
                " ",
                F.transform(
                    # the salt repeats the copy digit 4x so cross-copy token
                    # pairs sit past the edit-distance cap too (a 1-char
                    # "_k" suffix left them within k_max=3 of each other —
                    # the 10x corpus then held ~10x more GENUINE near pairs
                    # per row and the levenshtein ratio read super-linear
                    # for workload-growth reasons, not plan reasons)
                    TXT.tokens(F.col("text")),
                    lambda w: F.concat(w, F.lit("_" + str(k) * 4)),
                ),
            )
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * COPY_STRIDE)).alias("doc_id"),
                text.alias("text"),
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_embeddings(emb: DataFrame, copies: int, dim: int) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    parts = []
    for k in range(copies):
        roll = k % dim
        vec = v if roll == 0 else F.concat(
            F.slice(v, roll + 1, dim - roll), F.slice(v, 1, roll)
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * COPY_STRIDE)).alias("vec_id"),
                vec.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _timed(fn) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn()
    return time.perf_counter() - t0, int(n)


def run_pipelines(
    spark: SparkSession, docs_path: str, emb_path: str, copies: int
) -> dict[str, dict]:
    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(docs_path).repartition(par)
    emb = spark.read.parquet(emb_path).repartition(par)
    n_docs, n_emb = docs.count(), emb.count()
    out: dict[str, dict] = {}

    only = [s for s in os.environ.get("SGS_SCALE_ONLY", "").split(",") if s]

    def record(name: str, rows_in: int, fn, extra: dict | None = None) -> None:
        if only and not any(s in name for s in only):
            return
        secs, rows_out = _timed(fn)
        out[name] = {
            "rows_in": rows_in,
            "rows_out": rows_out,
            "secs": round(secs, 3),
            "us_per_row": round(1e6 * secs / rows_in, 3),
        }
        if extra:
            out[name].update(extra)
        print(
            f"SCALE_CURVE | {name} rows={rows_in} secs={secs:.2f} "
            f"usPerRow={1e6 * secs / rows_in:.1f}",
            file=sys.stderr,
        )

    record(
        "minhash_lsh_candidates",
        n_docs,
        lambda: D.minhash_lsh_candidates(
            docs, "text", "doc_id", num_hashes=16, bands=4
        ).count(),
    )

    # components family: measured through the REGISTRY's exact plan (r8
    # verdict task #2) — Manku-blocked hamming<=8 within-source candidates,
    # star-contracted for the graph builders, NOT the banded h<=3 proxy
    def keep_best() -> int:
        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        )
        edges = D.simhash_blocked_pairs(
            fp, "doc_id", bits=60, blocks=10, max_hamming=8,
            group_col="source", emit="star",
        )
        comp = connected_components(edges, "id_a", "id_b")
        return comp.groupBy("comp").count().count()

    record("simhash_components_keep_best", n_docs, keep_best)

    def wide_blocked() -> int:
        # the corpus-scale fingerprint width: 60-bit fps, ~12-bit union keys
        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        )
        return D.simhash_blocked_pairs(
            fp, "doc_id", bits=60, blocks=10, max_hamming=8, group_col="source"
        ).count()

    record("simhash_wide_blocked_pairs", n_docs, wide_blocked)

    def wide_clusters() -> int:
        # the composed corpus-scale pipeline: wide fps -> blocked star
        # edges -> components (the wide_dedup_clusters registry row)
        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        )
        edges = D.simhash_blocked_pairs(
            fp, "doc_id", bits=60, blocks=10, max_hamming=8,
            group_col="source", emit="star",
        ).select("id_a", "id_b")
        return connected_components(edges, "id_a", "id_b").count()

    record("wide_dedup_clusters", n_docs, wide_clusters)

    def dedup_components() -> int:
        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        )
        edges = D.simhash_blocked_pairs(
            fp, "doc_id", bits=60, blocks=10, max_hamming=8,
            group_col="source", emit="star",
        )
        return connected_components(edges, "id_a", "id_b").count()

    record("dedup_components", n_docs, dedup_components)

    def incr_components() -> int:
        # mirrors the registry row: staged union keys probed by the batch
        # (never a full-state key re-explode), contracted fixpoint, one
        # broadcast remap join
        from scylla_migrator_spark.analytics.components import (
            contracted_merge,
            incremental_components_apply,
        )

        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        ).localCheckpoint(eager=True)
        fp_old = fp.filter(F.col("doc_id") % 10 != 0)
        fp_inc = fp.filter(F.col("doc_id") % 10 == 0)
        old_pairs = D.simhash_blocked_pairs(
            fp_old, "doc_id", bits=60, blocks=10, max_hamming=8,
            group_col="source", emit="star",
        ).select("id_a", "id_b")
        base = connected_components(old_pairs, "id_a", "id_b").localCheckpoint(
            eager=True
        )
        units = (
            fp_old.groupBy("source", "sh")
            .agg(F.min("doc_id").alias("__anchor"))
            .join(
                base.select(
                    F.col("id").alias("__anchor"), F.col("comp").alias("__c")
                ),
                "__anchor",
                "left",
            )
            .select(
                F.col("source").alias("__grp"),
                F.col("sh").alias("__sh"),
                "__anchor",
                F.coalesce("__c", "__anchor").alias("__comp0"),
            )
        )
        keys = D.staged_union_keys(units, bits=60, blocks=10, max_hamming=8)
        pr = D.simhash_staged_probe(
            fp_inc, keys, id_col="doc_id", sh_col="sh", group_col="source",
            bits=60, blocks=10, max_hamming=8, materialize="checkpoint",
        )
        merged = contracted_merge(pr.anchor_labels, pr.edges, "id_a", "id_b")
        return incremental_components_apply(
            base, merged, pr.edges, "id_a", "id_b"
        ).count()

    record("incremental_components_update", n_docs, incr_components)

    def stream_components() -> int:
        import shutil
        import tempfile

        from scylla_migrator_spark.streaming.components_cdc import (
            components_upsert_batch,
        )

        fp = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        )
        root = tempfile.mkdtemp(prefix="sgs_curve_cc_")
        serving = os.path.join(root, "serving")
        try:
            components_upsert_batch(
                fp.filter(F.col("doc_id") % 2 == 0), serving, id_col="doc_id",
                bits=60,
            )
            components_upsert_batch(
                fp.filter(F.col("doc_id") % 2 == 1), serving, id_col="doc_id",
                bits=60,
            )
            return (
                docs.sparkSession.read.parquet(serving)
                .filter(F.col("paired"))
                .count()
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    record("stream_components_update", n_docs, stream_components)

    # retraction: state built UNTIMED (it exists in production); the
    # pipeline times only the delete batch — probe + per-component
    # re-solve + bucket/key-partition swaps
    if not only or any(s in "components_retract_rebalance" for s in only):
        import shutil
        import tempfile

        from scylla_migrator_spark.streaming.components_cdc import (
            components_retract_batch,
            components_upsert_batch,
        )

        fp60 = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        ).localCheckpoint(eager=True)
        rroot = tempfile.mkdtemp(prefix="sgs_curve_retract_")
        rserving = os.path.join(rroot, "serving")
        components_upsert_batch(
            fp60.filter(F.col("doc_id") % 2 == 0), rserving,
            id_col="doc_id", bits=60,
        )
        components_upsert_batch(
            fp60.filter(F.col("doc_id") % 2 == 1), rserving,
            id_col="doc_id", bits=60,
        )

        def retract_components() -> int:
            components_retract_batch(
                fp60.filter(F.col("doc_id") % 17 == 0), rserving,
                id_col="doc_id", bits=60,
            )
            return (
                docs.sparkSession.read.parquet(rserving)
                .filter(F.col("paired"))
                .count()
            )

        record("components_retract_rebalance", n_docs, retract_components)
        shutil.rmtree(rroot, ignore_errors=True)

    # mixed insert/delete lifecycle: even ingest -> (odd ingest + %17
    # retract) — the components_cdc_replay registry plan without the
    # stream shell; per-batch work must stay batch-bounded so the whole
    # replay scales with the corpus, not quadratically in batches
    if not only or any(s in "components_cdc_replay" for s in only):
        import shutil
        import tempfile

        from scylla_migrator_spark.streaming.components_cdc import (
            components_retract_batch,
            components_upsert_batch,
        )

        fpc = D.simhash_fingerprints(
            docs, "text", "doc_id", carry_cols=["source"], bits=60, hash_hex=15
        ).localCheckpoint(eager=True)

        def cdc_replay() -> int:
            croot = tempfile.mkdtemp(prefix="sgs_curve_cdc_")
            cserving = os.path.join(croot, "serving")
            try:
                components_upsert_batch(
                    fpc.filter(F.col("doc_id") % 2 == 0), cserving,
                    id_col="doc_id", bits=60,
                )
                components_upsert_batch(
                    fpc.filter(F.col("doc_id") % 2 == 1), cserving,
                    id_col="doc_id", bits=60,
                )
                components_retract_batch(
                    fpc.filter(F.col("doc_id") % 17 == 0), cserving,
                    id_col="doc_id", bits=60,
                )
                return (
                    docs.sparkSession.read.parquet(cserving)
                    .filter(F.col("paired"))
                    .count()
                )
            finally:
                shutil.rmtree(croot, ignore_errors=True)

        record("components_cdc_replay", n_docs, cdc_replay)

    record(
        "ngram_jaccard_capped_pairs",
        n_docs,
        lambda: D.ngram_jaccard_pairs(
            docs, "text", "doc_id", "source", n=3, max_doc_freq=50
        ).count(),
    )

    record(
        "substring_dup_fraction",
        n_docs,
        lambda: D.substring_duplication(docs, "text", "doc_id", 8).count(),
    )

    record(
        "segment_dedup_reconstruct",
        n_docs,
        lambda: D.segment_dedup(docs, "text", "doc_id", seg_tokens=16).count(),
    )

    record(
        "levenshtein_capped_pairs",
        n_docs,
        lambda: D.edit_distance_pairs(
            docs.select(
                "doc_id",
                "source",
                F.lower(F.substring(F.col("text"), 1, 32)).alias("key"),
            ),
            q=4,
            k_max=3,
            max_key_freq=8,
        ).count(),
    )

    record(
        "jaccard_prefix_filter_pairs",
        n_docs,
        lambda: D.jaccard_prefix_pairs(
            docs, "text", "doc_id", block_col="source"
        ).count(),
    )

    record(
        "winnowing_fingerprint_pairs",
        n_docs,
        lambda: D.winnowing_pairs(
            docs, "text", "doc_id", "source", k=3, window=4
        ).count(),
    )

    def lpa() -> int:
        # registry path: the dup_graph_* metrics consume the PAIR-mode
        # blocked hamming<=8 staged table
        fp = D.simhash_fingerprints(docs, "text", "doc_id", carry_cols=["source"])
        pairs = D.simhash_blocked_pairs(
            fp, "doc_id", blocks=10, max_hamming=8, group_col="source"
        ).select("id_a", "id_b")
        return label_propagation(pairs, "id_a", "id_b", rounds=3).count()

    # iteration-cost story (r10 verdict task #5): LPA rounds are a FIXED
    # unrollable count — per-round cost is one edges-x-labels shuffle
    # over 8-byte ids, and the round count does NOT grow with the corpus
    # (the fixed-round contract SQL oracles replay CTE-for-CTE). The 10x
    # per-row ratio therefore measures edge growth only; at 100x the
    # knobs are rounds (quality/cost dial) and per-round checkpoint
    # cadence, both already explicit parameters.
    record(
        "dup_graph_label_propagation", n_docs, lpa,
        extra={"rounds": 3, "rounds_fixed": True},
    )

    record(
        "containment_prefix_pairs",
        n_docs,
        lambda: D.containment_pairs(
            docs, "text", "doc_id", block_col="source",
            threshold_num=9, threshold_den=10,
        ).count(),
    )

    record(
        "kneser_ney_trigram_lm",
        n_docs,
        lambda: TXT.kneser_ney_trigram(docs, "text", min_count=3).count(),
    )

    record(
        "kn_doc_nll_score",
        n_docs,
        lambda: TXT.kn_doc_nll(docs, "text", "doc_id").count(),
    )

    def kcore() -> int:
        fp = D.simhash_fingerprints(docs, "text", "doc_id", carry_cols=["source"])
        pairs = D.simhash_blocked_pairs(
            fp, "doc_id", blocks=10, max_hamming=8, group_col="source"
        ).select("id_a", "id_b")
        return k_core(pairs, "id_a", "id_b", k=2, rounds=4).count()

    # same bounded-iteration story as LPA: the peel runs a FIXED 4
    # rounds (Batagelj-Zaversnik peeling converges in rounds ~ graph
    # degeneracy; near-dup graphs are bounded-degree so a handful of
    # peels suffices, and the fixed count is what the SQL oracle
    # replays). Per round: one degree agg + two semi-joins on 8-byte
    # ids over the SURVIVING edges — monotonically shrinking work.
    record(
        "dup_graph_k_core", n_docs, kcore,
        extra={"rounds": 4, "rounds_fixed": True},
    )

    def image_phash() -> int:
        from scylla_migrator_spark.analytics import multimodal as MM

        payload = docs.select(
            "doc_id",
            F.encode(F.substring(F.col("text"), 1, 61), "UTF-8").alias("payload"),
        )
        ppm = MM.synth_ppm_assets(payload, "doc_id", "payload", width=16, height=16)
        assets = MM.make_asset_table(
            ppm, "asset_id", "data", kind="image", mime="image/x-portable-pixmap"
        )
        fp = MM.image_dhash_fingerprints(
            MM.resize_ppm_nn(assets, 8, 8), grid=8
        ).localCheckpoint(eager=True)
        return D.simhash_banded_pairs(
            fp, "asset_id", sh_col="sh", bits=56, bands=8, max_hamming=4
        ).count()

    record("image_phash_dup_pairs", n_docs, image_phash)

    def audio_phash() -> int:
        from scylla_migrator_spark.analytics import multimodal as MM

        payload = docs.select(
            "doc_id",
            F.encode(
                F.substring(F.repeat(F.substring(F.col("text"), 1, 61), 8), 1, 464),
                "UTF-8",
            ).alias("payload"),
            F.lit(8000).cast("int").alias("rate"),
        )
        wav = MM.synth_wav_assets(payload, "doc_id", "payload", "rate")
        fp = MM.audio_energy_fingerprints(
            MM.make_asset_table(wav, "asset_id", "data", "audio", "audio/wav"),
            frames=29,
        ).localCheckpoint(eager=True)
        return D.simhash_banded_pairs(
            fp, "asset_id", sh_col="sh", bits=28, bands=4, max_hamming=3
        ).count()

    record("audio_phash_dup_pairs", n_docs, audio_phash)

    def semdedup() -> int:
        # scale recipe: cluster count grows with the corpus (constant
        # expected cluster width -> the pair join stays linear per row);
        # train on the deterministic original-copy sample
        n_cent = 16 * copies
        sample = emb.filter(F.col("vec_id") < COPY_STRIDE)
        cents = SIM.kmeans_centroids(sample, n_cent, iters=2)
        return D.semdedup(emb, "vec_id", "embedding", cents, tau=0.25).count()


    def unigram_train() -> int:
        from scylla_migrator_spark.analytics import tokenizer as TOK

        return TOK.train_unigram(docs, rounds=2, text_col="text").count()

    record("unigram_lm_train", n_docs, unigram_train)

    def unigram_tokens() -> int:
        from scylla_migrator_spark.analytics import tokenizer as TOK

        words = TOK.word_frequency_table(docs).localCheckpoint()
        probs = TOK.substring_seed_vocab(words)
        for _ in range(2):
            probs = TOK.unigram_em_round(words, probs).localCheckpoint()
        wnp = TOK.unigram_viterbi_counts(words, probs)
        dw = docs.select(
            "doc_id", F.explode(TXT.tokens(F.col("text"))).alias("word")
        ).filter(F.length("word") > 0)
        return (
            dw.join(wnp, "word")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_words"), F.sum("n_pieces").alias("n_pieces"))
            .count()
        )

    record("unigram_token_count", n_docs, unigram_tokens)

    def unigram_pruned() -> int:
        from scylla_migrator_spark.analytics import tokenizer as TOK

        return TOK.train_unigram_pruned(docs).count()

    record("unigram_prune_retrain", n_docs, unigram_pruned)


    def video_phash() -> int:
        from scylla_migrator_spark.analytics import multimodal as MM

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
        fp = (
            MM.image_dhash_fingerprints(MM.resize_ppm_nn(passets, 8, 8), grid=8)
            .select(
                F.expr("asset_id DIV 64").alias("doc_id"),
                (F.col("asset_id") % 64).alias("f"),
                "sh",
            )
            .localCheckpoint(eager=True)
        )
        return D.frame_sequence_pairs(fp, "doc_id", "f", "sh").count()

    record("video_phash_dup_pairs", n_docs, video_phash)

    def wordpiece_train() -> int:
        from scylla_migrator_spark.analytics import tokenizer as TOK

        merges, _ = TOK.train_wordpiece(docs, 8)
        return len(merges)

    record("wordpiece_train_merges", n_docs, wordpiece_train)

    def shard_writer() -> int:
        import shutil
        import tempfile

        from scylla_migrator_spark.analytics import text as _TXT
        from scylla_migrator_spark.sinks.training_manifest import (
            write_training_shards,
        )

        root = tempfile.mkdtemp(prefix="sgs_curve_shards_") + "/out"
        try:
            out = docs.select(
                "doc_id", _TXT.token_count(F.col("text")).cast("long").alias("nt")
            )
            s = write_training_shards(
                out, root, key_col="doc_id", token_count_col="nt", n_shards=64
            )
            return int(s["rowCount"])
        finally:
            shutil.rmtree(root, ignore_errors=True)

    record("shuffle_shard_manifest", n_docs, shard_writer)

    def sentence_dedup() -> int:
        # CCNet sentence-hash dedup ledger (plans/queries.py::
        # sentence_dedup_fraction): sentences cross the df join as md5
        # digests only; both aggregates map-side combinable
        sents = (
            docs.select(
                "doc_id", F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s0")
            )
            .select("doc_id", F.trim(F.col("s0")).alias("s"))
            .filter(F.length("s") > 0)
            .select("doc_id", F.md5("s").alias("h"))
        )
        dfq = sents.distinct().groupBy("h").agg(F.count("*").alias("nd"))
        j = sents.join(dfq, "h").select(
            "doc_id",
            F.when(F.col("nd") >= 2, F.lit(1)).otherwise(F.lit(0)).alias("isdup"),
        )
        return j.groupBy("doc_id").agg(F.sum("isdup")).count()

    record("sentence_dedup_fraction", n_docs, sentence_dedup)

    record("semdedup_prune", n_emb, semdedup)
    return out


def main() -> None:
    from scylla_migrator_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    copies = int(os.environ.get("SGS_SCALE_COPIES", "10"))
    spark = get_spark("scale_curve")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").head()[0])

    base = "/tmp/sgs_scale_curve"
    paths = {}
    for tag, c in (("1x", 1), (f"{copies}x", copies)):
        dp, ep = f"{base}/docs_{tag}", f"{base}/emb_{tag}"
        scaled_documents(docs, c).write.mode("overwrite").parquet(dp)
        scaled_embeddings(emb, c, dim).write.mode("overwrite").parquet(ep)
        paths[tag] = (dp, ep, c)

    results = {}
    for tag, (dp, ep, c) in paths.items():
        results[tag] = run_pipelines(spark, dp, ep, c)

    big = f"{copies}x"
    ratios = {
        name: round(
            results[big][name]["us_per_row"] / results["1x"][name]["us_per_row"], 3
        )
        for name in results["1x"]
    }
    curve_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_CURVE.json",
    )
    # partial runs (SGS_SCALE_ONLY) merge into the existing file instead of
    # dropping every entry they didn't re-measure
    if os.environ.get("SGS_SCALE_ONLY") and os.path.exists(curve_path):
        with open(curve_path) as f:
            prev = json.loads(f.read())
        merged_ratios = dict(prev.get("ratios", {}))
        merged_ratios.update(ratios)
        ratios = merged_ratios
        detail = prev.get("detail", {})
        for tag in results:
            detail.setdefault(tag, {}).update(results[tag])
        results = detail
    out = {
        "metric": "scale_curve_per_row_ratio",
        "copies": copies,
        "sf_dir": sf_dir,
        "ratios": ratios,
        "max_ratio": max(ratios.values()),
        "detail": results,
    }
    line = json.dumps(out)
    print(line)
    with open(curve_path, "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
