"""BPE tokenizer training, exact-substring duplication, and DSIR selection.

The BPE trainer has no SQL oracle (iterative state), so its pin is a pure-
Python reference implementation of the Sennrich et al. 2016 algorithm run on
the same fixture — merge-for-merge equality including tie-breaks.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics import dedup as D
from scylla_migrator_spark.analytics import selection as SEL
from scylla_migrator_spark.analytics import tokenizer as TOK


# --- pure-Python reference BPE (dict loop, the classic implementation) ----


def _ref_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    vocab: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        for w in t.split():
            if w:
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        # max count, ties lexicographic on (p1, p2) — the trainer's contract
        (p1, p2), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((p1, p2, cnt))
        new_vocab: Counter[tuple[str, ...]] = Counter()
        for syms, c in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == p1 and s == p2:
                    out[-1] = p1 + p2
                else:
                    out.append(s)
            new_vocab[tuple(out)] += c
        vocab = new_vocab
    return merges


def test_train_bpe_matches_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    expected = _ref_bpe(texts, 8)
    got, _ = TOK.train_bpe(docs, 8)
    assert got == expected


def test_merge_pair_greedy_left_to_right(spark):
    df = spark.createDataFrame([("aaa",), ("aaaa",), ("ab",), ("ba",)], ["w"])
    out = df.select(
        "w", TOK.merge_pair(TOK._chars(F.col("w")), "a", "a").alias("m")
    ).collect()
    got = {r["w"]: r["m"] for r in out}
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["ab"] == ["a", "b"]
    assert got["ba"] == ["b", "a"]


def test_merge_pair_with_merged_symbol(spark):
    # after (e, r) -> "er", a rule (m, er) must match the MERGED symbol only
    df = spark.createDataFrame([("mer",), ("mre",)], ["w"])
    first = TOK.merge_pair(TOK._chars(F.col("w")), "e", "r")
    second = TOK.merge_pair(first, "m", "er")
    got = {r["w"]: r["m"] for r in df.select("w", second.alias("m")).collect()}
    assert got["mer"] == ["mer"]
    assert got["mre"] == ["m", "r", "e"]


def test_train_bpe_empty_and_zero_rounds(spark):
    df = spark.createDataFrame([("a b c",)], ["text"])
    merges, words = TOK.train_bpe(df, 0)
    assert merges == []
    # single-char words: no pairs exist, trainer stops early
    merges2, _ = TOK.train_bpe(df, 3)
    assert merges2 == []
    with pytest.raises(ValueError):
        TOK.train_bpe(df, -1)


def test_segment_with_merges_compression(spark):
    df = spark.createDataFrame([(1, "merge merge mergers")], ["doc_id", "text"])
    base = TOK.segment_with_merges(df, [], "text", "doc_id").collect()[0]
    assert base["n_words"] == 3
    assert base["n_pieces"] == len("merge") * 2 + len("mergers")
    merges, _ = TOK.train_bpe(df, 4)
    seg = TOK.segment_with_merges(df, merges, "text", "doc_id").collect()[0]
    assert seg["n_pieces"] < base["n_pieces"]


# --- exact-substring duplication ------------------------------------------


def test_substring_duplication_shared_window(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (1, shared + " tail1 tail2"),   # 3 windows, 1 shared
        (2, "head0 " + shared),          # 2 windows, 1 shared
        (3, "x1 x2 x3 x4 x5 x6 x7 x8"),  # unique
        (4, "short doc"),                # < 8 tokens -> whole-doc window
        (5, "short doc"),                # exact dup of 4 at whole-doc level
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in D.substring_duplication(df, "text", "doc_id", 8).collect()
    }
    assert out[1]["n_windows"] == 3 and out[1]["dup_windows"] == 1
    assert out[2]["n_windows"] == 2 and out[2]["dup_windows"] == 1
    assert out[3]["dup_windows"] == 0
    assert out[4]["n_windows"] == 1 and out[4]["dup_frac"] == 1.0
    assert out[5]["dup_frac"] == 1.0


# --- DSIR ------------------------------------------------------------------


def test_dsir_ranks_target_like_docs_higher(spark):
    rows = [
        (1, "alpha beta gamma alpha beta", "en"),   # target
        (2, "alpha beta gamma beta alpha", "en"),   # target
        (3, "alpha beta gamma alpha gamma", "xx"),  # raw, target-like
        (4, "zeta eta theta iota kappa", "xx"),     # raw, divergent
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = SEL.dsir_select_topk(df, F.col("lang") == "en", 10)
    got = [r["doc_id"] for r in out.collect()]
    assert got == [3, 4]
    w = {
        r["doc_id"]: r["log_weight"]
        for r in SEL.dsir_log_weights(df, F.col("lang") == "en").collect()
    }
    assert w[3] > w[4]
    assert w[1] > 0  # target doc under its own LM


def test_longest_shared_run(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10 tokens -> 3 windows of 8
    rows = [
        (1, shared + " a1 a2"),
        (2, shared + " b1 b2"),   # docs 1/2 share windows 0,1,2 (run of 3)
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique -> 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["max_dup_run"] for r in D.longest_shared_run(df).collect()}
    assert out[1] == 3 and out[2] == 3 and out[3] == 0


def test_longest_shared_run_broken_run(spark):
    # doc 1 shares windows at positions {0, 2} with two different docs but
    # not position 1 -> islands of length 1, max run 1
    w = lambda i: " ".join(f"w{i}_{j}" for j in range(8))  # noqa: E731
    rows = [
        (1, "x1 x2 " + w(0) + " y1 y2 " + w(1)),
        (2, "x1 x2 " + w(0)),
        (3, w(1)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["max_dup_run"] for r in D.longest_shared_run(df).collect()}
    assert out[2] >= 1 and out[3] >= 1
    assert out[1] >= 1


def test_bigram_entropy_values(spark):
    import math

    from scylla_migrator_spark.analytics import text as TXT2

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "solo"), (3, "x x x x x")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["bigram_entropy"] for r in TXT2.bigram_entropy(df).collect()}
    # doc 1: grams (a b)x2, (b a)x1 -> H = -(2/3 ln 2/3) - (1/3 ln 1/3)
    expect = round(-(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3), 4)
    assert abs(out[1] - expect) < 1e-3
    assert out[2] == 0.0  # single gram
    assert out[3] == 0.0  # all grams identical


def test_dsir_gumbel_deterministic_and_seeded(spark):
    rows = [
        (i, f"alpha beta w{i} w{i + 1} gamma", "en" if i % 2 == 0 else "xx")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    tgt = F.col("lang") == "en"
    a = SEL.dsir_gumbel_topk(df, tgt, 5).collect()
    b = SEL.dsir_gumbel_topk(df, tgt, 5).collect()
    assert a == b
    c = SEL.dsir_gumbel_topk(df, tgt, 5, seed="other").collect()
    assert a != c  # a different seed redraws the sample
    assert len(a) == 5
    assert all(r["doc_id"] % 2 == 1 for r in a)  # only raw-pool docs selected


def test_merge_pair_randomized_vs_python_fold(spark):
    """One Spark job covering 300 randomized (word, pair) cases: the
    aggregate-fold must equal the reference greedy left-to-right dict-loop
    merge on every case (per-row Column rules exercise the general form)."""
    import random

    rng = random.Random(20260814)
    alphabet = "abc"
    cases = []
    for i in range(300):
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 10)))
        p1, p2 = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((i, word, p1, p2))

    def py_merge(word, p1, p2):
        out = []
        for s in word:
            if out and out[-1] == p1 and s == p2:
                out[-1] = p1 + p2
            else:
                out.append(s)
        return out

    df = spark.createDataFrame(cases, ["i", "w", "p1", "p2"])
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i",
            TOK.merge_pair(TOK._chars(F.col("w")), F.col("p1"), F.col("p2")).alias("m"),
        ).collect()
    }
    for i, word, p1, p2 in cases:
        assert got[i] == py_merge(word, p1, p2), (word, p1, p2)


def test_bigram_nll_shuffled_text_scores_worse(spark):
    from scylla_migrator_spark.analytics import text as TXT3

    natural = "the cat sat on the mat and the cat ran to the mat"
    rows = [
        (1, natural),
        (2, natural),
        (3, natural),
        (4, "mat the to ran cat sat the on and mat cat the the sat"),  # shuffled
        (5, "xy"),  # single token -> no bigrams, excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TXT3.bigram_nll(df).collect()}
    assert 5 not in out
    assert out[1]["avg_bigram_nll"] == out[2]["avg_bigram_nll"]
    # the shuffled doc's transitions surprise the LM trained mostly on the
    # natural ordering
    assert out[4]["avg_bigram_nll"] > out[1]["avg_bigram_nll"]


def test_intra_doc_duplication(spark):
    w8 = "r1 r2 r3 r4 r5 r6 r7 r8"
    rows = [
        (1, w8 + " " + w8),      # 16 tokens: windows repeat at offset 8
        (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # all windows distinct
        (3, "tiny doc"),          # short doc: one whole-doc window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.intra_doc_duplication(df).collect()}
    assert out[1]["n_windows"] == 9 and out[1]["n_distinct_windows"] == 8
    assert out[2]["intra_dup_frac"] == 0.0
    assert out[3]["n_windows"] == 1 and out[3]["intra_dup_frac"] == 0.0


# --- distributed linear algebra -------------------------------------------


@pytest.mark.slow
def test_power_iteration_matches_numpy(spark, sf_dir):
    import numpy as np

    from scylla_migrator_spark.analytics import linalg as LA

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    X = np.array([r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64)
    # reference: the same deterministic recipe in numpy (ones start, 6 dp
    # renormalize per iteration) -- decimal truncation differs at <=1e-9 per
    # term, far under the comparison tolerance
    v = np.ones(X.shape[1])
    for _ in range(2):
        t = X.T @ (X @ v)
        v = np.round(t / np.linalg.norm(t), 6)
    got = np.array(LA.power_iteration_top_pc(emb, "embedding", 2))
    assert np.abs(got - v).max() < 1e-4
    # with more iterations the direction approaches the true dominant
    # eigenvector (the fixture's spectrum is nearly flat - 14.4 vs 13.5 -
    # so 2 iterations are far from converged; 25 gets cos ~0.88)
    w, V = np.linalg.eigh(X.T @ X)
    deep = np.array(LA.power_iteration_top_pc(emb, "embedding", 25))
    top = V[:, -1]
    cos = abs(float(deep @ top)) / (np.linalg.norm(deep) * np.linalg.norm(top))
    assert cos > 0.85


def test_projection_scores(spark):
    from scylla_migrator_spark.analytics import linalg as LA

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [3.0, 4.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = {r["vec_id"]: r["projection"] for r in LA.project_onto(df, [1.0, 1.0]).collect()}
    assert out == {1: 1.0, 2: 2.0, 3: 7.0}


def test_power_iteration_empty_and_zero(spark):
    from scylla_migrator_spark.analytics import linalg as LA

    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError):
        LA.power_iteration_top_pc(empty, "embedding", 1)
    with pytest.raises(ValueError):  # explicit dim must not change the error
        LA.power_iteration_top_pc(empty, "embedding", 1, dim=2)
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError):
        LA.power_iteration_top_pc(zeros, "embedding", 1)


def test_js_divergence_identical_and_disjoint(spark):
    import math

    rows = (
        [(i, "alpha beta gamma", "s1") for i in range(5)]
        + [(i + 10, "alpha beta gamma", "s2") for i in range(5)]   # same dist as s1
        + [(i + 20, "zeta eta theta", "s3") for i in range(5)]     # disjoint vocab
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        (r["sa"], r["sb"]): r["js_divergence"]
        for r in SEL.source_js_divergence(df).collect()
    }
    assert out[("s1", "s2")] == 0.0                      # identical distributions
    assert abs(out[("s1", "s3")] - math.log(2)) < 1e-5   # disjoint -> ln 2
    assert 0 < out[("s2", "s3")] <= math.log(2) + 1e-9


def test_cross_corpus_lsh_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(30))
    rows_a = [(2, base), (4, " ".join(f"x{i}" for i in range(30)))]
    rows_b = [
        (1, base + " tail"),                       # near-dup of A's doc 2
        (3, " ".join(f"y{i}" for i in range(30))),  # unrelated
    ]
    a = spark.createDataFrame(rows_a, ["doc_id", "text"])
    b = spark.createDataFrame(rows_b, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.cross_corpus_lsh_candidates(a, b, "text", "doc_id").collect()
    }
    assert (2, 1) in pairs
    # no within-corpus pair ever comes out
    assert all(x % 2 == 0 and y % 2 == 1 for x, y in pairs)


# --- large-rule-list Arrow encoder ----------------------------------------


def test_segment_arrow_matches_fold_on_trained_rules(spark, sf_dir):
    """The Arrow encoder must produce IDENTICAL segmentation counts to the
    expression-fold path on real trained rules over real documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    merges, _ = TOK.train_bpe(docs, 8)
    fold = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in TOK.segment_with_merges(docs, merges, engine="fold").collect()
    }
    arrow = {
        r["doc_id"]: (r["n_words"], r["n_pieces"])
        for r in TOK.segment_with_merges(docs, merges, engine="arrow").collect()
    }
    assert fold == arrow


def test_segment_arrow_matches_fold_randomized(spark):
    """Property pin (extends the randomized merge-fold pin to the Arrow
    path): random words over a 3-letter alphabet and random rule lists —
    including rules over MERGED symbols and duplicate pairs — segment
    identically on both engines."""
    import random

    rng = random.Random(20260814)
    alphabet = "abc"
    rows = [
        (i, " ".join("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 8)))
                      for _ in range(rng.randint(0, 5))))
        for i in range(60)
    ]
    units = ["a", "b", "c", "ab", "ba", "aa", "bc", "aab", "abc"]
    merges = [
        (rng.choice(units), rng.choice(units)) for _ in range(12)
    ] + [("a", "b")]  # guaranteed duplicate of a likely-earlier rule
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fold = sorted(map(tuple, TOK.segment_with_merges(df, merges, engine="fold").collect()))
    arrow = sorted(map(tuple, TOK.segment_with_merges(df, merges, engine="arrow").collect()))
    assert fold == arrow


def test_segment_auto_dispatch_and_1k_rules_complete(spark):
    """auto picks the fold below the limit and the Arrow path above it; a
    1,000-rule encode (unplannable as a fold) completes and compresses."""
    import random

    rng = random.Random(7)
    # synthetic rule list shaped like a real vocabulary: chains of merges
    merges = []
    seen = set()
    while len(merges) < 1000:
        a = "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 3)))
        b = "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 3)))
        if (a, b) not in seen:
            seen.add((a, b))
            merges.append((a, b))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    out = TOK.segment_with_merges(docs, merges).collect()  # auto -> arrow
    assert len(out) == docs.count()
    base = {r["doc_id"]: r["n_pieces"] for r in TOK.segment_with_merges(docs, [])
            .collect()}
    assert all(r["n_pieces"] <= base[r["doc_id"]] for r in out)
    # plan sanity: the arrow path is a single mapInPandas over a narrow scan
    plan = TOK.segment_with_merges(docs, merges)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_bpe_sql_oracle_does_not_merge_mid_symbol(spark):
    """Regression: a trailing-delimiter-only oracle encoding merged ACROSS
    symbol boundaries (state [xa, b] with rule (a, b) -> [xab]), which the
    engine's merge_pair never does. Corpus engineered so merge 1 creates
    symbol 'xa' and merge 2 is (a, b) with a word 'xab' present: a broken
    oracle loses the (xa, b) pair and diverges at round 3."""
    import duckdb

    from scylla_migrator_spark.plans.queries import _bpe_train_sql

    texts = ["xa"] * 10 + ["ab"] * 8 + ["xab"] * 5
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    engine = TOK.train_bpe(df, 3)[0]
    assert engine == [("x", "a", 15), ("a", "b", 8), ("xa", "b", 5)]

    con = duckdb.connect()
    con.register("docs_src", df.toPandas())
    con.sql("CREATE VIEW documents AS SELECT * FROM docs_src")
    oracle = [
        (r[1], r[2], int(r[3]))
        for r in con.sql(_bpe_train_sql(3) + " ORDER BY merge_rank").fetchall()
    ]
    assert oracle == engine


def _unigram_reference(texts: list[str], rounds: int = 2, top_multi: int = 128):
    """Pure-Python unigram-LM EM (the engine-independent witness): seed from
    substring counts, exact forward-backward expected counts truncated to
    9 decimal places before the sum, renormalize."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    words: Counter = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            if w:
                words[w] += 1
    subs: Counter = Counter()
    for w, c in words.items():
        for j in range(len(w)):
            for k in (1, 2, 3):
                if j + k <= len(w):
                    subs[w[j : j + k]] += c
    vocab = {p: c for p, c in subs.items() if len(p) == 1}
    vocab.update(
        dict(
            sorted(
                ((p, c) for p, c in subs.items() if len(p) > 1),
                key=lambda t: (-t[1], t[0]),
            )[:top_multi]
        )
    )
    tot = sum(vocab.values())
    probs = {p: c / tot for p, c in vocab.items()}

    def dec9(x: float) -> Decimal:
        return Decimal(x).quantize(Decimal("0.000000001"), rounding=ROUND_HALF_UP)

    for _ in range(rounds):
        ec: dict[str, Decimal] = {}
        for w, c in words.items():
            n = len(w)
            al = [1.0] + [0.0] * n
            for t in range(1, n + 1):
                s = 0.0
                for k in (1, 2, 3):
                    if t - k >= 0 and w[t - k : t] in probs:
                        s += probs[w[t - k : t]] * al[t - k]
                al[t] = s
            be = [0.0] * n + [1.0]
            for t in range(n - 1, -1, -1):
                s = 0.0
                for k in (1, 2, 3):
                    if t + k <= n and w[t : t + k] in probs:
                        s += probs[w[t : t + k]] * be[t + k]
                be[t] = s
            for j in range(n):
                for k in (1, 2, 3):
                    piece = w[j : j + k]
                    if j + k <= n and piece in probs:
                        g = c * al[j] * probs[piece] * be[j + k] / al[n]
                        ec[piece] = ec.get(piece, Decimal(0)) + dec9(g)
        t2 = float(sum(ec.values()))
        probs = {p: float(v) / t2 for p, v in ec.items()}
    return words, probs


def test_train_unigram_matches_reference(spark, sf_dir):
    """The distributed EM (folded lattice DPs, decimal-truncated expected
    counts) must equal the sequential reference to 6 decimals — seeding,
    both rounds, tie-breaks and float-op order included."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["piece"]: round(r["p"], 6)
        for r in TOK.train_unigram(docs, rounds=2).collect()
    }
    texts = [r["text"] for r in docs.select("text").collect()]
    _, want = _unigram_reference(texts, rounds=2)
    assert got == {p: round(v, 6) for p, v in want.items()}


def test_unigram_viterbi_counts_vs_reference(spark, sf_dir):
    """Viterbi piece counts under the trained vocab: shortest-piece
    tie-break, guaranteed single-char coverage."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words_df = TOK.word_frequency_table(docs).localCheckpoint()
    probs = TOK.substring_seed_vocab(words_df)
    for _ in range(2):
        probs = TOK.unigram_em_round(words_df, probs).localCheckpoint()
    got = {
        r["word"]: r["n_pieces"]
        for r in TOK.unigram_viterbi_counts(words_df, probs).collect()
    }
    texts = [r["text"] for r in docs.select("text").collect()]
    words, pref = _unigram_reference(texts, rounds=2)

    def viterbi_count(w: str) -> int:
        n = len(w)
        bl, cl = [1.0] + [0.0] * n, [0] * (n + 1)
        for i in range(1, n + 1):
            t = [0.0, 0.0, 0.0]
            for k in (1, 2, 3):
                if i - k >= 0 and w[i - k : i] in pref:
                    t[k - 1] = pref[w[i - k : i]] * bl[i - k]
            b12, c12 = (t[1], cl[i - 2] + 1) if t[1] > t[0] else (t[0], cl[i - 1] + 1)
            bl[i], cl[i] = (t[2], cl[i - 3] + 1) if t[2] > b12 else (b12, c12)
        return cl[n]

    assert got == {w: viterbi_count(w) for w in words}


def test_unigram_em_zero_rounds_is_seed(spark):
    df = spark.createDataFrame([(1, "ab ab b")], ["doc_id", "text"])
    probs = {r["piece"]: r["p"] for r in TOK.train_unigram(df, rounds=0).collect()}
    # counts: a=2, b=3, ab=2 -> total 7
    assert probs == {"a": 2 / 7, "b": 3 / 7, "ab": 2 / 7}
    with pytest.raises(ValueError, match="rounds"):
        TOK.train_unigram(df, rounds=-1)


# --- pure-Python reference WordPiece (dict loop) ---------------------------


def _ref_wordpiece(texts: list[str], n_merges: int):
    vocab: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        for w in t.split():
            if w:
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        syms_cnt: Counter[str] = Counter()
        for syms, cnt in vocab.items():
            for s in syms:
                syms_cnt[s] += cnt
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        # max likelihood score pc/(c1*c2) in the SAME doubles the engines
        # compute; ties lexicographic on (p1, p2)
        (p1, p2), pc = min(
            pairs.items(),
            key=lambda kv: (
                -(float(kv[1]) / (float(syms_cnt[kv[0][0]]) * float(syms_cnt[kv[0][1]]))),
                kv[0],
            ),
        )
        score = float(pc) / (float(syms_cnt[p1]) * float(syms_cnt[p2]))
        merges.append((p1, p2, pc, score))
        new_vocab: Counter[tuple[str, ...]] = Counter()
        for syms, c in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == p1 and s == p2:
                    out[-1] = p1 + p2
                else:
                    out.append(s)
            new_vocab[tuple(out)] += c
        vocab = new_vocab
    return merges


def test_train_wordpiece_matches_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    expected = _ref_wordpiece(texts, 8)
    got, _ = TOK.train_wordpiece(docs, 8)
    assert got == expected
    # the score must actually discriminate: at least one learned rule must
    # differ from raw-count BPE on this corpus (else the test is vacuous)
    bpe = [(p1, p2) for p1, p2, _ in _ref_bpe(texts, 8)]
    assert [(p1, p2) for p1, p2, _, _ in got] != bpe


def test_wordpiece_greedy_encoder_matches_python(spark):
    """The F.aggregate cursor-walk encoder equals the classic greedy
    longest-match loop on hand-built vocab + words, including the
    single-char fallback path."""
    vocab = ["a", "b", "c", "ab", "abc", "bc"]
    words = ["abcabc", "aabbcc", "cba", "abcb", "a"]

    def ref(word):
        i, n = 0, 0
        while i < len(word):
            for l in range(min(len(word) - i, 3), 0, -1):
                if word[i : i + l] in vocab:
                    i += l
                    n += 1
                    break
        return n

    df = spark.createDataFrame([(w, 1) for w in words], "word string, cnt long")
    got = {
        r["word"]: r["n_pieces"]
        for r in TOK.wordpiece_token_counts(df, vocab).collect()
    }
    assert got == {w: ref(w) for w in words}
    # 'abcabc' -> [abc, abc] = 2: longest-match beats the [ab, c, ...] path
    assert got["abcabc"] == 2


def test_wordpiece_encoder_rejects_empty_vocab(spark):
    df = spark.createDataFrame([("a", 1)], "word string, cnt long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vocab"):
        TOK.wordpiece_token_counts(df, [])


def test_train_wordpiece_zero_and_negative_rounds(spark):
    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    merges, words = TOK.train_wordpiece(docs, 0)
    assert merges == [] and words.count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_merges"):
        TOK.train_wordpiece(docs, -1)


# --- in-process trainer fast path == distributed rounds -------------------


def test_trainer_local_path_equals_distributed(spark, sf_dir):
    """The byte-gated in-process rounds (word table under
    TOKENIZER_LOCAL_WORD_CAP) must be BIT-IDENTICAL to the distributed
    rounds on the same corpus: merges, scores, final word state, and the
    unigram probabilities — exact double equality, not a tolerance. The
    default path here is the local one (fixture word table is tiny);
    local_word_cap=0 forces the distributed rounds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    b_l, bw_l = TOK.train_bpe(docs, 6)
    b_d, bw_d = TOK.train_bpe(docs, 6, local_word_cap=0)
    assert b_l == b_d

    def wset(wdf):
        return sorted((r["word"], r["cnt"], tuple(r["symbols"])) for r in wdf.collect())

    assert wset(bw_l) == wset(bw_d)

    w_l, _ = TOK.train_wordpiece(docs, 6)
    w_d, _ = TOK.train_wordpiece(docs, 6, local_word_cap=0)
    assert w_l == w_d  # includes the IEEE-double scores exactly

    u_l = {r["piece"]: r["p"] for r in TOK.train_unigram(docs, rounds=2).collect()}
    u_d = {
        r["piece"]: r["p"]
        for r in TOK.train_unigram(docs, rounds=2, local_word_cap=0).collect()
    }
    assert u_l == u_d  # exact doubles: same op order, same decimal truncation

    p_l = {
        r["piece"]: r["p"]
        for r in TOK.train_unigram_pruned(docs, 2, 48, 1).collect()
    }
    p_d = {
        r["piece"]: r["p"]
        for r in TOK.train_unigram_pruned(docs, 2, 48, 1, local_word_cap=0).collect()
    }
    assert p_l == p_d


def test_trainer_local_cap_overflow_falls_back(spark):
    """A word table bigger than the cap must take the distributed rounds
    (probe overflows) and still produce the same merges."""
    docs = spark.createDataFrame([(1, "ab ab ac bc bc bc")], "doc_id long, text string")
    got = TOK.train_bpe(docs, 2, local_word_cap=1)[0]  # 3 distinct words > cap
    want = TOK.train_bpe(docs, 2)[0]
    assert got == want


def test_em_round_local_degenerate_lattice_matches_distributed(spark):
    """A word with NO full segmentation (lattice normalizer 0.0 — the
    underflow shape for long unsegmentable tokens) must not crash the
    in-process EM round: the distributed twin nulls every one of its
    contributions (x / 0.0 -> NaN/Inf -> decimal(18,9) cast -> null,
    dropped by the sum), so the word contributes nothing. Pieces shared
    with live words still match the distributed doubles exactly; a piece
    appearing ONLY in the dead word is a NULL row distributed / omitted
    locally (documented bound in _em_round_local)."""
    probs = {"a": 0.4, "b": 0.4, "z": 0.2}
    wl = [("ab", 3), ("xyz", 5)]  # "xyz": x, y unsegmentable -> alpha[n] == 0
    local = TOK._em_round_local(wl, probs, 3)
    words = spark.createDataFrame(wl, "word string, cnt long")
    dist = {
        r["piece"]: r["p"]
        for r in TOK.unigram_em_round(words, TOK._probs_df(spark, probs), 3).collect()
    }
    assert local == {p: v for p, v in dist.items() if v is not None}


def test_em_round_local_decimal_overflow_contribution_dropped(spark):
    """A per-edge expected count >= 1e9 overflows the distributed
    decimal(18,9) cast (null -> dropped from the sum); the local path
    must drop it too instead of keeping the full-precision Decimal — also
    at g >= 1e19, where Decimal.quantize itself would raise."""
    probs = {"a": 0.5, "b": 0.5}
    for wl, cnt_type in (
        ([("a", 2_000_000_000), ("b", 4)], "long"),  # g("a") = 2e9 -> overflow
        ([("a", 2e19), ("b", 4.0)], "double"),  # g("a") = 2e19
    ):
        local = TOK._em_round_local(wl, probs, 3)
        words = spark.createDataFrame(wl, f"word string, cnt {cnt_type}")
        dist = {
            r["piece"]: r["p"]
            for r in TOK.unigram_em_round(words, TOK._probs_df(spark, probs), 3).collect()
        }
        assert local == {p: v for p, v in dist.items() if v is not None}
