"""Tokenizer-training operators: distributed BPE (byte-pair encoding) merge
learning over a corpus.

BPE training (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") iterates: count adjacent symbol pairs over the
corpus -> merge the most frequent pair everywhere -> repeat. The classic
implementation is a single-machine dict loop; at 100 TB the corpus does not
fit, but the WORD-FREQUENCY table does shrink the problem by orders of
magnitude (pair counts only depend on the distinct-word table weighted by
word frequency), and each round is then:

* one map-side-combined aggregation over the word table (pair counts),
* a 1-row collect (the argmax pair),
* a narrow projection applying the merge to every word's symbol array with
  an ``F.aggregate`` fold — greedy left-to-right, exactly the reference BPE
  merge procedure — in whole-stage codegen, no Python per row.

The word table is cached once; rounds never rescan the corpus. At 100 TB
scale the one corpus pass (word counting) dominates and is a plain
shuffle-on-token count; every merge round afterwards is proportional to
|vocab|, not corpus size.

Determinism contract: ties in pair counts break lexicographically on
(p1, p2), so the learned merge sequence is engine- and shuffle-order
independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics.text import tokens


def _chars(col: Column) -> Column:
    """Split a string into an array of single characters.

    Explicit substr-by-index rather than ``split(col, '')`` so the semantics
    can't drift with regex-engine edge cases around zero-width matches.
    The empty string maps to an empty array — ``sequence(1, 0)`` would step
    BACKWARD ([1, 0]), so it must be guarded, not relied on."""
    return F.when(F.length(col) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: col.substr(i, F.lit(1)),
        )
    )


def word_frequency_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The distinct-word frequency table with initial character symbols —
    the compressed training state BPE iterates on.

    Columns: ``word`` (string), ``cnt`` (long), ``symbols`` (array<string>).
    One corpus pass (explode tokens -> count); everything after operates on
    |vocab| rows."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select("word", "cnt", _chars(F.col("word")).alias("symbols"))
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    Zipped shifted slices (the shingles trick — one evaluation of the symbol
    array per row, not per element) -> explode -> sum(cnt). The shuffle
    carries (p1, p2, partial-count) after map-side combine: bounded by the
    symbol-pair alphabet, not the corpus."""
    syms = F.col("symbols")
    width = F.greatest(F.size(syms) - F.lit(1), F.lit(0))
    zipped = F.arrays_zip(
        F.slice(syms, 1, width).alias("p1"),
        F.slice(syms, 2, width).alias("p2"),
    )
    return (
        words.select(F.col("cnt"), F.explode(zipped).alias("pair"))
        .select("cnt", F.col("pair.p1").alias("p1"), F.col("pair.p2").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def top_pairs(words: DataFrame, k: int = 20) -> DataFrame:
    """The k most frequent adjacent symbol pairs (ties lexical on p1, p2) —
    the per-round argmax generalized to a top-k inspection query.
    TakeOrderedAndProject, no global sort."""
    return pair_counts(words).orderBy(
        F.desc("pair_count"), F.asc("p1"), F.asc("p2")
    ).limit(k)


def merge_pair(sym_col: Column, p1: str | Column, p2: str | Column) -> Column:
    """Apply one BPE merge rule to a symbol array: greedy left-to-right
    replacement of every adjacent (p1, p2) with the concatenated symbol,
    non-overlapping — e.g. rule (a, a) on [a,a,a] yields [aa, a], matching
    the reference implementation's scan order.

    A single ``F.aggregate`` fold: append each symbol unless the previous
    output symbol is exactly p1 and the current is p2, in which case the
    tail is replaced by the merged token. ``try_element_at`` keeps the
    empty-accumulator probe null-safe under ANSI mode. The pair may be
    given as Columns (per-row rules) or strings (one rule, the trainer's
    case)."""
    c1 = F.lit(p1) if isinstance(p1, str) else p1
    c2 = F.lit(p2) if isinstance(p2, str) else p2
    merged = F.concat(c1, c2)
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == c1) & (s == c2),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(merged),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


# ---------------------------------------------------------------------------
# In-process trainer fast path.
#
# Training state is the distinct-word frequency table, which is VOCAB-sized,
# not corpus-sized: the corpus pass that builds it stays distributed, but the
# merge/EM rounds afterwards iterate Spark jobs over |vocab| rows. When that
# table fits comfortably on the driver, paying 1-2 scheduled jobs per round
# (argmax collect + lineage checkpoint) for kilobytes of state is pure
# scheduling overhead, so each trainer probes the table with one capped
# ``take`` (the connected_components ``local_edge_cap`` pattern) and runs its
# rounds in-process — bit-identically: exact integer pair/symbol counts, the
# same IEEE-double expressions evaluated in the same order, the same
# DECIMAL(18,9) truncations (``Decimal.quantize`` HALF_UP == Spark's
# double->decimal cast), and the same lexicographic tie-breaks (Python str
# comparison is code-point order, which equals Spark's UTF8String binary
# order because UTF-8 byte order preserves code-point order). A corpus whose
# word table blows the cap takes the distributed rounds unchanged.

TOKENIZER_LOCAL_WORD_CAP = 100_000


def _words_local(words: DataFrame, cap: int) -> list[tuple[str, int]] | None:
    """Capped driver probe of the word-frequency table: the (word, cnt)
    list when it fits, ``None`` when it overflows (distributed path). The
    probe runs the corpus aggregation once; on overflow the distributed
    path re-materializes it via ``localCheckpoint`` (same double-probe
    posture as ``connected_components``'s edge-cap take)."""
    if not cap:
        return None
    rows = words.select("word", "cnt").take(cap + 1)
    if len(rows) > cap:
        return None
    return [(r[0], int(r[1])) for r in rows]


def _merge_local(syms: list[str], p1: str, p2: str) -> list[str]:
    """In-process twin of :func:`merge_pair`: greedy left-to-right,
    non-overlapping."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == p1 and s == p2:
            out[-1] = p1 + p2
        else:
            out.append(s)
    return out


def _words_state_df(spark, state: list[tuple[str, int, list[str]]]) -> DataFrame:
    """The (word, cnt, symbols) training state as a DataFrame with the
    word_frequency_table schema."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("symbols", T.ArrayType(T.StringType())),
        ]
    )
    return spark.createDataFrame(state, schema)


def _train_bpe_local(
    wl: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, list[str]]]]:
    """The BPE merge loop on the collected word table — the classic dict
    implementation, argmax and merge semantics identical to the
    distributed round (max pair_count, ties lexical asc on (p1, p2))."""
    state = [(w, c, list(w)) for w, c in wl]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for _w, c, syms in state:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (p1, p2), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((p1, p2, cnt))
        state = [(w, c, _merge_local(syms, p1, p2)) for w, c, syms in state]
    return merges, state


def _train_wordpiece_local(
    wl: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str, int, float]], list[tuple[str, int, list[str]]]]:
    """The WordPiece merge loop on the collected word table: likelihood
    score pc/(c1*c2) in the same widened doubles the distributed round
    computes, ties lexical asc on (p1, p2)."""
    state = [(w, c, list(w)) for w, c in wl]
    merges: list[tuple[str, str, int, float]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for _w, c, syms in state:
            for s in syms:
                sc[s] = sc.get(s, 0) + c
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (p1, p2), pc = min(
            pairs.items(),
            key=lambda kv: (
                -(float(kv[1]) / (float(sc[kv[0][0]]) * float(sc[kv[0][1]]))),
                kv[0],
            ),
        )
        score = float(pc) / (float(sc[p1]) * float(sc[p2]))
        merges.append((p1, p2, pc, score))
        state = [(w, c, _merge_local(syms, p1, p2)) for w, c, syms in state]
    return merges, state


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    local_word_cap: int = TOKENIZER_LOCAL_WORD_CAP,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules over the corpus.

    Returns (merges, final_words): ``merges`` is the ordered rule list
    [(p1, p2, pair_count), ...]; ``final_words`` is the word table with
    post-merge symbol arrays (the segmentation a tokenizer built from these
    rules would produce on the training vocabulary).

    Driver work per round is ONE 1-row collect; all counting and merging is
    distributed. The word table is localCheckpointed every few rounds so the
    fold-on-fold lineage doesn't deepen unboundedly (same discipline as the
    connected-components fixpoint loop in analytics/components.py).

    A word table at or under ``local_word_cap`` rows runs every round
    in-process instead (identical merges — see the fast-path block comment);
    pass ``local_word_cap=0`` to force the distributed rounds."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    words = word_frequency_table(df, text_col)
    wl = _words_local(words, local_word_cap)
    if wl is not None:
        merges_l, state = _train_bpe_local(wl, n_merges)
        return merges_l, _words_state_df(df.sparkSession, state)
    words = words.localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for round_no in range(n_merges):
        best = (
            pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("p1"), F.asc("p2"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # every word is a single symbol — nothing left to merge
        p1, p2, cnt = best[0]["p1"], best[0]["p2"], int(best[0]["pair_count"])
        merges.append((p1, p2, cnt))
        words = words.select(
            "word", "cnt", merge_pair(F.col("symbols"), p1, p2).alias("symbols")
        )
        if (round_no + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges, words


def train_bpe_df(df: DataFrame, n_merges: int, text_col: str = "text") -> DataFrame:
    """The merge-rule list as a DataFrame (merge_rank, p1, p2, pair_count) —
    the queries()-surface form of :func:`train_bpe`."""
    spark = df.sparkSession
    merges, _ = train_bpe(df, n_merges, text_col)
    return spark.createDataFrame(
        [(i + 1, p1, p2, cnt) for i, (p1, p2, cnt) in enumerate(merges)],
        "merge_rank INT, p1 STRING, p2 STRING, pair_count BIGINT",
    )


# above this rule count the expression-fold encoder is replaced by the
# Arrow encoder: the fold nests one F.transform per rule, so the
# expression-tree depth grows linearly with the vocabulary and a realistic
# 32k-merge rule list produces an unplannable query
_FOLD_RULE_LIMIT = 64


def _segment_word(
    word: str,
    rules: list[tuple[str, str]],
    ranks: dict[tuple[str, str], tuple[int, ...]],
) -> list[str]:
    """Sequential rule application with the SAME semantics as folding
    :func:`merge_pair` once per rule in training order, but O(pieces *
    applied_rules) instead of O(pieces * n_rules): repeatedly find the
    minimum-rank rule >= the progress pointer whose pair is adjacent, merge
    every occurrence greedily left-to-right, advance the pointer past it.
    Correctness of the shortcut: merging at rank r only creates adjacencies
    that the sequential fold would see at ranks > r (a merged token can
    never equal its own left half), so skipping the absent ranks visits
    exactly the rules the fold applies. ``ranks`` maps a pair to ALL the
    ranks it occurs at (training can re-learn a pair whose adjacency is
    recreated by later merges) so duplicates replay like the fold does."""
    syms = list(word)
    ptr = 0
    while len(syms) > 1:
        best = None
        for pair in zip(syms, syms[1:]):
            rs = ranks.get(pair)
            if rs is None:
                continue
            for r in rs:
                if r >= ptr:
                    if best is None or r < best:
                        best = r
                    break
        if best is None:
            break
        p1, p2 = rules[best]
        out: list[str] = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == p1 and syms[i + 1] == p2:
                out.append(p1 + p2)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
        ptr = best + 1
    return syms


def segment_with_merges_arrow(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The large-rule-list BPE encoder: compiled merge-rank dict applied per
    word inside ONE ``mapInPandas`` (Python at the Arrow edge — the right
    place for codec-shaped per-token work), instead of one folded
    expression per rule. Segmentation is identical to the fold path
    (property-tested) but rule-list size only affects the broadcast dict,
    not the query plan — a 32k-merge vocabulary plans exactly like an
    8-merge one. Per-batch word memoization exploits Zipf repetition.
    Output schema matches :func:`segment_with_merges`."""
    import re

    rules = [(m[0], m[1]) for m in merges]
    ranks: dict[tuple[str, str], list[int]] = {}
    for i, pair in enumerate(rules):
        ranks.setdefault(pair, []).append(i)
    ranks_t = {k: tuple(v) for k, v in ranks.items()}
    # Java's \s (F.split's regex engine) is ASCII-only; Python's re \s is
    # unicode-aware — the explicit class keeps tokenization identical
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        import pandas as pd

        cache: dict[str, int] = {}
        for pdf in batches:
            ids, n_words, n_pieces = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                # F.trim strips 0x20 only; strip(' ') mirrors it
                words = ws.split((text or "").strip(" "))
                total = 0
                for w in words:
                    np_ = cache.get(w)
                    if np_ is None:
                        np_ = len(_segment_word(w, rules, ranks_t))
                        cache[w] = np_
                    total += np_
                ids.append(rid)
                n_words.append(len(words))
                n_pieces.append(total)
            yield pd.DataFrame(
                {id_col: ids, "n_words": n_words, "n_pieces": n_pieces}
            )

    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, n_words int, n_pieces int"
    )


def segment_with_merges(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """Apply a learned merge list to segment documents. Output:
    (id, n_words, n_pieces) — the compression diagnostic for a learned
    vocabulary. Narrow projection; no shuffle.

    Two engines with identical segmentation (property-tested against each
    other): ``fold`` — per-word char split, each rule folded in training
    order as a whole-stage expression (zero Python; right for small rule
    lists); ``arrow`` — compiled rule dict in one mapInPandas
    (:func:`segment_with_merges_arrow`; the only plannable form above a
    few dozen rules). ``auto`` selects by rule count."""
    if engine not in ("auto", "fold", "arrow"):
        raise ValueError(f"unknown engine {engine!r}")
    if engine == "arrow" or (engine == "auto" and len(merges) > _FOLD_RULE_LIMIT):
        return segment_with_merges_arrow(df, merges, text_col, id_col)
    words = tokens(F.col(text_col))
    piece_arrays = F.transform(words, lambda w: _chars(w))

    def _apply_rule(p1: str, p2: str):
        # closure factory: PySpark infers lambda arity from the signature,
        # so the rule must be bound via closure, not default args
        return lambda a: merge_pair(a, p1, p2)

    for rule in merges:
        piece_arrays = F.transform(piece_arrays, _apply_rule(rule[0], rule[1]))
    n_pieces = F.aggregate(
        F.transform(piece_arrays, lambda a: F.size(a)), F.lit(0), lambda acc, x: acc + x
    )
    return df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        n_pieces.alias("n_pieces"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer trainer (Kudo 2018, "Subword Regularization" — the
# SentencePiece unigram model), the second production tokenizer family
# beside BPE. Same compressed-state posture as train_bpe: ONE corpus pass
# builds the word-frequency table, then every EM round is vocab-sized work:
#
# * seed vocabulary = every single character (coverage guarantee) + the
#   top-`top_multi` most frequent substrings up to `max_piece_len` chars
#   (Kudo's frequent-substring seeding; the trim-down that SentencePiece
#   does by iterative pruning is done once, up front, so the round count
#   is fixed and the oracle can replay CTE-for-CTE);
# * E-step = EXACT expected piece counts by forward-backward over each
#   word's segmentation lattice — the alpha/beta DP runs as an
#   ``F.aggregate`` fold over character positions (whole-stage codegen,
#   no Python), with the per-word piece->prob lookup built by ONE
#   vocab-sized broadcast join (bounded by construction: <= alphabet +
#   top_multi rows — the staged-centroid posture, not a corpus-sized
#   broadcast);
# * M-step = renormalized expected counts. Per-edge expected counts
#   truncate to DECIMAL(18,9) BEFORE the sum (the value_trend_slope
#   discipline), so the aggregation is shuffle-order independent and the
#   DuckDB oracle replays it bit-for-bit; the double arithmetic inside
#   the folds is a fixed left-to-right chain evaluated identically by
#   both engines.
#
# Determinism contract: seed ties break lexicographically on the piece;
# Viterbi segmentation ties prefer the SHORTER piece (strict > when a
# longer candidate challenges); all rounding happens once, at the output.
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE_LEN = 3


def _piece_edges(words: DataFrame, max_len: int = UNIGRAM_MAX_PIECE_LEN) -> DataFrame:
    """Every (word, start, len, piece) lattice edge with start 0-based and
    start+len <= |word| — the shared input of seeding, EM, and Viterbi."""
    n = F.length("word")
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.transform(
                F.sequence(F.lit(1), F.lit(max_len)),
                lambda k: F.struct(j.alias("j"), k.alias("k")),
            ),
        )
    )
    return (
        words.select("word", "cnt", F.explode(grid).alias("e"))
        .select("word", "cnt", F.col("e.j").alias("j"), F.col("e.k").alias("k"))
        .filter(F.col("j") + F.col("k") <= F.length("word"))
        .withColumn("piece", F.col("word").substr(F.col("j") + 1, F.col("k")))
    )


def substring_seed_vocab(
    words: DataFrame,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    top_multi: int = 128,
) -> DataFrame:
    """Seed (piece, p): all single characters plus the ``top_multi`` most
    frequent multi-character substrings (count desc, piece asc),
    probability proportional to occurrence count over the selected set."""
    subs = _piece_edges(words, max_piece_len).groupBy("piece").agg(
        F.sum("cnt").alias("c")
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(top_multi)
    )
    vocab = chars.unionByName(multi)
    tot = vocab.agg(F.sum("c").alias("t"))
    return vocab.join(F.broadcast(tot)).select(
        "piece", (F.col("c").cast("double") / F.col("t").cast("double")).alias("p")
    )


def _prob_key(j, k):
    """Map key for the per-word piece-prob lookup: start*4 + len (len <= 3)."""
    return (j * 4 + k).cast("int")


def _with_lattice(
    words: DataFrame, probs: DataFrame, max_piece_len: int
) -> tuple[DataFrame, DataFrame]:
    """Attach the per-word (start*4+len -> prob) map; returns (edges, words+pm)."""
    edges = _piece_edges(words, max_piece_len).join(F.broadcast(probs), "piece")
    pm = edges.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    _prob_key(F.col("j"), F.col("k")).alias("key"),
                    F.col("p").alias("value"),
                )
            )
        ).alias("pm")
    )
    return edges, words.join(pm, "word")


def _pk(i_start, k: int):
    """Lattice-edge prob from the per-word map (null when absent)."""
    return F.try_element_at(F.col("pm"), _prob_key(i_start, F.lit(k)))


def unigram_em_round(
    words: DataFrame,
    probs: DataFrame,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
) -> DataFrame:
    """One exact EM round: forward-backward expected piece counts over
    every word's lattice (weighted by word frequency), renormalized.

    alpha[t] = sum_k p(t-k, k) * alpha[t-k]   (alpha[0] = 1)
    beta[t]  = sum_k p(t, k)  * beta[t+k]     (beta[n] = 1)
    E[piece at (j, k)] = cnt * alpha[j] * p * beta[j+k] / alpha[n]

    The term order of each sum is pinned (k = 1, 2, 3 left to right) so
    the oracle's recursive-CTE replay produces bit-identical doubles."""
    edges, w = _with_lattice(words, probs, max_piece_len)
    n = F.length("word")

    def astep(acc, i):
        t1 = F.coalesce(_pk(i - 1, 1) * F.try_element_at(acc, i.cast("int")), F.lit(0.0))
        t2 = F.coalesce(
            F.when(i >= 2, _pk(i - 2, 2) * F.try_element_at(acc, (i - 1).cast("int"))),
            F.lit(0.0),
        )
        t3 = F.coalesce(
            F.when(i >= 3, _pk(i - 3, 3) * F.try_element_at(acc, (i - 2).cast("int"))),
            F.lit(0.0),
        )
        return F.concat(acc, F.array(t1 + t2 + t3))

    def bstep(acc, j):
        t1 = F.coalesce(_pk(j, 1) * F.try_element_at(acc, F.lit(1)), F.lit(0.0))
        t2 = F.coalesce(
            F.when(j + 2 <= n, _pk(j, 2) * F.try_element_at(acc, F.lit(2))), F.lit(0.0)
        )
        t3 = F.coalesce(
            F.when(j + 3 <= n, _pk(j, 3) * F.try_element_at(acc, F.lit(3))), F.lit(0.0)
        )
        return F.concat(F.array(t1 + t2 + t3), acc)

    one = F.array(F.lit(1.0))
    st = w.select(
        "word",
        F.aggregate(F.sequence(F.lit(1), n), one, astep).alias("al"),
        F.aggregate(F.sequence(n - 1, F.lit(0), F.lit(-1)), one, bstep).alias("be"),
    )
    # Degenerate lattices (a word with NO full segmentation — realistic for
    # long unsegmentable tokens whose normalizer underflows to 0.0) must
    # DROP their contributions, not kill the whole training job: under
    # ANSI (the Spark 4 default) a plain `/ 0.0` raises DIVIDE_BY_ZERO and
    # a decimal(18,9) overflow raises on the cast, so both go through the
    # try_ variants — null contributions, skipped by the sum. The
    # in-process twin (_em_round_local) mirrors the same drops.
    g = edges.join(st, "word").select(
        "piece",
        F.try_divide(
            F.col("cnt")
            * F.try_element_at("al", F.col("j") + 1)
            * F.col("p")
            * F.try_element_at("be", F.col("j") + F.col("k") + 1),
            F.element_at("al", F.lit(-1)),
        )
        .try_cast("decimal(18,9)")
        .alias("ec"),
    )
    ec = g.groupBy("piece").agg(F.sum("ec").alias("ec"))
    tot = ec.agg(F.sum("ec").alias("t"))
    return ec.join(F.broadcast(tot)).select(
        "piece",
        F.try_divide(F.col("ec").cast("double"), F.col("t").cast("double")).alias("p"),
    )


def _seed_vocab_local(
    wl: list[tuple[str, int]], max_piece_len: int, top_multi: int
) -> dict[str, float]:
    """In-process twin of :func:`substring_seed_vocab`: all single chars
    plus the top_multi most frequent multi-char substrings (count desc,
    piece asc), p = c/total over the selected set in the same doubles."""
    subs: dict[str, int] = {}
    for w, c in wl:
        n = len(w)
        for j in range(n):
            for k in range(1, max_piece_len + 1):
                if j + k <= n:
                    piece = w[j : j + k]
                    subs[piece] = subs.get(piece, 0) + c
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
    return {p: float(c) / float(tot) for p, c in vocab.items()}


def _em_round_local(
    wl: list[tuple[str, int]], probs: dict[str, float], max_piece_len: int
) -> dict[str, float]:
    """In-process twin of :func:`unigram_em_round`: the same forward/
    backward DPs with the k = 1..max term order pinned, the same
    left-associated double product per edge, the same DECIMAL(18,9)
    HALF_UP truncation pre-sum (decimal addition is exact, so the
    accumulation order is immaterial — as in the distributed shuffle).

    Degenerate contributions mirror the distributed cast semantics: a word
    whose lattice normalizer is 0.0 (no full segmentation / underflow on
    very long tokens) and any per-edge expected count outside the
    decimal(18,9) range contribute NOTHING, exactly as the distributed
    NaN/Inf/overflow -> null -> sum-drops-null path. Documented bound: a
    piece every one of whose contributions is dropped is OMITTED here,
    while the distributed plan emits a (piece, NULL) row — NULL probabilities
    behave as absent in every downstream lookup, so the trained model is the
    same; the bit-identity contract covers the non-null rows."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000000001")
    lim = Decimal(10) ** 9  # decimal(18,9) holds |x| < 10^9
    ks = range(1, max_piece_len + 1)
    ec: dict[str, Decimal] = {}
    for w, c in wl:
        n = len(w)
        al = [1.0] + [0.0] * n
        for t in range(1, n + 1):
            s = 0.0
            for k in ks:
                if t - k >= 0:
                    p = probs.get(w[t - k : t])
                    if p is not None:
                        s += p * al[t - k]
            al[t] = s
        be = [0.0] * n + [1.0]
        for t in range(n - 1, -1, -1):
            s = 0.0
            for k in ks:
                if t + k <= n:
                    p = probs.get(w[t : t + k])
                    if p is not None:
                        s += p * be[t + k]
            be[t] = s
        if al[n] == 0.0:
            # distributed twin: g = x / 0.0 is NaN or Infinity, the
            # decimal(18,9) cast nulls it, and the sum drops the null —
            # the whole word contributes nothing (realistic for long
            # unsegmentable tokens whose lattice normalizer underflows)
            continue
        for j in range(n):
            for k in ks:
                if j + k <= n:
                    piece = w[j : j + k]
                    p = probs.get(piece)
                    if p is not None:
                        g = c * al[j] * p * be[j + k] / al[n]
                        if not math.isfinite(g) or abs(g) >= lim:
                            # NaN/Inf, or a decimal(18,9) overflow: null on
                            # the cast -> dropped. Checked before quantize,
                            # which raises InvalidOperation for |g| >= 1e19.
                            continue
                        d = Decimal(g).quantize(q, rounding=ROUND_HALF_UP)
                        if abs(d) >= lim:
                            continue  # rounded up to 10^9: overflow -> dropped
                        ec[piece] = ec.get(piece, Decimal(0)) + d
    tot = float(sum(ec.values(), Decimal(0)))
    return {p: float(v) / tot for p, v in ec.items()}


def _prune_local(probs: dict[str, float], keep_multi: int) -> dict[str, float]:
    """In-process twin of :func:`unigram_prune`: keep chars + top
    keep_multi multi pieces (p desc, piece asc), renormalize over the
    DECIMAL(18,9)-truncated kept probabilities."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000000001")
    kept = {p: v for p, v in probs.items() if len(p) == 1}
    kept.update(
        dict(
            sorted(
                ((p, v) for p, v in probs.items() if len(p) > 1),
                key=lambda t: (-t[1], t[0]),
            )[:keep_multi]
        )
    )
    tot = float(
        sum(
            (Decimal(v).quantize(q, rounding=ROUND_HALF_UP) for v in kept.values()),
            Decimal(0),
        )
    )
    return {p: v / tot for p, v in kept.items()}


def _probs_df(spark, probs: dict[str, float]) -> DataFrame:
    """A (piece, p) probability dict as a DataFrame (sorted by piece for a
    deterministic row order; consumers treat the frame as a set)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("piece", T.StringType()), T.StructField("p", T.DoubleType())]
    )
    return spark.createDataFrame(sorted(probs.items()), schema)


def train_unigram(
    df: DataFrame,
    rounds: int = 2,
    text_col: str = "text",
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    top_multi: int = 128,
    local_word_cap: int = TOKENIZER_LOCAL_WORD_CAP,
) -> DataFrame:
    """Train the unigram LM: substring-seeded vocab, ``rounds`` exact EM
    rounds. Returns (piece, p). The word table is the only corpus-pass;
    each round's cost is proportional to |vocab| * max word length.

    A word table at or under ``local_word_cap`` rows runs seeding and every
    EM round in-process (identical doubles — see the fast-path block
    comment); ``local_word_cap=0`` forces the distributed rounds."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    return unigram_probs_from_words(
        word_frequency_table(df, text_col),
        rounds,
        max_piece_len,
        top_multi,
        local_word_cap,
    )


def unigram_probs_from_words(
    words: DataFrame,
    rounds: int,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    top_multi: int = 128,
    local_word_cap: int = TOKENIZER_LOCAL_WORD_CAP,
) -> DataFrame:
    """Seed + ``rounds`` EM rounds from an existing word-frequency table
    (callers that also consume ``words`` downstream build it once and pass
    it here). Gated like :func:`train_unigram`; the distributed branch
    localCheckpoints ``words`` itself (re-checkpointing an
    already-materialized frame costs one vocab-sized copy)."""
    wl = _words_local(words, local_word_cap)
    if wl is not None:
        probs_l = _seed_vocab_local(wl, max_piece_len, top_multi)
        for _ in range(rounds):
            probs_l = _em_round_local(wl, probs_l, max_piece_len)
        return _probs_df(words.sparkSession, probs_l)
    words = words.localCheckpoint()
    probs = substring_seed_vocab(words, max_piece_len, top_multi)
    for _ in range(rounds):
        # cut the plan between rounds: the probs table is vocab-sized
        # (alphabet + top_multi rows), but the fold expressions stack and
        # Catalyst re-optimizes the whole tree per round otherwise — the
        # components.py/text.py lineage-reset cadence
        probs = unigram_em_round(words, probs, max_piece_len).localCheckpoint()
    return probs


def unigram_viterbi_counts(
    words: DataFrame,
    probs: DataFrame,
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
) -> DataFrame:
    """Per-word Viterbi piece count under a trained unigram vocab: the DP
    carries (best prob, piece count) per position; a longer piece wins a
    tie only when STRICTLY better (shortest-piece tie-break, pinned in the
    oracle with the same nested CASE order). Single-character coverage in
    the seed guarantees every word segments. Output: (word, n_pieces)."""
    _, w = _with_lattice(words, probs, max_piece_len)
    n = F.length("word")
    zero = F.struct(
        F.array(F.lit(1.0)).alias("bl"), F.array(F.lit(0)).alias("cl")
    )

    def step(acc, i):
        bl, cl = acc["bl"], acc["cl"]
        t1 = F.coalesce(_pk(i - 1, 1) * F.try_element_at(bl, i.cast("int")), F.lit(0.0))
        t2 = F.coalesce(
            F.when(i >= 2, _pk(i - 2, 2) * F.try_element_at(bl, (i - 1).cast("int"))),
            F.lit(0.0),
        )
        t3 = F.coalesce(
            F.when(i >= 3, _pk(i - 3, 3) * F.try_element_at(bl, (i - 2).cast("int"))),
            F.lit(0.0),
        )
        b12 = F.when(t2 > t1, t2).otherwise(t1)
        best = F.when(t3 > b12, t3).otherwise(b12)
        cnt = (
            F.when(t3 > b12, F.try_element_at(cl, (i - 2).cast("int")) + 1)
            .when(t2 > t1, F.try_element_at(cl, (i - 1).cast("int")) + 1)
            .otherwise(F.try_element_at(cl, i.cast("int")) + 1)
        )
        return F.struct(
            F.concat(bl, F.array(best)).alias("bl"),
            F.concat(cl, F.array(cnt)).alias("cl"),
        )

    return w.select(
        "word",
        F.element_at(
            F.aggregate(F.sequence(F.lit(1), n), zero, step)["cl"], F.lit(-1)
        ).alias("n_pieces"),
    )


def unigram_prune(probs: DataFrame, keep_multi: int = 48) -> DataFrame:
    """Vocabulary pruning between EM rounds (the trim step of Kudo's
    EM -> prune -> EM loop): keep every single-character piece (coverage
    guarantee) plus the ``keep_multi`` highest-probability multi-character
    pieces (ties lexical on the piece), renormalized to sum 1. The
    renormalization sum runs over DECIMAL(18,9)-truncated probabilities so
    it is shuffle-order independent and SQL-replayable; the division back
    is double-exact on both engines."""
    chars = probs.filter(F.length("piece") == 1)
    multi = (
        probs.filter(F.length("piece") > 1)
        .orderBy(F.desc("p"), F.asc("piece"))
        .limit(keep_multi)
    )
    kept = chars.unionByName(multi)
    tot = kept.agg(F.sum(F.col("p").cast("decimal(18,9)")).alias("t"))
    return kept.join(F.broadcast(tot)).select(
        "piece", (F.col("p") / F.col("t").cast("double")).alias("p")
    )


def train_unigram_pruned(
    df: DataFrame,
    rounds_before: int = 2,
    keep_multi: int = 48,
    rounds_after: int = 1,
    text_col: str = "text",
    max_piece_len: int = UNIGRAM_MAX_PIECE_LEN,
    top_multi: int = 128,
    local_word_cap: int = TOKENIZER_LOCAL_WORD_CAP,
) -> DataFrame:
    """The full SentencePiece-style loop: seed -> EM x rounds_before ->
    prune to (alphabet + keep_multi) -> EM x rounds_after. Returns the
    final (piece, p) vocabulary. Gated like :func:`train_unigram`."""
    words = word_frequency_table(df, text_col)
    wl = _words_local(words, local_word_cap)
    if wl is not None:
        probs_l = _seed_vocab_local(wl, max_piece_len, top_multi)
        for _ in range(rounds_before):
            probs_l = _em_round_local(wl, probs_l, max_piece_len)
        probs_l = _prune_local(probs_l, keep_multi)
        for _ in range(rounds_after):
            probs_l = _em_round_local(wl, probs_l, max_piece_len)
        return _probs_df(df.sparkSession, probs_l)
    words = words.localCheckpoint()
    probs = substring_seed_vocab(words, max_piece_len, top_multi)
    for _ in range(rounds_before):
        probs = unigram_em_round(words, probs, max_piece_len).localCheckpoint()
    probs = unigram_prune(probs, keep_multi).localCheckpoint()
    for _ in range(rounds_after):
        probs = unigram_em_round(words, probs, max_piece_len).localCheckpoint()
    return probs


def symbol_counts(words: DataFrame) -> DataFrame:
    """Per-symbol occurrence counts over the current segmentation state,
    weighted by word frequency — the denominator of the WordPiece merge
    score. Map-side-combined sum over the exploded symbol arrays; the
    shuffle carries (symbol, partial count), bounded by the live symbol
    alphabet."""
    return (
        words.select("cnt", F.explode("symbols").alias("s"))
        .groupBy("s")
        .agg(F.sum("cnt").alias("sym_count"))
    )


def train_wordpiece(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    local_word_cap: int = TOKENIZER_LOCAL_WORD_CAP,
) -> tuple[list[tuple[str, str, int, float]], DataFrame]:
    """Learn ``n_merges`` WordPiece merge rules (Schuster & Nakajima 2012,
    the BERT tokenizer's trainer): identical iteration shape to BPE
    (:func:`train_bpe`), but each round merges the pair maximizing the
    LIKELIHOOD gain score

        score(p1, p2) = count(p1 p2) / (count(p1) * count(p2))

    — pair frequency normalized by both parts' frequencies, so a pair of
    already-common symbols must co-occur far more often than chance to
    win (BPE's raw-count argmax is the score's numerator alone). The
    denominator product is computed in DOUBLES (two exact integer counts
    widened then multiplied): at corpus scale the integer product can
    exceed 2^63 while the double stays exact until 2^53 per factor and
    both engines evaluate the identical IEEE expression, so the argmax is
    engine-independent; ties break lexicographically on (p1, p2) like the
    BPE trainer.

    Returns (merges, final_words) where merges is
    [(p1, p2, pair_count, score), ...]. Per-round cost: the same two
    vocab-sized aggregations (pair counts + symbol counts, AQE-joined on
    the symbol), a 1-row collect, and the shared greedy merge fold —
    corpus is scanned once for the word table, never per round.

    A word table at or under ``local_word_cap`` rows runs every round
    in-process instead (identical merges and scores — see the fast-path
    block comment); ``local_word_cap=0`` forces the distributed rounds."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    words = word_frequency_table(df, text_col)
    wl = _words_local(words, local_word_cap)
    if wl is not None:
        merges_l, state = _train_wordpiece_local(wl, n_merges)
        return merges_l, _words_state_df(df.sparkSession, state)
    words = words.localCheckpoint()
    merges: list[tuple[str, str, int, float]] = []
    for round_no in range(n_merges):
        pc = pair_counts(words)
        sc = symbol_counts(words)
        score = F.col("pair_count").cast("double") / (
            F.col("c1").cast("double") * F.col("c2").cast("double")
        )
        best = (
            pc.join(
                sc.select(F.col("s").alias("p1"), F.col("sym_count").alias("c1")),
                "p1",
            )
            .join(
                sc.select(F.col("s").alias("p2"), F.col("sym_count").alias("c2")),
                "p2",
            )
            .select("p1", "p2", "pair_count", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("p1"), F.asc("p2"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        p1, p2 = best[0]["p1"], best[0]["p2"]
        merges.append((p1, p2, int(best[0]["pair_count"]), float(best[0]["score"])))
        words = words.select(
            "word", "cnt", merge_pair(F.col("symbols"), p1, p2).alias("symbols")
        )
        if (round_no + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges, words


def train_wordpiece_df(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """The WordPiece rule list as a DataFrame (merge_rank, p1, p2,
    pair_count, score[9 dp]) — the queries()-surface form."""
    spark = df.sparkSession
    merges, _ = train_wordpiece(df, n_merges, text_col)
    raw = spark.createDataFrame(
        [(i + 1, p1, p2, cnt, sc) for i, (p1, p2, cnt, sc) in enumerate(merges)],
        "merge_rank INT, p1 STRING, p2 STRING, pair_count BIGINT, score DOUBLE",
    )
    # round in-plan (HALF_UP, matching DuckDB's round) — python round() is
    # banker's HALF_EVEN and could diverge on an exact 10th-decimal tie
    return raw.withColumn("score", F.round("score", 9))


def wordpiece_vocab(merges: list[tuple], alphabet: list[str]) -> list[str]:
    """The encoder vocabulary induced by a merge list: every alphabet
    character plus each rule's concatenated piece, dedup'd in first-seen
    order."""
    vocab: list[str] = []
    seen: set[str] = set()
    for p in list(alphabet) + [m[0] + m[1] for m in merges]:
        if p not in seen:
            seen.add(p)
            vocab.append(p)
    return vocab


def wordpiece_token_counts(
    words: DataFrame, vocab: list[str]
) -> DataFrame:
    """Greedy longest-match WordPiece segmentation length per word — the
    BERT encode rule (prefix-free variant: one vocabulary, no ``##``
    continuation marking): starting at position 1, take the LONGEST vocab
    piece matching at the cursor, advance past it, repeat. Single-character
    coverage in the vocabulary guarantees progress (the trainer's alphabet
    is in the vocab by construction), so no UNK path is needed on the
    training corpus.

    The scan is one ``F.aggregate`` fold over positions with the
    (cursor, piece-count) pair as state: a position below the cursor is
    skipped; at the cursor the fold probes lengths max_len..1 against the
    vocabulary, which rides the plan as a LITERAL array (alphabet + one
    piece per merge — bounded like the unigram piece table). Output:
    (word, n_pieces)."""
    if not vocab:
        raise ValueError("vocab must be non-empty")
    max_len = max(len(p) for p in vocab)
    vlit = F.array(*[F.lit(p) for p in vocab])
    w = F.col("word")
    n = F.length(w)

    def step(acc, i):
        at_cursor = acc["cur"] == i
        # longest l in [1, max_len] with word[i : i+l-1] in vocab: fold
        # ascending over candidate lengths, a longer match overwrites
        best_l = F.aggregate(
            F.sequence(F.lit(1), F.lit(max_len)),
            F.lit(0),
            lambda b, l: F.when(
                (i + l - 1 <= n)
                & F.array_contains(vlit, w.substr(i.cast("int"), l.cast("int"))),
                l,
            ).otherwise(b),
        )
        return F.struct(
            F.when(at_cursor, acc["cur"] + best_l).otherwise(acc["cur"]).alias("cur"),
            F.when(at_cursor, acc["np"] + 1).otherwise(acc["np"]).alias("np"),
        )

    init = F.struct(F.lit(1).alias("cur"), F.lit(0).alias("np"))
    return words.select(
        "word",
        F.aggregate(F.sequence(F.lit(1), n), init, step)["np"].alias("n_pieces"),
    )
