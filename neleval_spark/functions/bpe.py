"""Distributed BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The scale insight is WHERE the corpus-proportional work happens: the
corpus is touched exactly once, to build the word-TYPE frequency
table (one tokenize + groupBy — the vocab_stats exchange).  Every
merge iteration after that runs on the word-type table (≤ ~10^7 rows
for web text, vs 10^12 documents), weighted by word count — the same
trick Sennrich's reference implementation plays with its word-freq
dict, kept relational:

* :func:`word_symbol_table` — ``(word, n, syms)``, symbols = the
  word's characters plus a ``</w>`` end-of-word marker.
* :func:`pair_counts` — corpus-weighted adjacent-pair counts:
  in-row pair expansion (``transform`` over an index sequence — no
  per-row Python), one map-side-combined aggregation keyed by pair.
  Pair keys are Zipf-hot; partial aggregation absorbs them.
* :func:`apply_merge` — rewrite every symbol array for one merge,
  greedy left-to-right non-overlapping (the reference semantics:
  ``aaa`` under merge (a,a) → ``[aa, a]``), as an in-row fold.
* :func:`bpe_train` — the driver loop: argmax pair → merge →
  repeat.  One ``.first()`` per iteration (a single row: one
  driver scalar per iteration);
  intermediate word tables are cached and unpersisted pairwise so
  ``n_merges`` iterations never stack lineage or leak cache entries.

Ties break on (count DESC, left ASC, right ASC) — deterministic
across partitionings and engines.  The initial pair counts are
plain relational algebra, so the ``bpe_pairs`` driver query is
hash-checked against a DuckDB oracle; the iterative loop is
differential-tested against a pure-Python reference implementation
in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"


def word_symbol_table(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """One row per word type: ``(word, n, syms array<string>)``.
    The only corpus-proportional pass in BPE training."""
    from neleval_spark.functions.textops import tokens

    wc = (tokens(docs, id_col, text_col)
          .groupBy("token").agg(F.count("*").alias("n")))
    syms = F.concat(F.split(F.col("token"), ""),
                    F.array(F.lit(END)))
    return wc.select(F.col("token").alias("word"), "n",
                     syms.alias("syms"))


def pair_counts(words: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts over the symbol arrays:
    ``(left, right, n)``.  Pair expansion is in-row (index sequence →
    struct pairs); the single exchange is the pair-keyed aggregate,
    map-side combined so Zipf-hot pairs never funnel raw rows."""
    idx = F.sequence(F.lit(0), F.size("syms") - 2)
    pairs = F.transform(
        idx, lambda i: F.struct(F.get(F.col("syms"), i).alias("left"),
                                F.get(F.col("syms"), i + 1)
                                .alias("right")))
    return (
        words.where(F.size("syms") >= 2)
        .select("n", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"),
                 F.col("p.right").alias("right"))
        .agg(F.sum("n").alias("n"))
    )


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every symbol array for the merge (left, right) →
    left+right, greedy left-to-right non-overlapping, as an in-row
    fold (interpreted higher-order function over the word-type
    table — vocab-sized, not corpus-sized)."""
    merged = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left) & (x == right),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(left + right)))
        ).otherwise(F.concat(acc, F.array(x))))
    return words.select("word", "n", merged.alias("syms"))


def bpe_train(docs: DataFrame, n_merges: int = 100,
              text_col: str = "text", id_col: str = "doc_id",
              min_count: int = 2) -> tuple[list, DataFrame]:
    """Learn ``n_merges`` BPE merges.  Returns ``(merges, words)``
    where ``merges`` is the ordered list of (left, right) pairs and
    ``words`` the final (uncached) word-type table with merged
    symbol arrays.

    Stops early when the best remaining pair occurs < ``min_count``
    times (Sennrich's convention).  Per iteration: one vocab-table
    aggregation plus one single-row ``first()`` — at 10^7 word types
    this is seconds per merge on a cluster; production tokenizers
    amortize further by batching non-overlapping merges, which this
    deliberately does not (reference semantics first)."""
    words = word_symbol_table(docs, text_col, id_col)
    words = words.cache()
    merges: list[tuple[str, str]] = []
    prev = None
    try:
        for _ in range(n_merges):
            # ONE job per merge (r6): this first() is also the action
            # that materializes the (lazily) cached current table —
            # its parent is still cached while that happens, so the
            # compute is one merge level, never a replay.  The parent
            # is released only afterwards (a two-deep cache window
            # replacing the old count()-then-unpersist job).
            best = (pair_counts(words)
                    .orderBy(F.desc("n"), F.asc("left"),
                             F.asc("right"))
                    .first())
            if prev is not None:
                prev.unpersist()
                prev = None
            if best is None or best["n"] < min_count:
                break
            merges.append((best["left"], best["right"]))
            nxt = apply_merge(words, best["left"],
                              best["right"]).cache()
            prev, words = words, nxt
    finally:
        words.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges, words


def encode_word(word: str,
                ranks: dict[tuple[str, str], int]) -> list[str]:
    """Pure function: one word → its BPE pieces under ``ranks``
    (merge pair → training rank).  Iteratively merges the lowest-rank
    pair present, all occurrences greedy left-to-right — the standard
    subword-nmt ``apply_bpe`` algorithm, O(len²) per word and
    independent of the merge-table size.

    Equivalent to replaying the merges sequentially in training
    order (``apply_merge``'s fold): before rule k applies, every
    lower-rank pair is already gone, and merging can only create
    pairs that contain the NEW symbol — which only later-learned
    rules can reference.  ``test_bpe.py`` checks the equivalence
    differentially on fuzzed words and via the train-table
    invariant."""
    syms = list(word) + [END]
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            pair = (syms[i], syms[i + 1])
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        left, right = best_pair
        out, i = [], 0
        while i < len(syms):
            if (i < len(syms) - 1 and syms[i] == left
                    and syms[i + 1] == right):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize a corpus with a trained BPE merge list: one row per
    document, ``(doc_id, n_pieces, pieces array<string>)``, pieces in
    document order (word-internal symbols end with the ``</w>``
    marker on the final piece of each word).

    Scale shape (10^12 docs, ~10^4-10^5 merges, ~10^7 word types):
    the Python-side merge loop runs once per word TYPE, not per
    occurrence — the corpus is first projected to ``DISTINCT word``
    (vocab-sized), encoded there with an Arrow-batched pandas UDF
    (the iterative min-rank loop is genuinely not expressible as
    column algebra — the designated slow-path exception), and joined
    back onto the (doc, pos, word) stream; AQE picks broadcast vs
    shuffle for that join (a web-scale vocab can exceed broadcast
    range, the ``unigram_surprisal`` precedent), and Zipf-hot words
    are one ROW on the vocab side — skew lands on the stream side
    where AQE splits it.  The per-doc rebuild is one doc-keyed
    aggregate of (pos, pieces) structs.  The merge-rank dict ships
    inside the UDF closure (merge tables are KB-to-MB —
    tokenizer-sized, not corpus-sized)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf(returnType=ArrayType(StringType()))
    def _enc(words):
        return words.map(lambda w: encode_word(w, ranks))

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "")).alias("pos", "word"))
    vocab = toks.select("word").distinct() \
                .withColumn("_syms", _enc(F.col("word")))
    rebuilt = (toks.join(vocab, "word")
               .groupBy("doc_id")
               .agg(F.flatten(
                   F.transform(
                       F.array_sort(
                           F.collect_list(F.struct("pos", "_syms"))),
                       lambda s: s["_syms"])).alias("pieces")))
    return (docs.select(F.col(id_col).alias("doc_id"))
            .join(rebuilt, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.size("pieces"), F.lit(0))
                .alias("n_pieces"),
                F.coalesce("pieces", F.array().cast("array<string>"))
                .alias("pieces")))
