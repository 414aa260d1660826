"""Web-corpus quality signals for training-data curation.

Three operator families a 100 TB pretraining pipeline filters with:

* :func:`repetition_signals` — the Gopher-style intra-document
  repetition measures (duplicate line / paragraph fractions, duplicate
  and top n-gram fractions; Rae et al. 2021, "Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher", table A1).
* :func:`contamination` — benchmark decontamination by n-gram overlap
  (the GPT-3 appendix-C / PaLM style eval-set n-gram collision scan).
* :func:`vocab_stats` — corpus vocabulary with term and document
  frequencies (tokenizer training / idf tables).

Scale notes (audited in docs/PLANS.md):

* ``repetition_signals`` is a pure per-row projection — every signal,
  including the per-document modal n-gram, is computed in-row with
  ``array_sort`` + adjacency/run-length expressions (O(G log G) per
  document, G = grams per doc).  Zero shuffles, zero explodes, all
  JVM-side (the higher-order functions evaluate interpreted —
  CodegenFallback — over staged array columns; see PLANS.md); at
  10^12 documents the operator is embarrassingly parallel.
* ``contamination`` explodes document n-grams narrowly (no exchange),
  hash-joins them against a **broadcast** eval-gram set (eval suites
  are ~10^5-10^6 grams — always broadcastable), and aggregates back to
  one row per document with map-side partial aggregation: exactly ONE
  exchange, carrying one row per document.
* ``vocab_stats`` is the canonical two-phase aggregate (partial
  map-side counts, one exchange keyed by token).  Token keys are
  Zipf-skewed; the partial aggregation absorbs hot tokens map-side,
  the same argument the CC hub-skew witness proves for graph hubs.

Everything is integer / rational arithmetic (ratios rounded at 6 dp
only at the output edge), so every operator has an exact DuckDB oracle
in ``__spark_entry__``.

No counterpart in the reference (an evaluation engine); these extend
the construction surface the north rule's web-scale corpus implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nonempty(col):
    return F.filter(col, lambda t: t != "")


def _tokens(text_col):
    return _nonempty(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"))


def _ngrams(tok, n: int):
    """Space-joined token n-grams, in-row; empty when the doc is
    shorter than n tokens (guarded — ANSI ``sequence`` raises on
    inverted bounds)."""
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(tok, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _dup_frac(arr):
    """Fraction of elements that are repeats of an earlier element."""
    n = F.size(arr)
    return F.when(
        n > 0,
        F.round((n - F.size(F.array_distinct(arr)))
                / n.cast("double"), 6),
    ).otherwise(F.lit(0.0))


def _dup_char_frac(s):
    """Fraction of characters in elements that occur more than once.

    Takes the **pre-sorted** array as a materialized column reference
    (see `repetition_signals` staging): an element is duplicated iff
    it equals a sorted neighbour (``try_element_at`` is 1-based and
    null out of bounds, so the boundaries fall out).  In-row O(L)
    given the sort; the sort itself happens once in the staging
    projection — inlining ``array_sort`` here would re-sort PER
    ELEMENT under interpreted higher-order-function eval."""
    # transform's second lambda arg is the 0-based index; try_element_at
    # is 1-based (and raises on index 0 even in the try_ form, hence
    # the i > 0 guard), so neighbours sit at positions i and i + 2.
    dup_chars = F.aggregate(
        F.transform(
            s,
            lambda x, i: F.when(
                (x == F.when(i > 0, F.try_element_at(s, i)))
                | (x == F.try_element_at(s, i + 2)),
                F.length(x)).otherwise(F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    total = F.aggregate(s, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(
        total > 0, F.round(dup_chars / total.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def _top_run(s):
    """(count, value) of the modal element, smallest value on ties.

    Takes the **pre-sorted** array as a materialized column reference
    (see `repetition_signals` staging); one linear fold with a struct
    accumulator tracking the current and best run.  Because the array
    is sorted ascending and a later value only replaces the best on a
    STRICTLY longer run, ties resolve to the lexicographically
    smallest value — the documented cross-engine tie-break."""
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"), F.lit("").alias("bestval"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestval"]).alias("bestval"),
        )

    acc = F.aggregate(s, init, step)
    return acc["best"], acc["bestval"]


def repetition_signals(docs: DataFrame, text_col: str = "text",
                       ngram_ns: tuple[int, ...] = (2, 3, 4)) -> DataFrame:
    """Gopher-style intra-document repetition signals, one row per doc.

    Adds, all rounded at 6 dp:

    * ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of
      non-empty lines (split on newline, trimmed) that are repeats /
      fraction of line characters inside repeated lines;
    * ``dup_para_frac`` / ``dup_para_char_frac`` — same over
      blank-line-separated paragraphs;
    * per n in ``ngram_ns``: ``dup_{n}gram_frac`` (fraction of token
      n-grams that are repeats) and ``top_{n}gram_char_frac``
      (characters covered by the most frequent n-gram's occurrences,
      over the normalized token stream; modal gram ties break to the
      lexicographically smallest).

    Everything is computed in-row (see module scale notes).  The
    shared token / line / paragraph / n-gram / sorted arrays are
    materialized as staging columns (evaluated ONCE per row) rather
    than inlined into every consumer: higher-order functions are
    interpreted (CodegenFallback), so an expression embedded in a
    lambda body is re-evaluated per ELEMENT — the pre-staging form
    re-tokenized and re-sorted the document once per line/gram,
    O(G²·len) per doc (sf0.01 driver query: 15.1 s → 4.8 s end-to-end
    after staging, single-task; per-doc cost ~26 ms → ~6 ms)."""
    text = F.col(text_col)
    stage1 = {
        "_rs_lines": _nonempty(F.transform(F.split(text, r"\n"),
                                           lambda t: F.trim(t))),
        "_rs_paras": _nonempty(F.transform(F.split(text, r"\n{2,}"),
                                           lambda t: F.trim(t))),
        "_rs_tok": _tokens(text_col),
    }
    stage2 = {
        "_rs_lines_s": F.array_sort(F.col("_rs_lines")),
        "_rs_paras_s": F.array_sort(F.col("_rs_paras")),
    }
    for n in ngram_ns:
        stage2[f"_rs_g{n}"] = _ngrams(F.col("_rs_tok"), n)
    stage3 = {f"_rs_g{n}_s": F.array_sort(F.col(f"_rs_g{n}"))
              for n in ngram_ns}
    staged = (docs.withColumns(stage1).withColumns(stage2)
              .withColumns(stage3))

    stream_len = F.length(F.concat_ws(" ", F.col("_rs_tok")))
    cols = {
        "dup_line_frac": _dup_frac(F.col("_rs_lines")),
        "dup_line_char_frac": _dup_char_frac(F.col("_rs_lines_s")),
        "dup_para_frac": _dup_frac(F.col("_rs_paras")),
        "dup_para_char_frac": _dup_char_frac(F.col("_rs_paras_s")),
    }
    for n in ngram_ns:
        best, bestval = _top_run(F.col(f"_rs_g{n}_s"))
        cols[f"dup_{n}gram_frac"] = _dup_frac(F.col(f"_rs_g{n}"))
        cols[f"top_{n}gram_char_frac"] = F.when(
            stream_len > 0,
            F.round(best * F.length(bestval)
                    / stream_len.cast("double"), 6),
        ).otherwise(F.lit(0.0))
    return staged.withColumns(cols).drop(
        *stage1, *stage2, *stage3)


def contamination(docs: DataFrame, eval_docs: DataFrame, n: int = 5,
                  text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.05) -> DataFrame:
    """Benchmark decontamination: per-document overlap of distinct
    token ``n``-grams with the eval corpus' n-gram set.

    Returns one row per input document: ``n_grams`` (distinct n-grams
    in the doc), ``n_contaminated`` (of those, how many occur anywhere
    in ``eval_docs``), ``contamination_frac`` (6 dp) and
    ``is_contaminated`` (frac ≥ ``threshold``; gram-less docs are
    clean).

    Plan shape: the eval side is tiny by nature (benchmarks, not
    corpora) — its distinct gram set is **broadcast**; the document
    side explodes its distinct grams narrowly (``explode_outer`` keeps
    gram-less docs addressable), probes the broadcast table, and
    partial-aggregates back to one row per document before the single
    exchange.  No corpus-scale join, no second pass."""
    # stage the token array as its OWN column before the n-gram
    # transform: _ngrams' lambda slices the token array per element,
    # and an interpreted higher-order function re-evaluates any
    # expression inlined in its lambda body PER ELEMENT — unstaged,
    # the split+lower tokenization ran once per gram (~hundreds of
    # times per document) instead of once per row (the same staging
    # rule repetition_stats and quality_features already follow;
    # measured 2.6x on this query).
    eval_grams = (
        eval_docs.select(_tokens(text_col).alias("_tok"))
        .select(F.explode(_ngrams(F.col("_tok"), n)).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1)))

    doc_grams = docs.select(
        F.col(id_col), _tokens(text_col).alias("_tok")
    ).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(_ngrams(F.col("_tok"), n)))
        .alias("gram"))
    per_doc = (
        doc_grams.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy(id_col)
        .agg(F.count("gram").alias("n_grams"),
             F.count("hit").alias("n_contaminated")))
    frac = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_contaminated")
                / F.col("n_grams").cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return per_doc.withColumn("contamination_frac", frac).withColumn(
        "is_contaminated",
        (F.col("contamination_frac") >= threshold).cast("boolean"))


def vocab_stats(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary: one row per token with ``tf`` (total
    occurrences) and ``df`` (documents containing it).

    The canonical two-phase aggregate: one exchange keyed by token;
    Zipf-hot tokens are absorbed by map-side partial aggregation
    (``count`` and the count-distinct expansion both combine
    partially).  Callers take top-K with an explicit
    ``orderBy(tf DESC, token)`` — deterministic under ties."""
    toks = docs.select(F.col(id_col).alias("_doc"),
                       F.explode(_tokens(text_col)).alias("token"))
    return toks.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("_doc").alias("df"))


def unigram_surprisal(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      thresholds: tuple[int, int] | None = None
                      ) -> DataFrame:
    """Integer-bit unigram surprisal — the CCNet-style language-model
    quality signal (Wenzek et al. 2020: score each document under a
    corpus LM, split the corpus into head/middle/tail) reduced to
    exact integer arithmetic so it cross-engine-verifies bit-for-bit.

    Per token occurrence the surprisal is
    ``bitlen(C) - bitlen(cf(t))`` where ``cf(t)`` is the token's
    corpus frequency, ``C`` the total token count and ``bitlen`` the
    binary length (= 1 + floor(log2)): an integer approximation of
    ``-log2 p(t)`` within 1 bit.  A document's score is the sum over
    its tokens; ``millibits_per_token`` (integer division, sentinel
    -1 for token-less docs) is the comparable per-token rate — LOW
    means common/templated text, HIGH means rare-token (or noisy)
    text, the same ordering CCNet's perplexity gives.

    With ``thresholds=(lo, hi)`` in millibits, adds the CCNet
    ``bucket`` column: head (< lo), middle, tail (≥ hi).  Thresholds
    are corpus-level choices (CCNet uses per-language perplexity
    percentiles) — compute them once from this output's distribution
    and pin them, rather than re-deriving in-plan.

    Scale shape (audited in PLANS.md): corpus frequencies are the
    ``vocab_stats`` two-phase aggregate (map-side combine absorbs
    Zipf-hot tokens); the token→cf join leaves broadcast-vs-shuffle
    to AQE (a web-scale vocab can exceed broadcast range); the total
    count joins in as ONE broadcast scalar row (the BM25 corpus-stats
    pattern — never a driver collect); the per-document re-aggregate
    is keyed by doc id — uniform.  Three exchanges total, each
    map-side combined."""
    toks = docs.select(F.col(id_col).alias("_doc"),
                       F.explode(_tokens(text_col)).alias("token"))
    cf = toks.groupBy("token").agg(F.count("*").alias("_cf"))
    total = cf.agg(F.sum("_cf").alias("_c"))
    bits = (F.length(F.bin(F.col("_c")))
            - F.length(F.bin(F.col("_cf"))))
    per_doc = (
        toks.join(cf, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("_doc")
        .agg(F.count("*").alias("n_tokens"),
             F.sum(bits).alias("bits_sum"))
    )
    out = (
        docs.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col,
              "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("bits_sum", F.lit(0)).alias("bits_sum"))
        .withColumn(
            "millibits_per_token",
            F.when(F.col("n_tokens") > 0,
                   F.expr("(1000 * bits_sum) div n_tokens"))
            .otherwise(F.lit(-1)))
    )
    if thresholds is not None:
        lo, hi = thresholds
        out = out.withColumn(
            "bucket",
            F.when(F.col("millibits_per_token") < lo, F.lit("head"))
            .when(F.col("millibits_per_token") >= hi, F.lit("tail"))
            .otherwise(F.lit("middle")))
    return out


def dsir_weights(raw: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 8192, ngram: int = 2,
                 keep: int | None = None) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every RAW document by how much more likely its hashed n-gram
    features are under the TARGET corpus' bag-of-n-grams model than
    under the raw corpus' own, then keep the highest-weight docs.

    Features are word n-grams (1..``ngram``) hashed into
    ``n_buckets`` buckets with the engine-agnostic polynomial token
    hash.  The log-likelihood ratio is reduced to EXACT integer
    arithmetic the same way ``unigram_surprisal`` does: per bucket
    ``lambda_b = bitlen(t_b + 1) - bitlen(r_b + 1)`` (Laplace-
    smoothed target/raw bucket counts, ``bitlen`` = 1 + floor(log2),
    a within-1-bit integer log2), plus the per-gram normalizer
    ``bitlen(R + B) - bitlen(T + B)`` folded in once per gram — so
    ``score_bits ~ log2 p_target(doc) - log2 p_raw(doc)`` and
    cross-engine verifies bit-for-bit.  Buckets unseen in both
    corpora contribute 0, which is exactly the outer-join-missing
    convention.

    Returns one row per raw document: ``(doc_id, n_grams,
    score_bits)`` — higher = more target-like.  With ``keep`` set,
    returns only the top-``keep`` rows by (score_bits DESC, doc_id)
    — deterministic under ties.  (The paper samples with Gumbel
    noise; top-k is its deterministic limit and keeps the oracle
    exact.  For diversity, callers can salt score_bits with a
    doc-hash perturbation before ranking.)

    Scale shape (10^12 raw docs, small curated target): the target
    pass aggregates to <= n_buckets rows; the lambda table is
    explicitly BROADCAST (bounded by n_buckets, never corpus-sized);
    raw grams explode narrowly and re-aggregate keyed by doc id with
    map-side combine — ONE data-sized shuffle total; the two corpus
    totals ride in as single broadcast rows (no driver collect).
    ``keep`` is a TakeOrdered top-k (per-partition heads, no global
    sort); for corpus-sized k, filter on a score threshold instead.
    """
    def _grams(d):
        staged = d.select(F.col(id_col).alias("_doc"),
                          _tokens(text_col).alias("_tok"))
        cols = [F.col("_tok")]
        cols += [_ngrams(F.col("_tok"), n) for n in range(2, ngram + 1)]
        g = F.concat(*cols) if len(cols) > 1 else cols[0]
        from ..stats.significance import token_hash
        return staged.select(
            "_doc",
            F.explode(g).alias("_gram"),
        ).select("_doc", (token_hash(F.col("_gram")) % n_buckets)
                 .alias("bucket"))

    t_feats = _grams(target)
    r_feats = _grams(raw)

    t_cnt = t_feats.groupBy("bucket").agg(F.count("*").alias("_t"))
    r_cnt = r_feats.groupBy("bucket").agg(F.count("*").alias("_r"))

    bitlen = lambda c: F.length(F.bin(c))  # noqa: E731
    lam = (t_cnt.join(r_cnt, "bucket", "full_outer")
           .select("bucket",
                   (bitlen(F.coalesce("_t", F.lit(0)) + 1)
                    - bitlen(F.coalesce("_r", F.lit(0)) + 1))
                   .alias("_lam")))

    totals = (t_cnt.agg(F.sum("_t").alias("_tt"))
              .crossJoin(r_cnt.agg(F.sum("_r").alias("_rt")))
              .select((bitlen(F.coalesce("_rt", F.lit(0)) + n_buckets)
                       - bitlen(F.coalesce("_tt", F.lit(0)) + n_buckets))
                      .alias("_const")))

    per_doc = (r_feats.join(F.broadcast(lam), "bucket")
               .groupBy("_doc")
               .agg(F.count("*").alias("n_grams"),
                    F.sum("_lam").alias("_lam_sum")))
    out = (raw.select(F.col(id_col).alias("_doc"))
           .join(per_doc, "_doc", "left")
           .crossJoin(F.broadcast(totals))
           .select(
               F.col("_doc").alias(id_col),
               F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
               (F.coalesce("_lam_sum", F.lit(0))
                + F.coalesce("n_grams", F.lit(0)) * F.col("_const"))
               .cast("long").alias("score_bits")))
    if keep is not None:
        out = out.orderBy(F.col("score_bits").desc(), id_col) \
                 .limit(keep)
    return out
