"""Lexical retrieval over document tables: BM25 top-k scoring.

No reference counterpart (neleval is retrieval-free); BM25 follows
the published Okapi/Lucene formulation (Robertson & Zaragoza 2009 —
public knowledge, independent implementation).  The corpus-quality
use case: score every crawled document against a fixed query (seed
keywords, a topic filter, a contamination probe) and keep the top-k.

Spark-first design — the textbook implementation builds an inverted
index (explode tokens → groupBy term → join back), which at web
scale shuffles one row PER TOKEN OCCURRENCE.  For a fixed, small
query this is all waste: only the query's own terms matter.  Here:

* term frequencies are IN-ROW column expressions — one
  ``size(filter(tokens, t == term))`` per query term over the same
  split-once staged token array (no explode, no shuffle, no Python;
  the filter lambdas evaluate as interpreted JVM expressions);
* corpus statistics (N, avgdl, per-term document frequencies) are
  ONE 1-row aggregate with map-side partials, broadcast back via a
  1×1 cross join (an in-plan scalar — no driver collect);
* the result is a ``TakeOrderedAndProject`` top-k, never a global
  sort.

Cost at 100 TB: two narrow scans of (id, text) — one for the stats
row, one for scoring — zero data-proportional exchanges.  Tokens
follow the corpus-wide convention (``textops.tokens``: lowercase,
split on ``[^a-z0-9]+``), so the DuckDB oracle reproduces scores
exactly (both engines round to 6 dp before the final ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 score for ``query_terms``.

    Returns (doc id, score) rows, score rounded to 6 dp,
    deterministic order (score desc, id).  Documents matching no
    query term are dropped.  idf uses the Lucene-style
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (never negative).
    """
    terms = list(dict.fromkeys(query_terms))  # dedupe, keep order
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
        lambda t: t != "",
    )
    tf_cols = [
        F.size(F.filter(F.col("_toks"), lambda t: t == F.lit(term)))
        .cast("double").alias(f"tf_{i}")
        for i, term in enumerate(terms)
    ]
    base = docs.select(F.col(id_col).alias("id"),
                       toks.alias("_toks")) \
        .select("id", F.size("_toks").cast("double").alias("dl"),
                *tf_cols)

    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("int")).cast("double")
          .alias(f"df_{i}") for i in range(len(terms))],
    )

    parts = []
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5)))
        norm = (F.col(f"tf_{i}")
                + F.lit(k1) * (F.lit(1.0 - b)
                               + F.lit(b) * F.col("dl") / F.col("avgdl")))
        parts.append(
            F.when(F.col(f"tf_{i}") > 0,
                   idf * F.col(f"tf_{i}") * F.lit(k1 + 1.0) / norm)
            .otherwise(F.lit(0.0)))
    score = parts[0]
    for p in parts[1:]:
        score = score + p

    return (
        base.crossJoin(F.broadcast(stats))
        .select("id", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
    )


def build_inverted_index(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         positional: bool = True) -> DataFrame:
    """Materialize an inverted index as FLAT postings rows

        (term, doc_id, tf[, positions])

    over the corpus tokenization convention (``textops.tokens``:
    lowercase, split on ``[^a-z0-9]+``).  ``positions`` are
    token-sequence ordinals (0-based, post-filter — the standard
    phrase/proximity coordinate), present when ``positional``.

    Deliberately NOT the textbook term→postings-array layout: a
    stopword's postings list at 10^12 documents is a multi-TB single
    row — term-level ``collect_list`` is the same hot-key trap as the
    LSH bucket problem.  Flat rows keep every operator downstream
    (phrase join, df stats, top-k) an ordinary aggregation/join that
    AQE can split; store ``bucketBy(term)`` (sources/bucketed.py
    pattern) to co-locate term lookups shuffle-free.  The plan is one
    inherent posexplode (output = index's own cardinality) + ONE
    (term, doc) aggregate with map-side combine."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("pos", "term"))
    agg = [F.count(F.lit(1)).alias("tf")]
    if positional:
        agg.append(F.array_sort(F.collect_list("pos"))
                   .alias("positions"))
    return toks.groupBy("term", "doc_id").agg(*agg)


def term_stats(postings: DataFrame) -> DataFrame:
    """Postings → per-term (df, cf) — document and collection
    frequency; ONE map-side-combined aggregate over the flat rows
    (a hot term partially aggregates per partition — no giant row
    ever exists)."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"))


def phrase_match(postings: DataFrame, phrase: list[str],
                 id_col: str = "doc_id") -> DataFrame:
    """Documents containing the exact token phrase, via positional
    postings: self-equi-join per adjacent term pair on (doc, offset
    arithmetic) — k-1 joins for a k-term phrase, each keyed by
    (doc_id, position), never a scan of the text.  Returns
    (doc_id, n_matches)."""
    if not phrase:
        raise ValueError("empty phrase")
    terms = [t.lower() for t in phrase]
    cur = (postings.where(F.col("term") == terms[0])
           .select(F.col(id_col).alias("doc_id"),
                   F.explode("positions").alias("p0")))
    for k, t in enumerate(terms[1:], start=1):
        nxt = (postings.where(F.col("term") == t)
               .select(F.col(id_col).alias("doc_id"),
                       F.explode("positions").alias(f"p{k}")))
        cur = cur.join(
            nxt,
            (cur["doc_id"] == nxt["doc_id"])
            & (nxt[f"p{k}"] == cur[f"p{k-1}"] + 1)
        ).drop(nxt["doc_id"]).drop(f"p{k-1}")
    return cur.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"))


def keyword_topk(postings: DataFrame, k: int = 5,
                 min_df: int = 1) -> DataFrame:
    """Per-document top-k keywords by tf·idf over a
    :func:`build_inverted_index` postings table — the doc-tagging /
    routing signal next to BM25.

    tf·idf = tf · ln((N+1)/(df+1)) (add-one smoothed, always
    positive, so rare-term ties can't flip on sign).  Shape: df comes
    from :func:`term_stats` (map-side combined), N is an in-plan
    broadcast 1-row aggregate (no driver collect), and the per-doc
    top-k is a ``slice(array_sort(collect_list(...)))`` whose size is
    bounded by the DOCUMENT's distinct-term count (~10^3), never by
    corpus size — no window, no hot key.  Scores are rounded to 6 dp
    and tie-broken by term so the ordering is total cross-engine
    (the BM25 oracle's ln-at-6dp precedent).

    Feed a MATERIALIZED postings table: this query scans ``postings``
    three times (df stats, corpus N, the scoring join), so an
    unmaterialized text→postings lineage re-tokenizes the corpus
    three times — 4.5× slower at the 120k-doc probe
    (docs/PLANS.md "IR/dedup scale probe"), and at crawl scale the
    difference between reading an index and re-reading the corpus.
    """
    stats = term_stats(postings).where(F.col("df") >= min_df)
    n_docs = postings.select(
        F.count_distinct("doc_id").alias("_n"))
    scored = (postings.join(stats.select("term", "df"), "term")
              .crossJoin(F.broadcast(n_docs))
              .select(
                  "doc_id", "term",
                  F.round(
                      F.col("tf") * F.log((F.col("_n") + 1.0)
                                          / (F.col("df") + 1.0)),
                      6).alias("tfidf")))
    ranked = scored.groupBy("doc_id").agg(
        F.slice(
            F.array_sort(F.collect_list(
                F.struct((-F.col("tfidf")).alias("neg"),
                         F.col("term").alias("term")))),
            1, k).alias("top"))
    return ranked.select(
        "doc_id",
        F.posexplode("top").alias("rank", "kw")
    ).select(
        "doc_id", (F.col("rank") + 1).alias("rank"),
        F.col("kw.term").alias("term"),
        (-F.col("kw.neg")).alias("tfidf"))
