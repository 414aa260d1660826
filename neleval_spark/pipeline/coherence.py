"""Document-coherence candidate reranking (collective entity linking).

The quality step after per-mention candidate scoring
(pipeline/candidates.py picks argmax of local features): real
documents are topically coherent, so the right entity for an
ambiguous mention is the one RELATED to what the rest of the
document links to ("Ronaldo" in a page full of football clubs is the
footballer, not the politician).  This is the one-round, deterministic
core of the AIDA / TagMe / Ratinov "global coherence" family
(Hoffart et al. EMNLP 2011; Ferragina & Scaiella CIKM 2010): each
mention's candidates collect votes from the OTHER mentions' prior
winners through an entity-relatedness edge table (e.g. sentence
co-occurrence pairs from the KG the pipeline itself emitted — the
construction loop feeding back into linking).

All arithmetic is exact BIGINT (priors are counts — e.g.
functions/linkgraph.anchor_priors — and votes are counts; the blend
is integer ppm weights), so the winner is bitwise deterministic
across engines and partitionings, with ties broken by smallest eid.

Scale shape at 10^10 mentions:

* prior winners: one map-side-combinable min_by aggregate per
  mention key — no window, no unbounded partition.
* vote generation: candidates join the per-doc context table on the
  URL key — per-doc fan-out = |candidates| × |mentions|, bounded by
  excluding documents with more than ``max_mentions`` mentions up
  front (surfaced count, never silent).  Joining doc-side FIRST is
  the deliberate choice over candidate×edges: edge fan-out is
  degree(entity) and hub entities (capital cities, common orgs) have
  10^6-degree neighborhoods, while a document has tens of mentions.
* edge matching: one equi-join of the (eid, ctx_eid) pair stream
  against the symmetric edge table on the composite pair key — both
  sides large, neither broadcast, no skew side (a hub PAIR would
  need the same two entities co-mentioned across the corpus, which
  is exactly the signal).
* re-pick: the same min_by aggregate over the blended score.

No collect, no cartesian, no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DENOM = 1_000_000


def rerank_by_coherence(
    candidates: DataFrame,
    edges: DataFrame,
    alpha_ppm: int = 500_000,
    max_mentions: int = 256,
    stats: dict | None = None,
) -> DataFrame:
    """One collective round: prior winners vote for their neighbors.

    ``candidates``: (url, mention_id, eid, prior) rows — the full
    per-mention candidate lists with INTEGER priors (counts, e.g.
    anchor-text frequencies).  ``edges``: symmetric (src, dst)
    entity-relatedness pairs (e.g. entities that share a sentence;
    must already contain both directions).  ``alpha_ppm``: prior
    weight in parts per million — ``combined = alpha·prior + (1e6−alpha)·votes``,
    where ``votes`` counts the OTHER mentions in the document whose
    prior-winning entity is adjacent to the candidate.

    Documents with more than ``max_mentions`` mentions are passed
    through UNRERANKED (their prior winner is kept): the vote
    fan-out is |candidates|×|mentions| per document, and a
    boilerplate page with thousands of "mentions" would dominate the
    join while its context signal is noise anyway.  The count of
    such documents is surfaced via ``stats["passthrough_docs"]``.

    Returns one row per mention: (url, mention_id, eid, prior,
    votes, combined) for the winning candidate — ties broken by
    smallest eid at both the prior-winner and final argmax, so the
    result is order-independent.
    """
    # defensive dedup: a repeated candidate row would double-count
    # its votes; keep the max prior per (url, mention_id, eid)
    c = (candidates.select("url", "mention_id", "eid",
                           F.col("prior").cast("long").alias("prior"))
         .groupBy("url", "mention_id", "eid")
         .agg(F.max("prior").alias("prior")))
    n_m = (c.select("url", "mention_id").distinct()
           .groupBy("url").agg(F.count(F.lit(1)).alias("_n_m")))
    if stats is not None:
        stats["passthrough_docs"] = (
            n_m.where(F.col("_n_m") > max_mentions).count())
    small = n_m.where(F.col("_n_m") <= max_mentions).select("url")

    # argmin over (-prior, eid) = max prior, then smallest eid
    best_key = F.struct((-F.col("prior")).alias("_np"),
                        F.col("eid").alias("_e"))
    winners = (c.groupBy("url", "mention_id")
               .agg(F.min_by(F.struct("eid", "prior"), best_key)
                    .alias("_w"))
               .select("url", "mention_id",
                       F.col("_w.eid").alias("eid"),
                       F.col("_w.prior").alias("prior")))

    ctx = (winners.join(small, "url")
           .select("url",
                   F.col("mention_id").alias("_ctx_m"),
                   F.col("eid").alias("_ctx_eid")))
    e = edges.select(F.col("src").alias("eid"),
                     F.col("dst").alias("_ctx_eid")).distinct()
    votes = (c.join(small, "url")
             .join(ctx, "url")
             .where(F.col("mention_id") != F.col("_ctx_m"))
             .join(e, ["eid", "_ctx_eid"])
             .groupBy("url", "mention_id", "eid")
             .agg(F.count(F.lit(1)).alias("votes")))

    beta = DENOM - int(alpha_ppm)
    scored = (c.join(small, "url")
              .join(votes, ["url", "mention_id", "eid"], "left")
              .withColumn("votes", F.coalesce(F.col("votes"),
                                              F.lit(0).cast("long")))
              .withColumn("combined",
                          F.lit(int(alpha_ppm)) * F.col("prior")
                          + F.lit(beta) * F.col("votes")))
    final_key = F.struct((-F.col("combined")).alias("_nc"),
                         F.col("eid").alias("_e"))
    reranked = (scored.groupBy("url", "mention_id")
                .agg(F.min_by(
                    F.struct("eid", "prior", "votes", "combined"),
                    final_key).alias("_w"))
                .select("url", "mention_id",
                        F.col("_w.eid").alias("eid"),
                        F.col("_w.prior").alias("prior"),
                        F.col("_w.votes").alias("votes"),
                        F.col("_w.combined").alias("combined")))
    passthrough = (winners.join(small, "url", "left_anti")
                   .withColumn("votes", F.lit(0).cast("long"))
                   .withColumn("combined",
                               F.lit(int(alpha_ppm)) * F.col("prior")))
    return reranked.unionByName(passthrough)
