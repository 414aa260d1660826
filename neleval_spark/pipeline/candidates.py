"""Alias-dictionary candidate generation + vectorized link scoring.

Candidate generation is a broadcast hash join of mentions against the
alias dim table (the same primitive as the reference's redirect
mapping, neleval/tac.py:83-103) — the fact side never shuffles.

Scoring: features (alias prior, context-keyword hit) are computed as
JVM columns; the score combination runs in an Arrow-batched pandas UDF
(the designated vectorized-UDF surface per BASELINE.json input_hint —
no per-row Python) ahead of the url exchange. Top-1 selection = max_by
over the mention key, no window shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def generate_candidates(mentions: DataFrame, kb: DataFrame) -> DataFrame:
    """mention rows × broadcast alias dict → one row per candidate;
    mentions with no alias hit keep a single null candidate row
    (the NIL path)."""
    alias = F.broadcast(kb)
    return mentions.join(alias, mentions["surface"] == alias["alias"],
                         "left")


def _link_score(prior: pd.Series, kw_hit: pd.Series) -> pd.Series:
    """score = prior + 2·(context contains candidate keyword) —
    vectorized arithmetic over Arrow batches."""
    return prior.fillna(0.0) + 2.0 * kw_hit.fillna(0.0)


# explicit DataType so the module imports on executors (no session)
link_score_udf = pandas_udf(_link_score, returnType=DoubleType())


def with_context_features(cands: DataFrame) -> DataFrame:
    """Compute the context-dependent feature as a JVM column and DROP
    the context string.  Runs in the same stage as NER (before the
    mention-key exchange), so the wide context/keyword strings never
    cross the shuffle — the exchanged row is ~40% narrower, which is
    the bulk of shuffle bytes at web scale."""
    kw_hit = F.when(
        F.col("keyword").isNotNull()
        & F.col("context").contains(F.col("keyword")), 1.0
    ).otherwise(0.0)
    return cands.withColumn("kw_hit", kw_hit).drop("context", "keyword")


def score_and_select(cands: DataFrame) -> DataFrame:
    """Score candidates, keep the argmax per mention, carry the full
    sorted candidate list for the mentions table.

    The score UDF runs BEFORE the one url exchange, in the same stage
    as whatever produced ``cands`` (in the pipeline, the NER
    ``mapInPandas``): a Python operator drops its child's output
    partitioning, so scoring after the exchange would re-shuffle every
    candidate row on (url, start, end) for the aggregate.  Hashing the
    scored rows by url meets that aggregate's clustering, so each
    candidate row crosses one exchange."""
    if "kw_hit" not in cands.columns:
        cands = with_context_features(cands)
    scored = cands.withColumn(
        "score", link_score_udf(F.col("prior"), F.col("kw_hit"))) \
        .repartition("url")

    cand_struct = F.struct(
        F.col("eid"), F.col("score"), F.col("type"),
        F.lit(None).cast("map<string,string>").alias("attrs"))
    mkey = ["url", "start", "end"]
    # context is a scoring feature only — dropping it here halves the
    # width of everything downstream (materialization, canonicalize,
    # triples)
    agg = (
        scored.groupBy(*mkey)
        .agg(
            F.first("surface").alias("surface"),
            F.first("sent_uid").alias("sent_uid"),
            F.max_by(cand_struct, F.col("score")).alias("top"),
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("score"), F.col("eid"), F.col("type"))),
                asc=False,
            ).alias("ranked"),
        )
    )
    return agg.select(
        *mkey, "surface", "sent_uid",
        F.col("top")["eid"].alias("eid"),
        F.col("top")["score"].alias("score"),
        F.col("top")["type"].alias("type"),
        F.transform(
            F.col("ranked"),
            lambda r: F.struct(
                r["eid"].alias("eid"), r["score"].alias("score"),
                r["type"].alias("type"),
                F.lit(None).cast("map<string,string>").alias("attrs")),
        ).alias("candidates"),
    )


def hard_negatives(scored: DataFrame, gold: DataFrame,
                   keys: list[str], cand_col: str = "eid",
                   gold_col: str | None = None,
                   order: list | None = None,
                   k: int = 4) -> DataFrame:
    """Hard-negative mining for entity-link scorer training (the
    BLINK recipe, Wu et al. 2020 §3: train the cross-encoder on the
    bi-encoder's top-ranked NON-gold candidates): per mention key,
    keep the ``k`` highest-ranked candidates that are not the gold
    entity, with their rank.

    ``scored``: one row per (mention, candidate) — the
    ``generate_candidates`` output shape, before the argmax collapse.
    ``gold``: one row per labeled mention key carrying ``gold_col``
    (defaults to ``cand_col``).  Only labeled mentions survive (inner
    join — training needs positives); the gold candidate itself is
    excluded; remaining candidates rank by ``order`` (default:
    score DESC, candidate ASC — pass integer ranking columns when a
    cross-engine-exact ordering matters, per the repo's
    integer-weights convention).

    Scale shape: ONE equi-join on the mention key (gold is
    mention-sized) and one window partitioned by the mention key —
    the partition is each mention's CANDIDATE fan-out (bounded by
    alias-dictionary hits, ~10s of rows by construction, not
    corpus-sized), so no two-phase rank is needed; hot surface forms
    ("Washington") spread across their mentions, not into one
    partition.  Output adds ``neg_rank`` (1..k).
    """
    from pyspark.sql import Window

    gold_col = gold_col or cand_col
    g = gold.select(*keys, F.col(gold_col).alias("_gold"))
    ranked = (
        scored.join(g, keys)
        .where(F.col(cand_col) != F.col("_gold"))
        .withColumn(
            "neg_rank",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(
                    *(order if order is not None
                      else [F.col("score").desc(),
                            F.col(cand_col)])))))
    return ranked.where(F.col("neg_rank") <= k).drop("_gold")
