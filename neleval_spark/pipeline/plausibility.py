"""Type-consistency triple plausibility (SDValidate-style).

KG refinement for the construction pipeline (Paulheim & Bizer,
"Improving the Quality of Linked Data Using Statistical
Distributions", IJSWIS 2014): a predicate's object (or subject)
types follow a characteristic distribution learned from the KG
itself — `born_in` objects are places, `works_at` objects are
organizations — so an emitted triple whose object type is RARE for
its predicate is statistically implausible and a likely extraction
error.  Fed an (entity, type) table that already carries inherited
ancestor types, the signature generalizes over the taxonomy instead
of memorizing leaf types.

All scores are exact integers (parts-per-``denom`` by BIGINT
division), so thresholds never compare floats and the DuckDB oracle
reproduces every value bit-for-bit.

Scale shape at 10^9-10^11 triples:

* signature learning: one entity-keyed equi-join of the triple table
  with the (entity, type) table — a hub entity fans out only to its
  ≤ taxonomy-depth type rows — then a hash aggregate into a
  (pred, type) table bounded by |schema vocabulary| × |type
  vocabulary|, NOT by the data.
* scoring: the same entity-keyed join, then a BROADCAST join of the
  schema-sized signature, then one max-aggregate back to the triple
  key (near-unique composite, no skew side).  The triple table is
  shuffled once on the entity key and once on its own key; the
  signature never shuffles anything.

No collect, no cartesian, no window, no Python rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UNTYPED_SCORE = -1  # pinned sentinel: object has no type information


def predicate_type_signature(
    triples: DataFrame,
    types: DataFrame,
    side: str = "obj",
) -> DataFrame:
    """Per-(pred, type) support counts learned from the KG.

    ``triples``: (subj, pred, obj) — deduplicated here so a repeated
    assertion cannot inflate its own plausibility.  ``types``:
    (entity, type) rows, e.g. asserted or inherited types
    (multi-typed entities contribute one count per type).  ``side``:
    which end of the triple the signature describes ("obj" or
    "subj").

    Returns (pred, type, support, pred_total): ``support`` = number
    of distinct triples with that predicate whose ``side`` entity
    carries that type; ``pred_total`` = number of distinct triples
    with that predicate whose ``side`` entity has ANY type row (the
    denominator that makes supports comparable across predicates
    without penalizing untyped tails).  Both exact BIGINTs.
    """
    t3 = (triples.select("subj", "pred", "obj")
          .dropDuplicates(["subj", "pred", "obj"]))
    ty = types.select(F.col("entity").alias("_e"),
                      F.col("type").alias("type")).distinct()
    keyed = t3.withColumn("_e", F.col(side))
    typed = keyed.join(ty, "_e")
    sig = (typed.groupBy("pred", "type")
           .agg(F.count(F.lit(1)).alias("support")))
    totals = (keyed.join(ty.select("_e").distinct(), "_e")
              .groupBy("pred")
              .agg(F.count(F.lit(1)).alias("pred_total")))
    return sig.join(totals, "pred")


def score_triples(
    triples: DataFrame,
    signature: DataFrame,
    types: DataFrame,
    side: str = "obj",
    denom: int = 1_000_000,
) -> DataFrame:
    """Attach a plausibility score to every triple.

    ``plaus_ppm`` = max over the ``side`` entity's types of
    ``support * denom DIV pred_total`` (BIGINT division — exact and
    engine-agnostic); an entity with no type rows scores
    ``UNTYPED_SCORE`` (-1, a pinned sentinel — never NULL, so the
    column stays sortable).  The max (not mean) over types keeps
    taxonomy-inherited general types (everything is an `entity`)
    from diluting the signal of the specific type that matches.

    Filter downstream with an integer threshold, e.g.
    ``scored.where(F.col("plaus_ppm") >= 0).where(
    F.col("plaus_ppm") < 10_000)`` for the implausible 1%%.
    """
    t3 = (triples.select("subj", "pred", "obj")
          .dropDuplicates(["subj", "pred", "obj"]))
    ty = types.select(F.col("entity").alias("_e"),
                      F.col("type").alias("type")).distinct()
    sig = F.broadcast(signature.select(
        "pred", "type",
        F.expr(f"support * {int(denom)} div pred_total")
        .alias("_ppm")))
    scored = (t3.withColumn("_e", F.col(side))
              .join(ty, "_e", "left")
              .join(sig, ["pred", "type"], "left")
              .groupBy("subj", "pred", "obj")
              # typed but absent from the signature = zero support
              # (a fresh batch scored against a trusted KG's
              # signature); only a type-LESS entity gets the -1
              # sentinel
              .agg(F.max(F.when(F.col("type").isNotNull(),
                                F.coalesce(F.col("_ppm"), F.lit(0))))
                   .alias("_best")))
    return scored.withColumn(
        "plaus_ppm",
        F.coalesce(F.col("_best"),
                   F.lit(UNTYPED_SCORE)).cast("long")).drop("_best")
