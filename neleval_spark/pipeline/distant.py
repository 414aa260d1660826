"""Distant-supervision relation labeling and pattern induction.

The training-data generator for the relation-extraction stage of KG
construction (Mintz et al., ACL 2009; pattern supports after
Snowball, Agichtein & Gravano 2000): a sentence mentioning an entity
pair that the KB already relates becomes a positive example for that
predicate; co-occurring pairs with no KB edge become deterministic
``NA`` negatives.  The reference only EVALUATES linked mentions
(its (docid, start, end, eid) data model, reference
neleval/annotation.py:22-114); this module closes the loop from that
mention table back into extractor training data — the step a
construction pipeline needs to improve its own triple extractor.

Scale shape, stage by stage (the input is the full corpus mention
table, 10^10-10^11 rows at crawl scale):

* pair generation is a self-equi-join on (url, sent_id) — the key
  carries the url, so no cross-corpus hub can form; per-key fan-out
  is m·(m−1) for m mentions in ONE sentence, bounded by excluding
  the degenerate sentences up front (entity-list/boilerplate pages
  where m is hundreds; real prose has m ≤ ~10).  The exclusion is a
  map-side-combinable count on the SAME key the join shuffles on,
  and the dropped-sentence count is surfaced, not silent.
* KB matching is one equi-join on the (subj_eid, obj_eid) pair key.
  Both sides are large; neither is broadcast.  A celebrity pair
  frequent across the corpus spreads over its (url, sent_id) rows
  on the probe side — the build side has one row per KB predicate —
  so AQE's skew split has nothing pathological to cut.
* NA selection is a pure column filter (the engine-agnostic
  polynomial hash from stats/significance.token_hash) — reproducible
  across runs, engines and partitionings, no RNG state.
* pattern induction joins labeled pairs back to the sentence table
  on (url, sent_id) (text travels once, never through the pair
  fan-out) and aggregates exact integer supports per
  (pattern, pred) — two hash aggregates, both map-side combinable.

No per-row Python, no collect, no window over an unbounded
partition anywhere in the family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..stats.significance import token_hash

NA_LABEL = "NA"


def cooccurring_pairs(
    mentions: DataFrame,
    max_mentions: int = 64,
    stats: dict | None = None,
) -> DataFrame:
    """Within-sentence ordered entity-pair candidates.

    ``mentions``: (url, sent_id, start, end, eid) rows — linked
    mention spans with INCLUSIVE end offsets (the repo-wide
    annotation convention).  Returns one row per ordered pair of
    DISTINCT eids co-occurring in a sentence:
    (url, sent_id, subj_eid, obj_eid, subj_start, subj_end,
    obj_start, obj_end, gap) — when the same eid pair is mentioned
    several times in one sentence, the closest co-occurrence (then
    earliest, for determinism) is kept.

    Sentences with more than ``max_mentions`` mentions are excluded
    ENTIRELY — they are entity-list/boilerplate pages whose m² pair
    fan-out explodes and whose "sentences" carry no relational
    signal anyway (Mintz's single-sentence locality assumption).
    The exclusion count is surfaced through ``stats``
    (``dropped_sentences``; costs one count action) — never a
    silent cap.
    """
    m = mentions.select("url", "sent_id", "start", "end", "eid")
    sizes = m.groupBy("url", "sent_id").agg(
        F.count(F.lit(1)).alias("_m_count"))
    if stats is not None:
        stats["dropped_sentences"] = (
            sizes.where(F.col("_m_count") > max_mentions).count())
    ok = (sizes.where(F.col("_m_count") <= max_mentions)
          .select("url", "sent_id"))
    m = m.join(ok, ["url", "sent_id"])
    a = m.select("url", "sent_id",
                 F.col("eid").alias("subj_eid"),
                 F.col("start").alias("subj_start"),
                 F.col("end").alias("subj_end"))
    b = m.select("url", "sent_id",
                 F.col("eid").alias("obj_eid"),
                 F.col("start").alias("obj_start"),
                 F.col("end").alias("obj_end"))
    gap = F.when(
        F.col("subj_end") < F.col("obj_start"),
        F.col("obj_start") - F.col("subj_end"),
    ).otherwise(F.col("subj_start") - F.col("obj_end"))
    pairs = (
        a.join(b, ["url", "sent_id"])
        .where((F.col("subj_eid") != F.col("obj_eid"))
               & (F.col("subj_start") != F.col("obj_start")))
        .withColumn("gap", gap.cast("long"))
    )
    # closest-then-earliest canonical co-occurrence per eid pair
    return (
        pairs.groupBy("url", "sent_id", "subj_eid", "obj_eid")
        .agg(F.min_by(
            F.struct("subj_start", "subj_end",
                     "obj_start", "obj_end", "gap"),
            F.struct("gap", "subj_start", "obj_start")).alias("_p"))
        .select("url", "sent_id", "subj_eid", "obj_eid",
                F.col("_p.subj_start").alias("subj_start"),
                F.col("_p.subj_end").alias("subj_end"),
                F.col("_p.obj_start").alias("obj_start"),
                F.col("_p.obj_end").alias("obj_end"),
                F.col("_p.gap").alias("gap"))
    )


def distant_label(
    pairs: DataFrame,
    kb: DataFrame,
    na_keep_ppm: int = 50_000,
    denom: int = 1_000_000,
    salt: str = "#na",
) -> DataFrame:
    """Label candidate pairs against the KB triple table.

    ``kb``: (subj, pred, obj) triples — deduplicated here so a
    repeated assertion cannot silently duplicate training rows.  A
    pair matching k predicates yields k positive rows (the standard
    multi-label distant-supervision output); an unmatched pair
    becomes one ``NA`` row iff the polynomial hash of its salted
    identity key falls under ``na_keep_ppm`` parts per ``denom`` —
    the same consistent-sampling contract as
    functions/textops.hash_sample: reproducible across runs, engines
    and dataset growth, and changing ``salt`` draws an independent
    negative set.  ``sample_hash`` is kept on NA rows (-1 on
    positives, a pinned sentinel — oracle rows must not mix NULL and
    non-NULL in a numeric column) for audit.
    """
    kb3 = (kb.select(F.col("subj").alias("subj_eid"),
                     "pred",
                     F.col("obj").alias("obj_eid"))
           .dropDuplicates(["subj_eid", "pred", "obj_eid"]))
    lab = pairs.join(kb3, ["subj_eid", "obj_eid"], "left")
    h = F.pmod(
        token_hash(F.concat_ws(
            "#", F.col("url"), F.col("sent_id").cast("string"),
            F.col("subj_eid"), F.col("obj_eid"), F.lit(salt))),
        F.lit(denom))
    pos = (lab.where(F.col("pred").isNotNull())
           .withColumn("sample_hash", F.lit(-1).cast("long")))
    na = (lab.where(F.col("pred").isNull())
          .withColumn("sample_hash", h)
          .where(F.col("sample_hash") < F.lit(int(na_keep_ppm)))
          .withColumn("pred", F.lit(NA_LABEL)))
    return pos.unionByName(na)


def induce_patterns(
    labeled: DataFrame,
    sentences: DataFrame,
    min_support: int = 2,
    max_gap: int = 80,
) -> DataFrame:
    """Snowball-style textual patterns per predicate.

    ``labeled``: :func:`distant_label` output.  ``sentences``:
    (url, sent_id, text).  For every positive forward pair (subject
    mention textually before the object, separated by at most
    ``max_gap`` characters) the middle context is cut from the
    sentence, normalized (lowercase, digit runs → ``0``, whitespace
    collapsed) and counted.  Returns (pattern, pred, support,
    pattern_total): ``support`` = distinct entity pairs backing the
    (pattern, pred) cell, ``pattern_total`` = distinct pairs over
    the whole pattern row — both exact BIGINTs, so consumers derive
    pattern precision themselves and the min_support filter never
    compares floats.
    """
    fwd = labeled.where(
        (F.col("pred") != NA_LABEL)
        & (F.col("subj_end") < F.col("obj_start"))
        & (F.col("gap") <= F.lit(int(max_gap))))
    j = fwd.join(sentences.select("url", "sent_id", "text"),
                 ["url", "sent_id"])
    middle = F.substring(
        F.col("text"),
        (F.col("subj_end") + 2).cast("int"),
        (F.col("obj_start") - F.col("subj_end") - 1).cast("int"))
    pattern = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(middle), "[0-9]+", "0"),
        r"\s+", " "))
    pair_key = F.concat_ws("|", "subj_eid", "obj_eid")
    cells = j.select(pattern.alias("pattern"),
                     "pred", pair_key.alias("_pair"))
    per_pred = (cells.groupBy("pattern", "pred")
                .agg(F.countDistinct("_pair").alias("support")))
    totals = (cells.groupBy("pattern")
              .agg(F.countDistinct("_pair").alias("pattern_total")))
    return (per_pred.join(totals, "pattern")
            .where(F.col("support") >= F.lit(int(min_support))))
