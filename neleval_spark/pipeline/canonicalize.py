"""Cross-document NIL canonicalization.

Mentions with no KB candidate must share a cluster id across the whole
corpus when they refer to the same unseen entity.

Scale design (contract-then-iterate): per-mention work is ONE hash
aggregation — each mention contributes its normalized blocking keys
(surface form + acronym by default). The iterative connected-components
run happens on the *key graph* (key ↔ key edges for keys co-occurring
on a mention), whose size scales with the number of distinct surfaces,
not the number of mentions — at 10^12 documents the mention table never
enters the CC loop. The CC utility is the same star-contraction
machinery CEAF uses (SURVEY.md §2.4 A8), with AQE skew-join handling
for hub surfaces.

The emitted label is ``NIL`` + sha1(min normalized surface of the
component) — a pure function of the cluster contents, stable across
runs, partitionings and executor counts.  It is read straight off the
CC component id: key vertices are tagged by key POSITION
(``"0\x01<surface>"``, ``"1\x01<acronym>"``), so first-kind keys
sort lowest; every vertex is chained to its mention's first-kind key,
so each component holds one and its id (the minimum vertex) is the
component's minimum surface key.  Labelling is then one projection of
the CC result — no per-component aggregate, no join back onto it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import connected_components


def surface_key(col: Column) -> Column:
    return F.replace(F.lower(F.trim(col)), F.lit(" "), F.lit("_"))


def acronym_key(col: Column) -> Column:
    """First letters of the surface words ('Red Sable Group' → 'rsg');
    a second blocking key so distinct spellings of the same unseen
    entity can merge — and so the key graph is a real graph."""
    return F.lower(
        F.concat_ws(
            "", F.transform(F.split(F.trim(col), " "),
                            lambda w: F.substring(w, 1, 1))))


DEFAULT_KEYS = (("s", surface_key), ("a", acronym_key))


def canonicalize_nils(
    mentions: DataFrame,
    key_fns=DEFAULT_KEYS,
) -> DataFrame:
    """Assign NIL cluster ids to unlinked mentions.

    Input: mentions with (url, start, end, surface, eid, ...) where
    eid IS NULL marks the NIL path. Output: same rows with eid
    replaced by the cluster label and type/score defaulted.

    ``key_fns`` is a sequence of ``(kind, fn)`` blocking keys; the
    label is derived from the FIRST key (the minimum first-kind key of
    the component), so a custom ``key_fns`` is labelled by its first
    key kind.
    """
    # The input fans out (nil branch, linked branch, key graph);
    # callers must pass a MATERIALIZED table (build_mentions writes
    # the scored mentions to scratch parquet) — re-caching here through
    # the columnar InMemoryRelation is prohibitively expensive for
    # rows with nested candidate arrays.
    nils = mentions.where(F.col("eid").isNull())
    linked = mentions.where(F.col("eid").isNotNull())

    # vertex = "<key position>\x01<key>": first-kind keys sort lowest
    kinds = list(key_fns)
    vertex_cols = [
        F.concat_ws("\x01", F.lit(str(i)), fn(F.col("surface")))
        .alias(f"_k_{kind}")
        for i, (kind, fn) in enumerate(kinds)
    ]
    keyed = nils.select(*vertex_cols).distinct()

    # key graph: chain the keys of each mention (k0-k1, k1-k2, ...);
    # a single key gives self-edges, which CC passes through
    cols = [f"_k_{kind}" for kind, _ in kinds]
    first = cols[0]
    edges = reduce(DataFrame.union, [
        keyed.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        for a, b in list(zip(cols, cols[1:])) or [(first, first)]])

    comps = connected_components(edges)

    # every vertex is chained to its mention's first-kind key, so the
    # component id (the minimum vertex) is the minimum first-kind key:
    # the label is one projection of it — sha1 of the key text after
    # the 2-character "0\x01" position tag
    key_to_nil = comps.select(
        F.col("vertex").alias(first),
        F.concat(F.lit("NIL"), F.substring(F.sha1(F.substring(
            F.col("component"), 3, 1 << 30)), 1, 10)).alias("nil_id"))

    nils_labelled = (
        nils.withColumn(first, vertex_cols[0])
        .join(key_to_nil, first, "left")
        .withColumn("eid", F.coalesce(F.col("nil_id"), F.lit("NIL")))
        .withColumn("type", F.coalesce(F.col("type"), F.lit("ORG")))
        .withColumn("score", F.coalesce(F.col("score"), F.lit(1.0)))
        .drop(first, "nil_id")
    )
    return linked.unionByName(nils_labelled.select(*linked.columns))


def chain_mentions(mentions: DataFrame) -> DataFrame:
    """Within-document anaphora chaining: a single-token mention
    ("Obama", "RSG") chains to the EARLIEST multi-word mention in the
    same document whose last token or acronym it matches ("Barack
    Obama", "Red Sable Group") — the standard construction-side
    recall step before candidate generation, so short anaphoric
    surfaces inherit the full antecedent surface that the alias
    dictionary actually contains.

    Input: mention rows with (url, start, end, surface, ...).  Output:
    the same rows plus

    * ``chain_surface`` — the antecedent's surface for chained
      mentions, the mention's own surface otherwise (feed THIS to
      candidate generation);
    * ``antecedent_start`` — the antecedent's start offset, or -1
      (pinned sentinel) for unchained mentions.

    Only backward chaining (antecedent strictly earlier in the doc),
    and only single-token anaphors — multi-word mentions are already
    their own best surface.  Ties cannot occur within a valid mention
    set (per-doc spans are non-overlapping, so starts are distinct);
    the earliest antecedent is picked by ``min_by`` over
    (start, end) regardless.

    Scale shape: ONE equi-join on (url, key) — both sides are
    per-document mention slices, so the key always carries the url
    and no cross-document hub can form (a surface frequent across the
    corpus is spread across its urls' hash buckets).  The join is
    mention-proportional; the groupBy that picks the earliest
    antecedent is a map-side-combinable min_by.  No per-row Python,
    no collect, no window over an unbounded partition."""
    toks = F.split(F.trim(F.col("surface")), " ")
    base = mentions.select("url", "start", "end", "surface")
    ante = (base
            .where(F.size(toks) >= 2)
            .select(
                "url",
                F.col("start").alias("_a_start"),
                F.col("end").alias("_a_end"),
                F.col("surface").alias("_a_surface"),
                F.explode(F.array_distinct(F.array(
                    F.lower(F.element_at(toks, -1)),
                    acronym_key(F.col("surface"))))).alias("_key")))
    ana = (base
           .where(F.size(toks) == 1)
           .select("url", "start",
                   F.lower(F.col("surface")).alias("_key")))
    best = (ana.join(ante, ["url", "_key"])
            .where(F.col("_a_start") < F.col("start"))
            .groupBy("url", "start")
            .agg(F.min_by(
                F.struct("_a_start", "_a_surface"),
                F.struct("_a_start", "_a_end")).alias("_a"))
            .select("url", "start",
                    F.col("_a._a_start").alias("_ante_start"),
                    F.col("_a._a_surface").alias("_ante_surface")))
    return (mentions.join(best, ["url", "start"], "left")
            .withColumn("chain_surface",
                        F.coalesce(F.col("_ante_surface"),
                                   F.col("surface")))
            .withColumn("antecedent_start",
                        F.coalesce(F.col("_ante_start"),
                                   F.lit(-1)).cast("long"))
            .drop("_ante_start", "_ante_surface"))
