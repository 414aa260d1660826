"""Set-comparison ('sets') measures — the heart of all tagging metrics.

Reference: ``Measure.count_matches`` (neleval/annotation.py:333-370):
build key-tuple hash indexes on both sides (which dedupes), intersect:

    tp = |keys(gold) ∩ keys(pred)|; fn = |gold| − tp; fp = |pred| − tp

Spark form: project the measure key, filter, tag each side with
``_side`` (:func:`tag_sides`), and aggregate the union once —
``groupBy(key).agg(max(_side = 1), max(_side = 2))`` dedupes both sides
and aligns them in the same pass (group-by treats NULL key values as
ordinary groups, so NULL keys match null-safely with no join), then

    ptp = count(both), fp = count(pred only), fn = count(gold only).

No join and no sort.  The aggregate's only full-data exchange is the
one its key needs, and none when the input is already hash-partitioned
by a key column: ``evaluate`` ships the tagged mention rows once, by
``docid``, and every ``docid``-prefixed key aggregates in-partition
(``contingency._family_plans``).  A join would need a null-safe key,
which Spark rewrites to (coalesce(k), isnull(k)) pairs that no
partitioning by ``k`` satisfies.

Weighted variant (neleval/annotation.py:344-377): join on the
non-weighted key, broadcast-join the (gold_type, sys_type, weight)
table with default ``int(gold == sys)`` (configs.py:287-289);
``fn/fp = self-weight sums − tp`` (annotation.py:366-369). Duplicate
keys raise, as in the reference (annotation.py:351-356).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.normalize import field_col
from ._join import ns_join
from .catalog import MeasureSpec


def expand_key(key: tuple[str, ...]) -> list[str]:
    """'span' expands to (docid, start, end) (neleval/annotation.py:81-83)."""
    out: list[str] = []
    for f in key:
        if f == "span":
            out += ["docid", "start", "end"]
        else:
            out.append(f)
    return out


def measure_col(df: DataFrame, name: str):
    """A measure field of ``df``: its column when ``df`` has one (the
    stacked frame of ``contingency._family_plans`` carries every
    field, ``_m``, ``_side`` and the ``_f`` filter flag physically), else
    :func:`field_col`'s attrs lookup."""
    return F.col(name) if name in df.columns else field_col(name)


def project_measure(df: DataFrame, spec: MeasureSpec,
                    gcols: list[str] | None = None,
                    extra: list[str] | None = None) -> DataFrame:
    """Filter + project a mentions DataFrame to measure-key columns
    (reference: filter-then-index, neleval/annotation.py:298-315 —
    filter first so Catalyst pushes it to the scan)."""
    gcols = gcols or []
    out = df
    if spec.filter is not None:
        out = out.filter(measure_col(df, spec.filter).cast("boolean"))
    cols = dict.fromkeys(gcols + expand_key(spec.key) + (extra or []))
    return out.select(*[measure_col(df, f).alias(f) for f in cols])


def tag_sides(sys_df: DataFrame, gold_df: DataFrame) -> DataFrame:
    """Both sides in one frame with the same columns: ``_side`` is 1 on
    gold rows and 2 on system rows."""
    return gold_df.withColumn("_side", F.lit(1)).unionByName(
        sys_df.withColumn("_side", F.lit(2)))


def sets_contingency(
    sys_df: DataFrame,
    gold_df: DataFrame,
    spec: MeasureSpec,
    gcols: list[str] | None = None,
) -> DataFrame:
    """→ DataFrame (gcols..., ptp, fp, rtp, fn); one row per group.

    With grouping, matching happens within a group (the reference
    partitions annotations by group before matching,
    neleval/evaluate.py:81-120), so group columns join the key.
    """
    gcols = list(gcols or [])
    if spec.weighting:
        return _weighted_sets_contingency(sys_df, gold_df, spec, gcols)
    return side_counts(tag_sides(project_measure(sys_df, spec, gcols),
                                 project_measure(gold_df, spec, gcols)),
                       gcols)


def side_counts(tagged: DataFrame, gcols: list[str]) -> DataFrame:
    """``tagged`` rows (gcols..., key..., _side) → (gcols..., ptp, fp,
    rtp, fn): every column but ``_side`` is the match key."""
    allcols = [c for c in tagged.columns if c != "_side"]
    flags = tagged.groupBy(*allcols).agg(
        F.max(F.col("_side") == 1).alias("_g"),
        F.max(F.col("_side") == 2).alias("_s"),
    )
    aggs = [
        F.count_if(F.col("_g") & F.col("_s")).alias("tp"),
        F.count_if(~F.col("_g")).alias("fp"),
        F.count_if(~F.col("_s")).alias("fn"),
    ]
    out = flags.groupBy(*gcols).agg(*aggs) if gcols else flags.agg(*aggs)
    return out.select(
        *gcols,
        F.coalesce(F.col("tp"), F.lit(0)).cast("double").alias("ptp"),
        F.coalesce(F.col("fp"), F.lit(0)).cast("double").alias("fp"),
        F.coalesce(F.col("tp"), F.lit(0)).cast("double").alias("rtp"),
        F.coalesce(F.col("fn"), F.lit(0)).cast("double").alias("fn"),
    )


def _weighted_sets_contingency(
    sys_df: DataFrame,
    gold_df: DataFrame,
    spec: MeasureSpec,
    gcols: list[str],
) -> DataFrame:
    weighting = spec.weighting or {}
    wfields = [f for f in spec.key if f in weighting]
    # a group column already in the key (docid of a span) joins once
    key = [k for k in expand_key(tuple(f for f in spec.key
                                       if f not in weighting))
           if k not in gcols]

    g = project_measure(gold_df, spec.with_weighting(None), gcols,
                        extra=wfields)
    s = project_measure(sys_df, spec.with_weighting(None), gcols,
                        extra=wfields)

    # reference raises on duplicate keys in the weighted path
    # (annotation.py:351-356); replicate rather than silently dedupe
    for side, name in ((g, "gold"), (s, "system")):
        dups = (side.groupBy(*(gcols + key)).count()
                .where(F.col("count") > 1).limit(1).count())
        if dups:
            raise NotImplementedError(
                "No weighting support where annotations may have "
                f"duplicate key ({name})")

    def weight_join(df, gold_col, sys_col, wtable):
        w = F.broadcast(
            wtable.select(
                F.col("gold_type").alias("__wg"),
                F.col("sys_type").alias("__ws"),
                F.col("weight").alias("__w"),
            )
        )
        df = df.join(
            w,
            (df[gold_col] == w["__wg"]) & (df[sys_col] == w["__ws"]),
            "left",
        )
        return df.withColumn(
            "__w",
            # int(gold == sys) with Python's None == None: a field
            # both sides lack (NULL, or a stacked measure's padding)
            # weighs 1
            F.coalesce(
                F.col("__w"),
                F.col(gold_col).eqNullSafe(F.col(sys_col)).cast("double"),
            ),
        ).drop("__wg", "__ws")

    gf = g.select(*gcols, *key,
                  *[F.col(f).alias(f"__g_{f}") for f in wfields])
    sf = s.select(*gcols, *key,
                  *[F.col(f).alias(f"__s_{f}") for f in wfields])
    joined = ns_join(gf, sf, gcols + key, "inner")
    joined = joined.withColumn("__tpw", F.lit(1.0))
    for f in wfields:
        wtable = weighting[f]
        joined = weight_join(joined, f"__g_{f}", f"__s_{f}", wtable)
        joined = joined.withColumn(
            "__tpw", F.col("__tpw") * F.col("__w")).drop("__w")

    def self_weight(side, prefix, wtables):
        out = side.withColumn("__sw", F.lit(1.0))
        for f in wfields:
            out = weight_join(out, f, f, wtables[f])
            out = out.withColumn("__sw", F.col("__sw") * F.col("__w")) \
                     .drop("__w")
        agg = [F.sum("__sw").alias(f"{prefix}_self")]
        return out.groupBy(*gcols).agg(*agg) if gcols else out.agg(*agg)

    tp = (joined.groupBy(*gcols).agg(F.sum("__tpw").alias("tp"))
          if gcols else joined.agg(F.sum("__tpw").alias("tp")))
    g_self = self_weight(g, "g", weighting)
    s_self = self_weight(s, "s", weighting)

    if gcols:
        out = (g_self.join(s_self, gcols, "full_outer")
               .join(tp, gcols, "left"))
    else:
        out = g_self.crossJoin(s_self).crossJoin(tp)
    tpc = F.coalesce(F.col("tp"), F.lit(0.0))
    return out.select(
        *gcols,
        tpc.alias("ptp"),
        (F.coalesce(F.col("s_self"), F.lit(0.0)) - tpc).alias("fp"),
        tpc.alias("rtp"),
        (F.coalesce(F.col("g_self"), F.lit(0.0)) - tpc).alias("fn"),
    )
