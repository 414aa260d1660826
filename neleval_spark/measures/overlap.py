"""Partial-span-overlap (LoReHLT) measures: ``overlap-{sum,max}{sum,max}``.

Reference: ``Measure.get_overlapping`` (neleval/annotation.py:404-434)
pairs same-key (minus span, plus docid) annotations whose spans
overlap, then ``measure_overlap`` (:436-479) credits each reference
annotation with either the best single overlap fraction ('max') or the
union length of all overlapping candidate spans over its length
('sum'); ``count_overlap``/``contingency`` (:481-486, :514-518) turn
those into (ptp, fp, rtp, fn) with denominators = raw annotation
counts.

Spark form: an equi+range join (Catalyst executes equi keys hash/SMJ
with the band predicate as a post-filter; AQE handles skew), then
one aggregate over the pairs that credits both sides, with a plain max
('max') or a JVM-side interval-union fold over the collected
overlapping spans ('sum') — no Python in the loop.

Note: for pathological inputs with *nested/overlapping spans on the
same side*, the reference's two-pointer merge (annotation.py:419-431)
can miss pairs; the range join here finds all overlapping pairs. The
reference's own pinned tests (test.py:585-605) exercise the
non-overlapping-supported cases, where both agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._join import ns_join
from .catalog import MeasureSpec
from .sets import project_measure, expand_key


def _pair_overlaps(sys_df: DataFrame, gold_df: DataFrame,
                   spec: MeasureSpec, gcols: list[str]) -> DataFrame:
    """All overlapping same-key (sys, gold) span pairs.

    Banded interval join (r6): joining on the document key alone
    pairs every sys span with every gold span of the document before
    the range predicate filters — O(spans²) per document (measured
    ~200M intermediate pairs on the sf0.1 mention tables, 18.5 s for
    ``overlap_sumsum``).  Each span instead explodes to the
    fixed-width offset bands it covers and the join adds the band to
    the equi key; a pair is kept exactly once, at the band containing
    the overlap's START (``max(s_start, g_start)`` lies inside both
    spans, so both sides carry that band).  Exact — no overlapping
    pair can be missed and none duplicates — and worst-case work per
    (doc, band) is the local span density, not the document total.
    Band width via ``spark.neleval.overlap.bandWidth`` (default 64
    offsets): smaller bands = fewer candidate pairs, but a span costs
    length/width + 1 explode rows, so very long spans favor wider
    bands."""
    key = [f for f in spec.key if f != "span"]
    keycols = expand_key(tuple(key))
    join_key = list(dict.fromkeys(gcols + keycols + ["docid"]))

    s = project_measure(sys_df, spec, gcols,
                        extra=["docid", "start", "end"]) \
        .select(*join_key,
                F.col("start").alias("s_start"), F.col("end").alias("s_end"))
    g = project_measure(gold_df, spec, gcols,
                        extra=["docid", "start", "end"]) \
        .select(*join_key,
                F.col("start").alias("g_start"), F.col("end").alias("g_end"))
    w = int(sys_df.sparkSession.conf.get(
        "spark.neleval.overlap.bandWidth", "64"))
    sb = s.withColumn("_band", F.explode(F.sequence(
        F.floor(F.col("s_start") / w), F.floor(F.col("s_end") / w))))
    gb = g.withColumn("_band", F.explode(F.sequence(
        F.floor(F.col("g_start") / w), F.floor(F.col("g_end") / w))))
    first_band = F.floor(F.greatest("s_start", "g_start") / w)
    return ns_join(sb, gb, join_key + ["_band"], "inner").where(
        (F.col("s_start") <= F.col("g_end"))
        & (F.col("g_start") <= F.col("s_end"))
        & (F.col("_band") == first_band)
    ).drop("_band")


def _union_credit(ref_start, ref_end, spans_col):
    """Union length of candidate intervals clipped to the ref span,
    divided by ref length — the 'sum' mode sweep
    (neleval/annotation.py:439-465) as a JVM-side fold."""
    sorted_spans = F.array_sort(spans_col)  # by (start, end) asc
    init = F.struct(
        F.lit(None).cast("long").alias("open"),
        F.lit(None).cast("long").alias("close"),
        F.lit(0.0).alias("total"),
    )

    def clip(open_, close_):
        return (
            F.least(close_, ref_end) - F.greatest(open_, ref_start) + 1
        ).cast("double")

    def step(acc, x):
        no_run = acc["open"].isNull()
        extends = x["start"] <= acc["close"]
        return (
            F.when(no_run, F.struct(
                x["start"].alias("open"), x["end"].alias("close"),
                acc["total"].alias("total")))
            .when(extends, F.struct(
                acc["open"].alias("open"),
                F.greatest(acc["close"], x["end"]).alias("close"),
                acc["total"].alias("total")))
            .otherwise(F.struct(
                x["start"].alias("open"), x["end"].alias("close"),
                (acc["total"] + clip(acc["open"], acc["close"]))
                .alias("total")))
        )

    def finish(acc):
        return F.when(acc["open"].isNull(), F.lit(0.0)).otherwise(
            acc["total"] + clip(acc["open"], acc["close"]))

    total_chars = F.aggregate(sorted_spans, init, step, finish)
    return total_chars / (ref_end - ref_start + 1).cast("double")


def _credits(pairs: DataFrame, gcols: list[str], keycols: list[str],
             modes: dict) -> DataFrame:
    """Per-group total credit of both sides, ``s_credit`` (precision
    refs, credited by ``modes["s"]``) and ``g_credit`` (recall refs,
    ``modes["g"]``), in ONE aggregate over ``pairs``: each pair row
    is read once and turned into one row per side, so the pairs are
    computed once with no checkpoint.

    A 'ref' is one annotation = one (non-span key, span) tuple — two
    same-span annotations with different types are distinct refs, each
    earning up to 1.0 credit (reference measure_overlap iterates the
    per-annotation index, annotation.py:436-479), so the non-span key
    columns participate in the per-ref groupBy."""
    aggs = {"max": "_max", "sum": "_spans"}
    for mode in modes.values():
        if mode not in aggs:
            raise ValueError(f"Unexpected overlap measurement mode: {mode!r}")
    sides = pairs.select(
        *dict.fromkeys(gcols + keycols + ["docid"]),
        F.inline(F.array(*[F.struct(
            F.lit(ref).alias("_ref"),
            F.col(f"{ref}_start").alias("_r_start"),
            F.col(f"{ref}_end").alias("_r_end"),
            F.col(f"{other}_start").alias("_o_start"),
            F.col(f"{other}_end").alias("_o_end"))
            for ref, other in (("s", "g"), ("g", "s"))])))
    rs, re_ = F.col("_r_start"), F.col("_r_end")
    os_, oe = F.col("_o_start"), F.col("_o_end")
    frac = (
        (F.least(re_, oe) - F.greatest(rs, os_) + 1).cast("double")
        / (re_ - rs + 1).cast("double")
    )
    spans = F.collect_list(F.struct(os_.alias("start"), oe.alias("end")))
    per_ref = sides.groupBy(*dict.fromkeys(
        gcols + keycols + ["docid", "_ref", "_r_start", "_r_end"])).agg(
        *[(F.max(frac) if m == "max" else spans).alias(aggs[m])
          for m in sorted(set(modes.values()))])
    credit = {"max": F.col("_max"),
              "sum": _union_credit(rs, re_, F.col("_spans"))}

    # NB: refs appearing in multiple pair rows were deduped by groupBy;
    # duplicate annotations (same span twice) collapse here, whereas the
    # reference keys by object identity — duplicates are unsupported
    # input for overlap measures.
    agg = [F.sum(F.when(F.col("_ref") == ref, credit[mode]))
           .alias(f"{ref}_credit") for ref, mode in modes.items()]
    return (per_ref.groupBy(*gcols).agg(*agg)
            if gcols else per_ref.agg(*agg))


def overlap_contingency(
    sys_df: DataFrame,
    gold_df: DataFrame,
    spec: MeasureSpec,
    gcols: list[str] | None = None,
) -> DataFrame:
    """→ (gcols..., ptp, fp, rtp, fn). agg = 'overlap-<gold><sys>'
    where modes are gold-then-sys by convention
    (neleval/annotation.py:481-486)."""
    gcols = list(gcols or [])
    params = spec.agg[len("overlap-"):]
    gold_mode, sys_mode = params[:3], params[3:]

    keycols = expand_key(tuple(f for f in spec.key if f != "span"))
    credits = _credits(_pair_overlaps(sys_df, gold_df, spec, gcols),
                       gcols, keycols, {"s": sys_mode, "g": gold_mode})

    def total(df, name):
        # reference denominators count the RAW annotation list — the
        # measure filter is applied only when building pair indexes
        # (neleval/annotation.py:415-418, 481-486, 514-518)
        agg = [F.count(F.lit(1)).cast("double").alias(name)]
        out = project_measure(df, MeasureSpec(spec.key, None, spec.agg),
                              gcols, extra=["docid"])
        return (out.groupBy(*gcols).agg(*agg)
                if gcols else out.agg(*agg))

    n_sys = total(sys_df, "n_sys")
    n_gold = total(gold_df, "n_gold")

    if gcols:
        out = (n_sys.join(n_gold, gcols, "full_outer")
               .join(credits, gcols, "left"))
    else:
        out = n_sys.crossJoin(n_gold).crossJoin(credits)

    ns = F.coalesce(F.col("n_sys"), F.lit(0.0))
    ng = F.coalesce(F.col("n_gold"), F.lit(0.0))
    sc = F.coalesce(F.col("s_credit"), F.lit(0.0))
    gc = F.coalesce(F.col("g_credit"), F.lit(0.0))
    # fp = n_sys − sys_credit; fn = n_gold − gold_credit;
    # ptp = n_sys − fp = sys_credit; rtp = gold_credit
    return out.select(
        *gcols,
        sc.alias("ptp"),
        (ns - sc).alias("fp"),
        gc.alias("rtp"),
        (ng - gc).alias("fn"),
    )
