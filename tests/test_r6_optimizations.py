"""Round-6 optimization pins.

Plan-shape assertions for the restructured measure internals (so a
regression back to the expensive shapes fails fast) plus a direct
exactness property test for the banded overlap pair join.
"""

import random

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    """Executed plan, final-plan section only (the AQE dump repeats
    every operator under '== Initial Plan ==')."""
    return (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])


def _mentions(spark, n=400, seed=7):
    rng = random.Random(seed)
    rows = [
        (f"d{rng.randrange(6)}", rng.randrange(50),
         0, f"E{rng.randrange(5)}" if rng.random() < 0.8 else None,
         "PER", i)
        for i in range(n)
    ]
    rows = [(d, s, s + rng.randrange(1, 8), e, t, i)
            for (d, s, _, e, t, i) in rows]
    df = spark.createDataFrame(
        rows, "docid string, start long, end long, eid string, "
              "type string, evt long")
    return (df.withColumn("is_nil", F.col("eid").isNull())
            .withColumn("is_linked", ~F.col("is_nil"))
            .withColumn("kbid", F.when(F.col("is_linked"), F.col("eid")))
            .withColumn("score", F.lit(1.0)))


def test_sets_contingency_single_exchange_no_smj(spark):
    """The union+flags rewrite must keep the sets plan free of the
    old full-outer SortMergeJoin and its (coalesce, isnull) exchange
    keys; one full-data exchange plus the 1-row final agg exchange."""
    from neleval_spark.measures.catalog import get_measure
    from neleval_spark.measures.sets import sets_contingency

    g = _mentions(spark, seed=1)
    s = _mentions(spark, seed=2)
    out = sets_contingency(s, g, get_measure("strong_typed_all_match"))
    out.collect()
    plan = _plan(out)
    assert "SortMergeJoin" not in plan
    assert "isnull(docid" not in plan  # eqNullSafe key rewrite gone
    n_exchanges = plan.count("+- Exchange")
    assert n_exchanges <= 2, plan


def test_key_clusters_reuse_the_docid_partitioning(spark):
    """_key_clusters: over membership rows of both sides hash-partitioned
    by docid, the per-key aggregate that deduplicates the pairs and
    aligns the sides runs in-partition: the repartition is the only
    exchange."""
    from neleval_spark.measures.clustering import _key_clusters

    members = _mentions(spark, seed=3).select(
        "docid", "start", "end", "eid", F.lit(1).alias("_side")).unionByName(
        _mentions(spark, seed=4).select(
            "docid", "start", "end", "eid", F.lit(2).alias("_side")))
    kc = _key_clusters(members.repartition("docid"),
                       ["docid", "start", "end"], [])
    kc.collect()
    plan = _plan(kc)
    assert plan.count("+- Exchange") == 1, plan
    assert "REPARTITION_BY_COL" in plan, plan


def test_clustering_join_has_no_eqnullsafe_exchange(spark):
    """The intersection join keys on the packed struct, so the old
    10-expression (coalesce, isnull) exchange keys must not appear
    anywhere in a clustering plan."""
    from neleval_spark.measures.catalog import get_measure
    from neleval_spark.measures.contingency import contingency_df

    g = _mentions(spark, seed=4)
    s = _mentions(spark, seed=5)
    out = contingency_df(s, g, get_measure("b_cubed"))
    rows = out.collect()
    assert len(rows) == 1
    plan = _plan(out)
    assert "isnull(docid" not in plan, plan


@pytest.mark.parametrize("width", [1, 7, 64, 1000])
def test_banded_overlap_pairs_exact(spark, width):
    """The banded interval join must produce EXACTLY the naive
    all-pairs overlap set — no missed pair, no duplicate — at any
    band width, including spans far longer than the band."""
    from neleval_spark.measures.catalog import MeasureSpec
    from neleval_spark.measures.overlap import _pair_overlaps

    rng = random.Random(width)

    def side(n, seed):
        r = random.Random(seed)
        rows = []
        for i in range(n):
            start = r.randrange(0, 300)
            length = r.choice([1, 2, 5, 40, 150])  # incl. band-crossing
            rows.append((f"d{r.randrange(3)}", start,
                         start + length, f"E{i}", "PER"))
        return rows

    cols = "docid string, start long, end long, eid string, type string"
    sys_rows = side(120, width * 2 + 1)
    gold_rows = side(120, width * 2 + 2)
    sys_df = spark.createDataFrame(sys_rows, cols)
    gold_df = spark.createDataFrame(gold_rows, cols)
    spec = MeasureSpec(("span",), None, "overlap-maxmax")

    spark.conf.set("spark.neleval.overlap.bandWidth", str(width))
    try:
        got = sorted(
            (r["docid"], r["s_start"], r["s_end"], r["g_start"],
             r["g_end"])
            for r in _pair_overlaps(sys_df, gold_df, spec, [])
            .select("docid", "s_start", "s_end", "g_start", "g_end")
            .collect())
    finally:
        spark.conf.unset("spark.neleval.overlap.bandWidth")

    naive = sorted(
        (sd, ss, se, gs, ge)
        for (sd, ss, se, _, _) in sys_rows
        for (gd, gs, ge, _, _) in gold_rows
        if sd == gd and ss <= ge and gs <= se)
    assert got == naive


def test_emit_triples_one_full_exchange(spark):
    """emit_triples: after the up-front part_id repartition, the
    sentence and per-url aggregations run in-partition — exactly one
    Exchange (plus AQE reads) in the sink plan."""
    from neleval_spark.pipeline.triples import emit_triples

    m = spark.createDataFrame(
        [(f"u{i % 9}", i % 4, f"E{i % 7}") for i in range(300)],
        "url string, sent_uid int, eid string")
    t = emit_triples(m, n_buckets=8)
    t.collect()
    plan = _plan(t)
    assert plan.count("+- Exchange") == 1, plan
