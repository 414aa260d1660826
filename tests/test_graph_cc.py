"""Connected-components utility: chains (the O(log n) stress case for
star contraction), random graphs vs a local union-find oracle, and the
Hungarian assignment kernel vs brute force."""

import itertools
import random

import numpy as np
import pytest

from neleval_spark.graph import connected_components
from neleval_spark.graph.connected_components import UnionFind
from neleval_spark.measures.clustering import max_weight_assignment_total


def _cc_oracle(edges):
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    comps = {}
    for v in uf.parent:
        comps.setdefault(uf.find(v), set()).add(v)
    return {frozenset(s) for s in comps.values()}


def _cc_spark(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    # driver_max_edges=0 forces the distributed star-contraction path
    rows = connected_components(df, driver_max_edges=0).collect()
    comps = {}
    for r in rows:
        comps.setdefault(r["component"], set()).add(r["vertex"])
    # component label must be the min vertex id of its members
    for label, members in comps.items():
        assert label == min(members)
    return {frozenset(s) for s in comps.values()}


def test_cc_chain(spark):
    """A 400-node path: naive min-propagation needs O(n) rounds; the
    star-contraction implementation must converge well inside the
    iteration cap."""
    edges = [(f"v{i:04d}", f"v{i + 1:04d}") for i in range(399)
             if i != 199]
    assert _cc_spark(spark, edges) == _cc_oracle(edges)


def test_cc_random(spark):
    rng = random.Random(7)
    n = 300
    edges = [
        (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
        for _ in range(250)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_spark(spark, edges) == _cc_oracle(edges)


def test_cc_star_and_selfloops(spark):
    edges = [("hub", f"leaf{i}") for i in range(50)] + [("hub", "hub")]
    comps = _cc_spark(spark, edges)
    assert comps == {frozenset({"hub"} | {f"leaf{i}" for i in range(50)})}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_assignment_vs_bruteforce(seed):
    rng = np.random.default_rng(seed)
    for _ in range(40):
        n = int(rng.integers(1, 6))
        m = int(rng.integers(1, 6))
        W = np.round(rng.random((n, m)) * 10, 3)
        k = min(n, m)
        best = max(
            (
                sum(W[r, c] for r, c in zip(rsub, csub))
                for rsub in itertools.permutations(range(n), k)
                for csub in itertools.permutations(range(m), k)
            ),
            default=0.0,
        )
        assert abs(max_weight_assignment_total(W) - best) < 1e-9


# --- round 4: giant-component / hub-skew adversarial cases --------------------

def test_cc_giant_star_no_skew_blowup(spark):
    """SURVEY §7.2 prescribed salting for iterative self-joins; the
    implementation instead argues hubs are safe because (a) the
    per-vertex min is a PARTIAL aggregate (map-side combine) and
    (b) star rounds never expand a hub's edges quadratically.  Prove
    it on a 10^6-edge single-hub star: per-round edge counts are the
    data-volume witness (a quadratic hub would explode the multiset),
    and one large-star round on the hub emits EXACTLY d rows."""
    from pyspark.sql import functions as F

    from neleval_spark.graph.connected_components import _large_star

    n = 1_000_000
    edges = spark.range(n).select(
        F.lit("h").alias("src"),
        F.format_string("v%07d", F.col("id")).alias("dst"))

    # O(d) witness: large-star on the raw star emits one row per leaf
    e0 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    assert _large_star(e0).count() == n

    # the min aggregate must have a map-side partial (plan-level check)
    plan = _large_star(e0)._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower(), plan[:2000]

    stats = {}
    out = connected_components(edges, driver_max_edges=0, stats=stats)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("k"),
        F.min("component").alias("m")).collect()[0]
    assert (agg["n"], agg["k"], agg["m"]) == (n + 1, 1, "h")
    assert not stats["driver_path"]
    assert stats["rounds"] <= 4, stats
    # no round may expand the edge multiset beyond a small constant
    # of the input size (quadratic hub expansion would be ~n^2/2)
    assert all(c <= 2 * n for c in stats["round_edges"]), stats


def test_cc_chain_of_stars_converges(spark):
    """Chain-of-stars (32 hubs of 31,250 leaves, hubs bridged into one
    path): combines the hub-skew hazard with the O(log n) chain case.
    Must converge in logarithmic rounds to ONE component with bounded
    per-round edge counts."""
    from pyspark.sql import functions as F

    k, m = 32, 31_250
    n = k * m
    leaves = spark.range(n).select(
        F.format_string("s%02d", (F.col("id") / m).cast("long"))
        .alias("src"),
        F.format_string("s%02dx%06d", (F.col("id") / m).cast("long"),
                        F.col("id") % m).alias("dst"))
    bridges = spark.range(k - 1).select(
        F.format_string("s%02d", F.col("id")).alias("src"),
        F.format_string("s%02d", F.col("id") + 1).alias("dst"))
    stats = {}
    out = connected_components(leaves.union(bridges),
                               driver_max_edges=0, stats=stats)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component").alias("comps"),
        F.min("component").alias("mn")).collect()[0]
    assert (agg["n"], agg["comps"], agg["mn"]) == (n + k, 1, "s00")
    assert stats["rounds"] <= 12, stats
    assert all(c <= 3 * (n + k) for c in stats["round_edges"]), stats
