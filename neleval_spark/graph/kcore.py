"""k-core decomposition of the constructed knowledge graph — the
standard pre-embedding cleanup: the k-core is the maximal subgraph
in which every vertex keeps degree ≥ k, computed by repeatedly
peeling vertices of degree < k (Seidman 1983, "Network structure and
minimum degree"; Batagelj-Zaveršnik peel).  KG practice prunes the
1-/2-shell (entities attached by a single stray co-occurrence)
before embedding training — peripheral noise
otherwise dominates negative sampling and random walks.

Scale shape (10^9+ edges):

* Each round is degree = groupBy-count (map-side combined) + TWO
  semi-join filters of the edge list against the surviving vertex
  set — hub entities never materialize a neighbour list anywhere
  (contrast adjacency-list formulations, where "United States"
  becomes one 10^7-element row).
* The loop converges in the graph's PEEL DEPTH (the longest chain of
  cascading removals), not its diameter; each iteration is
  ``localCheckpoint``-truncated (the connected_components
  convention) so plans stay bounded and the driver holds only
  per-round counters.
* The removal test is on the VERTEX key (uniform hash); the only
  skew is the degree groupBy's, which partial aggregation absorbs.

No reference counterpart (the reference is an evaluation engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kcore(edges: DataFrame, k: int, src_col: str = "src",
          dst_col: str = "dst", max_iterations: int = 50,
          stats: dict | None = None) -> DataFrame:
    """Edges of the k-core of the undirected simple graph of
    ``edges`` as ``(a, b)`` with a < b — input direction, duplicate
    edges and self-loops are normalized away first, so any
    (src, dst) table works (e.g. the triple sink's ``cooccurs_with``
    rows).  An empty result means the graph has no k-core.

    ``stats`` (optional dict, the ``connected_components``
    contract): filled with ``iterations`` (peel rounds until
    fixpoint) and ``n_edges`` per round.  Raises if the peel hasn't
    converged after ``max_iterations`` rounds (peel depth is bounded
    by the vertex count; 50 covers any real web/KG graph — chains of
    cascading removals longer than that mean the input is a path
    graph, not a co-occurrence graph)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("a"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False))
    # lazy checkpoint: this count (and each round's below) is the
    # materializing action — one job per peel round instead of two
    n = e.count()
    rounds = []
    for i in range(max_iterations):
        rounds.append(n)
        if n == 0:
            break
        deg = (e.select(F.col("a").alias("v"))
               .unionAll(e.select(F.col("b").alias("v")))
               .groupBy("v").agg(F.count(F.lit(1)).alias("_deg")))
        keep = deg.where(F.col("_deg") >= k).select("v")
        e2 = (e.join(keep.withColumnRenamed("v", "a"), "a", "semi")
              .join(keep.withColumnRenamed("v", "b"), "b", "semi")
              .select("a", "b")
              .localCheckpoint(eager=False))
        n2 = e2.count()
        e = e2
        if n2 == n:
            break
        n = n2
    else:
        raise RuntimeError(
            f"kcore(k={k}) did not converge in {max_iterations} "
            f"rounds (last edge counts: {rounds[-3:]})")
    if stats is not None:
        stats["iterations"] = len(rounds)
        stats["n_edges"] = rounds + [n]
    return e


def core_numbers(edges: DataFrame, max_k: int = 16,
                 src_col: str = "src",
                 dst_col: str = "dst") -> DataFrame:
    """Per-vertex core number (the largest k whose k-core contains
    the vertex), for k up to ``max_k``: ``(v, core)``.  Runs the
    peel once per k level — O(max_k × peel) jobs, intended for the
    small-k prefix KG curation actually uses (core ∈ {1, 2, 3}
    separates stray mentions / weak pairs / dense regions), not for
    full degeneracy ordering."""
    out = None
    cur = edges
    for k in range(1, max_k + 1):
        cur = kcore(cur, k, src_col=src_col, dst_col=dst_col)
        verts = (cur.select(F.col("a").alias("v"))
                 .unionByName(cur.select(F.col("b").alias("v")))
                 .distinct()
                 .withColumn("core", F.lit(k)))
        if verts.isEmpty():
            break
        out = verts if out is None else (
            out.join(verts.select("v"), "v", "left_anti")
            .unionByName(verts))
        src_col, dst_col = "a", "b"
    if out is None:  # no 1-core: the edge list was empty
        return (edges.select(F.col(src_col).alias("v")).limit(0)
                .withColumn("core", F.lit(0)))
    return out
