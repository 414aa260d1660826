"""Distributed connected components via alternating large-star /
small-star contraction (the MapReduce CC algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm, independent implementation).

This is the one graph utility the engine needs twice (SURVEY.md §2.4
A8): CEAF's component decomposition before the Hungarian solve
(reference behavior: neleval/coref_metrics.py:392-440, which uses
scipy.sparse.csgraph on a driver-local matrix) and the construction
pipeline's cross-document NIL canonicalization.

Rounds:

    large-star(u): attach every neighbor v > u to m(u) = min(Γ⁺(u))
    small-star(u): attach every neighbor v ≤ u (and u) to m(u)

until the edge multiset is stable — then every component is a star
centered at its minimum vertex. Converges in O(log² n) rounds
(O(log n) observed); a path/chain graph halves every round, unlike
naive min-neighbor propagation which is O(n) there.

Scale notes: min() per vertex is a partial aggregate (map-side
combine), so hub vertices don't skew the shuffle; the star joins run
under AQE with skew-join splitting; lineage is truncated every round
with localCheckpoint so plans stay bounded.

Vertex ids are strings: callers namespace them (e.g. prefix a group
key) to isolate per-group subgraphs — no 64-bit hash collision risk
at 10^12-vertex scale, unlike hashing ids to longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class UnionFind:
    """Driver-side union-find for small graphs: the local complement
    of :func:`connected_components` (same contract), used when the
    edge list fits on the driver — here and in CEAF's component
    decomposition (``measures/clustering._solve_edge_list``)."""

    def __init__(self):
        self.parent: dict = {}
        self.rank: dict = {}

    def find(self, x):
        parent = self.parent
        if x not in parent:
            parent[x] = x
            self.rank[x] = 0
            return x
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return ra
        if self.rank[ra] < self.rank[rb]:
            ra, rb = rb, ra
        self.parent[rb] = ra
        if self.rank[ra] == self.rank[rb]:
            self.rank[ra] += 1
        return ra


def _large_star(e: DataFrame) -> DataFrame:
    """Γ as directed both ways; attach strictly-greater neighbors to
    the neighborhood minimum."""
    nbrs = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = nbrs.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        nbrs.join(m, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Canonicalize edges (u = greater endpoint); attach all lesser
    neighbors and u itself to the neighborhood minimum."""
    c = e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = c.groupBy("u").agg(F.min("v").alias("m"))
    cm = c.join(m, "u")
    out = cm.select(F.col("v").alias("a"), F.col("m").alias("b")).union(
        m.select(F.col("u").alias("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _signature(e: DataFrame):
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # xor-combine: order-independent, no ANSI bigint-sum overflow
        F.expr("bit_xor(xxhash64(a, b))").alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


# Edge lists at or below this size are solved on the driver with
# union-find (one collect instead of ~3 log-n shuffle rounds) — the
# same hybrid the CEAF solver uses. The result is bounded by the same
# cap, so it is returned with a broadcast hint: a local-rows frame
# otherwise plans with an unknown (Long.MaxValue) size, and every
# consumer would join it with a sort-merge join, shuffling its own
# side to do so. The distributed star-contraction engages
# automatically beyond the cap (e.g. 10^12-doc NIL key graphs).
DRIVER_CC_MAX_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 60,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    stats: dict | None = None,
) -> DataFrame:
    """Compute connected components of an undirected graph.

    Parameters
    ----------
    edges : DataFrame with two string columns ``src`` and ``dst``.
    stats : optional dict; receives ``{"driver_path": bool,
        "rounds": k, "round_edges": [n1, ...]}`` — the per-round edge
        counts come free from the convergence signature and are the
        skew-safety witness (a hot hub must never expand the edge
        multiset quadratically; see tests/test_graph_cc.py).

    Returns
    -------
    DataFrame (vertex: string, component: string) covering every vertex
    appearing in ``edges``; ``component`` is the minimum vertex id of
    the component.  On the driver path (at most ``driver_max_edges``
    edges) the frame is marked for broadcast, so joins against it
    never shuffle the other side.
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )

    if stats is not None:
        stats.update(driver_path=False, rounds=0, round_edges=[])
    if driver_max_edges:
        # probe BEFORE the localCheckpoint: the root-level limit
        # collects incrementally (one partition wave at a time), so
        # for small graphs this is the only job and the eager
        # checkpoint materialization is skipped entirely (r6: one
        # fewer job per canonicalization).  A big graph pays one
        # cheap partial wave of the distinct before falling through.
        sample = e0.limit(driver_max_edges + 1).collect()
        if len(sample) <= driver_max_edges:
            if stats is not None:
                stats["driver_path"] = True
            uf = UnionFind()
            for r in sample:
                uf.union(r["a"], r["b"])
            comp_min: dict = {}
            for v in uf.parent:
                root = uf.find(v)
                if root not in comp_min or v < comp_min[root]:
                    comp_min[root] = v
            rows = [(v, comp_min[uf.find(v)]) for v in uf.parent]
            return F.broadcast(edges.sparkSession.createDataFrame(
                rows, "vertex string, component string"))
    # distributed path: LAZY checkpoints throughout, so each round
    # costs one job (its signature collect).  Only the
    # topmost marked RDD of an action is checkpoint-finalized, so e0's
    # and vertices' checkpoints never truncate lineage; what they buy
    # is localCheckpoint's implicit MEMORY_AND_DISK persist — the
    # first round's signature collect caches the deduped edge list,
    # and the caller's final action computes the vertex table from
    # those cached blocks instead of re-deduping the input.  Each later round's
    # signature finalizes that round's edges.  Halves the job count
    # per round; the convergence contract is unchanged.
    e0 = e0.localCheckpoint(eager=False)
    vertices = (
        e0.select(F.col("a").alias("vertex"))
        .union(e0.select("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    e = e0.where(F.col("a") != F.col("b"))
    prev_sig = None
    for i in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = _signature(e)
        if stats is not None:
            stats["rounds"] = i + 1
            stats["round_edges"].append(sig[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds")

    # converged: e is a union of stars (v → component minimum)
    stars = e.select(F.col("a").alias("vertex"),
                     F.col("b").alias("component"))
    return (
        vertices.join(stars, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", "vertex").alias("component"),
        )
    )
