"""Clustering measures (MUC, B-cubed, pairwise, CEAF) as distributed
DataFrame aggregations.

All reference clustering metrics return an additive 4-tuple
``(p_num, p_den, r_num, r_den)`` (neleval/annotation.py:503-521); every
one of them decomposes over the *cluster intersection-size table*

    I(eid_g, eid_s) = |gold cluster ∩ pred cluster|

(relationally ``gold ⋈ pred on mention-key → groupBy (eid_g, eid_s) →
count``, the distributed analogue of the reference's scipy CSR
sparse-matrix multiply, neleval/coref_metrics.py:310-338, 379-382) and
the cluster sizes.  One plan computes those once (:func:`clustering_plan`):

* per key, the distinct clusters of each side that hold it, from one
  aggregate over both sides' membership rows (``_key_clusters``);
* I, each key's gold × pred cluster pairs counted per pair
  (``_intersections``);
* per cluster, one aggregate over both sides: its size ``n``, its
  common mentions ``c = Σ I``, ``q = Σ I²`` and ``e``, the number of
  clusters of the other side it meets (``_clusters``);
* per group, the sums every aggregate is a formula over (``_totals``):
  per side ``n`` (mentions), ``k`` (clusters), ``t = Σ C(n,2)``,
  ``b = Σ q/n`` and ``cp = Σ C(c,2)``, and shared ``e = |rows(I)|``,
  ``m = Σ I``, ``q = Σ I²`` (``_s``/``_g`` suffixes name the side).

Derivations (``_formulas``):

* MUC (neleval/coref_metrics.py:640-666): per Vilain et al. (1995),
  ``num = Σ I − |rows(I)|`` on both sides,
  ``p_den = Σ (|pred C| − 1)``, ``r_den = Σ (|gold C| − 1)``.
* B-cubed (neleval/coref_metrics.py:503-523):
  ``p_num = Σ I²/|pred C|``, ``r_num = Σ I²/|gold C|``,
  dens = mention counts.
* pairwise (neleval/coref_metrics.py:605-611):
  ``num = Σ C(I,2) = (Σ I² − Σ I)/2``, dens = ``Σ C(|C|,2)``.
* pairwise_negative (BLANC's negative half, coref_metrics.py:574-602):
  ``num = C(Σ I,2) − Σ_g C(c_g,2) − Σ_s C(c_s,2) + Σ C(I,2)`` (the
  reference's C(M,2) − A − disagreements), ``p_den = C(|sys
  mentions|,2) − Σ_s C(n_s,2)``, ``r_den`` likewise for gold.
* CEAF (neleval/coref_metrics.py:443-492): dens are mention counts
  (``mention_ceaf``, similarity φ3 = I) or cluster counts
  (``entity_ceaf``, dice φ4 = 2I/(n_g + n_s)); the numerator is an
  optimal 1:1 cluster alignment over the similarity edge list, solved
  per connected component with the reference's 1×1-component shortcut
  (:392-440) — on the driver when the edges fit, else distributed
  (:func:`solve_assignments`).  The plan gives CEAF a zero numerator
  and the edge list; the solved totals are added afterwards.

Membership rows are ``(gcols..., _m, key..., eid, _side)``, both
sides in one frame, duplicates tolerated.  Several measures over
different keys or filters share one plan when the rows are stacked:
each (key, filter) "stack" is an integer ``_m`` and each measure names
its stack.  Results are additive per group, so micro/macro/significance
reuse the same plans.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph.connected_components import UnionFind, connected_components
from ._join import ns_join
from .sets import tag_sides

SCORES = ["p_num", "p_den", "r_num", "r_den"]


def _grouped(df: DataFrame, gcols: list[str], exprs: list) -> DataFrame:
    if gcols:
        return df.groupBy(*gcols).agg(*exprs)
    return df.agg(*exprs)


def _key_clusters(members: DataFrame, key: list[str],
                  group: list[str]) -> DataFrame:
    """Membership rows (group..., key..., eid, _side), duplicates
    allowed → one row per (group, key): ``_g`` and ``_s``, the distinct
    clusters of each side that hold the key, as arrays of
    ``struct(eid)`` (a NULL eid is a cluster id of its own, and the
    struct keeps it out of ``collect_set``'s NULL skipping).

    One aggregate deduplicates both sides and aligns them, so the
    intersection needs no join: I's cells are each key's
    ``_g × _s`` product.  A join would have to match ``docid``
    null-safely, and a null-safe key is rewritten to (coalesce(k),
    isnull(k)), which the ``docid`` partitioning does not satisfy;
    the group-by treats NULL as an ordinary value.  Over input
    hash-partitioned by a column of ``group + key`` (``evaluate``'s
    ``docid`` exchange) the aggregate runs in-partition."""
    eid = F.struct("eid")
    return members.groupBy(*group, *key).agg(*[
        F.collect_set(F.when(F.col("_side") == side, eid)).alias(name)
        for side, name in ((1, "_g"), (2, "_s"))])


def _intersections(per_key: DataFrame, group: list[str]) -> DataFrame:
    """Intersection sizes I(eid_g, eid_s) from :func:`_key_clusters`:
    the number of keys each pair of clusters shares."""
    return (per_key.select(*group, F.inline("_g"), "_s")
            .select(*group, F.col("eid").alias("eid_g"), F.inline("_s"))
            .groupBy(*group, "eid_g", F.col("eid").alias("eid_s"))
            .agg(F.count(F.lit(1)).alias("i")))


def _clusters(per_key: DataFrame, I: DataFrame,
              group: list[str]) -> DataFrame:
    """One row per cluster of either side: (group..., _side, eid, n,
    c, q, e) with ``_side`` 1 for gold, 2 for pred.  One aggregate over
    the members of both sides (size ``n``, the keys the cluster holds,
    so a key in two clusters counts in both) and I's cells seen from
    each side (``c = Σ I``, ``q = Σ I²``, ``e`` = cells).  The group-by
    treats a NULL eid or group value as an ordinary group."""
    members = per_key.select(*group, F.inline(F.array(*[
        F.struct(F.lit(side).alias("_side"), F.col(c).alias("_c"))
        for side, c in ((1, "_g"), (2, "_s"))]))).select(
        *group, "_side", F.inline("_c"), F.lit(1).alias("n"),
        F.lit(None).cast("long").alias("i"))
    cells = I.select(*group, F.inline(F.array(*[
        F.struct(F.lit(side).alias("_side"), F.col(eid).alias("eid"),
                 F.lit(0).alias("n"), F.col("i").alias("i"))
        for side, eid in ((1, "eid_g"), (2, "eid_s"))])))
    i = F.col("i")
    return (members.unionByName(cells)
            .groupBy(*group, "_side", "eid")
            .agg(F.sum("n").alias("n"), F.sum(i).alias("c"),
                 F.sum(i * i).alias("q"), F.count(i).alias("e")))


def _tri(c):
    """C(c, 2) as a double."""
    return c * (c - 1) / 2


def _totals(clusters: DataFrame, gcols: list[str]) -> DataFrame:
    """Per-group sums of the ``_clusters`` table (module docstring),
    all doubles, 0.0 where a group has no such cluster."""
    def on(side, expr):
        return F.when(F.col("_side") == side, expr)

    n, c, q = F.col("n"), F.col("c"), F.col("q")
    exprs = []
    for side, x in ((1, "g"), (2, "s")):
        exprs += [F.sum(on(side, n)).alias(f"n_{x}"),
                  F.count(on(side, n)).alias(f"k_{x}"),
                  F.sum(on(side, _tri(n))).alias(f"t_{x}"),
                  F.sum(on(side, q / n)).alias(f"b_{x}"),
                  F.sum(on(side, _tri(c))).alias(f"cp_{x}")]
    # every cell of I is seen once from the pred side
    exprs += [F.sum(on(2, F.col(src))).alias(name)
              for src, name in (("e", "e"), ("c", "m"), ("q", "q"))]
    out = _grouped(clusters, gcols, exprs)
    return out.select(*gcols, *[
        F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c)
        for c in out.columns if c not in gcols])


def _formulas():
    """{agg: (p_num, p_den, r_num, r_den)} over ``_totals`` columns;
    CEAF's numerator is the assignment total, added later."""
    col = F.col
    muc = col("m") - col("e")
    pw = (col("q") - col("m")) / 2
    pn = _tri(col("m")) - col("cp_g") - col("cp_s") + pw
    zero = F.lit(0.0)
    return {
        "muc": (muc, col("n_s") - col("k_s"), muc, col("n_g") - col("k_g")),
        "b_cubed": (col("b_s"), col("n_s"), col("b_g"), col("n_g")),
        "pairwise": (pw, col("t_s"), pw, col("t_g")),
        "pairwise_negative": (pn, _tri(col("n_s")) - col("t_s"),
                              pn, _tri(col("n_g")) - col("t_g")),
        "mention_ceaf": (zero, col("n_s"), zero, col("n_g")),
        "entity_ceaf": (zero, col("k_s"), zero, col("k_g")),
    }


# CEAF similarity φ per aggregate, over I joined to the cluster sizes
SIMILARITY = {
    "mention_ceaf": lambda: F.col("i").cast("double"),
    "entity_ceaf": lambda: 2 * F.col("i") / (F.col("ng") + F.col("ns")),
}


def per_measure(df: DataFrame, gcols: list[str], measures: list,
                fields) -> DataFrame:
    """One output row per input row and measure of ``measures``, a
    list of (position, aggregate, stack id), whose stack is the row's
    ``_m``: (gcols..., _m, fields(agg)...) with ``_m`` the measure's
    position."""
    rows = F.array(*[
        F.struct(F.lit(j).alias("_m"), F.lit(stack).alias("_st"),
                 *fields(agg))
        for j, agg, stack in measures])
    # ``_m`` outside the lambda is the input row's stack id
    rows = F.filter(rows, lambda r: r["_st"] == F.col("_m"))
    return df.select(*gcols, F.inline(rows)).drop("_st")


def clustering_plan(members: DataFrame, key: list[str], gcols: list[str],
                    measures: list) -> tuple[DataFrame, DataFrame | None]:
    """→ (scores, edges) for the clustering ``measures``, a list of
    (position, aggregate, stack id), in ONE plan.

    ``members``: (gcols..., _m, key..., eid, _side) membership rows of
    both sides, ``_m`` the row's stack id and ``_side`` 1 for gold, 2
    for pred.  ``scores``: (gcols..., _m, p_num, p_den, r_num, r_den),
    ``_m`` the measure's position, with CEAF numerators 0.0.
    ``edges``: the CEAF similarity edge list (gcols..., _m, eid_g,
    eid_s, sim), or None when ``measures`` has no CEAF measure."""
    group = gcols + ["_m"]
    per_key = _key_clusters(members, key, group)
    I = _intersections(per_key, group)
    clusters = _clusters(per_key, I, group)
    formulas = _formulas()
    scores = per_measure(
        _totals(clusters, group), gcols, measures,
        lambda agg: [c.alias(n) for c, n in zip(formulas[agg], SCORES)])

    ceaf = [m for m in measures if m[1] in SIMILARITY]
    if not ceaf:
        return scores, None
    if any(agg == "entity_ceaf" for _, agg, _ in ceaf):
        sizes = clusters.select(*group, "_side", "eid", "n")
        for side, x in ((2, "s"), (1, "g")):
            I = ns_join(I, sizes.where(F.col("_side") == side).select(
                *group, F.col("eid").alias(f"eid_{x}"),
                F.col("n").alias(f"n{x}")), group + [f"eid_{x}"])
    edges = per_measure(I, gcols + ["eid_g", "eid_s"], ceaf,
                        lambda agg: [SIMILARITY[agg]().alias("sim")])
    return scores, edges


# Below this many similarity edges the whole assignment problem is
# collected and solved on the driver (exactly the reference's own
# local scipy path, coref_metrics.py:392-440); above it, the
# distributed CC + per-component applyInPandas path runs. The driver
# path is not a semantics change — both decompose by connected
# components and solve Hungarian per block.
DRIVER_SOLVE_MAX_EDGES = 100_000

# Hungarian is O(n³) per component; a pathological all-overlapping
# component would stall an executor. The reference used a 900 s
# SIGALRM returning zeros (coref_metrics.py:443-471); here oversized
# components are skipped with a warning and contribute 0 to the
# assignment total — a per-component guard instead of a global timer.
MAX_COMPONENT_EDGES = 2_000_000


def min_cost_assignment(cost: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Return (row_indices, col_indices) of a minimum-cost assignment.

    Requires a 2-D float array; every row of the smaller dimension is
    assigned. Equivalent contract to
    ``scipy.optimize.linear_sum_assignment``.

    scipy is not a dependency, and the reference's bundled
    ``munkres.py`` is not reused; this is an independent numpy
    implementation of the standard O(n²·m) shortest-augmenting-path
    Hungarian algorithm (Kuhn-Munkres with potentials, as described in
    standard references, e.g. Burkard, Dell'Amico & Martello,
    "Assignment Problems").
    """
    cost = np.asarray(cost, dtype=float)
    if cost.ndim != 2:
        raise ValueError("cost must be 2-D")
    transposed = False
    if cost.shape[0] > cost.shape[1]:
        cost = cost.T
        transposed = True
    n, m = cost.shape
    INF = np.inf

    # potentials; p[j] = row assigned to column j (0 = none), 1-indexed
    u = np.zeros(n + 1)
    v = np.zeros(m + 1)
    p = np.zeros(m + 1, dtype=np.intp)
    way = np.zeros(m + 1, dtype=np.intp)

    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(m + 1, INF)
        used = np.zeros(m + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            # vectorized relaxation over unused columns
            free = ~used[1:]
            cur = cost[i0 - 1, :] - u[i0] - v[1:]
            better = free & (cur < minv[1:])
            if better.any():
                idx = np.flatnonzero(better) + 1
                minv[idx] = cur[idx - 1]
                way[idx] = j0
            cand = np.where(free, minv[1:], INF)
            j1 = int(np.argmin(cand)) + 1
            delta = cand[j1 - 1]
            # update potentials
            used_idx = np.flatnonzero(used)
            u[p[used_idx]] += delta
            v[used_idx] -= delta
            unused_idx = np.flatnonzero(~used)
            minv[unused_idx] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        # augment along the alternating path
        while True:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
            if j0 == 0:
                break

    rows = p[1:] - 1
    cols = np.arange(m)
    mask = rows >= 0
    ri, ci = rows[mask], cols[mask]
    if transposed:
        ri, ci = ci, ri
    order = np.argsort(ri)
    return ri[order], ci[order]


def max_weight_assignment_total(weights: np.ndarray) -> float:
    """Total weight of the maximum-weight assignment (all weights ≥ 0)."""
    if weights.size == 0:
        return 0.0
    if weights.shape == (1, 1):
        return float(weights[0, 0])
    ri, ci = min_cost_assignment(-np.asarray(weights, dtype=float))
    return float(weights[ri, ci].sum())


def _solve_edge_list(eid_g, eid_s, sims) -> float:
    """Component-decomposed max-weight assignment over an edge list
    (the reference's `_disjoint_max_assignment` behavior,
    coref_metrics.py:392-440, scipy-free)."""
    uf = UnionFind()
    for g, s in zip(eid_g, eid_s):
        uf.union(("g", g), ("s", s))
    by_comp: dict = {}
    for g, s, w in zip(eid_g, eid_s, sims):
        by_comp.setdefault(uf.find(("g", g)), []).append((g, s, w))
    total = 0.0
    for edges in by_comp.values():
        if len(edges) == 1:
            total += float(edges[0][2])
            continue
        gids: dict = {}
        sids: dict = {}
        for g, s, _ in edges:
            gids.setdefault(g, len(gids))
            sids.setdefault(s, len(sids))
        X = np.zeros((len(gids), len(sids)))
        for g, s, w in edges:
            X[gids[g], sids[s]] = w
        total += max_weight_assignment_total(X)
    return total


def solve_assignments(head: list, edges: DataFrame,
                      group: list[str]) -> dict:
    """Max-weight 1:1 assignment total per ``group`` value tuple.

    ``head`` holds the first ``DRIVER_SOLVE_MAX_EDGES + 1`` rows of
    ``edges`` (group..., eid_g, eid_s, sim).  When it is not over the
    cap it IS the whole problem and is solved on the driver; otherwise
    the distributed path runs over ``edges``.  The cap is the only
    switch: an error in either path surfaces as it is."""
    if len(head) <= DRIVER_SOLVE_MAX_EDGES:
        by_group = defaultdict(list)
        for r in head:
            by_group[tuple(r[c] for c in group)].append(r)
        return {g: _solve_edge_list([r["eid_g"] for r in rows],
                                    [r["eid_s"] for r in rows],
                                    [r["sim"] for r in rows])
                for g, rows in by_group.items()}
    # big problem: persist the full edge set (it feeds CC + stats +
    # trivial-split + solve), compute the tiny per-group totals, then
    # free the cache before returning
    edges = edges.persist()
    try:
        rows = _assignment_totals_distributed(edges, group).collect()
    finally:
        edges.unpersist()
    return {tuple(r[c] for c in group): r["num"] for r in rows}


def with_assignment_totals(scores: DataFrame, edges: DataFrame,
                           group: list[str]) -> DataFrame:
    """``scores`` (group..., p_num, p_den, r_num, r_den) with the CEAF
    numerators solved from ``edges`` added, per ``group`` value.

    Eager: ONE action collects up to the driver-solve cap + 1 edges,
    which decides the path AND delivers the edges of the common small
    problem.  The totals are added to the 0.0 numerators (exact) by
    a union and a per-group sum, which treats a NULL group value as
    an ordinary group."""
    edges = edges.select(*group, "eid_g", "eid_s", "sim")
    totals = solve_assignments(
        edges.limit(DRIVER_SOLVE_MAX_EDGES + 1).collect(), edges, group)
    if not totals:
        return scores
    types = dict(scores.dtypes)
    found = scores.sparkSession.createDataFrame(
        [(*g, t, t) for g, t in totals.items()],
        ", ".join([f"`{c}` {types[c]}" for c in group]
                  + ["p_num double", "r_num double"]))
    aligned = [df.select(*group, *[
        F.col(c) if c in df.columns else F.lit(0.0).alias(c)
        for c in SCORES]) for df in (scores, found)]
    return _grouped(reduce(DataFrame.union, aligned), group,
                    [F.sum(c).alias(c) for c in SCORES])


def _assignment_totals_distributed(sim: DataFrame,
                                   gcols: list[str]) -> DataFrame:
    # null-tolerant vertex ids: None eid is a legitimate cluster id in
    # the reference (build_clusters keys by ann.eid which may be None)
    nz = lambda c: F.coalesce(  # noqa: E731
        F.col(c).cast("string"), F.lit("\x00None"))
    gkey = (F.concat_ws("\x01", *[nz(c) for c in gcols])
            if gcols else F.lit(""))
    sim = sim.withColumn(
        "_vg", F.concat(gkey, F.lit("\x02g\x02"), nz("eid_g"))
    ).withColumn(
        "_vs", F.concat(gkey, F.lit("\x02s\x02"), nz("eid_s"))
    )
    comps = connected_components(sim.select("_vg", "_vs"),
                                 src="_vg", dst="_vs")
    sim = sim.join(
        comps.withColumnRenamed("vertex", "_vg")
             .withColumnRenamed("component", "comp"),
        "_vg",
    )

    # components never span groups (group key is baked into vertex
    # ids), so all intra-component joins/groupBys key on comp alone
    stats = sim.groupBy("comp").agg(
        F.countDistinct("eid_g").alias("n_g"),
        F.countDistinct("eid_s").alias("n_s"),
    )
    sim = sim.join(
        stats.select(
            "comp",
            ((F.col("n_g") == 1) | (F.col("n_s") == 1)).alias("trivial")),
        "comp")

    # trivial components: one gold (or one pred) cluster — a star; the
    # optimal 1:1 assignment takes the single best edge
    gfirst = [F.first(c).alias(c) for c in gcols]
    triv = sim.where("trivial").groupBy("comp").agg(
        F.max("sim").alias("total"), *gfirst)

    rest = sim.where(~F.col("trivial"))

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import warnings

        import numpy as np

        from neleval_spark.measures.clustering import (
            max_weight_assignment_total)

        out = []
        for comp, grp in pdf.groupby("comp", sort=False):
            if len(grp) > MAX_COMPONENT_EDGES:
                warnings.warn(
                    f"CEAF component with {len(grp)} edges exceeds "
                    f"guard ({MAX_COMPONENT_EDGES}); contributing 0 "
                    "(reference analogue: 900s timeout -> zeros)")
                first = grp.iloc[0]
                out.append({**{c: first[c] for c in gcols},
                            "comp": comp, "total": 0.0})
                continue
            gids = {v: i for i, v in enumerate(pd.unique(grp["eid_g"]))}
            sids = {v: i for i, v in enumerate(pd.unique(grp["eid_s"]))}
            X = np.zeros((len(gids), len(sids)))
            X[
                grp["eid_g"].map(gids).to_numpy(),
                grp["eid_s"].map(sids).to_numpy(),
            ] = grp["sim"].to_numpy()
            first = grp.iloc[0]
            out.append(
                {**{c: first[c] for c in gcols}, "comp": comp,
                 "total": max_weight_assignment_total(X)}
            )
        return pd.DataFrame(out,
                            columns=[*gcols, "comp", "total"])

    types = dict(sim.dtypes)
    schema_cols = ", ".join(
        [f"`{c}` {types[c]}" for c in gcols]
        + ["comp string", "total double"])
    solved = rest.groupBy("comp").applyInPandas(solve, schema=schema_cols)

    per_comp = triv.select(*gcols, "comp", "total").union(
        solved.select(*gcols, "comp", "total"))
    return _grouped(per_comp, gcols, [F.sum("total").alias("num")])


def _measure_fn(agg: str):
    def fn(gold: DataFrame, pred: DataFrame, key: list[str],
           gcols: list[str]) -> DataFrame:
        """(gcols..., p_num, p_den, r_num, r_den) of one measure."""
        members = tag_sides(*[df.select(*gcols, F.lit(0).alias("_m"),
                                        *key, "eid")
                              for df in (pred, gold)])
        scores, edges = clustering_plan(members, key, gcols,
                                        [(0, agg, 0)])
        scores = scores.drop("_m")
        if edges is not None:
            scores = with_assignment_totals(scores, edges.drop("_m"),
                                            gcols)
        return scores

    fn.__name__ = fn.__qualname__ = agg
    return fn


muc = _measure_fn("muc")
b_cubed = _measure_fn("b_cubed")
pairwise = _measure_fn("pairwise")
pairwise_negative = _measure_fn("pairwise_negative")
mention_ceaf = _measure_fn("mention_ceaf")
entity_ceaf = _measure_fn("entity_ceaf")

CLUSTERING_FNS = {fn.__name__: fn for fn in (
    muc, b_cubed, pairwise, pairwise_negative, mention_ceaf, entity_ceaf)}
