"""Clustering measures (MUC, B-cubed, pairwise, CEAF) as distributed
DataFrame aggregations.

All reference clustering metrics return an additive 4-tuple
``(p_num, p_den, r_num, r_den)`` (neleval/annotation.py:503-521); every
one of them decomposes over the *cluster intersection-size table*

    I(eid_g, eid_s) = |gold cluster ∩ pred cluster|

which relationally is just ``gold ⋈ pred on mention-key → groupBy
(eid_g, eid_s) → count`` — the distributed analogue of the reference's
scipy CSR sparse-matrix multiply (neleval/coref_metrics.py:310-338,
379-382). Derivations:

* MUC (neleval/coref_metrics.py:640-666): per Vilain et al. (1995),
  ``num = Σ I − |rows(I)|`` on both sides,
  ``p_den = Σ (|pred C| − 1)``, ``r_den = Σ (|gold C| − 1)``.
* B-cubed (neleval/coref_metrics.py:503-523):
  ``p_num = Σ I²/|pred C|``, ``r_num = Σ I²/|gold C|``,
  dens = mention counts.
* pairwise (neleval/coref_metrics.py:605-611):
  ``num = Σ C(I,2)``, dens = ``Σ C(|C|,2)``.
* CEAF (neleval/coref_metrics.py:443-492): optimal 1:1 cluster
  alignment — intersection table → connected components (distributed)
  → per-component Hungarian solve in an Arrow-batched applyInPandas
  (scipy.optimize.linear_sum_assignment), mirroring the reference's
  component decomposition (:392-440) with its 1×1-component shortcut
  (:434-438). ``mention_ceaf`` uses overlap similarity (φ3),
  ``entity_ceaf`` dice (φ4).

Every function takes gold/pred as DataFrames of ``(gcols..., eid,
key...)`` membership pairs — duplicates tolerated; each side is
deduplicated internally by ``_dedup_pairs`` (one repartition on the
packed key struct, in-partition dedup, exchange-free intersection
join) — and returns a DataFrame ``(gcols..., p_num, p_den, r_num,
r_den)`` — additive per group, so micro/macro/significance reuse the
same plans.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import connected_components
from ._join import ns_join


def _grouped(df: DataFrame, gcols: list[str], exprs: list) -> DataFrame:
    if gcols:
        return df.groupBy(*gcols).agg(*exprs)
    return df.agg(*exprs)


def _combine(parts: list[DataFrame], gcols: list[str]) -> DataFrame:
    """Per-group partial tables → one row per group.  Each part holds
    ``gcols`` and some value columns; the parts are aligned (0.0 where
    a part lacks a column, or where a global aggregate of no rows
    gives NULL), unioned and summed per group.  Adding 0.0 is exact,
    and the group-by treats a NULL group value as an ordinary group,
    where an outer join on ``gcols`` would split it."""
    cols = list(dict.fromkeys(
        c for p in parts for c in p.columns if c not in gcols))
    aligned = [
        p.select(*gcols, *[
            F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c)
            if c in p.columns else F.lit(0.0).alias(c) for c in cols])
        for p in parts]
    return _grouped(reduce(DataFrame.union, aligned), gcols,
                    [F.sum(c).alias(c) for c in cols])


def _dedup_pairs(side: DataFrame, key: list[str],
                 gcols: list[str]) -> DataFrame:
    """Membership rows (gcols..., key..., eid), duplicates allowed →
    distinct pairs as (_k, gcols..., eid), where ``_k`` packs
    (gcols + key) into ONE struct column.

    The shape is what makes the clustering measures cheap (r6):

    * one hash repartition on ``_k`` is the ONLY full-data exchange —
      the dedup aggregate's required clustering (_k, gcols…, eid) is
      satisfied by it (subset-key distribution), so dedup runs
      in-partition with no second exchange;
    * the intersection join then keys on the single ``_k`` column and
      both sides are already co-partitioned by it — no join exchange,
      and struct equality is null-safe per FIELD (probed: struct(NULL)
      = struct(NULL) is TRUE), so the old per-column eqNullSafe join —
      whose (coalesce, isnull) key rewrite forced two extra full
      exchanges and 10-expression sorts — is not needed.

    The former shape (per-side dropDuplicates + eqNullSafe join) cost
    4 full-data exchanges; this costs 2 (plans/r06/b_cubed_*.txt)."""
    kcols = list(dict.fromkeys(list(gcols) + list(key)))
    packed = side.select(
        F.struct(*kcols).alias("_k"), *gcols, F.col("eid"))
    return packed.repartition(F.col("_k")).dropDuplicates()


def _intersections_dp(gdp: DataFrame, sdp: DataFrame,
                      gcols: list[str]) -> DataFrame:
    """Intersection sizes from two ``_dedup_pairs`` frames — an equi
    join on ``_k`` alone (gcols are packed inside it), reusing the
    frames' partitioning."""
    g = gdp.withColumnRenamed("eid", "eid_g")
    s = sdp.withColumnRenamed("eid", "eid_s")
    if gcols:
        s = s.drop(*gcols)
    return (
        g.join(s, "_k")
        .groupBy(*(gcols + ["eid_g", "eid_s"]))
        .agg(F.count(F.lit(1)).alias("i"))
    )


def _sizes_dp(dp: DataFrame, gcols: list[str]) -> DataFrame:
    """cluster_sizes over a ``_dedup_pairs`` frame."""
    return dp.groupBy(*(gcols + ["eid"])).agg(
        F.count(F.lit(1)).alias("n"))


def muc(gold: DataFrame, pred: DataFrame, key: list[str],
        gcols: list[str]) -> DataFrame:
    gdp = _dedup_pairs(gold, key, gcols)
    sdp = _dedup_pairs(pred, key, gcols)
    I = _intersections_dp(gdp, sdp, gcols)
    num = _grouped(
        I, gcols, [(F.sum("i") - F.count(F.lit(1))).alias("num")])
    p_den = _grouped(_sizes_dp(sdp, gcols), gcols,
                     [F.sum(F.col("n") - 1).alias("p_den")])
    r_den = _grouped(_sizes_dp(gdp, gcols), gcols,
                     [F.sum(F.col("n") - 1).alias("r_den")])
    return _combine([p_den, r_den, num], gcols).select(
        *gcols, F.col("num").alias("p_num"), "p_den",
        F.col("num").alias("r_num"), "r_den")


def b_cubed(gold: DataFrame, pred: DataFrame, key: list[str],
            gcols: list[str]) -> DataFrame:
    gdp = _dedup_pairs(gold, key, gcols)
    sdp = _dedup_pairs(pred, key, gcols)
    I = _intersections_dp(gdp, sdp, gcols)
    ns = _sizes_dp(sdp, gcols).withColumnRenamed("eid", "eid_s") \
        .withColumnRenamed("n", "ns")
    ng = _sizes_dp(gdp, gcols).withColumnRenamed("eid", "eid_g") \
        .withColumnRenamed("n", "ng")
    Ij = ns_join(ns_join(I, ns, gcols + ["eid_s"]), ng,
                 gcols + ["eid_g"])
    nums = _grouped(
        Ij, gcols,
        [
            F.sum(F.col("i") * F.col("i") / F.col("ns")).alias("p_num"),
            F.sum(F.col("i") * F.col("i") / F.col("ng")).alias("r_num"),
        ],
    )
    p_den = _grouped(ns, gcols, [F.sum("ns").alias("p_den")])
    r_den = _grouped(ng, gcols, [F.sum("ng").alias("r_den")])
    return _combine([p_den, r_den, nums], gcols).select(
        *gcols, "p_num", "p_den", "r_num", "r_den")


def pairwise(gold: DataFrame, pred: DataFrame, key: list[str],
             gcols: list[str]) -> DataFrame:
    gdp = _dedup_pairs(gold, key, gcols)
    sdp = _dedup_pairs(pred, key, gcols)
    I = _intersections_dp(gdp, sdp, gcols)
    tri = lambda c: (F.col(c) * (F.col(c) - 1) / 2)  # noqa: E731
    num = _grouped(I.withColumn("t", tri("i")), gcols,
                   [F.sum("t").alias("num")])
    p_den = _grouped(_sizes_dp(sdp, gcols).withColumn("t", tri("n")),
                     gcols, [F.sum("t").alias("p_den")])
    r_den = _grouped(_sizes_dp(gdp, gcols).withColumn("t", tri("n")),
                     gcols, [F.sum("t").alias("r_den")])
    return _combine([p_den, r_den, num], gcols).select(
        *gcols, F.col("num").alias("p_num"), "p_den",
        F.col("num").alias("r_num"), "r_den")


def pairwise_negative(gold: DataFrame, pred: DataFrame, key: list[str],
                      gcols: list[str]) -> DataFrame:
    """Agreement over NON-coreferent mention pairs (BLANC's negative
    half; reference coref_metrics.py:574-602).

    Relational form from the same intersection table:

        A  = Σ_I C(i,2)                 positive agreements
        PG = Σ_g C(Σ_s i, 2)            common-mention pairs co-gold
        PS = Σ_s C(Σ_g i, 2)            common-mention pairs co-sys
        M  = Σ_I i                      common mention count
        p_num = r_num = C(M,2) − PG − PS + A
        p_den = C(|sys mentions|,2) − Σ_s C(n_s,2)
        r_den = C(|gold mentions|,2) − Σ_g C(n_g,2)

    (the C(M,2) − A − disagreements form of the reference, with
    disagreements = (PG − A) + (PS − A).)
    """
    gdp = _dedup_pairs(gold, key, gcols)
    sdp = _dedup_pairs(pred, key, gcols)
    I = _intersections_dp(gdp, sdp, gcols)
    tri = lambda c: (c * (c - 1) / 2)  # noqa: E731

    cg = I.groupBy(*(gcols + ["eid_g"])).agg(F.sum("i").alias("c"))
    cs = I.groupBy(*(gcols + ["eid_s"])).agg(F.sum("i").alias("c"))
    parts = [
        _grouped(I, gcols, [F.sum(tri(F.col("i"))).alias("A"),
                            F.sum("i").alias("M")]),
        _grouped(cg, gcols, [F.sum(tri(F.col("c"))).alias("PG")]),
        _grouped(cs, gcols, [F.sum(tri(F.col("c"))).alias("PS")]),
    ]

    def side_den(dp, name):
        sizes = _sizes_dp(dp, gcols)
        return _grouped(
            sizes, gcols,
            [(tri(F.sum("n")) - F.sum(tri(F.col("n")))).alias(name)])

    out = _combine([side_den(sdp, "p_den"), side_den(gdp, "r_den"),
                    *parts], gcols)
    num = tri(F.col("M")) - F.col("PG") - F.col("PS") + F.col("A")
    return out.select(*gcols, num.alias("p_num"), "p_den",
                      num.alias("r_num"), "r_den")


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


def _solve_edge_list(eid_g, eid_s, sims) -> float:
    """Component-decomposed max-weight assignment over an edge list
    (the reference's `_disjoint_max_assignment` behavior,
    coref_metrics.py:392-440, scipy-free)."""
    import numpy as np

    from ..functions.assignment import max_weight_assignment_total
    from ..functions.unionfind import UnionFind

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


def _solve_components_pandas(pdf: "pd.DataFrame",
                             gcols: list[str]) -> "pd.DataFrame":
    """Per-group assignment totals on the driver (fast path)."""
    out = []
    gb = pdf.groupby(gcols, dropna=False, sort=False) if gcols \
        else [((), pdf)]
    for gvals, grp in gb:
        if gcols and not isinstance(gvals, tuple):
            gvals = (gvals,)
        total = _solve_edge_list(
            grp["eid_g"].tolist(), grp["eid_s"].tolist(),
            grp["sim"].tolist())
        # a NULL group value comes back from dropna=False as NaN
        out.append({**{c: None if pd.isna(v) else v
                       for c, v in zip(gcols, gvals)}, "num": total})
    return pd.DataFrame(out, columns=[*gcols, "num"])


def _assignment_totals(sim: DataFrame, gcols: list[str]) -> DataFrame:
    """Max-weight 1:1 assignment total per group.

    ``sim``: (gcols..., eid_g, eid_s, sim). Decomposed by connected
    components of the nonzero bipartite graph, then solved per
    component with scipy inside applyInPandas. Components of a single
    edge (the overwhelmingly common case) are summed directly without
    entering Python — the reference's 1×1 shortcut, distributed.

    Small problems (≤ DRIVER_SOLVE_MAX_EDGES similarity edges) skip the
    iterative distributed CC and solve on the driver.
    """
    spark = sim.sparkSession
    types = dict(sim.dtypes)
    schema = ", ".join(
        [f"`{c}` {types[c]}" for c in gcols] + ["num double"])
    # ONE action decides the path AND delivers the edges: a limited
    # toPandas collects up to the driver-solve cap + 1 rows.  If the
    # cap is not hit, those rows ARE the whole problem — no persist,
    # no separate count job, no second execution of the intersection
    # pipeline (r6: the old persist+count+toPandas shape ran three
    # driver round-trips for the common small case).
    try:
        head = sim.limit(DRIVER_SOLVE_MAX_EDGES + 1).toPandas()
    except Exception:
        head = None
    if head is not None and len(head) <= DRIVER_SOLVE_MAX_EDGES:
        res = _solve_components_pandas(head, gcols)
        if res.empty:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(res, schema=schema)
    # big problem: persist the full edge set (it feeds CC + stats +
    # trivial-split + solve), compute the tiny per-group totals, then
    # free the cache before returning
    sim = sim.persist()
    try:
        res = _assignment_totals_distributed(sim, gcols).toPandas()
    finally:
        sim.unpersist()
    if res.empty:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(res, schema=schema)


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

        from neleval_spark.functions.assignment import (
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


def ceaf(gold: DataFrame, pred: DataFrame, key: list[str],
         gcols: list[str], similarity: str = "overlap") -> DataFrame:
    """CEAF φ3 (similarity='overlap') / φ4 (similarity='dice')."""
    gdp = _dedup_pairs(gold, key, gcols)
    sdp = _dedup_pairs(pred, key, gcols)
    I = _intersections_dp(gdp, sdp, gcols)
    ns = _sizes_dp(sdp, gcols).withColumnRenamed("eid", "eid_s") \
        .withColumnRenamed("n", "ns")
    ng = _sizes_dp(gdp, gcols).withColumnRenamed("eid", "eid_g") \
        .withColumnRenamed("n", "ng")

    if similarity == "overlap":
        sim = I.withColumn("sim", F.col("i").cast("double"))
        p_den = _grouped(ns, gcols, [F.sum("ns").alias("p_den")])
        r_den = _grouped(ng, gcols, [F.sum("ng").alias("r_den")])
    elif similarity == "dice":
        sim = ns_join(ns_join(I, ns, gcols + ["eid_s"]), ng,
                      gcols + ["eid_g"]).withColumn(
            "sim", 2 * F.col("i") / (F.col("ng") + F.col("ns")))
        # dice(C, C) = 1 → denominators are cluster counts
        # (reference vectorized path: coref_metrics.py:465-466)
        p_den = _grouped(ns, gcols, [F.count(F.lit(1)).alias("p_den")])
        r_den = _grouped(ng, gcols, [F.count(F.lit(1)).alias("r_den")])
    else:
        raise ValueError(f"unknown similarity {similarity!r}")

    num = _assignment_totals(
        sim.select(*gcols, "eid_g", "eid_s", "sim"), gcols)
    return _combine([p_den, r_den, num], gcols).select(
        *gcols, F.col("num").alias("p_num"), "p_den",
        F.col("num").alias("r_num"), "r_den")


def mention_ceaf(gold, pred, key, gcols):
    return ceaf(gold, pred, key, gcols, similarity="overlap")


def entity_ceaf(gold, pred, key, gcols):
    return ceaf(gold, pred, key, gcols, similarity="dice")


CLUSTERING_FNS = {
    "muc": muc,
    "b_cubed": b_cubed,
    "pairwise": pairwise,
    "pairwise_negative": pairwise_negative,
    "mention_ceaf": mention_ceaf,
    "entity_ceaf": entity_ceaf,
}
