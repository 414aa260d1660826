"""Deterministic random-walk corpus generation over the KG edge list
(Perozzi et al. 2014, "DeepWalk: Online Learning of Social
Representations"): ``n_walks`` truncated walks of length ``walk_len``
from every source node, next hop drawn uniformly from the node's
out-edges.  The "randomness" is the engine-agnostic polynomial hash
of (node, walk_id, step), so the whole corpus is a pure function of
the edge list — deterministic across partitionings, re-runs and
engines (exact DuckDB oracle), the same stance as ``hash_sample``
and ``negative_samples``.

Scale shape (10^10 edges, hub nodes with 10^6+ out-edges; audited in
PLANS.md):

* Per-node edge indexing uses the TWO-PHASE rank: edges hash into
  ``n_sub`` sub-buckets per source, rank within (src, sub) — the
  window partition is degree/n_sub-bounded, so a 10^6-edge hub never
  sorts in one task — then per-(src, sub) counts roll up to offsets
  with a window over n_sub rows per source.  (The single-phase
  ``row_number() over (partition by src)`` is exactly the
  hot-bucket shape round 4 flagged in check_increment.)
* Each walk step is ONE equi-join of the walk frontier against the
  indexed edge list on (src, idx) — walk_len steps = walk_len
  shuffles, the Pregel shape.  Hot sources are hot on the EDGE side
  only through the single picked index value per (walker, step) —
  the join key (src, idx) spreads a hub's walkers over its whole
  index range rather than one row.
* Walks that reach a sink (no out-edges) stop early: truncated-walk
  semantics, row drops out of the frontier (documented, mirrored by
  the oracle).

No reference counterpart; public graph-embedding practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..stats.significance import token_hash

_SEP = "\x1f"


def indexed_edges(edges: DataFrame, n_sub: int = 64) -> DataFrame:
    """Dense per-source edge indices: ``(src, dst, idx, degree)``
    with idx in 0..degree-1, ordered by (edge-hash, dst) — a fixed
    pseudo-random permutation of each node's out-edges.  Two-phase:
    see module docstring."""
    from ..functions.ranks import dense_index

    h = token_hash(F.concat_ws(_SEP, "src", "dst"))
    return dense_index(edges.select("src", "dst"), ["src"], h,
                       n_sub=n_sub, idx_col="idx",
                       size_col="degree", tiebreak="dst") \
        .select("src", "dst", "idx", "degree")


def random_walks(edges: DataFrame, walk_len: int = 4,
                 n_walks: int = 2, n_sub: int = 64) -> DataFrame:
    """DeepWalk corpus: one row per (start node, walk id) —
    ``(node, walk_id, path array<string>, n_steps)`` where path[0]
    is the start node and ``n_steps = size(path) - 1 <= walk_len``
    (walks truncate early at sinks).

    The hop from ``cur`` at ``step`` for walk ``w`` starting at
    ``n`` is the edge with ``idx = hash(n‹US›cur‹US›w‹US›step) mod
    degree(cur)`` — uniform over the out-edges, deterministic
    everywhere; keying on the START node as well keeps walks that
    meet at the same node decorrelated (they would otherwise share
    their entire suffix).
    """
    if n_walks < 1:
        # ANSI sequence(0, -1) yields [0, -1], not [] — refuse
        raise ValueError(f"n_walks must be >= 1: {n_walks}")
    idx = indexed_edges(edges, n_sub=n_sub)

    starts = edges.select("src").distinct()
    walks = starts.select(
        F.col("src").alias("node"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1)))
        .alias("walk_id"))
    state = walks.select(
        "node", "walk_id",
        F.col("node").alias("_cur"),
        F.array(F.col("node")).alias("path"))

    for step in range(1, walk_len + 1):
        pick = token_hash(
            F.concat_ws(_SEP, "node", "_cur",
                        F.col("walk_id").cast("string"),
                        F.lit(str(step)))) % F.col("degree")
        hop = (state.join(idx, state["_cur"] == idx["src"], "left")
               .where(F.col("idx").isNull()  # keep sink walkers out
                      | (F.col("idx") == pick)))
        state = hop.select(
            "node", "walk_id",
            F.coalesce("dst", "_cur").alias("_cur"),
            F.when(F.col("dst").isNotNull(),
                   F.concat("path", F.array(F.col("dst"))))
            .otherwise(F.col("path")).alias("path"))

    return state.select(
        "node", "walk_id", "path",
        (F.size("path") - 1).alias("n_steps"))


def sample_neighbors(edges: DataFrame, fanout: int,
                     n_sub: int = 64) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling (Hamilton et
    al. 2017): keep at most ``fanout`` out-edges per node —
    ``(src, dst, idx, degree)`` with idx < fanout.

    Because :func:`indexed_edges` already assigns each node's edges
    a dense hash-permuted index, a uniform-without-replacement
    sample is just ``idx < fanout`` — no extra shuffle, no
    per-node sort beyond the two-phase rank, hub nodes cut to
    ``fanout`` rows exactly.  Layered k-hop sampling is ``k``
    self-composes of this against the frontier (each an equi-join on
    src), which is how GraphSAGE minibatch fan-out is built at
    scale.  Deterministic: the same (edge list, fanout, n_sub)
    always keeps the same neighbors, across partitionings and
    engines."""
    return indexed_edges(edges, n_sub=n_sub) \
        .where(F.col("idx") < fanout)


def node2vec_walks(edges: DataFrame, walk_len: int = 4,
                   n_walks: int = 2,
                   w_return: int = 1, w_near: int = 4,
                   w_far: int = 1,
                   n_sub: int = 64,
                   max_degree: int | None = None) -> DataFrame:
    """node2vec second-order biased walks (Grover & Leskovec 2016):
    like :func:`random_walks`, but from step 2 on the hop
    distribution over ``cur``'s out-edges is biased by the distance
    of the candidate from the PREVIOUS node — candidates equal to
    ``prev`` weigh ``w_return`` (the paper's 1/p), candidates
    adjacent FROM ``prev`` weigh ``w_near`` (the paper's 1), all
    others ``w_far`` (the paper's 1/q).  Weights are INTEGERS (the
    repo's cross-engine convention — express p=2, q=0.5 as
    (w_return, w_near, w_far) = (1, 2, 4)); the pick is
    ``hash(prev, cur, walk, step) mod total_weight`` landing in the
    candidate's cumulative-weight interval, so the corpus is exactly
    reproducible anywhere.

    ``max_degree`` caps each node's candidate set to its first
    ``max_degree`` hash-permuted out-edges (the
    :func:`sample_neighbors` cut) BEFORE weighting — the standard
    practical bound for hub nodes, since second-order walking is
    inherently frontier×degree work.

    Scale shape: step 1 is the DeepWalk hop (one equi-join on
    (src, idx)).  Each later step is (a) one equi-join expanding the
    frontier to its capped candidate edges, (b) one LEFT equi-join
    against the edge set on (prev, candidate) for the
    distance-1 test, and (c) one window pair (total + running sum)
    partitioned per WALKER — bounded by the capped degree, never
    corpus-sized.  Sinks keep their truncated path via the left
    join, as in :func:`random_walks`.

    Returns ``(node, walk_id, path array<string>, n_steps)``.
    """
    if n_walks < 1:
        # ANSI sequence(0, -1) yields [0, -1], not [] — refuse
        raise ValueError(f"n_walks must be >= 1: {n_walks}")
    idx = indexed_edges(edges, n_sub=n_sub)
    if max_degree is not None:
        idx = idx.where(F.col("idx") < max_degree) \
                 .withColumn("degree",
                             F.least("degree", F.lit(max_degree)))
    eset = edges.select(F.col("src").alias("_es"),
                        F.col("dst").alias("_ed")).distinct()

    starts = edges.select("src").distinct()
    state = starts.select(
        F.col("src").alias("node"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1)))
        .alias("walk_id"),
        F.lit(None).cast("string").alias("_prev"),
        F.col("src").alias("_cur"),
        F.array(F.col("src")).alias("path"))

    # step 1: uniform over the (capped) candidate set; the START
    # node keys the hash so co-located walks stay decorrelated
    pick1 = token_hash(
        F.concat_ws(_SEP, "node", "_cur",
                    F.col("walk_id").cast("string"),
                    F.lit("1"))) % F.col("degree")
    hop = (state.join(idx, state["_cur"] == idx["src"], "left")
           .where(F.col("idx").isNull() | (F.col("idx") == pick1)))
    state = hop.select(
        "node", "walk_id",
        F.when(F.col("dst").isNotNull(), F.col("_cur"))
        .otherwise(F.col("_prev")).alias("_prev"),
        F.coalesce("dst", "_cur").alias("_cur"),
        F.when(F.col("dst").isNotNull(),
               F.concat("path", F.array(F.col("dst"))))
        .otherwise(F.col("path")).alias("path"))

    wkey = ["node", "walk_id"]
    for step in range(2, walk_len + 1):
        cands = state.join(idx, state["_cur"] == idx["src"], "left")
        cands = cands.join(
            eset, (cands["_prev"] == eset["_es"])
            & (cands["dst"] == eset["_ed"]), "left")
        w = (F.when(F.col("dst").isNull(), F.lit(None))
             .when(F.col("dst") == F.col("_prev"), F.lit(w_return))
             .when(F.col("_ed").isNotNull(), F.lit(w_near))
             .otherwise(F.lit(w_far)).cast("long"))
        cands = cands.withColumn("_w", w)
        total = F.sum("_w").over(Window.partitionBy(*wkey))
        cum = F.sum("_w").over(
            Window.partitionBy(*wkey).orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, 0))
        r = token_hash(F.concat_ws(
            _SEP, "node", "_prev", "_cur",
            F.col("walk_id").cast("string"),
            F.lit(str(step)))) % total
        picked = (cands
                  .withColumn("_cum", cum).withColumn("_r", r)
                  .where(F.col("dst").isNull()
                         | ((F.col("_cum") - F.col("_w"))
                            <= F.col("_r"))
                         & (F.col("_r") < F.col("_cum"))))
        state = picked.select(
            "node", "walk_id",
            F.when(F.col("dst").isNotNull(), F.col("_cur"))
            .otherwise(F.col("_prev")).alias("_prev"),
            F.coalesce("dst", "_cur").alias("_cur"),
            F.when(F.col("dst").isNotNull(),
                   F.concat("path", F.array(F.col("dst"))))
            .otherwise(F.col("path")).alias("path"))

    return state.select(
        "node", "walk_id", "path",
        (F.size("path") - 1).alias("n_steps"))
