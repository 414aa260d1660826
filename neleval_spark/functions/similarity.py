"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force baseline: query×candidate cross join,
  JVM-side dot products via ``zip_with``/``aggregate`` (no Python).
  Exact; O(Q·N) — fine for small Q, calibration, and recall tests.
* ``ann_lsh_topk`` — the scale path: random-hyperplane LSH. Each
  vector gets ``n_tables`` bucket signatures of ``n_planes`` sign
  bits (deterministic hyperplanes derived from (table, plane, dim)
  indices — no state to ship); candidates are generated by an
  equi-join on (table, signature) — never a cross product — then
  re-ranked exactly within the candidate set. Recall tunes with
  n_tables/n_planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _as_double(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) \
        else col.cast("array<double>")


def cosine_topk(queries: DataFrame, candidates: DataFrame, k: int,
                id_q: str = "qid", id_c: str = "cid",
                vec_q: str = "qv", vec_c: str = "cv",
                max_pairs: int | None = 100_000_000) -> DataFrame:
    """Exact top-k by cosine per query (brute force).

    This is the EXACT baseline — a deliberate cross join, O(Q·N)
    pairs — for ground truth, recall calibration, and small query
    sets.  Because it is also the API a naive caller reaches for
    first, it refuses to run when ``|queries| × |candidates|``
    exceeds ``max_pairs`` (two count jobs, metadata-cheap on file
    sources) and points at the scale paths instead.  Pass
    ``max_pairs=None`` to skip the guard (and the counts) when the
    cross product is intended, e.g. inside a recall harness."""
    if max_pairs is not None:
        nq, nc = queries.count(), candidates.count()
        if nq * nc > max_pairs:
            raise ValueError(
                f"cosine_topk is a cross join: {nq} queries x {nc} "
                f"candidates = {nq * nc:,} pairs > max_pairs="
                f"{max_pairs:,}. Use ann_lsh_topk (LSH buckets) or "
                "ivf_topk (coarse quantizer cells) for search at "
                "scale, or pass max_pairs=None if the exact cross "
                "product is intended.")
    # norms are staged per ROW below the join (N+Q interpreted
    # folds), not recomputed per PAIR (N*Q folds) — see PLANS.md
    # "cosine family: norms staged below the join"; bitwise-identical
    # cos (same expressions, same multiplication order)
    pairs = (queries.withColumn("_qn", _norm(F.col(vec_q)))
             .crossJoin(candidates.withColumn("_cn",
                                              _norm(F.col(vec_c))))
             .where(F.col(id_q) != F.col(id_c)))
    cos = _dot(F.col(vec_q), F.col(vec_c)) / (
        F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy(id_q).orderBy(
        F.col("cos").desc(), F.col(id_c).asc())
    return (
        pairs.select(id_q, id_c, F.round(cos, 6).alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def _hyperplane_weight(table: int, plane: int, j: Column) -> Column:
    """Deterministic pseudo-random weight in [-1, 1) from indices —
    the same hyperplanes on every executor with zero shipped state."""
    mixed = (
        (j + F.lit(table * 1009 + plane * 9176) + F.lit(1))
        * F.lit(2654435761)
    ) % F.lit(1 << 32)
    return mixed / F.lit(float(1 << 31)) - 1.0


def lsh_signatures(df: DataFrame, id_col: str, vec_col: str,
                   n_tables: int = 4, n_planes: int = 8) -> DataFrame:
    """(id, table, sig) — one signature row per hash table."""
    vec = _as_double(F.col(vec_col))
    out = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            proj = F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(vec, lambda _, i:
                                _hyperplane_weight(t, p, i)),
                    lambda x, w: x * w,
                ),
                F.lit(0.0), lambda acc, x: acc + x,
            )
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        out.append(
            df.select(
                F.col(id_col).alias("id"),
                F.lit(t).alias("table"),
                F.concat(*bits).alias("sig"),
            )
        )
    sigs = out[0]
    for o in out[1:]:
        sigs = sigs.union(o)
    return sigs


def ann_lsh_topk(queries: DataFrame, candidates: DataFrame, k: int,
                 id_q: str = "qid", id_c: str = "cid",
                 vec_q: str = "qv", vec_c: str = "cv",
                 n_tables: int = 4, n_planes: int = 8) -> DataFrame:
    """Approximate top-k: LSH bucket join → exact re-rank in-bucket."""
    qs = lsh_signatures(queries, id_q, vec_q, n_tables, n_planes) \
        .withColumnRenamed("id", id_q)
    cs = lsh_signatures(candidates, id_c, vec_c, n_tables, n_planes) \
        .withColumnRenamed("id", id_c)
    cand_pairs = (
        qs.join(cs, ["table", "sig"])
        .select(id_q, id_c)
        .where(F.col(id_q) != F.col(id_c))
        .distinct()
    )
    # per-row norm staging below the joins (PLANS.md "cosine family")
    joined = (
        cand_pairs.join(queries.select(id_q, vec_q).withColumn(
            "_qn", _norm(F.col(vec_q))), id_q)
        .join(candidates.select(id_c, vec_c).withColumn(
            "_cn", _norm(F.col(vec_c))), id_c)
    )
    cos = _dot(F.col(vec_q), F.col(vec_c)) / (
        F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy(id_q).orderBy(
        F.col("cos").desc(), F.col(id_c).asc())
    return (
        joined.select(id_q, id_c, F.round(cos, 6).alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             id_q: str = "qid", id_c: str = "cid",
             vec_q: str = "qv", vec_c: str = "cv",
             n_cells: int = 16, n_probe: int = 3,
             seed: int = 42,
             train_fraction: float | None = None,
             centroids: list | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path
    next to ``ann_lsh_topk``, trading a small trained state for much
    better-balanced buckets on clustered data.

    Coarse quantizer: k-means over the candidate vectors
    (``pyspark.ml``, seeded — deterministic for a given input).  Each
    candidate is assigned to its nearest centroid cell (broadcast
    centroid list, one narrow pass); each query probes its
    ``n_probe`` nearest cells and re-ranks exactly within them by
    cosine.  The candidate join is an equi-join on cell id — never a
    cross product — and cells are size-bounded by the quantizer's
    balance, so the re-rank fan-in per query is ~n_probe·N/n_cells.

    The quantizer trains on a SAMPLE by default: centroids need
    ~100-1000 points per cell, not the corpus, so with
    ``train_fraction=None`` the training set is capped at
    ``200 * n_cells`` rows (one metadata-cheap count, then a seeded
    Bernoulli sample) and the k-means iterations never aggregate the
    full embedding table.  Pass an explicit fraction (e.g. 1e-6 at
    10^12 rows, skipping the count job) or ``train_fraction=1.0`` to
    train on everything.  The assignment pass is a broadcast map — no
    shuffle of the embedding table at all; the only exchange is the
    per-query top-k window over re-ranked pairs.

    ``centroids=`` skips training entirely and quantizes against the
    given coarse codebook (list of float lists) — the production
    shape when the quantizer is trained once offline and reused
    across crawl generations, and the oracle-gating shape: with a
    fixed codebook every step (argmin assignment, n_probe cell
    ranking, in-cell re-rank) is deterministic column arithmetic that
    the ``ivf_topk_fixed`` DuckDB oracle replays exactly."""
    if centroids is not None:
        centers = [[float(x) for x in c] for c in centroids]
        n_cells = len(centers)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if train_fraction is None:
            cap = 200 * n_cells
            n = candidates.count()
            # oversample 2× so the Bernoulli draw lands comfortably
            # above ~cap rows (and above n_cells) despite sampling
            # variance
            train_fraction = min(1.0, 2.0 * cap / n) if n > cap \
                else 1.0
        train = candidates
        if train_fraction < 1.0:
            train = candidates.sample(False, train_fraction,
                                      seed=seed)
        cand_vec = train.select(
            F.col(id_c), _as_double(vec_c).alias("_v")
        ).withColumn("_features", array_to_vector("_v"))
        km = KMeans(k=n_cells, seed=seed, featuresCol="_features",
                    predictionCol="_cell")
        model = km.fit(cand_vec)
        centers = [[float(x) for x in c]
                   for c in model.clusterCenters()]

    # broadcast centroids as a literal array; nearest-cell assignment
    # is a pure column expression (argmin over squared distance)
    centers_lit = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in centers
    ])

    def dist2(vec, c):
        return F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    def cell_rank(vec):
        """array of cell ids ordered by distance (nearest first)."""
        scored = F.transform(
            centers_lit,
            lambda c, i: F.struct(dist2(vec, c).alias("d"),
                                  i.alias("cell")))
        return F.transform(F.array_sort(scored), lambda s: s["cell"])

    def nearest_cell(vec):
        """argmin cell without sorting all n_cells (candidates are the
        big side; queries use the full ranking for n_probe)."""
        scored = F.transform(
            centers_lit,
            lambda c, i: F.struct(dist2(vec, c).alias("d"),
                                  i.alias("cell")))
        return F.array_min(scored)["cell"]

    assigned = candidates.select(
        F.col(id_c), _as_double(vec_c).alias(vec_c)
    ).withColumn("_cell", nearest_cell(F.col(vec_c)))

    probes = queries.select(
        F.col(id_q), _as_double(vec_q).alias(vec_q)
    ).withColumn(
        "_cell",
        F.explode(F.slice(cell_rank(F.col(vec_q)), 1, n_probe)))

    # per-row norm staging below the cell join (PLANS.md "cosine
    # family"); probes stage before the n_probe explode
    joined = (probes.withColumn("_qn", _norm(F.col(vec_q)))
              .join(assigned.withColumn("_cn", _norm(F.col(vec_c))),
                    "_cell")
              .where(F.col(id_q) != F.col(id_c)))
    cos = _dot(F.col(vec_q), F.col(vec_c)) / (
        F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy(id_q).orderBy(
        F.col("cos").desc(), F.col(id_c).asc())
    return (
        joined.select(id_q, id_c, F.round(cos, 6).alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def semantic_dedup(df: DataFrame, id_col: str = "id",
                   vec_col: str = "vec", threshold: float = 0.95,
                   centroids: list | None = None, n_cells: int = 16,
                   seed: int = 42,
                   train_fraction: float | None = None,
                   max_cell_pairs: int | None = 100_000_000
                   ) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): bound the comparison scope with k-means cells,
    then compare exactly WITHIN each cell and flag near-duplicates by
    cosine threshold.

    Policy (deterministic, relational): a document is a duplicate iff
    some LOWER-ID document in the SAME cell has
    ``round(cos, 6) >= threshold`` — the greedy lowest-id-survivor
    rule.  Chains over-drop slightly (b dups a, c dups b ⇒ both b and
    c dropped even if cos(a,c) < τ); for transitive ε-ball clusters
    feed the flagged pairs to ``graph.connected_components`` instead
    (the ``dedup_cluster`` shape).  Cross-cell near-dups are missed by
    construction — that is SemDeDup's accepted recall trade for never
    forming a cross product.

    Scale shape: cell assignment is a broadcast-codebook argmin (one
    narrow pass, no shuffle of the embedding table); the pair join is
    an equi-join on cell id, O(Σ s_c²) pairs bounded by quantizer
    balance, ~N²/n_cells for balanced cells.  Like ``cosine_topk``
    this refuses to run when the within-cell pair count exceeds
    ``max_cell_pairs`` (one aggregate job over cell sizes) — raise
    ``n_cells`` (the paper uses ~0.1·√N cells at web scale) or pass
    ``max_cell_pairs=None``.

    Returns one row per input id:
    ``(id, cell, is_dup, dup_of, n_dups, dup_cos)`` with
    ``dup_of`` = smallest flagging lower id, ``dup_cos`` its cosine
    (NULL / 0 for survivors).  With ``centroids=`` fixed (the
    production shape — quantizer trained once offline) every step is
    deterministic column arithmetic; the ``semantic_dedup`` DuckDB
    oracle in ``__spark_entry__`` replays it exactly.
    """
    if centroids is not None:
        centers = [[float(x) for x in c] for c in centroids]
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if train_fraction is None:
            cap = 200 * n_cells
            n = df.count()
            train_fraction = min(1.0, 2.0 * cap / n) if n > cap \
                else 1.0
        train = df
        if train_fraction < 1.0:
            train = df.sample(False, train_fraction, seed=seed)
        feats = train.select(
            _as_double(vec_col).alias("_v")
        ).withColumn("_features", array_to_vector("_v"))
        km = KMeans(k=n_cells, seed=seed, featuresCol="_features",
                    predictionCol="_cell")
        centers = [[float(x) for x in c]
                   for c in km.fit(feats).clusterCenters()]

    centers_lit = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in centers
    ])

    def dist2(vec, c):
        return F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    def nearest_cell(vec):
        scored = F.transform(
            centers_lit,
            lambda c, i: F.struct(dist2(vec, c).alias("d"),
                                  i.alias("cell")))
        return F.array_min(scored)["cell"]

    assigned = df.select(
        F.col(id_col), _as_double(vec_col).alias("_v")
    ).withColumn("cell", nearest_cell(F.col("_v")))

    if max_cell_pairs is not None:
        n_pairs = assigned.groupBy("cell").count().agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).first()[0] or 0
        if n_pairs > max_cell_pairs:
            raise ValueError(
                f"semantic_dedup: {int(n_pairs):,} within-cell pairs"
                f" > max_cell_pairs={max_cell_pairs:,}. Raise n_cells"
                " (SemDeDup uses ~0.1*sqrt(N) cells at scale) or pass"
                " max_cell_pairs=None if the fan-in is intended.")

    # per-row norm staging below the self-join (PLANS.md "cosine
    # family"): one fold per row, not three per within-cell pair
    staged = assigned.withColumn("_nrm", _norm(F.col("_v")))
    a = staged.select(F.col("cell"), F.col(id_col).alias("_ida"),
                      F.col("_v").alias("_va"),
                      F.col("_nrm").alias("_na"))
    b = staged.select(F.col("cell"), F.col(id_col).alias("_idb"),
                      F.col("_v").alias("_vb"),
                      F.col("_nrm").alias("_nb"))
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb"))
        / (F.col("_na") * F.col("_nb")), 6)
    flagged = (
        a.join(b, "cell")
        .where(F.col("_ida") < F.col("_idb"))
        .select("cell", "_ida", "_idb", cos.alias("_cos"))
        .where(F.col("_cos") >= threshold)
        .groupBy(F.col("_idb").alias(id_col))
        .agg(F.min("_ida").alias("dup_of"),
             F.count(F.lit(1)).alias("n_dups"),
             F.min_by("_cos", "_ida").alias("dup_cos"))
    )
    return assigned.drop("_v").join(flagged, id_col, "left").select(
        F.col(id_col), F.col("cell"),
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of", "n_dups", "dup_cos")


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): compress each vector to n_sub small
# codes (one per disjoint subspace), search by asymmetric distance
# (ADC) — query stays exact, candidates are represented by their
# per-subspace centroids.  The scale win is MEMORY: an 8-code
# representation of a 64-dim float vector is 8 bytes vs 256, so the
# re-rank scan inside an IVF cell touches ~30× fewer bytes and the
# whole code table fits where the raw embedding table cannot.
# ---------------------------------------------------------------------------


def pq_codebooks(n_sub: int = 8, k_sub: int = 16,
                 sub_dim: int = 8) -> list:
    """Deterministic pseudo-random PQ codebooks in [-1, 1) — the
    same integer hash as the fixed IVF codebook in
    ``__spark_entry__._ivf_fixed_centroids``, seeded per
    (subspace, code).  Production trains these with per-subspace
    k-means once offline; a fixed codebook is the oracle-gating and
    cross-generation-reuse shape, exactly like ``ivf_topk``'s
    ``centroids=``."""
    def w(t: int, i: int) -> float:
        return ((((i + t * 1009 + 1) * 2654435761) % (1 << 32))
                / float(1 << 31) - 1.0)

    return [[[w(s * k_sub + j, i) for i in range(sub_dim)]
             for j in range(k_sub)] for s in range(n_sub)]


def _books_lit(codebooks: list):
    return F.array(*[
        F.array(*[F.array(*[F.lit(float(x)) for x in c])
                  for c in sub])
        for sub in codebooks])


def _sub_dist2(vec_slice, centroid):
    return F.aggregate(
        F.zip_with(vec_slice, centroid,
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(df: DataFrame, id_col: str = "cid",
              vec_col: str = "cv",
              codebooks: list | None = None) -> DataFrame:
    """``(id, codes array<int>)`` — per subspace, the argmin centroid
    index (ordered-fold squared distance, struct (d, j) tie-break —
    the ivf_topk assignment rule per subspace).  Pure in-row column
    arithmetic over a broadcast codebook literal; no shuffle."""
    codebooks = codebooks or pq_codebooks()
    n_sub = len(codebooks)
    sub_dim = len(codebooks[0][0])
    books = _books_lit(codebooks)
    v = _as_double(vec_col)

    def code_for(s):
        sub = F.slice(v, s * sub_dim + 1, sub_dim)
        scored = F.transform(
            F.element_at(books, s + F.lit(1)),
            lambda c, j: F.struct(_sub_dist2(sub, c).alias("d"),
                                  j.alias("j")))
        return F.array_min(scored)["j"]

    codes = F.transform(F.sequence(F.lit(0), F.lit(n_sub - 1)),
                        code_for)
    return df.select(F.col(id_col), codes.alias("codes"))


def ivfpq_topk(queries: DataFrame, candidates: DataFrame, k: int,
               id_q: str = "qid", id_c: str = "cid",
               vec_q: str = "qv", vec_c: str = "cv",
               centroids: list | None = None,
               codebooks: list | None = None,
               n_cells: int = 8, n_probe: int = 3,
               seed: int = 42) -> DataFrame:
    """IVF-PQ approximate top-k by L2 (the web-scale ANN standard:
    coarse cells bound the scan, PQ codes shrink it).  Candidates
    are assigned to IVF cells AND reduced to their PQ codes — the
    raw candidate vector is dropped before the join, which is the
    point: the per-cell scan table carries (cid, cell, codes) only.
    Queries probe ``n_probe`` nearest cells and rank candidates by
    asymmetric distance Σ_s ‖q_s − c_s[code_s]‖² (query side exact,
    candidate side quantized).  With fixed ``centroids``/
    ``codebooks`` every step is deterministic column arithmetic —
    the ``ivfpq_topk`` DuckDB oracle replays assignment, encoding
    and ADC ranking exactly.  Without them, coarse centroids train
    like ``ivf_topk`` (seeded sample k-means) and codebooks default
    to the fixed pseudo-random set.

    Returns ``(qid, cid, adist, rk)`` — ``adist`` is the quantized
    distance (rounded 6dp), NOT the exact distance; callers needing
    exact order re-rank the top-k' ⊃ top-k against raw vectors (the
    standard refine step)."""
    codebooks = codebooks or pq_codebooks()
    n_sub = len(codebooks)
    sub_dim = len(codebooks[0][0])
    if centroids is None:
        raise ValueError(
            "ivfpq_topk requires fixed coarse centroids for now — "
            "train once with ivf_topk's k-means path or pass the "
            "production codebook (the cross-generation shape).")
    centers = [[float(x) for x in c] for c in centroids]
    centers_lit = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in centers])

    def dist2(vec, c):
        return F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    def cell_rank(vec):
        scored = F.transform(
            centers_lit,
            lambda c, i: F.struct(dist2(vec, c).alias("d"),
                                  i.alias("cell")))
        return F.transform(F.array_sort(scored), lambda s: s["cell"])

    def nearest_cell(vec):
        scored = F.transform(
            centers_lit,
            lambda c, i: F.struct(dist2(vec, c).alias("d"),
                                  i.alias("cell")))
        return F.array_min(scored)["cell"]

    cand = candidates.select(F.col(id_c),
                             _as_double(vec_c).alias("_v"))
    cand = cand.withColumn("_cell", nearest_cell(F.col("_v")))
    coded = pq_encode(cand.select(id_c, F.col("_v").alias(vec_c),
                                  "_cell"),
                      id_col=id_c, vec_col=vec_c,
                      codebooks=codebooks) \
        .join(cand.select(id_c, "_cell"), id_c)

    probes = queries.select(
        F.col(id_q), _as_double(vec_q).alias("_q")
    ).withColumn(
        "_cell",
        F.explode(F.slice(cell_rank(F.col("_q")), 1, n_probe)))

    books = _books_lit(codebooks)
    joined = probes.join(coded, "_cell").where(
        F.col(id_q) != F.col(id_c))
    adist = F.aggregate(
        F.sequence(F.lit(0), F.lit(n_sub - 1)), F.lit(0.0),
        lambda acc, s: acc + _sub_dist2(
            F.slice(F.col("_q"), s * sub_dim + 1, sub_dim),
            F.element_at(F.element_at(books, s + F.lit(1)),
                         F.get(F.col("codes"), s) + F.lit(1))))
    w = Window.partitionBy(id_q).orderBy(
        F.col("adist").asc(), F.col(id_c).asc())
    return (
        joined.select(id_q, id_c, F.round(adist, 6).alias("adist"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def train_pq_codebooks(df: DataFrame, vec_col: str = "cv",
                       n_sub: int = 8, k_sub: int = 16,
                       seed: int = 42,
                       train_fraction: float | None = None) -> list:
    """Train PQ codebooks: one k-means per subspace over the
    candidates' subvectors (Jégou et al. §III) — 8 small fits on a
    SAMPLE (the ivf_topk training-cap rule: ~200·k_sub rows needed,
    not the corpus), so training never aggregates the embedding
    table.  Returns the nested list ``ivfpq_topk``/``pq_encode``
    consume; train once offline, reuse across generations — at query
    time the codebook is a broadcast literal, exactly like the fixed
    pseudo-random default (which exists for oracle-gating, not
    quality: random codebooks quantize poorly)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if train_fraction is None:
        cap = 200 * k_sub
        n = df.count()
        train_fraction = min(1.0, 2.0 * cap / n) if n > cap else 1.0
    train = df
    if train_fraction < 1.0:
        train = df.sample(False, train_fraction, seed=seed)
    v = _as_double(vec_col)
    dim_row = train.select(F.size(v).alias("d")).first()
    sub_dim = dim_row["d"] // n_sub
    base = train.select(v.alias("_v"))
    books = []
    for s in range(n_sub):
        sub = base.select(
            F.slice("_v", s * sub_dim + 1, sub_dim).alias("_sv")
        ).withColumn("_features", array_to_vector("_sv"))
        km = KMeans(k=k_sub, seed=seed + s, featuresCol="_features",
                    predictionCol="_c")
        books.append([[float(x) for x in c]
                      for c in km.fit(sub).clusterCenters()])
    return books
