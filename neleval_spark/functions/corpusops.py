"""Corpus-curation operators: cross-document line deduplication and
per-domain document caps — the two RefinedWeb/CCNet-style cleanup
steps the dedup family didn't cover yet.

``dedup_corpus_lines`` removes boilerplate LINES that repeat across
documents (nav bars, cookie banners, footers): a line appearing in
``min_docs`` or more distinct documents is deleted from every
document.  ``cap_per_domain`` bounds any one domain's contribution to
the corpus with a deterministic pseudo-random top-``cap`` per domain.

No reference counterpart (the reference is an evaluation engine);
both are public-knowledge web-corpus practice (line-level dedup and
per-host caps as described in the CCNet and RefinedWeb papers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..stats.significance import token_hash
from .textops import MINHASH_PRIME, SHINGLE_MULT


def dedup_corpus_lines(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       line_sep: str = "\n",
                       join_sep: str | None = None,
                       min_docs: int = 2,
                       broadcast_common: bool = True) -> DataFrame:
    """Remove lines shared by ``min_docs``+ distinct documents.

    Returns one row per input document:
    ``(doc_id, n_lines, n_kept, clean_text)`` — ``clean_text`` is the
    document with its common lines deleted (surviving lines keep
    their original order), empty when every line was boilerplate.

    ``line_sep`` splits as a Java regex; surviving lines re-join with
    the literal ``join_sep`` (defaults to ``line_sep``, correct for
    plain separators like the default newline).

    Scale shape (10^12 docs): lines explode narrowly (doc_id, pos,
    8-byte ``xxhash64`` line key — the line TEXT is carried only to
    rebuild, never grouped on); the distinct (line_key, doc_id) pair
    aggregate spreads a Zipf-hot line over its document space, so no
    hot key; the per-line document count gets map-side partial
    aggregation; the resulting common-line set is boilerplate-only —
    tiny relative to the corpus — and is BROADCAST back onto the line
    table (``broadcast_common=False`` opts out if the corpus is
    degenerate enough that it isn't small); the rebuild is one
    groupBy(doc_id) whose groups are bounded by document size.  Line
    identity is the 64-bit hash: two distinct lines colliding would
    be co-deleted — the standard accepted risk at this hash width.
    """
    doc_id = F.col(id_col).alias("doc_id")
    lines = docs.select(
        doc_id,
        F.posexplode(F.split(F.col(text_col), line_sep))
        .alias("pos", "line"),
    ).withColumn("line_key", F.xxhash64("line"))

    counts = (lines.select("line_key", "doc_id").distinct()
              .groupBy("line_key")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    common = counts.where(F.col("n_docs") >= min_docs) \
                   .select("line_key")
    if broadcast_common:
        common = F.broadcast(common)

    kept = lines.join(common, "line_key", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            join_sep if join_sep is not None else line_sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"))
    return (docs.select(doc_id)
            .join(totals, "doc_id", "left")
            .join(rebuilt, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            ))


def dedup_substrings(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     k: int = 20, min_docs: int = 2,
                     broadcast_dup: bool | None = None) -> DataFrame:
    """Remove every k-token window that occurs in ``min_docs``+
    distinct documents — the ExactSubstr granularity of the dedup
    family (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499), approximated with
    rolling window hashes instead of a corpus suffix array.

    Tokens are whitespace runs kept VERBATIM (case-sensitive — this
    is *exact* substring dedup, unlike the normalized near-dup
    family); ``clean_text`` re-joins surviving tokens with single
    spaces, so whitespace runs normalize but token content is
    byte-preserved.  A position covered by ANY duplicated window is
    deleted from EVERY document carrying it — the same
    boilerplate-removal interpretation as
    :func:`dedup_corpus_lines` (keep-one-copy semantics belong to
    document-level dedup, e.g. ``dedup_cluster``).  Documents
    shorter than ``k`` tokens emit no windows and are never
    touched.  Window identity is the 31/131 polynomial hash chain
    shared with the w-shingle dedup path (textops.shingle_ids), so a
    DuckDB oracle reproduces the exact cleaned corpus; two distinct
    windows colliding mod 2^31-1 would be co-deleted — the standard
    accepted risk, same as the 64-bit line-hash in line dedup.

    Returns one row per input document:
    ``(doc_id, n_tokens, n_removed, clean_text)``.

    Scale shape (10^12 docs): window hashes are computed IN-ROW from
    the per-token hash array (O(n·k) per doc, JVM-side — the
    higher-order functions evaluate interpreted over the staged
    ``_tids`` column)
    and explode to narrow (doc_id, start, whash) rows — the token
    text never leaves the document row; the per-window distinct-doc
    count spreads any Zipf-hot window over its document space before
    the map-side-combined count; the duplicated-window set joins
    back WITHOUT a broadcast hint by default (``broadcast_dup=None``)
    — it is usually boilerplate-tiny, but on a heavily-duplicated
    crawl (a fully-duplicated slice emits ~one window per token) an
    unconditional broadcast would overflow the driver, so the
    runtime decision is left to AQE, which broadcasts iff the
    aggregated set actually fits ``autoBroadcastJoinThreshold`` and
    falls back to a shuffle join otherwise.  ``broadcast_dup=True``
    forces the hint (callers who KNOW the set is tiny and want to
    skip AQE's stat collection), ``False`` pins the shuffle join.
    Covered-range
    merging is one groupBy(doc_id) over DUPLICATED windows only
    (groups bounded by document length), then an in-row sorted-fold
    merge to disjoint intervals — a fully-duplicated document merges
    to ONE interval, so the fold accumulator stays small — and the
    rebuild filter is O(n_tokens × n_intervals) in-row work.
    """
    doc_id = F.col(id_col).alias("doc_id")
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != "")
    tids = F.transform(toks, token_hash)
    base = docs.select(doc_id, toks.alias("_toks"),
                       tids.alias("_tids"))

    def whash_at(i):
        acc = F.get(F.col("_tids"), i)
        for j in range(1, k):
            acc = (acc * F.lit(SHINGLE_MULT)
                   + F.get(F.col("_tids"), i + F.lit(j))) \
                % F.lit(MINHASH_PRIME)
        return acc

    windows = base.where(F.size(F.col("_tids")) >= k).select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.size(F.col("_tids")) - k),
            lambda i: F.struct(i.alias("start"),
                               whash_at(i).alias("whash")),
        )).alias("w"),
    ).select("doc_id", "w.start", "w.whash")

    dup = (windows.select("whash", "doc_id").distinct()
           .groupBy("whash")
           .agg(F.count(F.lit(1)).alias("n_docs"))
           .where(F.col("n_docs") >= min_docs)
           .select("whash"))
    # None = adaptive: no hint, AQE broadcasts iff the set fits —
    # an unconditional hint would OOM on heavily-duplicated corpora
    if broadcast_dup is True:
        dup = F.broadcast(dup)

    empty_ivs = F.array().cast("array<struct<s:int,e:int>>")
    covered = (windows.join(dup, "whash")
               .groupBy("doc_id")
               .agg(F.array_sort(F.collect_list("start"))
                    .alias("_starts"))
               .select(
                   "doc_id",
                   F.aggregate(
                       "_starts", empty_ivs,
                       lambda acc, st: F.when(
                           (F.size(acc) > 0)
                           & (st <= F.element_at(acc, -1)["e"]),
                           F.concat(
                               F.slice(acc, 1, F.size(acc) - 1),
                               F.array(F.struct(
                                   F.element_at(acc, -1)["s"]
                                   .alias("s"),
                                   (st + F.lit(k)).alias("e")))),
                       ).otherwise(
                           F.concat(acc, F.array(F.struct(
                               st.alias("s"),
                               (st + F.lit(k)).alias("e"))))),
                   ).alias("_ivs")))

    joined = base.join(covered, "doc_id", "left").withColumn(
        "_ivs", F.coalesce("_ivs", empty_ivs))
    kept = F.filter(
        F.col("_toks"),
        lambda t, p: ~F.exists(
            F.col("_ivs"),
            lambda iv: (iv["s"] <= p) & (p < iv["e"])))
    return joined.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def budget_sample(docs: DataFrame, budgets: dict[str, int],
                  stratum_col: str = "lang",
                  key_col: str = "doc_id",
                  text_col: str = "text",
                  weight_col: str | None = None,
                  denom: int = 1_000_000,
                  salt: str = "#budget") -> DataFrame:
    """Token-budget mixture sampling: keep a hash-consistent subset of
    each stratum whose EXPECTED token total equals the stratum's
    budget — the static-mixture-weights step of a pretraining data
    recipe ("2e10 tokens of code, 5e9 of forum text, all of the
    books").

    Per stratum, rate = min(1, budget / total_tokens), realized as
    the integer threshold ``budget * denom div total`` over the same
    salted consistent hash :func:`~neleval_spark.functions.textops.
    hash_sample` uses — so the kept set is reproducible across runs,
    engines and partitionings, and changing ``salt`` draws an
    independent mixture.  A stratum whose budget exceeds its supply
    keeps everything; strata absent from ``budgets`` are dropped.
    The budget is met in expectation (hash sampling), not exactly —
    exact-to-the-token packing is :func:`~neleval_spark.functions.
    textops.pack_sequences`' job downstream.

    Scale shape: ONE tiny per-stratum aggregate (total tokens —
    map-side partials absorb any stratum skew) joined back BROADCAST;
    thresholds are derived in-plan (no driver collect); the filter
    itself is a narrow projection.  Integer arithmetic throughout
    (``budget * denom`` must stay under 2^63 — i.e. budgets up to
    ~9e12 tokens at the default denom), so a DuckDB oracle reproduces
    the kept set exactly.  Keeps ``sample_weight`` (the row's token
    count), ``sample_hash`` and ``threshold`` for audit."""
    with_w = docs.withColumn("sample_weight",
                             _token_weight(text_col, weight_col))
    totals = with_w.groupBy(stratum_col).agg(
        F.sum("sample_weight").alias("_tot"))

    bud = None
    for stratum, b in sorted(budgets.items()):
        cond = F.col(stratum_col) == stratum
        val = F.lit(int(b)).cast("long")
        bud = F.when(cond, val) if bud is None else bud.when(cond, val)
    bud = (F.lit(0).cast("long") if bud is None
           else bud.otherwise(F.lit(0).cast("long")))

    return (_keep_within_budget(with_w, totals.withColumn("_bud", bud),
                                "_bud", stratum_col, key_col, denom,
                                salt)
            .drop("_bud", "_tot"))


def _token_weight(text_col: str, weight_col: str | None) -> F.Column:
    """Row weight for the budget samplers: the explicit weight
    column, else the ``[a-z0-9]+`` token count of ``text_col``."""
    return (F.col(weight_col) if weight_col else
            F.size(F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != ""))).cast("long")


def _keep_within_budget(with_w: DataFrame, budgeted: DataFrame,
                        budget_col: str, stratum_col: str,
                        key_col: str, denom: int,
                        salt: str) -> DataFrame:
    """Shared tail of :func:`budget_sample` /
    :func:`temperature_sample`: broadcast-join the per-stratum frame
    (must carry ``_tot`` and ``budget_col``), derive the integer
    keep-threshold ``min(denom, budget * denom div total)``, and keep
    rows whose salted consistent hash lands under it.  ONE definition
    so a fix to the hash, the threshold arithmetic or the overflow
    bound cannot silently diverge between the two samplers."""
    h = F.pmod(token_hash(F.concat(F.col(key_col).cast("string"),
                                   F.lit(salt))),
               F.lit(denom))
    return (with_w.join(F.broadcast(budgeted), stratum_col)
            .withColumn(
                "threshold",
                F.least(F.lit(denom).cast("long"),
                        F.expr(f"{budget_col} * "
                               f"CAST({int(denom)} AS BIGINT) "
                               f"div greatest(_tot, 1)")))
            .withColumn("sample_hash", h)
            .where(F.col("sample_hash") < F.col("threshold")))


def upsample_to_budget(docs: DataFrame, budgets: dict[str, int],
                       stratum_col: str = "lang",
                       key_col: str = "doc_id",
                       text_col: str = "text",
                       weight_col: str | None = None,
                       denom: int = 1_000_000,
                       salt: str = "#epoch",
                       max_epochs: int = 1_000) -> DataFrame:
    """Epoch-weighted mixture materialization: REPEAT each stratum's
    documents so its expected token total equals the stratum budget —
    the over-sampling half of a pretraining recipe ("books for 3.2
    epochs, web for 0.7") that :func:`budget_sample` (keep-only)
    cannot express.  Emits one row per (document, ``copy_idx``).

    Per stratum, rate = budget/total as integer ppm.  Every document
    gets ``rate div denom`` guaranteed copies plus ONE extra copy iff
    its salted consistent hash lands under ``rate % denom`` — so the
    fractional epoch is hash-deterministic (reproducible across runs,
    engines and partitionings; ``rate < denom`` degrades to exactly
    :func:`budget_sample`-style thinning, with this salt).  Strata
    absent from ``budgets`` are dropped.

    Scale shape: the same ONE tiny per-stratum aggregate + broadcast
    join as :func:`budget_sample`; the repeat is a posexplode over a
    per-row ``sequence`` bounded by the epoch count — no shuffle of
    the repeated rows (they materialize exactly where the input
    partition lives).  A budget implying more than ``max_epochs``
    copies fails LOUDLY in-plan (``raise_error``): a mis-typed budget
    would otherwise silently explode the corpus.  Keeps
    ``sample_weight``, ``rate_ppm``, ``copy_idx`` for audit."""
    with_w = docs.withColumn("sample_weight",
                             _token_weight(text_col, weight_col))
    totals = with_w.groupBy(stratum_col).agg(
        F.sum("sample_weight").alias("_tot"))
    bud = None
    for stratum, b in sorted(budgets.items()):
        cond = F.col(stratum_col) == stratum
        val = F.lit(int(b)).cast("long")
        bud = F.when(cond, val) if bud is None else bud.when(cond, val)
    bud = (F.lit(0).cast("long") if bud is None
           else bud.otherwise(F.lit(0).cast("long")))
    budgeted = totals.withColumn("_bud", bud).withColumn(
        "rate_ppm",
        F.expr(f"_bud * CAST({int(denom)} AS BIGINT) "
               f"div greatest(_tot, 1)"))
    h = F.pmod(token_hash(F.concat(F.col(key_col).cast("string"),
                                   F.lit(salt))),
               F.lit(denom))
    n_full = F.expr(f"rate_ppm div {int(denom)}")
    n_full = (F.when(n_full <= max_epochs, n_full)
              .otherwise(F.raise_error(F.format_string(
                  "upsample_to_budget: budget implies %d full copies "
                  f"per doc (> max_epochs={int(max_epochs)}) for "
                  f"stratum '%s'", n_full, F.col(stratum_col)))))
    frac = F.col("rate_ppm") % denom
    return (with_w.join(F.broadcast(budgeted), stratum_col)
            .withColumn("_hash", h)
            .withColumn("_n_full", n_full)
            .select("*", F.posexplode(
                F.sequence(F.lit(0).cast("long"), F.col("_n_full")))
                .alias("copy_idx", "_copy"))
            .where((F.col("copy_idx") < F.col("_n_full"))
                   | (F.col("_hash") < frac))
            .drop("_bud", "_tot", "_hash", "_n_full", "_copy"))


def temperature_sample(docs: DataFrame, total_budget: int,
                       alpha: float = 0.5,
                       stratum_col: str = "lang",
                       key_col: str = "doc_id",
                       text_col: str = "text",
                       weight_col: str | None = None,
                       denom: int = 1_000_000,
                       salt: str = "#temp") -> DataFrame:
    """Temperature-based stratum rebalancing: derive each stratum's
    token budget from its own size, ``budget_l ∝ n_l**alpha``, then
    hash-sample to that budget — the multilingual-corpus step of
    XLM / mC4-style recipes (sampling languages at ``p ∝ n**alpha``
    upweights low-resource strata without fixing budgets by hand).
    :func:`budget_sample` is the static-budgets primitive this
    composes; the only new machinery is the in-plan budget
    derivation.

    ``alpha`` is restricted to the EXACT lattice {0.0, 0.5, 1.0}:
    1.0 keeps every stratum's share (uniform downsampling), 0.5 is
    XLM's square-root rebalance, 0.0 gives equal budgets per stratum.
    These are the settings an integer/correctly-rounded-IEEE pipeline
    can reproduce bit-exactly on any engine — ``n**0.5`` is
    ``floor(sqrt(n))`` (IEEE sqrt is correctly rounded, exact for
    n < 2^52), whereas arbitrary ``pow(n, 0.3)`` differs in the last
    ulp across libm implementations and would flip floor boundaries.

    Shares are integer ppm: ``share_l = w_l * denom div Σw``, then
    ``budget_l = total_budget * share_l div denom`` — so
    ``total_budget`` must stay under 2^63/denom (~9e12 tokens at the
    default denom), the same bound :func:`budget_sample` documents.
    The kept set is the salted consistent hash under the per-stratum
    threshold, reproducible across runs, engines and partitionings.

    Scale shape: TWO tiny aggregates (per-stratum token totals, then
    their one-row weight sum — both map-side combined) joined back
    BROADCAST; no driver collect, no window; the filter is a narrow
    projection.  Keeps ``sample_weight``, ``sample_hash``,
    ``threshold`` and ``stratum_budget`` for audit."""
    if alpha not in (0.0, 0.5, 1.0):
        raise ValueError(
            "temperature_sample supports the exact lattice "
            "alpha in {0.0, 0.5, 1.0} (integer / correctly-rounded "
            f"IEEE arithmetic only); got {alpha!r}")
    with_w = docs.withColumn("sample_weight",
                             _token_weight(text_col, weight_col))
    totals = with_w.groupBy(stratum_col).agg(
        F.sum("sample_weight").alias("_tot"))
    if alpha == 0.0:
        wexpr = F.lit(1).cast("long")
    elif alpha == 0.5:
        wexpr = F.floor(F.sqrt(F.col("_tot"))).cast("long")
    else:
        wexpr = F.col("_tot")
    weights = totals.withColumn("_w", wexpr)
    wsum = weights.agg(F.sum("_w").alias("_wsum"))
    weights = (weights.crossJoin(F.broadcast(wsum))
               .withColumn("_share",
                           F.expr(f"_w * CAST({int(denom)} AS BIGINT) "
                                  "div greatest(_wsum, 1)"))
               .withColumn(
                   "stratum_budget",
                   F.expr(f"CAST({int(total_budget)} AS BIGINT) "
                          f"* _share div {int(denom)}")))
    return (_keep_within_budget(with_w, weights, "stratum_budget",
                                stratum_col, key_col, denom, salt)
            .drop("_w", "_wsum", "_share", "_tot"))


def split_by_cluster(docs: DataFrame, splits: dict[str, int],
                     cluster_col: str = "cluster",
                     denom: int = 1_000_000,
                     salt: str = "#split") -> DataFrame:
    """Leakage-safe train/valid/test assignment: hash the near-dup
    CLUSTER id, not the document id, so every member of a cluster
    lands in the SAME split and no eval document has a near-duplicate
    in train (the contamination channel document-level splitting
    leaves open; n-gram decontamination only catches the overlaps it
    can see).  Compose with the LSH→connected-components cluster
    assignment (``dedup_cluster``): singleton docs are their own
    cluster, so un-clustered corpora degrade to plain hash splitting.

    ``splits`` maps split name → ppm share and must sum to ``denom``
    (a full partition — silent drop of unassigned rows would be a
    silent cap).  Assignment is the salted consistent hash against
    cumulative interval bounds in SORTED split-name order, so the
    layout is deterministic and independent of dict ordering;
    changing ``salt`` redraws the assignment.

    Scale shape: a pure column expression — zero exchanges, zero
    aggregates, no collect; the cost is the upstream clustering.
    Keeps ``split_hash`` for audit."""
    if sum(splits.values()) != denom:
        raise ValueError(
            f"splits must sum to denom={denom} (a full partition); "
            f"got {sum(splits.values())}")
    h = F.pmod(token_hash(F.concat(F.col(cluster_col).cast("string"),
                                   F.lit(salt))),
               F.lit(denom))
    out = docs.withColumn("split_hash", h)
    expr = None
    cum = 0
    for name, share in sorted(splits.items()):
        cum += share
        cond = F.col("split_hash") < F.lit(cum)
        expr = (F.when(cond, name) if expr is None
                else expr.when(cond, name))
    # splits sum to denom, so every non-NULL hash lands in a branch;
    # the only way to fall through is a NULL cluster id (NULL hash).
    # Fail loudly per the no-silent-unassigned contract instead of
    # emitting split=NULL rows (which a partitioned write would bury
    # in a __HIVE_DEFAULT_PARTITION__ directory).
    return out.withColumn(
        "split",
        expr.otherwise(F.raise_error(F.lit(
            "split_by_cluster: NULL cluster id — coalesce cluster "
            "ids (e.g. to the doc id for singleton docs) before "
            "splitting"))))


def shuffle_shards(docs: DataFrame, n_shards: int,
                   id_col: str = "doc_id",
                   salt: str = "#shard",
                   n_sub: int = 64,
                   group_cols: list[str] | None = None) -> DataFrame:
    """Deterministic global shuffle + equal-size shard assignment —
    the last curation step before training: examples must reach the
    trainer in an order uncorrelated with crawl/source/time order,
    cut into same-size shards for data-parallel readers.

    Every row gets ``shuffle_idx`` (its position 0..N-1 in the salted
    hash-permutation of the WHOLE corpus), ``shard`` (=
    ``shuffle_idx % n_shards`` — round-robin over the permuted order,
    so shard sizes differ by AT MOST ONE ROW regardless of how ids
    are distributed; hashing ids directly into shards would leave
    binomial imbalance) and ``shard_pos`` (= ``shuffle_idx div
    n_shards``, the deterministic within-shard read order).
    Re-running on the same corpus reproduces the identical layout;
    changing ``salt`` redraws it.  With ``group_cols`` (e.g.
    ``["split"]`` after :func:`split_by_cluster`) the permutation and
    the round-robin run WITHIN each group, so every group gets its
    own exactly-balanced shard set.

    Scale shape: the permutation is
    :func:`~neleval_spark.functions.ranks.dense_index`'s two-phase
    rank — ``n_sub`` hash sub-buckets ranked independently, then a
    broadcast ``n_sub``-row offsets table — so no single task ever
    sorts the corpus; everything else is column expressions."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from .ranks import dense_index

    h = token_hash(F.concat(F.col(id_col).cast("string"),
                            F.lit(salt)))
    out = dense_index(docs, list(group_cols or []), h, n_sub=n_sub,
                      idx_col="shuffle_idx", size_col="_ss_n",
                      tiebreak=id_col)
    return (out
            .withColumn("shard",
                        (F.col("shuffle_idx") % n_shards).cast("long"))
            .withColumn("shard_pos",
                        F.expr(f"shuffle_idx div {int(n_shards)}")
                        .cast("long"))
            .drop("_ss_n"))


def write_shards(docs: DataFrame, out_dir: str, n_shards: int,
                 shard_col: str = "shard",
                 pos_col: str = "shard_pos",
                 group_cols: list[str] | None = None) -> None:
    """Write ``shuffle_shards`` output as one parquet file per
    ``[group=…/]shard=<k>/`` leaf, rows stored in ``shard_pos`` order
    so a trainer streaming the file reads the shuffled order
    directly.  ``group_cols`` (e.g. ``["split"]``) prepend partition
    levels — pass the same list given to :func:`shuffle_shards`.

    Repartitions on the shard column FIRST (PLANS.md merge probe:
    without it every upstream task opens a file per shard it touches
    — 2,752 files and 6.1× slower for one 5.5M-row generation);
    ``repartition(n_shards, shard)`` hashes like ``bucketBy`` → one
    task per shard, hence one file per (group, shard) leaf the task
    owns."""
    part_cols = list(group_cols or []) + [shard_col]
    (docs.repartition(n_shards, F.col(shard_col))
         .sortWithinPartitions(*part_cols, pos_col)
         .write.partitionBy(*part_cols).mode("overwrite")
         .parquet(out_dir))


def cap_per_domain(docs: DataFrame, cap: int,
                   domain_col: str = "source",
                   id_col: str = "doc_id",
                   salt: str = "#cap",
                   n_partial: int = 32) -> DataFrame:
    """Keep at most ``cap`` documents per domain, chosen
    deterministically (pseudo-random by the salted polynomial key
    hash — the same engine-agnostic hash :func:`hash_sample` uses, so
    the choice is reproducible across runs, engines and
    partitionings; change ``salt`` for an independent draw).

    Adds ``domain_rank`` (1-based hash-order rank within the domain)
    for audit.  Unlike :func:`hash_sample`, the kept set is NOT
    monotone under corpus growth: a new document with a smaller hash
    evicts the current rank-``cap`` one — inherent to any exact
    top-k.

    Scale shape: hot domains are exactly the ones being capped, so a
    single ``row_number`` window per domain would sort the full hot
    domain.  Two-phase instead: a first window over
    (domain, hash-bucket) keeps ``cap`` per bucket, so the final
    per-domain window ranks at most ``cap * n_partial`` rows
    regardless of domain size — the same partial-top-k shape as
    ``TakeOrderedAndProject``, expressed per group."""
    h = token_hash(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    bucket = F.pmod(h, F.lit(int(n_partial)))
    w1 = Window.partitionBy(domain_col, "_bucket").orderBy("_h", id_col)
    w2 = Window.partitionBy(domain_col).orderBy("_h", id_col)
    return (docs.withColumn("_h", h).withColumn("_bucket", bucket)
            .withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") <= cap)
            .drop("_rn", "_bucket")
            .withColumn("domain_rank", F.row_number().over(w2))
            .where(F.col("domain_rank") <= cap)
            .drop("_h"))


def snapshot_intervals(pages: DataFrame, key="url",
                       ts: str = "warc_ts",
                       value_col: str = "content_hash",
                       tiebreak: str | None = None,
                       open_end_ms: int = -1) -> DataFrame:
    """Validity intervals from a full crawl history (SCD-2 over
    snapshots; the N-generation generalization of the two-generation
    :func:`~neleval_spark.pipeline.incremental.crawl_diff`): collapse
    each ``key``'s consecutive run of an identical ``value_col`` into
    ONE row ``(key, value, valid_from_ms, valid_to_ms, n_snapshots)``
    — "this url served THIS content from t1 until t2".  Temporal-KG
    construction reads these as triple validity intervals; recrawl
    schedulers read run lengths as churn rates.  The open (current)
    run gets ``valid_to_ms = open_end_ms`` (a pinned sentinel, not
    NULL — the crawl_diff convention).

    Gaps-and-islands WITHOUT the groupBy: run STARTS are detected
    with ``lag`` (null-safe — a NULL value is a run like any other),
    non-start rows are dropped, and each start's ``valid_to`` /
    ``n_snapshots`` come from ``lead`` over the surviving rows.

    Scale shape: every window partitions by ``key``, so the plan is
    ONE exchange (hash on key) followed by per-key sorts — the
    filter between the two window stacks preserves the
    partitioning, so the second stack re-sorts but does NOT
    re-shuffle.  Per-key data is one url's recrawl history (tiny);
    there is no global sort and no driver state.  Timestamps are
    compared as epoch MILLISECONDS (engine-agnostic integers).
    ``tiebreak`` orders equal-timestamp snapshots deterministically
    (pass a fetch id); without it, ties order by ``value_col``.

    ``key`` may be a single column name or a list of names: a
    composite key SCD-2s each key tuple independently (the temporal-KG
    use in :func:`neleval_spark.pipeline.kg.fact_intervals`
    passes ``["subj", "pred"]``)."""
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col("_si_ms"),
             F.col(tiebreak) if tiebreak else F.col(value_col)]
    w = Window.partitionBy(*keys).orderBy(*order)
    wk = Window.partitionBy(*keys)
    d = (pages
         .withColumn("_si_ms",
                     F.unix_millis(F.col(ts).cast("timestamp")))
         .withColumn("_si_prev", F.lag(F.col(value_col)).over(w))
         .withColumn("_si_rn", F.row_number().over(w))
         .withColumn("_si_n", F.count(F.lit(1)).over(wk)))
    starts = d.where(
        (F.col("_si_rn") == 1)
        | ~F.col("_si_prev").eqNullSafe(F.col(value_col)))
    w2 = Window.partitionBy(*keys).orderBy("_si_rn")
    return (starts
            .withColumn("valid_from_ms", F.col("_si_ms"))
            .withColumn(
                "valid_to_ms",
                F.coalesce(F.lead("_si_ms").over(w2),
                           F.lit(int(open_end_ms)).cast("long")))
            .withColumn(
                "n_snapshots",
                (F.coalesce(F.lead("_si_rn").over(w2),
                            F.col("_si_n") + 1)
                 - F.col("_si_rn")).cast("long"))
            .select(*keys, F.col(value_col),
                    F.col("valid_from_ms").cast("long"),
                    "valid_to_ms", "n_snapshots"))


def chunk_text(docs: DataFrame, max_tokens: int = 128,
               overlap: int = 32, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token windows — the
    embedding/retrieval prep step (fixed-size chunks with overlap so
    no span is cut without context; the RAG-era complement of
    ``pack_sequences``, which concatenates rather than splits).

    Chunk starts step by ``max_tokens - overlap``; the final chunk is
    whatever remains (never empty, never duplicated: a doc with ≤
    max_tokens tokens yields exactly one chunk).  Tokens are
    whitespace runs kept verbatim, re-joined with single spaces —
    the dedup_substrings convention.

    Scale shape: pure in-row computation (token array staged once,
    chunk index sequence → per-chunk slice+join) followed by ONE
    narrow explode to (doc_id, chunk_id, n_tokens, chunk) rows — no
    shuffle at all; chunk ids are deterministic (doc order), so
    re-runs and engines agree row-for-row."""
    if overlap >= max_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < max_tokens "
            f"({max_tokens}) or chunking never advances")
    step = max_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"),
                    lambda t: t != "")
    staged = docs.select(
        F.col(id_col), toks.alias("_ct_toks"),
        F.size(toks).alias("_n"))
    # number of chunks: 1 + ceil(max(0, n - max_tokens) / step)
    n_chunks = (F.lit(1) +
                F.ceil((F.greatest(F.col("_n") - max_tokens,
                                   F.lit(0)).cast("double"))
                       / step).cast("int"))
    chunk = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.alias("chunk_id"),
            F.least(F.col("_n") - c * step,
                    F.lit(max_tokens)).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_ct_toks"), c * step + 1, max_tokens),
                " ").alias("chunk")))
    return (
        staged.where(F.col("_n") > 0)
        .select(id_col, F.explode(chunk).alias("_c"))
        .select(id_col, F.col("_c.chunk_id").alias("chunk_id"),
                F.col("_c.n_tokens").alias("n_tokens"),
                F.col("_c.chunk").alias("chunk"))
    )


def clean_lines(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                line_sep: str = "\n",
                join_sep: str | None = None,
                min_words: int = 5,
                min_lines: int = 3,
                terminal_punct: str = ".!?\"'",
                drop_line_tokens: tuple[str, ...] = ("javascript",),
                drop_doc_tokens: tuple[str, ...] = ("lorem ipsum", "{"),
                ) -> DataFrame:
    """C4-style heuristic line/document cleaning (Raffel et al. 2020,
    "Exploring the Limits of Transfer Learning", §2.2): keep only
    lines that end in a terminal punctuation mark, have at least
    ``min_words`` words, and mention none of ``drop_line_tokens``
    (case-insensitive substring, default the C4 "javascript" rule);
    flag the whole DOCUMENT for removal when fewer than ``min_lines``
    lines survive or the raw text contains any ``drop_doc_tokens``
    (defaults: the C4 "lorem ipsum" placeholder-page and "{"
    code-page rules).

    Returns one row per input document:
    ``(doc_id, n_lines, n_kept, keep_doc, clean_text)`` —
    ``clean_text`` is the surviving lines re-joined with ``join_sep``
    (defaults to ``line_sep``, correct for plain separators like the
    default newline; ``line_sep`` itself splits as a Java regex).
    The caller applies the verdict (``WHERE keep_doc`` + swap in
    ``clean_text``); keeping rejected rows visible makes the funnel
    auditable (no silent drops).

    Scale shape (10^12 docs): entirely IN-ROW — no explode, no
    shuffle, no cross-document state; the plan is a single project
    over the scan, so it composes with any downstream stage for
    free.  The per-line predicate runs inside higher-order
    ``filter``/``exists`` lambdas, which Spark evaluates interpreted
    per element (see PLANS.md "Higher-order functions are
    interpreted") — acceptable here because every expression in the
    lambda derives from the line element itself (nothing shared to
    stage out) and the work per line is a few string scans, the same
    order as the split that produced it.  Word counting ignores
    empty split fragments, so it is insensitive to engines'
    trailing-empty-string split conventions.

    No reference counterpart (the reference is an evaluation
    engine); the rules are public C4 practice.
    """
    doc_id = F.col(id_col).alias("doc_id")
    staged = docs.select(
        doc_id,
        F.col(text_col).alias("_text"),
        F.split(F.col(text_col), line_sep).alias("_lines"),
    )

    punct = list(terminal_punct)

    def _line_ok(l):
        words = F.size(F.filter(F.split(F.trim(l), r"\s+"),
                                lambda w: w != ""))
        ends = F.substring(F.rtrim(l), -1, 1).isin(punct)
        ok = (words >= min_words) & ends
        low = F.lower(l)
        for tok in drop_line_tokens:
            ok = ok & ~low.contains(tok.lower())
        return ok

    # stage the filtered array ONCE: three consumers reference it,
    # and interpreted higher-order filters are excluded from
    # subexpression elimination (CollapseProject keeps non-cheap
    # multi-referenced projections — the PLANS.md staging rule)
    staged = staged.select(
        "doc_id", "_text", "_lines",
        F.filter("_lines", _line_ok).alias("_kept"))
    keep_doc = F.size("_kept") >= min_lines
    low_text = F.lower(F.col("_text"))
    for tok in drop_doc_tokens:
        keep_doc = keep_doc & ~low_text.contains(tok.lower())

    return staged.select(
        "doc_id",
        F.size("_lines").alias("n_lines"),
        F.size("_kept").alias("n_kept"),
        keep_doc.alias("keep_doc"),
        F.array_join(
            "_kept", join_sep if join_sep is not None else line_sep
        ).alias("clean_text"),
    )


def contrastive_pairs(clusters: DataFrame, id_col: str = "doc_id",
                      cluster_col: str = "cluster",
                      n_sub: int = 64) -> DataFrame:
    """Positive pairs for contrastive embedding training from
    near-duplicate clusters (the SimCSE/retrieval-pretraining
    recipe: near-dups of one document are semantically-equivalent
    views of it): within every cluster of size n >= 2, pair each
    member with its RING successor in hash-permuted order — exactly
    n directed pairs per cluster, LINEAR in cluster size, never the
    O(n²) all-pairs blowup a boilerplate mega-cluster would cause.

    Returns ``(cluster, doc_a, doc_b, pair_idx)`` where doc_b is
    doc_a's ring successor and ``pair_idx`` = doc_a's position.  A
    2-cluster yields both directions of its single pair; singletons
    yield nothing.

    Scale shape: the within-cluster order comes from
    :func:`~neleval_spark.functions.ranks.dense_index` (two-phase —
    a 10^6-member boilerplate cluster never sorts in one task); the
    ring join is one equi-join on (cluster, successor index).
    Deterministic across partitionings/engines (shared polynomial
    hash)."""
    from .ranks import dense_index

    base = clusters.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).cast("string").alias("doc"))
    idx = dense_index(base, ["cluster"], "doc", n_sub=n_sub) \
        .where(F.col("group_size") >= 2)
    succ = idx.select(
        F.col("cluster").alias("_c"),
        F.col("doc").alias("doc_b"),
        F.col("idx").alias("_succ_idx"))
    return (idx.join(
        succ,
        (idx["cluster"] == succ["_c"])
        & (succ["_succ_idx"]
           == (idx["idx"] + 1) % idx["group_size"]))
        .select("cluster", F.col("doc").alias("doc_a"), "doc_b",
                F.col("idx").alias("pair_idx")))
