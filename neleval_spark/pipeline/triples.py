"""(subj, pred, obj) triple materialization with per-partition lineage
manifests.

Triples emitted from linked+canonicalized mentions:

* ``(eid, mentioned_in, url)`` — one per distinct (url, eid);
* ``(eid_a, cooccurs_with, eid_b)`` — per distinct within-sentence
  entity pair, ordered a < b.

Physical layout: parquet under ``triples/run_id=<id>/part_id=<n>/``
with ``part_id = pmod(xxhash64(url), n_buckets)`` (the Iceberg mapping
would be ``bucket(n, url)`` as the partition transform; this
environment has no Iceberg runtime, so the layout + manifest are
expressed directly).  Every write is one run, and its manifest
partition ``manifest/run_id=<id>/`` with one row per bucket

    (part_id, n_rows, checksum)

is written last as the run's commit record.  Readers see only
committed runs, so a crashed write is invisible and re-running it
replaces the run — the bucket function is a pure function of the row,
so the re-run re-derives exactly the same partitions.

The bucket count is derived from the input size (:func:`sink_buckets`:
about one 128 MB file per bucket, at most 64), so a small run writes
one file instead of 64 near-empty ones; callers may still pass an
explicit ``n_buckets``.

Shuffle: :func:`emit_triples` hashes the narrow mention projection by
``part_id`` once, and that exchange is also the write's: the
aggregates and the explode above it keep the partitioning, so the
write's own ``repartition("part_id")`` plans no second exchange.  A
frame built any other way (compaction, the markup union, snapshots,
streaming batches) is repartitioned by the write as before.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


MAX_BUCKETS = 64
BUCKET_BYTES = 128 * 1024 * 1024


def sink_buckets(df: DataFrame) -> int:
    """Sink bucket count for a run whose input plan is ``df``: about
    one ``BUCKET_BYTES`` parquet file per bucket, between 1 and
    ``MAX_BUCKETS``.

    The size is the optimizer's estimate for ``df`` — reading it runs
    no job, and for a parquet scan it is the size of the files.  Pass
    a plan of scans (the mentions as read, not a plan joined against
    a local-rows frame, whose unknown size saturates the estimate at
    ``MAX_BUCKETS``)."""
    # a Scala BigInt; str() covers py4j's int or JavaObject forms
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))
    return max(1, min(MAX_BUCKETS, -(-size // BUCKET_BYTES)))


def emit_triples(mentions: DataFrame,
                 n_buckets: int | None = None) -> DataFrame:
    """Mentions (url, sent_uid, eid) → triple rows with part_id
    ``pmod(xxhash64(url), n_buckets)``; ``n_buckets`` defaults to
    :func:`sink_buckets` of ``mentions``.

    Plan shape (this is the hot sink of the pipeline): ONE exchange,
    by ``part_id``, and ONE aggregation per granularity, no self-join —

      1. derive ``part_id`` on the narrow (url, sent_uid, eid)
         projection and hash it by part_id (the only exchange, and it
         ships just (part_id, url, sent_uid, eid));
      2. groupBy(part_id, url, sent_uid) → sorted distinct entity set
         per sentence, in-partition;
      3. in-row pair expansion over the sorted set (a < b falls out of
         the sort order) — pure column expressions, no shuffle;
      4. groupBy(part_id, url) → url-level dedup of pairs and entities
         in one row per url, in-partition;
      5. explode into triple rows — narrow, and still hash-partitioned
         by part_id, so :func:`write_triples` adds no exchange.

    The former shapes exchanged the mention table four times (distinct
    + sentence-key self-join + distinct), then twice (by url here, by
    part_id again in the write).  Trade-off: every row of a bucket is
    aggregated by one task, so the sink aggregation runs in at most
    ``n_buckets`` tasks, each over about ``BUCKET_BYTES`` (128 MB) of
    mention scan.  At 300 pages AQE already ran the url-keyed
    aggregation in 1 task; at 3,000 pages (one bucket) it ran in 3
    tasks for 6.2 executor-s, and the one bucket task that now
    aggregates and writes takes 2.4 s (crawl_build by hand,
    local[4]).  No skew beyond the bucket function's: part_id is a
    hash of url."""
    if n_buckets is None:
        n_buckets = sink_buckets(mentions)
    m = mentions.select("url", "sent_uid", "eid").where(
        F.col("eid").isNotNull())
    # the aggregates below lead with part_id, so this one exchange
    # satisfies both (subset-key distribution): complete in-partition
    # aggregates, no partial collect_list buffers through a second
    # exchange (r6 stage metrics: that shape shipped 126 MB of sentence
    # aggregates plus 182 MB of per-url partial list buffers; this
    # ships ~250 MB of raw narrow rows once)
    m = m.select(bucket_of(F.col("url"), n_buckets).alias("part_id"),
                 "url", "sent_uid", "eid").repartition("part_id")

    sent = m.groupBy("part_id", "url", "sent_uid").agg(
        F.array_sort(F.collect_set("eid")).alias("eids"))

    # within-sentence ordered pairs over the sorted set: eids[i] <
    # eids[j] for i < j by construction.  Pairs are encoded as
    # delimited strings, not structs: array_distinct hash-dedupes
    # atomic types but falls back to O(n²) pairwise comparison on
    # struct elements.
    pair_strs = F.flatten(F.transform(
        F.col("eids"),
        lambda x, i: F.transform(
            F.slice(F.col("eids"), i + F.lit(2),
                    F.size(F.col("eids"))),
            lambda y: F.concat_ws("\x01", x, y))))

    per_url = sent.groupBy("part_id", "url").agg(
        F.array_distinct(F.flatten(F.collect_list("eids")))
        .alias("ents"),
        F.array_distinct(F.flatten(F.collect_list(pair_strs)))
        .alias("pairs"),
    )

    # ONE consumer of per_url: explode the concatenation of both
    # encoded arrays (entities are bare eids, pairs are
    # "a\x01b") and decode by token count after the explode.  The
    # former two-branch union re-ran the sentence-aggregate merge and
    # the per-url partial aggregate once per branch and shipped a
    # second per-url exchange (r6 stage metrics: two ~2.5 s stages
    # reading the same 126 MB sentence exchange, writing 99+80 MB);
    # a single exploded branch does that work once.  Decoding is
    # plain codegen (split staged once, try_element_at — no
    # interpreted higher-order lambda per element).
    exploded = per_url.select(
        F.explode(F.concat("ents", "pairs")).alias("enc"), "url",
        "part_id")
    toks = exploded.select(
        F.split(F.col("enc"), "\x01").alias("t"), "url", "part_id")
    out = toks.select(
        F.try_element_at(F.col("t"), F.lit(1)).alias("subj"),
        F.when(F.size("t") == 1, F.lit("mentioned_in"))
        .otherwise(F.lit("cooccurs_with")).alias("pred"),
        F.coalesce(F.try_element_at(F.col("t"), F.lit(2)),
                   F.col("url")).alias("obj"),
        "url", "part_id",
    )
    return out


def bucket_of(url, n_buckets: int):
    """The sink's bucket function: ``pmod(xxhash64(url), n)``."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets))


_MANIFEST_SCHEMA = "part_id long, n_rows long, checksum long, run_id string"


def _manifest(triples: DataFrame) -> DataFrame:
    return triples.groupBy(F.col("part_id").cast("long").alias("part_id")) \
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.expr("bit_xor(xxhash64(subj, pred, obj))").alias("checksum"))


def _read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed runs' manifest rows; ``run_id`` comes from the
    partition path, typed by the explicit schema."""
    manifest_dir = os.path.join(out_dir, "manifest")
    if not _exists(spark, manifest_dir):
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    return spark.read.schema(_MANIFEST_SCHEMA).parquet(manifest_dir)


def write_triples(
    triples: DataFrame,
    out_dir: str,
    run_id: str = "run",
    overwrite_run: bool = True,
) -> DataFrame:
    """Write ``triples`` as run ``run_id`` of the sink and commit it.
    Returns the manifest of every committed run.

    Three steps, in this order:

    1. un-commit: delete ``manifest/run_id=<id>/``, so readers skip
       the run from here on;
    2. replace ``triples/run_id=<id>/`` with ``part_id=*`` partitions
       (the input plan is evaluated once, by this write);
    3. commit: write ``manifest/run_id=<id>/`` as one file, aggregated
       from the files step 2 wrote.

    A crash at any point leaves the run uncommitted and invisible to
    :func:`read_triples`, and re-running the same call converges to
    exactly one copy — re-running a crashed run is the whole resume
    story.  Writing the same ``run_id`` again replaces that run.
    ``overwrite_run`` is accepted for callers that spell out this
    behaviour; ``False`` is refused.

    The frame is repartitioned ON part_id before the partitionBy
    write: without it every upstream task opens one file per bucket
    it touches, so a P-partition frame emits up to P x n_buckets
    files (the round-5 merge probe measured 2,752 files for a 5.5M-row
    generation — the classic partitionBy small-files explosion).
    With it each bucket is written by exactly one task: files per
    run == occupied buckets, and file SIZE is steered by the
    ``n_buckets`` chosen at part_id derivation (by default
    :func:`sink_buckets`, so one bucket ~ one 128 MB parquet file).
    For input already hash-partitioned on part_id — the
    :func:`emit_triples` output — the repartition is a no-op: the
    planner drops it as already satisfied, and the write ships no
    row."""
    if not overwrite_run:
        raise ValueError(
            "write_triples always replaces its run; overwrite_run=False "
            "is not supported")
    spark = triples.sparkSession
    run_data = os.path.join(out_dir, "triples", f"run_id={run_id}")
    run_manifest = os.path.join(out_dir, "manifest", f"run_id={run_id}")

    fs, path = _fs_path(spark, run_manifest)
    fs.delete(path, True)

    data = triples.drop("run_id")
    # static overwrite replaces the whole run directory, whatever the
    # session's partitionOverwriteMode, so no bucket of an earlier
    # attempt survives
    (data.repartition("part_id").write.mode("overwrite")
     .option("partitionOverwriteMode", "static")
     .partitionBy("part_id").parquet(run_data))

    written = spark.read.schema(data.schema).parquet(run_data)
    # one file, so the commit is a single rename
    _manifest(written).coalesce(1).write.mode("overwrite") \
        .parquet(run_manifest)
    return _read_manifest(spark, out_dir)


def read_triples(spark: SparkSession, out_dir: str,
                 up_to_run: str | None = None) -> DataFrame:
    """Read the committed runs of the triple sink: rows of a run
    without a manifest partition (crashed or being rewritten) are
    left out by a broadcast semi-join on the manifest's run ids.

    ``up_to_run`` is snapshot-style time travel (streaming run_ids
    are zero-padded batch ordinals, so the lexicographic filter prunes
    whole partitions at the scan — the parquet analogue of reading an
    earlier Iceberg snapshot)."""
    df = spark.read.parquet(os.path.join(out_dir, "triples"))
    if up_to_run is not None:
        df = df.where(F.col("run_id") <= up_to_run)
    runs = _read_manifest(spark, out_dir).select(
        F.col("run_id").alias("_run"))
    return df.join(F.broadcast(runs),
                   F.col("run_id").cast("string") == F.col("_run"),
                   "left_semi")


def _fs_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p


def _exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def compact_recover(out_dir: str) -> None:
    """Finish or roll back a compaction interrupted mid-swap.

    State machine (local filesystem): the staged build writes a
    ``_COMMIT`` marker LAST, so

    * staging without ``_COMMIT`` → the build never finished: discard
      staging, restore anything already moved to ``_pre_compact``;
    * staging with ``_COMMIT`` → the swap was in flight: drive it
      forward to completion (each step is an idempotent "ensure the
      staged dir is live, prior dir parked in _pre_compact").
    """
    import shutil

    staging = os.path.join(out_dir, "_compacting")
    pre = os.path.join(out_dir, "_pre_compact")
    commit = os.path.join(staging, "_COMMIT")
    committed = os.path.exists(commit)
    for name in ("triples", "manifest"):
        final = os.path.join(out_dir, name)
        parked = os.path.join(pre, name)
        staged = os.path.join(staging, name)
        if committed:
            if os.path.exists(staged):
                if os.path.exists(final):
                    os.makedirs(pre, exist_ok=True)
                    shutil.rmtree(parked, ignore_errors=True)
                    os.rename(final, parked)
                os.rename(staged, final)
        else:
            if not os.path.exists(final) and os.path.exists(parked):
                os.rename(parked, final)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(pre, ignore_errors=True)


def compact_triples(spark: SparkSession, out_dir: str,
                    n_buckets: int | None = None) -> DataFrame:
    """Compact the committed runs of a sink (e.g. many streaming
    batches of small files) into ONE run, ``run_id=compact-<ts>`` —
    the operational analogue of Iceberg's rewrite_data_files.
    ``n_buckets`` defaults to :func:`sink_buckets` of the committed
    runs.

    The earlier runs are merged away, so ``up_to_run`` time travel
    over them ends here, and a stream's checkpoint-ownership guard
    refuses further ``batch-*`` runs (``compact-`` sorts after them).

    Crash safety (LOCAL filesystems only — raises on remote URIs; on
    object stores use the engine-level rewrite of your table format):
    the compacted run is written by :func:`write_triples` into a
    staging sink, a ``_COMMIT`` marker is written last, and the swap
    parks the old dirs in ``_pre_compact`` before renaming the staged
    ones in.  :func:`compact_recover` (called automatically on entry)
    finishes a committed swap or rolls back an uncommitted one, so no
    crash point loses the sink.  Returns the new manifest."""
    import shutil

    if "://" in out_dir and not out_dir.startswith("file:"):
        raise ValueError(
            "compact_triples swaps directories with local renames; "
            f"non-local sink: {out_dir}")

    staging = os.path.join(out_dir, "_compacting")
    compact_recover(out_dir)

    # re-derive part_id (a pure row function) so a changed bucket
    # count re-buckets correctly; by default the count is sized from
    # the committed runs' files
    triples = read_triples(spark, out_dir).drop("run_id", "part_id")
    triples = triples.withColumn("part_id", bucket_of(
        F.col("url"), n_buckets or sink_buckets(triples)))
    write_triples(triples, staging,
                  run_id=f"compact-{int(time.time() * 1000)}")
    open(os.path.join(staging, "_COMMIT"), "w").close()

    pre = os.path.join(out_dir, "_pre_compact")
    os.makedirs(pre, exist_ok=True)
    for name in ("triples", "manifest"):
        final = os.path.join(out_dir, name)
        parked = os.path.join(pre, name)
        shutil.rmtree(parked, ignore_errors=True)
        os.rename(final, parked)
        os.rename(os.path.join(staging, name), final)
    shutil.rmtree(pre, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return _read_manifest(spark, out_dir)


# ---------------------------------------------------------------------------
# Cross-generation KG maintenance
# ---------------------------------------------------------------------------

def aggregate_kg(triples: DataFrame, generation: int) -> DataFrame:
    """Witness-level triples (subj, pred, obj, url) → one aggregated
    KG row per distinct triple:

        (subj, pred, obj, n_pages, first_seen, last_seen)

    ``n_pages`` counts distinct witnessing urls; both *_seen carry the
    crawl ``generation`` ordinal.  ONE hash aggregate with map-side
    partial (count_distinct over the url already deduplicated per
    triple by emit_triples, so approx paths aren't needed); this is
    the table :func:`merge_kg` maintains across generations."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count_distinct("url").alias("n_pages"))
        .withColumn("first_seen", F.lit(generation))
        .withColumn("last_seen", F.lit(generation))
    )


def fact_intervals(observations: DataFrame, ts: str = "warc_ts",
                   tiebreak: str | None = None,
                   open_end_ms: int = -1) -> DataFrame:
    """Temporal-KG fact validity: timestamped triple observations
    ``(subj, pred, obj, ts)`` → one row per (subj, pred) run of an
    identical object,

        (subj, pred, obj, valid_from_ms, valid_to_ms, n_snapshots)

    — "the KG believed subj --pred--> THIS obj from t1 until t2".
    This is SCD-2 over the (subj, pred) timeline (the triple-level
    analogue of the url-level
    :func:`~neleval_spark.functions.corpusops.snapshot_intervals`,
    which it delegates to with the composite key): when a recrawl
    extracts a different object for a functional predicate (a person
    changes employer, a page changes canonical entity), the old fact's
    interval closes at the new observation's timestamp and a new open
    run starts.  The open (current) fact gets ``valid_to_ms =
    open_end_ms`` (pinned sentinel, not NULL).

    Semantics note: runs are over the OBSERVED sequence per
    (subj, pred), so the predicate is treated as functional — one
    object at a time.  For multi-valued predicates, feed one
    canonical observation per (subj, pred, ts) first (e.g. the
    majority object per crawl generation), or SCD-2 presence per
    (subj, pred, obj) against the snapshot grid instead.

    Scale shape: inherited from snapshot_intervals — one exchange
    hashed on (subj, pred), per-key sorts over one fact's observation
    history (tiny), no global sort, no driver state."""
    from ..functions.corpusops import snapshot_intervals

    return snapshot_intervals(
        observations, key=["subj", "pred"], ts=ts, value_col="obj",
        tiebreak=tiebreak, open_end_ms=open_end_ms)


def merge_kg(base: DataFrame, delta: DataFrame,
             mode: str = "replace") -> DataFrame:
    """Incrementally fold one crawl generation's aggregated KG
    (:func:`aggregate_kg` output) into the accumulated KG — the
    maintenance operation that makes the triple store a living
    artifact across recrawls instead of a one-shot dump.

    ONE full-outer equi-join on the (subj, pred, obj) key — inherent
    to upsert semantics; the key space is near-unique (it IS the KG's
    primary key) so there is no skew side, and both inputs are
    aggregate-sized, not witness-sized.

    * ``mode="replace"`` — a RECRAWL generation: the delta re-observed
      the web, so its ``n_pages`` supersedes the base count for
      triples it saw; base-only triples persist with their old count
      (going stale — see :func:`prune_kg`).
    * ``mode="sum"`` — DISJOINT-witness shards (e.g. two halves of one
      crawl partitioned by url): counts add.

    ``first_seen``/``last_seen`` take min/max either way, so staleness
    (``current_gen - last_seen``) and novelty (``first_seen ==
    current_gen``) stay queryable."""
    if mode not in ("replace", "sum"):
        raise ValueError(f"unknown merge mode: {mode!r}")
    key = ["subj", "pred", "obj"]
    b = base.select(
        *key, F.col("n_pages").alias("_bn"),
        F.col("first_seen").alias("_bf"),
        F.col("last_seen").alias("_bl"))
    d = delta.select(
        *key, F.col("n_pages").alias("_dn"),
        F.col("first_seen").alias("_df"),
        F.col("last_seen").alias("_dl"))
    j = b.join(d, key, "full_outer")
    if mode == "replace":
        n = F.coalesce(F.col("_dn"), F.col("_bn"))
    else:
        n = (F.coalesce(F.col("_dn"), F.lit(0))
             + F.coalesce(F.col("_bn"), F.lit(0)))
    return j.select(
        *key,
        n.alias("n_pages"),
        F.least(F.col("_bf"), F.col("_df")).alias("first_seen"),
        F.greatest(F.col("_bl"), F.col("_dl")).alias("last_seen"),
    )


def conflate_kg(kg: DataFrame,
                entity_preds: tuple = ("cooccurs_with",),
                max_dist: int = 2, q: int = 3) -> DataFrame:
    """Conflate KG nodes whose NAMES fuzzy-match (typos, dropped
    characters, token order) — the knowledge-fusion step after
    :func:`merge_kg`'s exact-key upsert.  Two crawl generations that
    spell the same entity "Acme Corp" and "Acme Crop" produce two
    parallel node families; this folds them onto one canonical node.

    Mechanics: the DISTINCT node vocabulary (all subjects, plus
    objects of ``entity_preds`` — other objects such as doc urls are
    never conflated) runs through :func:`~neleval_spark.functions.er.
    er_resolve` (prefix-filter blocking + levenshtein ≤ ``max_dist``
    + connected components; canonical = component-minimum name, so
    the output is a pure function of the vocabulary).  Triples are
    rewritten onto canonical nodes and re-aggregated: ``n_pages``
    SUMS (the witnesses were counted under distinct spellings),
    ``first_seen``/``last_seen`` take min/max.

    Scale shape: ER runs on the node VOCABULARY (distinct names —
    orders of magnitude smaller than the triple table); the rewrite
    is two equi-joins of the triple table against the vocabulary-
    sized mapping; the re-aggregation is one hash exchange on the
    conflated key.  The triple table itself never enters the
    blocking or CC loops."""
    from ..functions.er import er_resolve

    nodes = (kg.select(F.col("subj").alias("name"))
             .unionByName(kg.where(F.col("pred").isin(*entity_preds))
                          .select(F.col("obj").alias("name")))
             .distinct())
    mapping = (er_resolve(nodes.withColumn("id", F.col("name")),
                          max_dist=max_dist, q=q)
               .select(F.col("id").alias("name"), "canonical"))
    ms = mapping.select(F.col("name").alias("subj"),
                        F.col("canonical").alias("_cs"))
    mo = mapping.select(F.col("name").alias("obj"),
                        F.col("canonical").alias("_co"))
    rewritten = (
        kg.join(ms, "subj", "left")
        .join(mo, "obj", "left")
        .select(
            F.coalesce("_cs", F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("pred").isin(*entity_preds),
                   F.coalesce("_co", F.col("obj")))
            .otherwise(F.col("obj")).alias("obj"),
            "n_pages", "first_seen", "last_seen"))
    return (rewritten.groupBy("subj", "pred", "obj")
            .agg(F.sum("n_pages").cast("long").alias("n_pages"),
                 F.min("first_seen").alias("first_seen"),
                 F.max("last_seen").alias("last_seen")))


def prune_kg(kg: DataFrame, current_gen: int,
             max_staleness: int) -> DataFrame:
    """Evict triples not re-observed within ``max_staleness``
    generations — a narrow filter (no shuffle); pair with
    :func:`merge_kg` so dead pages age out of the KG instead of
    accumulating forever."""
    return kg.where(
        F.col("last_seen") >= F.lit(current_gen - max_staleness))


def validate_kg(triples: DataFrame,
                known_preds: tuple = ("mentioned_in", "cooccurs_with"),
                entity_preds: tuple = ("cooccurs_with",),
                canonical_preds: tuple = ("cooccurs_with",),
                key: tuple = ("subj", "pred", "obj")) -> DataFrame:
    """Integrity report over a triple table: one ``(check,
    violations)`` row per invariant, all checks always present (count
    0 when clean) so downstream gates can assert on a fixed shape.

    Checks:

    * ``null_field`` — any of subj/pred/obj NULL or empty.
    * ``unknown_pred`` — pred outside ``known_preds`` (the pipeline's
      closed vocabulary; emit_triples mints only these).
    * ``self_loop`` — subj == obj on an entity-object predicate.
    * ``non_canonical_pair`` — subj >= obj on a symmetric predicate
      (emit_triples generates pairs over the SORTED entity set, so
      subj < obj is a construction invariant; a violation means a
      foreign/corrupted generation entered the store).
    * ``dangling_object`` — an entity-valued object that never occurs
      as a subject (every co-occurring entity also gets its own
      ``mentioned_in`` row, so the subject set is the entity
      universe).
    * ``duplicate_key`` — rows sharing ``key`` beyond the first; pass
      ``key=("subj", "pred", "obj", "url")`` for witness-level tables
      where the same triple legitimately repeats across pages.

    Scale shape: the four per-row checks fold into ONE map-side
    combined aggregate (no data-proportional shuffle); duplicate_key
    is a groupBy on the KG's primary key (near-unique, no skew side);
    dangling_object is distinct-objects LEFT ANTI distinct-subjects —
    both sides entity-keyed, broadcast-eligible only if tiny, and
    bounded by the entity universe, not the triple count.  No
    collect, no cartesian, no Python.
    """
    nullish = None
    for c in ("subj", "pred", "obj"):
        e = F.col(c).isNull() | (F.col(c) == "")
        nullish = e if nullish is None else nullish | e
    is_entity = F.col("pred").isin(*entity_preds)
    rowwise = triples.agg(
        F.sum(nullish.cast("long")).alias("null_field"),
        F.sum((~F.col("pred").isin(*known_preds)).cast("long"))
        .alias("unknown_pred"),
        F.sum((is_entity & (F.col("subj") == F.col("obj")))
              .cast("long")).alias("self_loop"),
        F.sum((F.col("pred").isin(*canonical_preds)
               & (F.col("subj") >= F.col("obj"))).cast("long"))
        .alias("non_canonical_pair"),
    ).select(F.explode(F.map_from_arrays(
        F.array(F.lit("null_field"), F.lit("unknown_pred"),
                F.lit("self_loop"), F.lit("non_canonical_pair")),
        F.array("null_field", "unknown_pred", "self_loop",
                "non_canonical_pair"),
    )).alias("check", "violations"))
    rowwise = rowwise.select(
        "check", F.coalesce("violations", F.lit(0)).alias("violations"))

    dupes = (triples.groupBy(*key)
             .agg(F.count(F.lit(1)).alias("_n"))
             .agg(F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))
                  .alias("violations"))
             .select(F.lit("duplicate_key").alias("check"), "violations"))

    objs = triples.where(is_entity).select(
        F.col("obj").alias("_e")).distinct()
    subjs = triples.select(F.col("subj").alias("_e")).distinct()
    dangling = (objs.join(subjs, "_e", "left_anti")
                .agg(F.count(F.lit(1)).alias("violations"))
                .select(F.lit("dangling_object").alias("check"),
                        "violations"))

    return rowwise.unionByName(dupes).unionByName(dangling) \
        .orderBy("check")


def to_ntriples(triples: DataFrame,
                subj_base: str = "http://kg.local/e/",
                pred_base: str = "http://kg.local/p/",
                obj_base: str = "http://kg.local/e/",
                url_preds: tuple = ("mentioned_in",)) -> DataFrame:
    """Serialize triple rows as RDF N-Triples lines (W3C N-Triples:
    one ``<s> <p> <o> .`` statement per line) — the interop exit so
    the emitted KG loads into any standard triple store.

    Entity/predicate ids mint IRIs under the given bases; predicates
    in ``url_preds`` carry a URL object which IS the IRI.  IRI-unsafe
    characters are percent-encoded per RFC 3987 (the minimal set that
    can occur in ids and urls: space, quote, angle brackets, braces,
    pipe, caret, backslash, backtick).  Pure column expressions — a
    narrow projection, no shuffle; write with ``.write.text()``.
    """
    def esc(col):
        out = col
        for ch, enc in ((" ", "%20"), ('"', "%22"), ("<", "%3C"),
                        (">", "%3E"), ("{", "%7B"), ("}", "%7D"),
                        ("|", "%7C"), ("^", "%5E"), ("\\", "%5C"),
                        ("`", "%60")):
            out = F.replace(out, F.lit(ch), F.lit(enc))
        return out

    obj_iri = F.when(
        F.col("pred").isin(*url_preds), esc(F.col("obj"))
    ).otherwise(F.concat(F.lit(obj_base), esc(F.col("obj"))))
    line = F.concat(
        F.lit("<"), F.lit(subj_base), esc(F.col("subj")),
        F.lit("> <"), F.lit(pred_base), esc(F.col("pred")),
        F.lit("> <"), obj_iri, F.lit("> ."))
    return triples.select(line.alias("line"))


# one whole N-Triples statement: subject (IRI or blank node),
# predicate IRI, object (IRI | blank node | literal with optional
# @lang / ^^<datatype>), terminating dot.  Backreference-free on
# purpose: the DuckDB oracle replays it under RE2.
_NT_LINE_RE = (
    r'^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"'
    r'(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)\s*\.\s*$')


def from_ntriples(lines: DataFrame, col: str = "line",
                  subj_base: str = "http://kg.local/e/",
                  pred_base: str = "http://kg.local/p/",
                  obj_base: str = "http://kg.local/e/",
                  stats: dict | None = None) -> DataFrame:
    """Parse W3C N-Triples lines back into rows — the interop
    ENTRANCE matching ``to_ntriples``' exit, so external KG dumps
    (and our own round-trip) load as ordinary triple tables.

    Output: (subj, pred, obj, kind, lang, datatype) with ``kind``
    in iri / bnode / literal.  IRIs are percent-DECODED (inverting
    the exporter's RFC-3987 minimal encoding) and stripped of the
    given base prefixes, so ``from_ntriples(to_ntriples(t))``
    restores ``t``'s ids exactly; IRIs under foreign bases stay
    absolute.  Literals keep their lexical form with the quote
    escape undone (``\\"`` → ``"``; other backslash escapes pass
    through raw — percent-free structural parsing, documented v1
    interop scope); ``lang``/``datatype`` are '' when absent.

    Comment (#…) and blank lines are dropped silently per the spec;
    MALFORMED statement lines are dropped with the count surfaced
    via ``stats["bad_lines"]`` — never silently estimated.  Pure
    column expressions over ``spark.read.text`` rows: narrow,
    shuffle-free, parallel by input split at any dump size.
    """
    def dec(c):
        # url_decode is form-decoding: '+' means space — protect
        # literal plus signs before inverting the %-encoding, and
        # keep the raw text when a stray '%' makes decoding fail
        protected = F.replace(c, F.lit("+"), F.lit("%2B"))
        return F.coalesce(F.try_url_decode(protected), c)

    def strip_base(c, base):
        return F.when(c.startswith(base),
                      F.substring(c, len(base) + 1, 2 ** 30)
                      ).otherwise(c)

    src = lines.select(F.col(col).alias("_l"))
    body = src.where(~F.col("_l").rlike(r"^\s*(#|$)"))
    parts = body.select(
        F.regexp_extract("_l", _NT_LINE_RE, 1).alias("_s"),
        F.regexp_extract("_l", _NT_LINE_RE, 2).alias("_p"),
        F.regexp_extract("_l", _NT_LINE_RE, 3).alias("_o"))
    if stats is not None:
        stats["bad_lines"] = parts.where(F.col("_s") == "").count()
    ok = parts.where(F.col("_s") != "")
    subj = F.when(
        F.col("_s").startswith("_:"), F.col("_s")
    ).otherwise(strip_base(
        dec(F.regexp_extract("_s", r"^<(.*)>$", 1)), subj_base))
    pred = strip_base(dec(F.col("_p")), pred_base)
    is_lit = F.col("_o").startswith('"')
    is_bnode = F.col("_o").startswith("_:")
    lit_value = F.replace(
        F.regexp_extract("_o", r'^"((?:[^"\\]|\\.)*)"', 1),
        F.lit('\\"'), F.lit('"'))
    obj = (F.when(is_lit, lit_value)
           .when(is_bnode, F.col("_o"))
           .otherwise(strip_base(
               dec(F.regexp_extract("_o", r"^<(.*)>$", 1)),
               obj_base)))
    kind = (F.when(is_lit, "literal").when(is_bnode, "bnode")
            .otherwise(F.lit("iri")))
    return ok.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
        kind.alias("kind"),
        F.regexp_extract("_o", r'"@([A-Za-z0-9-]+)$', 1)
         .alias("lang"),
        F.regexp_extract("_o", r"\^\^<([^>]*)>$", 1)
         .alias("datatype"))
