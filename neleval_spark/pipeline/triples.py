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
frame built any other way (compaction, snapshots, streaming batches)
is repartitioned by the write as before.
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
