"""Incremental crawl ingest via Structured Streaming.

The reference engine is batch-only (SURVEY.md §2.10), so this module
is additive: the SAME construction logic (extract → NER → candidates →
scoring → NIL canonicalization → triples) applied incrementally as new
crawl files land, instead of re-running the batch job over the full
corpus.

Design:

* ``stream_pages`` — file-source stream over the BASELINE.json page
  schema; ``maxFilesPerTrigger`` bounds micro-batch size so executor
  memory is sized to the batch, not the backlog.
* ``stream_construct`` — ``foreachBatch`` around the batch pipeline.
  The pipeline needs its own persist + multiple actions per batch
  (scored-mention materialization feeds the NIL branch, the linked
  branch and the key graph), which a single streaming plan cannot
  express — ``foreachBatch`` is the idiomatic escape hatch.
  Exactly-once: each micro-batch writes the sink run run_id =
  f(batch_id), which ``write_triples`` replaces (data, then the
  manifest commit), so a replayed batch — restart anywhere between
  the first sink byte and the checkpoint commit — replaces its own
  run and converges to exactly one copy; compute is at-least-once, the sink
  is exactly-once.  The checkpoint directory is the stream's
  identity: pair each sink directory with exactly one checkpoint
  (deleting the checkpoint but keeping the sink re-numbers batches,
  as in any Structured Streaming foreachBatch sink).
* NIL identity across batches: cluster labels are content-derived
  (``NIL`` + sha1 of the component's minimum normalized surface), so
  a surface seen in two batches maps to the same label whenever its
  component minimum is unchanged — in particular every
  single-surface cluster is globally stable with no shared state
  between batches.  Batches never exchange state, so a later batch
  can refine (merge) clusters only if the batch job is re-run; the
  streaming path is documented as eventually consistent for
  multi-surface NIL clusters.
* ``stream_doc_rates`` — a native watermarked event-time windowed
  aggregation (no foreachBatch): crawl throughput per language per
  window, late data bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def stream_pages(spark: SparkSession, pages_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of crawl pages (new parquet files under
    ``pages_dir`` become micro-batches)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(pages_dir)


def stream_construct(pages_stream: DataFrame, kb: DataFrame,
                     out_dir: str, checkpoint_dir: str,
                     available_now: bool = True):
    """Run the KG-construction pipeline incrementally; returns the
    started StreamingQuery.  ``available_now=True`` drains the current
    backlog and stops (the batch-parity mode used by tests);
    ``False`` runs continuously."""
    from ..pipeline.canonicalize import canonicalize_nils
    from ..pipeline.run import build_mentions, release_materialized
    from ..pipeline.triples import emit_triples, sink_buckets, write_triples

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from ..pipeline.triples import _exists

        spark = batch_df.sparkSession
        run_id = f"batch-{batch_id:09d}"
        # fail fast on the one misuse a run overwrite cannot heal:
        # a FRESH checkpoint pointed at a sink that already holds
        # later batches (batch numbering restarted, so batch 0 would
        # overwrite only its own partition and leave stale later runs
        # double-counted). Legit replay of batch N never trips this —
        # the manifest then holds nothing beyond batch N.
        manifest_dir = os.path.join(out_dir, "manifest")
        if _exists(spark, manifest_dir):
            beyond = (
                spark.read.parquet(manifest_dir)
                .where(F.col("run_id") > run_id).limit(1).count())
            if beyond:
                raise RuntimeError(
                    f"sink {out_dir} already contains batches beyond "
                    f"{run_id}: this stream's checkpoint does not own "
                    "the sink (checkpoint recreated?). Use the "
                    "original checkpoint directory or a fresh out_dir.")
        if batch_df.isEmpty():
            return
        # the bucket count is sized from the scored-mention snapshot
        # (a scan), as incremental_triples does
        linked = build_mentions(batch_df, kb, canonicalize=False)
        try:
            triples = emit_triples(canonicalize_nils(linked),
                                   n_buckets=sink_buckets(linked))
            # a replayed batch REPLACES its own run (data + manifest) —
            # idempotent without reading the sink, correct even if the
            # previous attempt died mid-write
            write_triples(triples, out_dir, run_id=run_id)
        finally:
            # delete exactly the scratch snapshot build_mentions wrote
            # for this batch — NOT catalog.clearCache(), which would
            # also evict frames the caller cached (e.g. a persisted kb
            # dim)
            release_materialized(linked)

    writer = (
        pages_stream.writeStream
        .foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_doc_rates(pages_stream: DataFrame,
                     window: str = "10 minutes",
                     watermark: str = "30 minutes") -> DataFrame:
    """Watermarked event-time crawl throughput: docs per language per
    ``window``, tolerating ``watermark`` of late data — a pure
    streaming aggregation (append output mode capable)."""
    return (
        pages_stream
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "lang", "n_docs",
        )
    )
