"""Structured Streaming ingest: incremental construction matches the
batch pipeline exactly, micro-batch replay is idempotent, and the
watermarked rate aggregation agrees with its batch equivalent."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dirs():
    base = tempfile.mkdtemp(prefix="stream_test_")
    d = {k: os.path.join(base, k)
         for k in ("pages", "out", "ckpt", "out2", "ckpt2")}
    os.makedirs(d["pages"])
    return d


def _triple_set(spark, out_dir):
    return {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(os.path.join(out_dir, "triples"))
        .select("subj", "pred", "obj").collect()
    }


def test_stream_matches_batch_and_is_incremental(spark, dirs):
    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import build_mentions
    from neleval_spark.pipeline.triples import emit_triples
    from neleval_spark.streaming import stream_construct, stream_pages

    kb = kb_table(spark)

    # chunk A lands
    corpus = synth_corpus(spark, 600).cache()
    chunk_a = corpus.where(F.col("url").substr(-1, 1) < "7")
    chunk_a.write.mode("append").parquet(dirs["pages"])

    q = stream_construct(
        stream_pages(spark, dirs["pages"]), kb,
        dirs["out"], dirs["ckpt"])
    q.awaitTermination(300)

    batch_a = {
        (r["subj"], r["pred"], r["obj"])
        for r in emit_triples(build_mentions(chunk_a, kb))
        .select("subj", "pred", "obj").distinct().collect()
    }
    assert _triple_set(spark, dirs["out"]) == batch_a
    spark.catalog.clearCache()

    # chunk B lands later; a new availableNow run drains ONLY B
    chunk_b = corpus.where(~(F.col("url").substr(-1, 1) < "7"))
    chunk_b.write.mode("append").parquet(dirs["pages"])
    q2 = stream_construct(
        stream_pages(spark, dirs["pages"]), kb,
        dirs["out"], dirs["ckpt"])
    q2.awaitTermination(300)

    batch_all = {
        (r["subj"], r["pred"], r["obj"])
        for r in emit_triples(build_mentions(corpus, kb))
        .select("subj", "pred", "obj").distinct().collect()
    }
    got = _triple_set(spark, dirs["out"])
    # the union of incremental batches covers everything the full
    # batch job emits (cooccurrence is within-sentence, so chunking
    # by url can never lose pairs)
    assert got == batch_all
    spark.catalog.clearCache()

    manifest = spark.read.parquet(os.path.join(dirs["out"], "manifest"))
    run_ids = {r["run_id"] for r in manifest.select("run_id")
               .distinct().collect()}
    assert len(run_ids) == 2  # one per micro-batch, replay-stable ids

    # snapshot read: as-of the first batch sees exactly chunk A
    from neleval_spark.pipeline.triples import read_triples

    asof = {
        (r["subj"], r["pred"], r["obj"])
        for r in read_triples(spark, dirs["out"],
                              up_to_run=min(run_ids))
        .select("subj", "pred", "obj").collect()
    }
    assert asof == batch_a


def test_fresh_checkpoint_over_owned_sink_fails(spark, dirs):
    """A FRESH checkpoint pointed at a sink that already holds later
    batches restarts batch numbering — dynamic overwrite would then
    double-count the still-present later runs, so the ingest must
    fail fast instead (checkpoint↔sink identity contract)."""
    from neleval_spark.pipeline.corpus import kb_table
    from neleval_spark.streaming import stream_construct, stream_pages

    q = stream_construct(
        stream_pages(spark, dirs["pages"]), kb_table(spark),
        dirs["out"], dirs["ckpt2"])  # out has batches 0 AND 1 already
    with pytest.raises(Exception) as ei:
        q.awaitTermination(300)
        q.processAllAvailable()
    assert "does not own the sink" in str(ei.value)


def test_stream_replay_idempotent(spark, dirs):
    """A replayed micro-batch (foreachBatch re-invoked with the SAME
    batch id after a crash anywhere mid-write) must converge to
    exactly one copy: run_id partitions are dynamically overwritten,
    data and manifest both."""
    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import build_mentions
    from neleval_spark.pipeline.triples import emit_triples, write_triples

    pages = synth_corpus(spark, 150)
    triples = emit_triples(build_mentions(pages, kb_table(spark)))

    # attempt 1 "crashes" after the data write, before the manifest:
    # simulate by writing data under the run partition directly
    (triples.withColumn("run_id", F.lit("batch-000000007"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("run_id", "part_id")
     .parquet(os.path.join(dirs["out2"], "triples")))

    # replay of the same batch id runs the full writer
    write_triples(triples, dirs["out2"], run_id="batch-000000007",
                  overwrite_run=True)
    n1 = spark.read.parquet(
        os.path.join(dirs["out2"], "triples")).count()
    m1 = spark.read.parquet(
        os.path.join(dirs["out2"], "manifest")).count()

    # a second full replay changes nothing
    write_triples(triples, dirs["out2"], run_id="batch-000000007",
                  overwrite_run=True)
    assert spark.read.parquet(
        os.path.join(dirs["out2"], "triples")).count() == n1
    assert spark.read.parquet(
        os.path.join(dirs["out2"], "manifest")).count() == m1
    assert n1 == triples.count()
    spark.catalog.clearCache()


def test_stream_doc_rates(spark, dirs):
    from neleval_spark.streaming import stream_doc_rates, stream_pages

    rates = stream_doc_rates(stream_pages(spark, dirs["pages"]))
    q = (rates.writeStream.format("memory").queryName("rates_tbl")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT SUM(n_docs) AS n FROM rates_tbl").collect()[0]["n"]
    want = spark.read.parquet(dirs["pages"]).count()
    assert got == want
    # windows are 10-minute aligned and disjoint per lang
    rows = spark.sql("SELECT * FROM rates_tbl").collect()
    assert all((r["win_end"] - r["win_start"]).seconds == 600
               for r in rows)


def test_compact_streaming_sink(spark, dirs):
    """Compaction merges the sink's runs into one compact-* run with
    identical triples and a single-run manifest."""
    import glob

    from neleval_spark.pipeline.triples import (
        compact_triples, read_triples)

    before = {
        (r["subj"], r["pred"], r["obj"])
        for r in read_triples(spark, dirs["out"])
        .select("subj", "pred", "obj").collect()
    }
    n_files_before = len(glob.glob(
        os.path.join(dirs["out"], "triples", "*", "*", "*.parquet")))
    manifest = compact_triples(spark, dirs["out"])
    after_df = read_triples(spark, dirs["out"])
    after_runs = {r["run_id"] for r in
                  after_df.select("run_id").distinct().collect()}
    assert len(after_runs) == 1
    assert next(iter(after_runs)).startswith("compact-")
    after = {
        (r["subj"], r["pred"], r["obj"])
        for r in after_df.select("subj", "pred", "obj").collect()
    }
    assert after == before
    runs = {r["run_id"] for r in manifest.select("run_id").collect()}
    assert len(runs) == 1 and next(iter(runs)).startswith("compact-")
    n_files_after = len(glob.glob(
        os.path.join(dirs["out"], "triples", "*", "*", "*.parquet")))
    assert 0 < n_files_after <= n_files_before


def test_compact_recover_states(spark, tmp_path):
    """compact_recover: a committed staging drives the swap forward;
    an uncommitted one rolls back — no crash point loses the sink."""
    import shutil

    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import build_mentions
    from neleval_spark.pipeline.triples import (
        compact_recover, emit_triples, read_triples, write_triples)

    out = str(tmp_path / "sink")
    t = emit_triples(build_mentions(synth_corpus(spark, 100),
                                    kb_table(spark)))
    write_triples(t, out, run_id="batch-000000000", overwrite_run=True)
    n = read_triples(spark, out).count()

    # crash AFTER staging committed, BEFORE any rename: recovery must
    # complete the swap (staged content becomes live)
    staging = os.path.join(out, "_compacting")
    shutil.copytree(os.path.join(out, "triples"),
                    os.path.join(staging, "triples"))
    shutil.copytree(os.path.join(out, "manifest"),
                    os.path.join(staging, "manifest"))
    open(os.path.join(staging, "_COMMIT"), "w").close()
    compact_recover(out)
    assert not os.path.exists(staging)
    assert read_triples(spark, out).count() == n

    # crash mid-swap with the data dir already parked and staging
    # committed: the staged dir must become live again
    shutil.copytree(os.path.join(out, "triples"),
                    os.path.join(staging, "triples"))
    open(os.path.join(staging, "_COMMIT"), "w").close()
    pre = os.path.join(out, "_pre_compact")
    os.makedirs(pre)
    os.rename(os.path.join(out, "triples"),
              os.path.join(pre, "triples"))
    compact_recover(out)
    assert read_triples(spark, out).count() == n

    # uncommitted staging (build crashed): rollback, sink unchanged
    os.makedirs(os.path.join(staging, "triples"))
    compact_recover(out)
    assert not os.path.exists(staging)
    assert read_triples(spark, out).count() == n

    # non-local URI refused
    from neleval_spark.pipeline.triples import compact_triples
    with pytest.raises(ValueError):
        compact_triples(spark, "s3a://bucket/sink")


def test_ingest_keeps_caller_cached_frames(spark, tmp_path):
    """Per-batch cache cleanup must release ONLY the frames the batch
    pipeline persisted — not blanket-clearCache() away a dimension
    the caller cached (e.g. a persisted kb)."""
    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.streaming import stream_construct, stream_pages

    pages_dir = str(tmp_path / "pages")
    synth_corpus(spark, 60).write.parquet(pages_dir)

    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    kb = kb_table(spark).persist()
    kb.count()
    try:
        q = stream_construct(
            stream_pages(spark, pages_dir), kb,
            str(tmp_path / "out"), str(tmp_path / "ckpt"))
        q.awaitTermination(300)
        # caller's persist survived the batch (a clearCache() in the
        # batch loop would have evicted it)
        assert kb.storageLevel.useMemory or kb.storageLevel.useDisk
    finally:
        kb.unpersist()
    # ...and the batch released its own materializations: with kb
    # gone, no DataFrame persist remains registered
    assert cache_mgr.isEmpty()


def test_merge_sessions_pure():
    """The session fold is a pure function: split on gap, pending
    state extends, finality is decided separately by the watermark."""
    from neleval_spark.streaming.sessions import (_merge_sessions,
                                                  _split_final)

    sessions = _merge_sessions([0, 100, 5000, 5100], 1800, [])
    assert sessions == [(0, 100, 2), (5000, 5100, 2)]
    # pending sessions extend with new in-gap fetches
    assert _merge_sessions([5200], 1800, [(5000, 5100, 2)]) == \
        [(5000, 5200, 3)]
    # beyond-gap fetch is a separate session; BOTH stay pending until
    # the watermark passes their end+gap
    sessions = _merge_sessions([9000], 1800, [(5000, 5200, 3)])
    assert sessions == [(5000, 5200, 3), (9000, 9000, 1)]
    assert _split_final(sessions, 1800, 5000) == ([], sessions)
    assert _split_final(sessions, 1800, 7000) == \
        ([(5000, 5200, 3)], [(9000, 9000, 1)])
    assert _split_final(sessions, 1800, 10800) == (sessions, [])


def test_stream_host_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization end-to-end: sessions
    close via EVENT-TIME timeout when later micro-batches advance the
    watermark past last-fetch + gap."""
    import datetime as dt

    from neleval_spark.streaming import stream_host_sessions
    from neleval_spark.streaming.ingest import PAGES_SCHEMA

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def page(host, minutes):
        ts = t0 + dt.timedelta(minutes=minutes)
        return (f"https://{host}/p{minutes}", ts, b"<p>x</p>", "x",
                "en")

    pages_dir = str(tmp_path / "pages")
    # batch 1: two hosts fetch around t0
    spark.createDataFrame(
        [page("a.example", 0), page("a.example", 10),
         page("b.example", 5)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)
    # batch 2: 6h later — watermark (1h lag) passes every batch-1
    # session's last+gap, so both sessions close; host a starts anew
    spark.createDataFrame(
        [page("a.example", 360)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)
    # batch 3: 12h later — closes host a's second session too
    spark.createDataFrame(
        [page("c.example", 720)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)

    from neleval_spark.streaming import stream_pages

    stream = stream_pages(spark, pages_dir, max_files_per_trigger=1)
    q = (
        stream_host_sessions(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory").queryName("host_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {(r["host"], r["session_start"].minute, r["n_docs"])
            for r in spark.sql("SELECT * FROM host_sessions").collect()}
    # batch-1 sessions (a: 2 fetches, b: 1) closed by batch 2's
    # watermark; a's batch-2 session closed by batch 3; c's session is
    # still open (nothing advanced the watermark past it)
    assert ("a.example", 0, 2) in rows
    assert ("b.example", 5, 1) in rows
    assert ("a.example", 0, 1) in rows  # minute 360 % 60 == 0
    assert not any(h == "c.example" for h, _, _ in rows)


def test_merge_sessions_late_events():
    """Late events BEFORE a pending session's start: within the gap
    they extend session_start downward; beyond it they form their own
    earlier session; BETWEEN two pending sessions they may bridge
    them into one (the case eager emission can never get right)."""
    from neleval_spark.streaming.sessions import _merge_sessions

    # in-gap late event extends start (and counts)
    assert _merge_sessions([4400], 1800, [(5000, 5100, 2)]) == \
        [(4400, 5100, 3)]
    # beyond-gap late event is its own session
    assert _merge_sessions([1000], 1800, [(5000, 5100, 2)]) == \
        [(1000, 1000, 1), (5000, 5100, 2)]
    # bridging: the late event is within gap of BOTH pending sessions
    assert _merge_sessions([3500], 1800, [(0, 2000, 2),
                                          (5000, 5100, 2)]) == \
        [(0, 5100, 5)]


def test_stream_sessions_late_event_extends_pending(spark, tmp_path):
    """Round-3 ADVICE regression: an event that gap-closes a session
    must NOT force eager emission — a later-arriving event that the
    watermark still admits and that falls within the gap of that
    session extends it, yielding ONE merged session row, never a
    split/overlapping pair."""
    import datetime as dt

    from neleval_spark.streaming import (stream_host_sessions,
                                         stream_pages)
    from neleval_spark.streaming.ingest import PAGES_SCHEMA

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def page(minutes):
        ts = t0 + dt.timedelta(minutes=minutes)
        return (f"https://a.example/p{minutes}", ts, b"<p>x</p>",
                "x", "en")

    pages_dir = str(tmp_path / "pages")
    # batch 1: session (0,10) then a gap-closing fetch at minute 70
    # (gap=30).  Eager emission would flush (0,10,2) here.
    spark.createDataFrame(
        [page(0), page(10), page(70)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)
    # batch 2: late event at minute 35 — above the watermark
    # (70-60=10), within gap of (0,10): must extend it to (0,35,3)
    spark.createDataFrame(
        [page(35)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)
    # batch 3: far-future fetch advances the watermark past both
    # pending sessions' end+gap, making them final
    spark.createDataFrame(
        [page(600)],
        PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(pages_dir)

    stream = stream_pages(spark, pages_dir, max_files_per_trigger=1)
    q = (
        stream_host_sessions(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory").queryName("late_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = sorted(
        (r["session_start"].minute, r["n_docs"])
        for r in spark.sql("SELECT * FROM late_sessions").collect())
    # one MERGED session (0..35, 3 docs) + the minute-70 session;
    # no (0,10,2)/(35,35,1) split pair
    assert rows == [(0, 3), (10, 1)]  # minute 70 % 60 == 10


def test_fold_settled_pure():
    from neleval_spark.streaming.intervals import _fold_settled

    # fresh key: one run forms, nothing closes
    run, closed = _fold_settled(None, [(0, "h1"), (10, "h1")])
    assert run == (0, 10, 2, "h1") and closed == []
    # hash change closes the run AT the changing snapshot's ts
    run, closed = _fold_settled(run, [(20, "h2"), (30, "h1")])
    assert closed == [((0, 10, 2, "h1"), 20), ((20, 20, 1, "h2"), 30)]
    assert run == (30, 30, 1, "h1")
    # no settled snapshots: no change
    assert _fold_settled(run, []) == (run, [])


def test_stream_snapshot_runs_matches_batch(spark, tmp_path):
    """Streamed closed intervals == the batch operator's closed
    intervals on the same fetch history, including an out-of-order
    different-hash snapshot that SPLITS a pending run."""
    import datetime as dt

    from neleval_spark.functions.corpusops import snapshot_intervals
    from neleval_spark.streaming import stream_snapshot_runs

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def snap(url, minutes, h):
        return (url, t0 + dt.timedelta(minutes=minutes), h)

    schema = "url string, warc_ts timestamp, content_hash string"
    d = str(tmp_path / "snaps")
    # batch 1: u1 changes h1->h2->h1; u4 h1 twice (gap hides a late
    # h2); u2 single open run
    b1 = [snap("u1", 0, "h1"), snap("u1", 10, "h1"),
          snap("u1", 20, "h2"), snap("u1", 30, "h1"),
          snap("u4", 0, "h1"), snap("u4", 40, "h1"),
          snap("u2", 5, "hx")]
    # batch 2: a LATE but admissible u4 snapshot lands between the
    # two pending ones and must split them; u1's open run extends
    b2 = [snap("u4", 20, "h2"), snap("u1", 360, "h1")]
    # batch 3: far-future fetch advances the watermark past
    # everything above (wm = 720 - 60 = 660 min)
    b3 = [snap("u3", 720, "hz")]
    for b in (b1, b2, b3):
        spark.createDataFrame(b, schema).coalesce(1) \
            .write.mode("append").parquet(d)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (stream_snapshot_runs(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("snap_runs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r["url"], r["content_hash"],
            int(r["valid_from"].timestamp()),
            int(r["valid_to"].timestamp()), r["n_snapshots"])
           for r in spark.sql("SELECT * FROM snap_runs").collect()}

    batch = snapshot_intervals(
        spark.createDataFrame(b1 + b2 + b3, schema),
        value_col="content_hash")
    want = {(r["url"], r["content_hash"], r["valid_from_ms"] // 1000,
             r["valid_to_ms"] // 1000, r["n_snapshots"])
            for r in batch.collect() if r["valid_to_ms"] != -1}
    assert got == want
    # the late h2 split u4's history into three runs, two closed
    assert sum(1 for u, *_ in got if u == "u4") == 2
    # open runs (u2, u3, u1's last) are never emitted by the stream
    assert not any(u in ("u2", "u3") for u, *_ in got)
