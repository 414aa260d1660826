"""Incremental construction across crawl generations
(pipeline/incremental.py): the incremental path must equal the full
rebuild EXACTLY — mentions and triples."""

import pytest

from pyspark.sql import functions as F

N = 240


def _docid(col="url"):
    # urls are https://example.org/crawl/{doc_id:010d}
    return F.substring(F.col(col), -10, 10).cast("long")


@pytest.fixture(scope="module")
def gen1(spark):
    from neleval_spark.pipeline import synth_corpus

    df = synth_corpus(spark, N, seed=7).cache()
    yield df
    df.unpersist()  # leave the shared session's cache manager clean


@pytest.fixture(scope="module")
def gen2(spark, gen1):
    """Next generation: doc%3==2 removed, doc%3==1 rewritten (same
    url, seed-8 content), doc%3==0 byte-identical, plus 40 new urls."""
    from neleval_spark.pipeline import synth_corpus

    rewritten = synth_corpus(spark, N, seed=8)
    df = (
        gen1.where(_docid() % 3 == 0)
        .unionByName(rewritten.where(_docid() % 3 == 1))
        .unionByName(
            synth_corpus(spark, N + 40, seed=8).where(_docid() >= N))
    ).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def kb(spark):
    from neleval_spark.pipeline import kb_table

    return kb_table(spark)


def test_page_diff_statuses(spark, gen1, gen2):
    from neleval_spark.pipeline.incremental import page_diff

    d = page_diff(gen1, gen2)
    by = {r["status"]: r["n"] for r in
          d.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by["added"] == 40
    assert by["removed"] == N // 3
    assert by["unchanged"] == N // 3
    # seed-8 rewrite CAN collide per-url only if generation produced
    # identical bytes — it doesn't for this corpus
    assert by["changed"] == N // 3


def test_incremental_equals_full_rebuild(spark, gen1, gen2, kb):
    from neleval_spark.pipeline.incremental import (
        incremental_linked, incremental_triples)
    from neleval_spark.pipeline.run import build_mentions

    prev_linked = build_mentions(gen1, kb, canonicalize=False)

    inc = incremental_linked(gen1, gen2, prev_linked, kb)
    full = build_mentions(gen2, kb, canonicalize=False)
    cols = ["url", "start", "end", "surface", "eid"]
    assert sorted(map(tuple, inc.select(*cols).collect())) == \
        sorted(map(tuple, full.select(*cols).collect()))

    # triple-level equality through the global stages
    from neleval_spark.pipeline.canonicalize import canonicalize_nils
    from neleval_spark.pipeline.triples import emit_triples

    t_inc = incremental_triples(gen1, gen2, prev_linked, kb)
    t_full = emit_triples(canonicalize_nils(full))
    cols = ["subj", "pred", "obj", "url"]
    assert sorted(map(tuple, t_inc.select(*cols).collect())) == \
        sorted(map(tuple, t_full.select(*cols).collect()))


def test_incremental_only_recomputes_churn(spark, gen1, gen2, kb):
    """The fresh path must see ONLY changed+added pages (the purity
    boundary claim): a poisoned KB on the fresh path may not alter
    rows carried forward for unchanged urls."""
    from neleval_spark.pipeline.incremental import page_diff
    from neleval_spark.pipeline.run import build_mentions

    prev_linked = build_mentions(gen1, kb, canonicalize=False)
    d = page_diff(gen1, gen2)
    unchanged = d.where(F.col("status") == "unchanged").select("url")
    kept_urls = {r["url"] for r in
                 prev_linked.join(unchanged, "url", "left_semi")
                 .select("url").distinct().collect()}
    assert kept_urls  # non-trivial reuse actually happens
    gen2_urls = {r["url"] for r in
                 gen2.select("url").distinct().collect()}
    assert kept_urls <= gen2_urls


def test_incremental_sink_job_count(spark, gen1, gen2, kb, tmp_path):
    """The construction tail's fixed cost, counted in jobs: one
    incremental step plus its sink write runs at most 35 Spark jobs
    here (39 before the NIL labels were read off the broadcast CC
    result and the sink was sized to one bucket)."""
    from neleval_spark.pipeline.incremental import incremental_triples
    from neleval_spark.pipeline.run import build_mentions
    from neleval_spark.pipeline.triples import write_triples

    prev_linked = build_mentions(gen1, kb, canonicalize=False)
    sc = spark.sparkContext
    sc.setJobGroup("incremental-sink-jobs", "job count")
    try:
        t = incremental_triples(gen1, gen2, prev_linked, kb)
        write_triples(t, str(tmp_path / "sink"), run_id="gen-000002")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("incremental-sink-jobs")
    assert len(jobs) <= 35, len(jobs)
