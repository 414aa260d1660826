"""Incremental construction across crawl generations
(pipeline/incremental.py): the incremental path must equal the full
rebuild EXACTLY — mentions and triples."""

import os
import re

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
    incremental step plus its sink write runs at most 21 Spark jobs
    here (39 before the NIL labels were read off the broadcast CC
    result and the sink was sized to one bucket; 35 while the page
    diff was a live join that every consumer recomputed and each
    scratch snapshot was read back through a schema-inference job)."""
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
    assert len(jobs) <= 21, len(jobs)


@pytest.fixture(scope="module")
def stored(spark, gen1, gen2, kb, tmp_path_factory):
    """The step's inputs as a crawl job reads them, parquet scans:
    both page generations and the previous generation's stored linked
    mentions."""
    from neleval_spark.pipeline.run import build_mentions

    d = tmp_path_factory.mktemp("stored")
    gen1.write.parquet(str(d / "prev"))
    gen2.write.parquet(str(d / "new"))
    build_mentions(gen1, kb, canonicalize=False) \
        .write.parquet(str(d / "prev_linked"))
    return tuple(spark.read.parquet(str(d / name))
                 for name in ("prev", "new", "prev_linked"))


def _executions(spark):
    """The SQL executions in the status store, oldest first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    while it.hasNext():
        yield it.next()


def _final_plans(spark, action) -> list[str]:
    """Run ``action()``; the tree form of the final (adaptive) plan of
    each SQL execution it started."""
    last = max((e.executionId() for e in _executions(spark)), default=-1)
    spark.conf.set("spark.sql.ui.explainMode", "extended")
    try:
        action()
    finally:
        spark.conf.unset("spark.sql.ui.explainMode")
    return [e.physicalPlanDescription().split("== Initial Plan ==")[0]
            for e in _executions(spark) if e.executionId() > last]


def _columns(node: str) -> list[str]:
    """Output names of a ``Project [...]`` or ``FileScan ... [...]``
    line: the alias of each computed item, else the attribute."""
    items, depth, cur = [], 0, ""
    for ch in node[node.index("[") + 1:]:
        if ch == "]" and depth == 0:
            break
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            items.append(cur)
            cur = ""
        else:
            cur += ch
    items.append(cur)
    return [re.sub(r"#\d+L?$", "", i.split(" AS ")[-1].strip())
            for i in items]


def _scan_exchanges(plan: str) -> list[tuple[str, list[str]]]:
    """(scanned directory name, shipped columns) of every exchange that
    sits directly above a file scan: only projections, filters and the
    columnar-to-row conversion between them."""
    lines = plan.split("\n")
    found = []
    for i, line in enumerate(lines):
        if not re.search(r"\+- Exchange ", line):
            continue
        shipped = None
        for below in lines[i + 1:]:
            node = re.sub(r"^[\s:+-]*(\*\(\d+\) )?", "", below)
            if node.startswith(("ColumnarToRow", "Filter")):
                continue
            if node.startswith("Project ["):
                shipped = shipped or _columns(node)
                continue
            if node.startswith("FileScan"):
                where = re.search(r"Location: \w+\(\d+ paths?\)\[([^\],]+)",
                                  node).group(1)
                found.append((os.path.basename(where.rstrip("/")),
                              shipped or _columns(node)))
            break
    return found


def _html_scans(plan: str) -> int:
    return len(re.findall(r"ReadSchema: struct<(?:[^>]*,)?html:", plan))


def test_incremental_step_ships_no_pages_or_stored_mentions(
        spark, stored, kb, tmp_path):
    """Over parquet inputs, one step plus its sink write shuffles no
    page body or candidate array and no stored-mention row: the
    (url, status) diff is written once and, being small, broadcast to
    every semi-join.  Each generation's html is read once, plus once
    more for the fresh pages (7 reads, one wide page exchange and three
    stored-mention exchanges while every consumer recomputed the diff
    as a live join)."""
    from neleval_spark.pipeline.incremental import incremental_triples
    from neleval_spark.pipeline.triples import write_triples

    plans = _final_plans(spark, lambda: write_triples(
        incremental_triples(*stored, kb), str(tmp_path / "sink"),
        run_id="gen-000002"))
    shipped = [x for p in plans for x in _scan_exchanges(p)]
    assert [x for x in shipped
            if {"html", "candidates"} & set(x[1])] == [], shipped
    assert [x for x in shipped if x[0] == "prev_linked"] == [], shipped
    assert sum(map(_html_scans, plans)) == 3


def test_incremental_step_releases_its_snapshots(spark, gen1, gen2, kb,
                                                 tmp_path):
    """A caller with its own ``spark.neleval.scratchDir`` frees a
    step's two snapshots (the diff and the fresh mentions) after the
    write, from the returned frame; the committed run reads back the
    same."""
    from neleval_spark.pipeline.incremental import incremental_triples
    from neleval_spark.pipeline.run import (
        build_mentions, release_materialized)
    from neleval_spark.pipeline.triples import read_triples, write_triples

    def fold(df):
        r = df.agg(F.count(F.lit(1)).alias("n"), F.expr(
            "bit_xor(xxhash64(subj, pred, obj))").alias("x")).first()
        return r["n"], r["x"]

    prev_linked = build_mentions(gen1, kb, canonicalize=False)
    scratch = str(tmp_path / "scratch")
    spark.conf.set("spark.neleval.scratchDir", scratch)
    try:
        t = incremental_triples(gen1, gen2, prev_linked, kb)
    finally:
        spark.conf.unset("spark.neleval.scratchDir")
    out = str(tmp_path / "sink")
    write_triples(t, out, run_id="gen-000002")
    committed = fold(read_triples(spark, out))
    dirs = [h._scratch_dir for h in t._materialized_deps]
    assert len(dirs) == 2
    assert all(os.path.dirname(d) == scratch and os.path.isdir(d)
               for d in dirs), dirs
    for h in t._materialized_deps:
        release_materialized(h)
    assert [d for d in dirs if os.path.exists(d)] == []
    assert fold(read_triples(spark, out)) == committed
