"""Bucketed mention storage: the sys×gold evaluation join must run
WITHOUT a shuffle when both sides are bucketed by docid, and scores
must equal the unbucketed path."""

import os

import pytest

E = "/root/reference/neleval/examples"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(E), reason="reference fixtures not present")


@pytest.fixture(scope="module")
def tables(spark):
    from neleval_spark.sources.tac import prepare_tac
    from neleval_spark.sources.bucketed import write_mentions_bucketed

    gold = prepare_tac(spark, f"{E}/tac_gold.tab", f"{E}/tac_gold.xml")
    sys_ = prepare_tac(spark, f"{E}/tac_system.tab",
                       f"{E}/tac_system.xml")
    write_mentions_bucketed(gold, "gold_b", n_buckets=4)
    write_mentions_bucketed(sys_, "sys_b", n_buckets=4)
    return gold, sys_


def test_bucketed_join_no_exchange(spark, tables):
    """A docid-prefixed equi-join over the two bucketed tables must
    shuffle NEITHER side: the bucketed scans report
    HashPartitioning(docid) and co-partition the sort-merge join.
    Broadcast is disabled so the test exercises the shuffle decision
    a 10^12-row × 10^12-row join would face (neither side broadcasts
    at scale)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        g = spark.table("gold_b").select("docid", "start", "end")
        s = spark.table("sys_b").select("docid", "start", "end")
        joined = s.join(g, ["docid", "start", "end"])
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # contrast: the same join over live (unbucketed) frames
        # exchanges both sides
        gold, sys_ = tables
        live = sys_.select("docid", "start", "end").join(
            gold.select("docid", "start", "end"),
            ["docid", "start", "end"])
        live.count()
        live_plan = live._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in live_plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucketed_scores_match(spark, tables):
    """evaluate() over the bucketed tables equals the live path."""
    from neleval_spark.measures import evaluate

    gold, sys_ = tables
    want = evaluate(sys_, gold, measures="tac14")
    got = evaluate(spark.table("sys_b"), spark.table("gold_b"),
                   measures="tac14")
    assert got == want


def test_bucketed_one_file_per_bucket(spark, tables):
    """bucketBy without an aligned repartition writes one file per
    (task, bucket); the writer repartitions on the bucket key first,
    so the table directory holds exactly n_buckets data files even
    when the input frame has many partitions."""
    from urllib.parse import urlparse

    from neleval_spark.sources.bucketed import write_mentions_bucketed

    gold, _ = tables
    write_mentions_bucketed(gold.repartition(16), "gold_fpb",
                            n_buckets=4)
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        files = [f for f in os.listdir(f"{wh}/gold_fpb")
                 if f.endswith(".parquet")]
        assert len(files) == 4, files
        assert (spark.table("gold_fpb").count()
                == spark.table("gold_b").count())
    finally:
        spark.sql("DROP TABLE IF EXISTS gold_fpb")


@pytest.mark.parametrize("name", ["a.b", "x/y", "..", "t-1", ""])
def test_bucketed_rejects_unsafe_table_names(spark, tables, name):
    """The stale-location cleanup rmtree's <warehouse>/<table>; any
    name that is not a plain identifier must be rejected before a
    path is built from it."""
    from neleval_spark.sources.bucketed import write_mentions_bucketed

    gold, _ = tables
    with pytest.raises(ValueError, match="A-Za-z0-9_"):
        write_mentions_bucketed(gold, name)
