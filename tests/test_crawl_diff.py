"""Crawl-generation diff (pipeline/incremental.crawl_diff)."""

from neleval_spark.pipeline.incremental import crawl_diff


def test_statuses(spark):
    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", None)],
        "url string, content_hash int")
    new = spark.createDataFrame(
        [("a", 1), ("b", 9), ("e", 5), ("d", None)],
        "url string, content_hash int")
    out = {r["url"]: r for r in crawl_diff(old, new).collect()}
    assert out["a"]["status"] == "unchanged"
    assert out["b"]["status"] == "changed"
    assert out["c"]["status"] == "removed"
    assert out["e"]["status"] == "added"
    # both-null content hashes compare equal (eqNullSafe), not changed
    assert out["d"]["status"] == "unchanged"
    assert out["b"]["old_content"] == 2 and out["b"]["new_content"] == 9


def test_narrow_projection(spark):
    # wide page bodies never enter the join: output schema is fixed
    old = spark.createDataFrame([("a", 1)], "url string, content_hash int")
    new = spark.createDataFrame([("a", 1)], "url string, content_hash int")
    out = crawl_diff(old, new)
    assert out.columns == ["url", "status", "old_content", "new_content"]


def test_snapshot_intervals_runs(spark):
    from datetime import datetime

    from neleval_spark.functions.corpusops import snapshot_intervals

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # url a: h1 (2 fetches) -> h2 (1) -> h1 again (new run, 2)
        ("a", t(0), "h1", 0), ("a", t(10), "h1", 1),
        ("a", t(20), "h2", 2),
        ("a", t(30), "h1", 3), ("a", t(40), "h1", 4),
        # url b: single snapshot, open run
        ("b", t(5), "hb", 5),
        # url c: NULL hash run then a real one (NULL is a run too)
        ("c", t(0), None, 6), ("c", t(10), None, 7),
        ("c", t(20), "hc", 8),
    ]
    d = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, content_hash string, "
        "fetch_id long")
    out = snapshot_intervals(d, tiebreak="fetch_id")
    key = lambda x: (x[0], x[1] or "", x[2:])  # noqa: E731
    got = sorted(((r["url"], r["content_hash"], r["valid_from_ms"],
                   r["valid_to_ms"], r["n_snapshots"])
                  for r in out.collect()), key=key)

    def ms(s):
        import calendar
        return calendar.timegm(t(s).timetuple()) * 1000

    assert got == sorted([
        ("a", "h1", ms(0), ms(20), 2),
        ("a", "h2", ms(20), ms(30), 1),
        ("a", "h1", ms(30), -1, 2),
        ("b", "hb", ms(5), -1, 1),
        ("c", None, ms(0), ms(20), 2),
        ("c", "hc", ms(20), -1, 1),
    ], key=key)
    # interval cover: per url, n_snapshots sums to the fetch count
    per = {}
    for u, _, _, _, n in got:
        per[u] = per.get(u, 0) + n
    assert per == {"a": 5, "b": 1, "c": 3}


def test_snapshot_intervals_one_exchange(spark):
    """Every window partitions by the key: the whole plan shuffles
    exactly once (the second window stack re-sorts but must not
    re-exchange after the run-start filter)."""
    from neleval_spark.functions.corpusops import snapshot_intervals

    d = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "h", 1)],
        "url string, warc_ts string, content_hash string, "
        "fetch_id long")
    out = snapshot_intervals(d, tiebreak="fetch_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_fact_intervals_composite_key(spark):
    """Temporal-KG SCD-2: runs are per (subj, pred) — the same
    subject's two predicates evolve independently, and an object
    flip-flop re-opens a new interval rather than merging runs."""
    from datetime import datetime

    from neleval_spark.pipeline.kg import fact_intervals

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # e1 employer: acme (2 obs) -> globex (open)
        ("e1", "employer", "acme", t(0), 0),
        ("e1", "employer", "acme", t(10), 1),
        ("e1", "employer", "globex", t(20), 2),
        # e1 residence: interleaved timestamps, independent runs
        ("e1", "residence", "paris", t(5), 3),
        ("e1", "residence", "oslo", t(15), 4),
        ("e1", "residence", "paris", t(25), 5),
        # e2 employer: single open fact
        ("e2", "employer", "acme", t(0), 6),
    ]
    d = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
        "warc_ts timestamp, fetch_id long")
    out = fact_intervals(d, tiebreak="fetch_id")
    assert out.columns == ["subj", "pred", "obj", "valid_from_ms",
                           "valid_to_ms", "n_snapshots"]
    # still one exchange with the composite key (pre-execution plan,
    # as in test_snapshot_intervals_one_exchange — the post-AQE
    # string prints the reused exchange twice)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan

    def ms(s):
        import calendar
        return calendar.timegm(t(s).timetuple()) * 1000

    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted([
        ("e1", "employer", "acme", ms(0), ms(20), 2),
        ("e1", "employer", "globex", ms(20), -1, 1),
        ("e1", "residence", "paris", ms(5), ms(15), 1),
        ("e1", "residence", "oslo", ms(15), ms(25), 1),
        ("e1", "residence", "paris", ms(25), -1, 1),
        ("e2", "employer", "acme", ms(0), -1, 1),
    ])
