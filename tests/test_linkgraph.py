"""Web link-graph construction (functions/linkgraph.py): URL
canonicalization contract N1-N9, anchor extraction + reference
resolution and host-edge aggregation."""

import pytest
from pyspark.sql import functions as F

from neleval_spark.functions.linkgraph import (
    anchor_priors, extract_anchors, extract_links,
    host_cocitation, host_edges, host_of, normalize_url,
    registered_domain)


NORM_CASES = [
    # every N-step hit at least once
    ("  HTTP://WWW.Ex.COM:80/a/./b/../c?utm_source=x&b=2&a=1#frag  ",
     "http://www.ex.com/a/c?a=1&b=2"),
    ("https://Host.org:443/", "https://host.org"),
    ("https://host.org:8443/p/", "https://host.org:8443/p/"),
    ("http://h.com:443/x", "http://h.com:443/x"),   # not http's default
    ("http://h.com?fbclid=9&gclid=8&msclkid=7", "http://h.com"),
    ("http://h.com/x?z=1&y=2", "http://h.com/x?y=2&z=1"),
    ("http://h.com/a/b/c/../../d", "http://h.com/a/d"),
    ("ftp://files.org/x", "ftp://files.org/x"),     # normalized, kept
    ("/rooted/path", None),                          # not absolute
    ("page.html", None),
    ("", None),
]


def test_normalize_url_contract(spark):
    df = spark.createDataFrame([(u,) for u, _ in NORM_CASES],
                               "u string")
    got = [r["c"] for r in
           df.select(normalize_url(F.col("u")).alias("c")).collect()]
    for (u, want), g in zip(NORM_CASES, got):
        assert g == want, (u, want, g)


def test_extract_links_resolution_branches(spark):
    pages = spark.createDataFrame([
        ("http://a.com/dir/page.html",
         '<html><a href="http://B.com/x?utm_source=1&q=2">l</a>'
         '<A class="z" HREF="//c.com/y#f">l</a>'
         '<a href="/root">l</a>'
         '<a href="sub/rel.html">l</a>'
         '<a href="../up.html">l</a>'
         '<a href="mailto:x@y.z">l</a>'
         '<a href="#frag">l</a>'
         '<a href="">l</a>'
         '<a href="javascript:void(0)">l</a></html>'),
        # origin-only source url: dir-relative resolves against '/'
        ("http://d.com", '<a href="p.html">l</a>'),
    ], "url string, html string")
    got = sorted(r["dst"] for r in extract_links(pages).collect())
    assert got == sorted([
        "http://b.com/x?q=2",
        "http://c.com/y",
        "http://a.com/root",
        "http://a.com/dir/sub/rel.html",
        "http://a.com/up.html",
        "http://d.com/p.html",
    ]), got


def test_extract_links_binary_html(spark):
    pages = spark.createDataFrame(
        [("http://a.com/", '<a href="http://b.com/">l</a>'.encode())],
        "url string, html binary")
    assert [r["dst"] for r in extract_links(pages).collect()] \
        == ["http://b.com"]


def test_host_edges_counts_and_self_loop_policy(spark):
    links = spark.createDataFrame([
        ("http://a.com/1", "http://b.com/x"),
        ("http://a.com/2", "http://b.com/y"),
        ("http://a.com/3", "http://a.com/inside"),
        ("http://b.com/1", "https://a.com/z"),   # scheme ignored by host
    ], "src string, dst string")
    e = {(r["src_host"], r["dst_host"]): r["n_links"]
         for r in host_edges(links).collect()}
    assert e == {("a.com", "b.com"): 2, ("b.com", "a.com"): 1}
    e2 = {(r["src_host"], r["dst_host"]): r["n_links"]
          for r in host_edges(links, keep_self=True).collect()}
    assert e2[("a.com", "a.com")] == 1
    assert host_edges(links, min_count=2).count() == 1


def test_host_of_strips_port_and_case(spark):
    df = spark.createDataFrame(
        [("HTTPS://WWW.Ex.COM:8443/p?q=1#f",), ("not a url",)],
        "u string")
    got = [r["h"] for r in
           df.select(host_of(F.col("u")).alias("h")).collect()]
    assert got == ["www.ex.com", ""]


def test_linkgraph_plan_is_jvm_only(spark):
    """Extraction + canonicalization + host aggregation: no Python
    nodes, no Window — one partial-aggregated exchange only."""
    pages = spark.createDataFrame(
        [("http://a.com/", '<a href="http://b.com/">l</a>')],
        "url string, html string")
    plan = host_edges(extract_links(pages)) \
        ._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "Python" not in plan and "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_registered_domain_rules(spark):
    cases = [
        ("www.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),                  # bare suffix unchanged
        ("a.b.example.com", "example.com"),
        ("example.com", "example.com"),
        ("news.site.com.au", "site.com.au"),
        ("localhost", "localhost"),
        ("deep.cdn.x.net", "x.net"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [r["d"] for r in
           df.select(registered_domain(F.col("h")).alias("d"))
             .collect()]
    assert got == [w for _, w in cases], list(zip(cases, got))


def test_extract_anchors_text_and_drop_rules(spark):
    pages = spark.createDataFrame([
        ("http://a.com/dir/p.html",
         '<a href="http://b.com/x">Plain  text</a>'
         '<a class="z" href="wiki/E1">Entity <b>One</b></a>'
         '<a href="http://img.net/i"><img src="x.png"></a>'
         '<A HREF="/root"> padded \n words </a>'),
    ], "url string, html string")
    got = {(r["dst"], r["anchor"])
           for r in extract_anchors(pages).collect()}
    assert got == {
        ("http://b.com/x", "Plain text"),
        ("http://a.com/dir/wiki/E1", "Entity One"),
        ("http://a.com/root", "padded words"),
    }, got


def test_anchor_priors_case_fold_and_ratio(spark):
    anchors = spark.createDataFrame([
        ("s", "http://kb.org/A", "Apple"),
        ("s", "http://kb.org/A", "APPLE"),
        ("s", "http://kb.org/B", "apple"),
        ("s", "http://kb.org/C", "pear"),
    ], "src string, dst string, anchor string")
    got = {(r["alias"], r["dst"]): (r["n"], r["prior"])
           for r in anchor_priors(anchors).collect()}
    assert got == {
        ("apple", "http://kb.org/A"): (2, 0.666667),
        ("apple", "http://kb.org/B"): (1, 0.333333),
        ("pear", "http://kb.org/C"): (1, 1.0),
    }, got
    # min_count filters pairs but keeps whole-crawl priors
    kept = {(r["alias"], r["dst"]): r["prior"]
            for r in anchor_priors(anchors, min_count=2).collect()}
    assert kept == {("apple", "http://kb.org/A"): 0.666667}


def test_host_cocitation_pairs_dedup_and_hot_guard(spark):
    links = spark.createDataFrame([
        ("http://p1.io/a", "http://b.com/1"),
        ("http://p1.io/a", "http://b.com/2"),     # same host, 1 vote
        ("http://p1.io/a", "http://c.com/x"),
        ("http://p1.io/a", "http://p1.io/self"),  # own host excluded
        ("http://p2.io/a", "http://b.com/y"),
        ("http://p2.io/a", "http://c.com/z"),
        ("http://p2.io/a", "http://d.com/w"),
        ("http://p3.io/a", "http://b.com/only"),  # <2 hosts: no pair
    ], "src string, dst string")
    got = {(r["host_a"], r["host_b"]): r["n_pages"]
           for r in host_cocitation(links).collect()}
    assert got == {("b.com", "c.com"): 2, ("b.com", "d.com"): 1,
                   ("c.com", "d.com"): 1}, got
    # hot-page guard: a page citing >max_out hosts contributes nothing
    hot = links.union(spark.createDataFrame(
        [("http://hub.io/a", f"http://h{i}.net/x") for i in range(9)],
        "src string, dst string"))
    guarded = {(r["host_a"], r["host_b"]): r["n_pages"]
               for r in host_cocitation(hot, max_out=8).collect()}
    assert guarded == got
    assert host_cocitation(links, min_count=2).count() == 1


def test_anchor_and_cocitation_plans_are_jvm_only(spark):
    """anchor_priors: extraction + window, zero Python nodes;
    host_cocitation: two HashAggregates (page array, pair count),
    no SortMergeJoin/BroadcastJoin — the pair expansion is in-row."""
    pages = spark.createDataFrame(
        [("http://a.com/", '<a href="http://b.com/">t</a>'
                           '<a href="http://c.com/">u</a>')],
        "url string, html string")
    p1 = anchor_priors(extract_anchors(pages)) \
        ._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "Python" not in p1
    p2 = host_cocitation(extract_links(pages)) \
        ._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "Python" not in p2 and "Join" not in p2
    assert "Window" not in p2
