"""Structured-data markup extraction: hand-built pages covering
blocks/arrays/@graph/blank nodes/malformed JSON/unsafe keys, the
meta-tag attribute-order and entity cases, and a differential vs a
pure-Python re+json replica on the JSON-LD flattening."""

import json as _json

from pyspark.sql import functions as F

from neleval_spark.pipeline.markup import (
    jsonld_blocks, jsonld_triples, markup_as_triples, meta_tags)

PAGES_SCHEMA = "url string, html string"


def _wrap(*blocks):
    scripts = "".join(
        f'<script type="application/ld+json">{b}</script>'
        for b in blocks)
    return f"<html><head>{scripts}</head><body>x</body></html>"


def test_jsonld_blocks_and_basic_triples(spark):
    html = _wrap('{"@id":"e1","@type":"Article","name":"N",'
                 '"wordCount":7}')
    df = spark.createDataFrame([("u1", html)], PAGES_SCHEMA)
    assert jsonld_blocks(df).count() == 1
    got = {(r["pred"]): (r["subj"], r["obj"], r["kind"])
           for r in jsonld_triples(df).collect()}
    assert got == {
        "@type": ("e1", "Article", "scalar"),
        "name": ("e1", "N", "scalar"),
        "wordCount": ("e1", "7", "scalar"),
    }


def test_jsonld_array_graph_and_blank_nodes(spark):
    html = _wrap(
        '[{"a":1},{"@id":"x","b":"v"}]',
        '{"@context":"https://schema.org","@graph":'
        '[{"@id":"g1","p":{"k":2}},{"q":[1,2]}]}')
    df = spark.createDataFrame([("u1", html)], PAGES_SCHEMA)
    rows = jsonld_triples(df).collect()
    got = {(r["block"], r["node"], r["pred"]):
           (r["subj"], r["obj"], r["kind"]) for r in rows}
    assert got[(0, 0, "a")] == ("u1#0.0", "1", "scalar")
    assert got[(0, 1, "b")] == ("x", "v", "scalar")
    assert got[(1, 0, "p")] == ("g1", '{"k":2}', "object")
    assert got[(1, 1, "q")] == ("u1#1.1", "[1,2]", "array")
    assert len(got) == len(rows) == 4


def test_jsonld_bad_nodes_surfaced_and_odd_keys_kept(spark):
    html = _wrap(
        "{not json",                       # malformed block
        '[3, {"@id":"ok","fine":1,"c d":2,"a.b":3}]',
    )  # scalar array member; dotted/spaced keys are ordinary keys
    df = spark.createDataFrame([("u1", html)], PAGES_SCHEMA)
    stats = {}
    rows = jsonld_triples(df, stats=stats).collect()
    assert stats == {"bad_nodes": 2}    # "{not json" + the bare 3
    assert sorted((r["subj"], r["pred"], r["obj"]) for r in rows) \
        == [("ok", "a.b", "3"), ("ok", "c d", "2"),
            ("ok", "fine", "1")]


def test_jsonld_null_value_and_as_triples(spark):
    html = _wrap('{"@id":"e","keep":"y","gone":null}')
    df = spark.createDataFrame([("u1", html)], PAGES_SCHEMA)
    flat = jsonld_triples(df)
    kinds = {r["pred"]: r["kind"] for r in flat.collect()}
    assert kinds == {"keep": "scalar", "gone": "null"}
    t = markup_as_triples(flat).collect()
    assert [(r["subj"], r["pred"], r["obj"]) for r in t] \
        == [("e", "keep", "y")]


def test_meta_tags_attribute_order_and_entities(spark):
    html = ('<head><meta property="og:title" content="A &amp; B"/>'
            '<meta content="desc &amp;lt; x" name="description">'
            '<meta charset="utf-8">'
            '<META NAME="robots" CONTENT="noindex">'
            '<meta property="og:image" content="">'
            "</head>")
    df = spark.createDataFrame([("u1", html)], PAGES_SCHEMA)
    got = {r["key"]: r["content"] for r in meta_tags(df).collect()}
    assert got == {"og:title": "A & B",
                   "description": "desc &lt; x",
                   "robots": "noindex"}


def _python_jsonld(url, html):
    """Independent replica: re for block split, json for parsing."""
    import re

    out = []
    blocks = re.findall(
        r'(?is)<script[^>]*type\s*=\s*["\']application/ld\+json'
        r'["\'][^>]*>(.*?)</script', html)
    for b, txt in enumerate(blocks):
        txt = txt.strip()
        try:
            top = _json.loads(txt)
        except ValueError:
            continue
        if isinstance(top, list):
            nodes = top
        elif isinstance(top, dict) and "@graph" in top:
            nodes = top["@graph"]
            if not isinstance(nodes, list):
                continue
        else:
            nodes = [top]
        for n, node in enumerate(nodes):
            if not isinstance(node, dict):
                continue
            subj = node.get("@id") or f"{url}#{b}.{n}"
            seen = {}
            for k, v in node.items():
                seen[k] = v  # json dup keys: last wins (map parse)
            for k, v in seen.items():
                if k in ("@id", "@context"):
                    continue
                if v is None:
                    obj, kind = None, "null"
                elif isinstance(v, dict):
                    obj = _json.dumps(v, separators=(",", ":"))
                    kind = "object"
                elif isinstance(v, list):
                    obj = _json.dumps(v, separators=(",", ":"))
                    kind = "array"
                elif isinstance(v, bool):
                    obj, kind = ("true" if v else "false"), "scalar"
                else:
                    obj, kind = str(v), "scalar"
                out.append((url, b, n, subj, k, obj, kind))
    return sorted(out, key=lambda r: (r[1], r[2], r[4]))


def test_differential_vs_python_replica(spark):
    # integer-only numbers: get_json_object canonicalizes floats
    pages = [
        ("u1", _wrap('{"@id":"e1","@type":"Org","n":3,'
                     '"addr":{"@type":"Postal","city":"X"},'
                     '"tags":["a","b"],"ok":true,"miss":null}')),
        ("u2", _wrap('[{"x":1},{"@id":"i2","y":"s"},7]',
                     '{"@graph":[{"z":2}],"@id":"env"}')),
        ("u3", "<html>no markup</html>"),
        ("u4", _wrap("][broken")),
    ]
    df = spark.createDataFrame(pages, PAGES_SCHEMA)
    got = sorted(
        ((r["url"], r["block"], r["node"], r["subj"], r["pred"],
          r["obj"], r["kind"])
         for r in jsonld_triples(df).collect()),
        key=lambda r: (r[0], r[1], r[2], r[4]))
    want = []
    for url, html in pages:
        want += _python_jsonld(url, html)
    want.sort(key=lambda r: (r[0], r[1], r[2], r[4]))
    assert got == want


def test_html_tables_header_ragged_nested_tags(spark):
    html = ("<body><table class=x>"
            "<tr><th>Name</th><th> Qty </th></tr>"
            "<tr><td><b>ab</b></td><td>3</td></tr>"
            "<tr><td>c &amp; d</td><td>4</td><td>extra</td></tr>"
            "</table>"
            "<table><tr><td>only-header</td></tr></table>"
            "<table><tr><th>k</th></tr><tr><td>v</td></tr></table>"
            "</body>")
    df = spark.createDataFrame([("u1", html)],
                               "url string, html string")
    from neleval_spark.pipeline.markup import html_tables
    got = {(r["table"], r["row"], r["col"]): (r["header"], r["value"])
           for r in html_tables(df).collect()}
    assert got == {
        (0, 1, 0): ("Name", "ab"),
        (0, 1, 1): ("Qty", "3"),
        (0, 2, 0): ("Name", "c & d"),
        (0, 2, 1): ("Qty", "4"),
        (0, 2, 2): (None, "extra"),   # ragged: beyond header width
        (2, 1, 0): ("k", "v"),        # table 1 header-only: no rows
    }


def test_html_tables_unclosed_row_dropped(spark):
    html = ("<table><tr><th>h</th></tr>"
            "<tr><td>kept</td></tr><tr><td>lost"  # no </tr>, no </td>
            "</table>")
    df = spark.createDataFrame([("u1", html)],
                               "url string, html string")
    from neleval_spark.pipeline.markup import html_tables
    got = [(r["row"], r["value"]) for r in html_tables(df).collect()]
    assert got == [(1, "kept")]


def test_run_pipeline_markup_second_entrance(spark, tmp_path):
    """markup=True unions publisher JSON-LD triples into the same
    sink/partition scheme as the NER stream."""
    from pyspark.sql import functions as F

    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import run_pipeline

    corpus = synth_corpus(spark, 30)
    block = ('<script type="application/ld+json">'
             '{"@id":"m1","@type":"Org","homepage":"h"}</script>')
    pages = corpus.withColumn(
        "html",
        F.when(F.col("url").endswith("0"),
               F.concat(F.col("html").cast("string"), F.lit(block))
               .cast("binary"))
        .otherwise(F.col("html")))
    out = run_pipeline(pages, kb_table(spark), markup=True)
    trips = out["triples"]
    mk = trips.where(F.col("subj") == "m1").collect()
    n_marked = pages.where(F.col("url").endswith("0")).count()
    got = {(r["pred"], r["obj"]) for r in mk}
    assert got == {("@type", "Org"), ("homepage", "h")}
    # one row per (url, triple): distinct within the markup slice
    assert len(mk) == 2 * n_marked
    # part_id follows the shared url-hash scheme
    for r in mk:
        assert r["part_id"] is not None and 0 <= r["part_id"] < 64
    # NER stream still present
    assert trips.where(F.col("pred") == "mentioned_in").count() > 0


def test_image_captions_pairs_resolution_and_filter(spark):
    from neleval_spark.pipeline.markup import image_captions
    html = ('<img src="/a.jpg" alt="A &amp; B" title="t1">'
            '<IMG ALT="up" SRC="b.png"/>'
            '<img src="http://cdn.x/c.gif" alt="">'   # empty alt
            '<img data-src="lazy.jpg" alt="lazy">'    # no real src
            '<img src="data:image/png;base64,xx" alt="inline">')
    pages = spark.createDataFrame(
        [("http://s.com/dir/p", html)], "url string, html string")
    got = {r["src"]: (r["src_abs"], r["alt"], r["title"])
           for r in image_captions(pages).collect()}
    assert got == {
        "/a.jpg": ("http://s.com/a.jpg", "A & B", "t1"),
        "b.png": ("http://s.com/dir/b.png", "up", ""),
        # data: scheme unresolvable but kept (alt non-empty)
        "data:image/png;base64,xx": (None, "inline", ""),
    }
    inv = image_captions(pages, require_alt=False)
    assert inv.count() == 4  # + the empty-alt cdn image


def test_microdata_flat_scopes_and_value_rules(spark):
    from neleval_spark.pipeline.markup import microdata_triples
    html = ('<body><div itemscope '
            'itemtype="https://schema.org/Product">'
            '<span itemprop="name">Widget &amp; Co</span>'
            '<meta itemprop="sku" content="S1">'
            '<a itemprop="url" href="/w">see</a>'
            '<time itemprop="released" datetime="2024-01-02">'
            'Jan 2</time>'
            '<div itemprop="brand" itemscope '
            'itemtype="https://schema.org/Brand">'
            '<span itemprop="name">Acme</span></div>'
            '</div>'
            '<p data-itemscope="x">not a scope</p>'
            '<section itemscope><b itemprop="k">v</b></section>'
            "</body>")
    df = spark.createDataFrame([("u1", html)],
                               "url string, html string")
    rows = microdata_triples(df).collect()
    got = {(r["scope"], r["pred"]): (r["subj"], r["itemtype"],
                                     r["obj"]) for r in rows}
    assert got == {
        (1, "name"): ("u1#md1", "https://schema.org/Product",
                      "Widget & Co"),
        (1, "sku"): ("u1#md1", "https://schema.org/Product", "S1"),
        (1, "url"): ("u1#md1", "https://schema.org/Product", "/w"),
        (1, "released"): ("u1#md1", "https://schema.org/Product",
                          "2024-01-02"),
        # nested scope: its OWN props attach to it, not the parent
        (2, "name"): ("u1#md2", "https://schema.org/Brand", "Acme"),
        # untyped scope still yields rows
        (3, "k"): ("u1#md3", "", "v"),
    }
    assert len(rows) == len(got)
