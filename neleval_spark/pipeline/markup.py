"""Embedded structured-data extraction (html → KG triples).

The Web Data Commons pipeline (Meusel et al. 2014; schema.org over
Common Crawl): real-world KGs are seeded from the JSON-LD blocks and
<meta> tags publishers embed in pages, not only from NER over prose.
This module turns a page table into subject–predicate–object rows
ready for the triple sink (`pipeline/triples.write_triples`) and the
merge/fusion ops downstream — the second, markup-side entrance into
the same KG the NER pipeline feeds.

Everything is JVM-side column expressions (regexp over the html
string, one ``from_json`` map/array parse per JSON-LD node for the
schemaless flattening) — a narrow, shuffle-free plan: at 100 TB this
runs as a pure map over the page scan with predicate pushdown
intact; no pandas, no collect, no exchange.

Known value canonicalizations (documented, deterministic): Spark's
``get_json_object`` re-serializes scalars and subtrees with Jackson,
so non-integer JSON numbers are normalized (``1.50`` → ``1.5``) and
nested objects come back minified with source key order. ``kind`` is
derived from the returned text's first character, so a STRING value
that itself starts with ``{``/``[`` is reported as object/array —
harmless for sink purposes (values travel as text regardless).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one <script type="application/ld+json">…</script> block, group 1 =
# the JSON payload; lazy body so adjacent blocks don't merge
_JSONLD_RE = (r'(?is)<script[^>]*type\s*=\s*["\']application/ld\+json'
              r'["\'][^>]*>(.*?)</script')
_META_RE = r"(?is)<meta\b[^>]*>"
# the attribute NAME must start after whitespace or a quote, or a
# lookalike like data-content=/data-name= matches first and wins (a
# \b would not help: '-' is a word boundary).  RE2-safe (no
# lookbehind) so oracles could replay it.
_KEY_ATTR_RE = (r'(?is)(?:^|[\s"\'])(?:property|name)\s*=\s*'
                r'["\']([^"\']+)["\']')
_CONTENT_ATTR_RE = r'(?is)(?:^|[\s"\'])content\s*=\s*["\']([^"\']*)["\']'


def _html_str(pages: DataFrame, html_col: str) -> Column:
    # binary html (the WARC reader's payload) casts to its utf-8 text
    return F.col(html_col).cast("string")


def jsonld_blocks(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """One row per embedded JSON-LD block: (url, block, json)."""
    return (pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.regexp_extract_all(
            _html_str(pages, html_col), F.lit(_JSONLD_RE), F.lit(1)))
        .alias("block", "json"))
        .withColumn("json", F.trim("json")))


def jsonld_triples(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html",
                   stats: dict | None = None) -> DataFrame:
    """Flatten every JSON-LD node into (url, block, node, subj, pred,
    obj, kind) rows.

    Node enumeration: a top-level array contributes each element; a
    top-level object with ``@graph`` contributes the graph members
    (the wrapper's own ``@context``/``@id`` are envelope, not data —
    WDC treats them the same way); otherwise the object itself is the
    single node.  ``subj`` is the node's ``@id`` or a deterministic
    blank-node id ``url#block.node``.  ``@context``/``@id`` keys are
    consumed, every other key (including ``@type``) becomes one row;
    ``kind`` marks scalar / object / array / null values, with
    object/array payloads kept as their (minified) JSON text so a
    second flattening pass or the sink can keep processing them.

    Malformed blocks and non-object array members yield no rows;
    the count is surfaced through ``stats`` (``bad_nodes``) when a
    dict is passed, never silently estimated.  Duplicate keys within
    one node keep the last occurrence (JSON-object map semantics).
    """
    blocks = jsonld_blocks(pages, url_col, html_col)
    # stage the @graph lookup: the CASE references it twice
    # (condition + from_json argument) and Spark's subexpression
    # elimination skips non-first WHEN branches, so inlined it would
    # parse the block twice; CollapseProject keeps the
    # multi-referenced non-cheap projection staged
    blocks = blocks.withColumn(
        "_graph", F.get_json_object("json", "$['@graph']"))
    nodes_arr = (
        F.when(F.startswith(F.col("json"), F.lit("[")),
               F.from_json("json", "array<string>"))
        .when(F.col("_graph").isNotNull(),
              F.from_json("_graph", "array<string>"))
        .otherwise(F.array(F.col("json"))))
    nodes = blocks.select(
        "url", "block",
        F.posexplode_outer(nodes_arr).alias("node", "j"))
    # ONE Jackson parse per node: the whole object becomes a
    # string→string map (scalars as their text, nested object/array
    # subtrees as minified JSON, json nulls as NULL values) that the
    # key explode and the @id lookup both read.  The earlier
    # json_object_keys + per-key get_json_object shape re-parsed the
    # node once per key WITH a per-row JSON-path parse (non-literal
    # paths are never compiled) — measured 8× slower at 120k pages
    # (PLANS.md "markup extraction").
    staged = nodes.select(
        "url", "block", "node",
        F.from_json("j", "map<string,string>").alias("_m"))
    if stats is not None:
        # a block that parses to no nodes (malformed json → NULL
        # array) or a node that is not an object (scalar array
        # member, malformed element) yields a NULL map
        stats["bad_nodes"] = staged.where(
            F.col("_m").isNull()).count()
    subj = F.coalesce(
        F.try_element_at("_m", F.lit("@id")),
        F.concat(F.col("url"), F.lit("#"), F.col("block"),
                 F.lit("."), F.col("node")))
    # explode() (non-outer) drops null/empty maps by itself — no
    # explicit null filter, which predicate pushdown would re-inline
    # as extra json parses (PLANS.md "Higher-order functions are
    # interpreted" / pushdown-inlining notes)
    keyed = (staged.select(
        "url", "block", "node", subj.alias("subj"),
        F.explode("_m").alias("pred", "obj"))
        .where(~F.col("pred").isin("@id", "@context")))
    kind = (F.when(F.col("obj").isNull(), "null")
            .when(F.startswith("obj", F.lit("{")), "object")
            .when(F.startswith("obj", F.lit("[")), "array")
            .otherwise("scalar"))
    return keyed.select("url", "block", "node", "subj", "pred",
                        "obj", kind.alias("kind"))


# minimal html-attribute entity decode, deterministic and mirrored
# 1:1 by the DuckDB oracle: the five standard entities, ampersand
# LAST so "&amp;lt;" decodes to the literal "&lt;"
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&")]


def meta_tags(pages: DataFrame, url_col: str = "url",
              html_col: str = "html") -> DataFrame:
    """OpenGraph / named <meta> extraction: (url, tag, key, content).

    One row per <meta> element that carries both a ``property`` or
    ``name`` attribute and a non-empty ``content`` attribute
    (attribute order free; ``<meta charset=…>`` and friends drop
    out).  Keys are kept verbatim (og: / twitter: / article:
    namespaces intact); content is attribute text with the five
    standard entities decoded.
    """
    tags = (pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.regexp_extract_all(
            _html_str(pages, html_col), F.lit(_META_RE), F.lit(0)))
        .alias("tag", "_t")))
    content = F.regexp_extract("_t", _CONTENT_ATTR_RE, 1)
    for ent, ch in _ENTITIES:
        content = F.replace(content, F.lit(ent), F.lit(ch))
    out = tags.select(
        "url", "tag",
        F.regexp_extract("_t", _KEY_ATTR_RE, 1).alias("key"),
        content.alias("content"))
    return out.where((F.col("key") != "") & (F.col("content") != ""))


_TABLE_RE = r"(?is)<table\b[^>]*>(.*?)</table"
_TR_RE = r"(?is)<tr\b[^>]*>(.*?)</tr"
_CELL_RE = r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]"
_INNER_TAG_RE = r"(?s)<[^>]+>"


def _clean_cell(c: Column) -> Column:
    """Cell/header html → text: strip inner tags, decode the five
    standard entities, collapse whitespace."""
    c = F.regexp_replace(c, _INNER_TAG_RE, " ")
    for ent, ch in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_tables(pages: DataFrame, url_col: str = "url",
                html_col: str = "html") -> DataFrame:
    """WDC WebTables-style relational extraction: every <table> on a
    page becomes (url, table, row, col, header, value) rows — the
    first <tr> is the header (WDC's layout heuristic), every later
    <tr> a data row, cells positional.

    Built entirely from regexp column expressions, so well-formed
    close tags are required (an unclosed <tr>/<td> drops that
    element) and a NESTED table terminates its parent at the inner
    </table> — the WDC extractors skip nested layout tables for the
    same reason.  Cell text is tag-stripped, entity-decoded and
    whitespace-collapsed; a data cell beyond the header width gets a
    NULL header (ragged row), a header column with no cell in some
    row simply has no row there.

    The header array is extracted from the table html BEFORE the row
    explode and carried alongside, so per-table header lookup costs
    no join and no shuffle — like the rest of the module this is a
    pure narrow map over the page scan.
    """
    tbls = (pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.regexp_extract_all(
            _html_str(pages, html_col), F.lit(_TABLE_RE), F.lit(1)))
        .alias("table", "_t"))
        .withColumn("_hdr", F.regexp_extract_all(
            F.regexp_extract("_t", _TR_RE, 1),
            F.lit(_CELL_RE), F.lit(1))))
    rows = (tbls.select(
        "url", "table", "_hdr",
        F.posexplode(F.regexp_extract_all(
            "_t", F.lit(_TR_RE), F.lit(1))).alias("row", "_r"))
        .where(F.col("row") >= 1))
    cells = rows.select(
        "url", "table", "row", "_hdr",
        F.posexplode(F.regexp_extract_all(
            "_r", F.lit(_CELL_RE), F.lit(1))).alias("col", "_c"))
    return cells.select(
        "url", "table", "row", "col",
        _clean_cell(F.try_element_at(
            "_hdr", F.col("col") + 1)).alias("header"),
        _clean_cell(F.col("_c")).alias("value"))


_IMG_TAG_RE = r"(?is)<img\b[^>]*>"
_SRC_ATTR_RE = r'(?is)(?:^|[\s"\'])src\s*=\s*["\']([^"\']+)["\']'
_ALT_ATTR_RE = r'(?is)(?:^|[\s"\'])alt\s*=\s*["\']([^"\']*)["\']'
_TITLE_ATTR_RE = r'(?is)(?:^|[\s"\'])title\s*=\s*["\']([^"\']*)["\']'


def image_captions(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html",
                   require_alt: bool = True) -> DataFrame:
    """LAION-style image–text pair extraction: one row per <img>
    that carries a quoted ``src`` — (url, img, src, src_abs, alt,
    title).  This is how web-scale multimodal training sets are
    seeded: the alt text is the page author's own caption, and the
    (src_abs, alt) pair joins the fetch loop (download by src_abs)
    and the multimodal feature family (functions/multimodal) on the
    fetched bytes.

    ``src_abs`` resolves relative srcs against the page url
    (linkgraph's RFC-3986 common cases; NULL for data:/other
    schemes — kept, the raw ``src`` still identifies inline
    images).  ``require_alt=True`` (default) keeps only rows with
    non-empty alt text — the caption-pair use case; pass False for
    a plain image inventory.  Attribute-name anchoring as elsewhere
    in this module (data-src= lookalikes cannot win).  Same narrow
    one-regexp+posexplode contract as meta_tags: zero shuffles at
    any corpus size.
    """
    from ..functions.linkgraph import _resolve

    tags = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.regexp_extract_all(
            _html_str(pages, html_col), F.lit(_IMG_TAG_RE),
            F.lit(0))).alias("img", "_t"))
    alt = F.regexp_extract("_t", _ALT_ATTR_RE, 1)
    for ent, ch in _ENTITIES:
        alt = F.replace(alt, F.lit(ent), F.lit(ch))
    title = F.regexp_extract("_t", _TITLE_ATTR_RE, 1)
    for ent, ch in _ENTITIES:
        title = F.replace(title, F.lit(ent), F.lit(ch))
    out = (tags.select(
        "url", "img",
        F.regexp_extract("_t", _SRC_ATTR_RE, 1).alias("src"),
        alt.alias("alt"), title.alias("title"))
        .where(F.col("src") != "")
        .withColumn("src_abs", _resolve(F.col("src"), F.col("url")))
        .select("url", "img", "src", "src_abs", "alt", "title"))
    if require_alt:
        out = out.where(F.col("alt") != "")
    return out


# split BEFORE every itemscope-bearing tag (Java-regex lookahead is
# fine: the gate's oracle is closed-form, nothing replays this
# pattern under RE2)
_ITEMSCOPE_SPLIT_RE = r'(?i)(?=<[^>]+[\s"\']itemscope[\s"\'>=])'
_ITEMTYPE_ATTR_RE = (r'(?is)(?:^|[\s"\'])itemtype\s*=\s*'
                     r'["\']([^"\']+)["\']')
_ITEMPROP_ATTR_RE = (r'(?is)(?:^|[\s"\'])itemprop\s*=\s*'
                     r'["\']([^"\']+)["\']')
# one itemprop-bearing tag plus its immediately-following text run
_PROP_HIT_RE = (r'(?is)<[^>]*[\s"\']itemprop\s*=\s*["\'][^"\']+'
                r'["\'][^>]*>[^<]*')


def microdata_triples(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html") -> DataFrame:
    """Flat microdata (itemscope/itemprop) extraction — the other
    half of the Web Data Commons corpus next to JSON-LD:
    (url, scope, subj, itemtype, pred, obj) rows, one subject per
    itemscope with a deterministic ``url#md<scope>`` id.

    FLAT-SCOPE semantics (documented simplification): the page is
    split immediately BEFORE every itemscope-bearing tag, so each
    property attaches to the nearest preceding scope start — which
    for well-formed microdata is its own scope, including nested
    scopes (whose properties correctly attach to the inner scope).
    What flattening drops is only the parent→child edge of a nested
    scope (WDC links them via blank nodes); a tag carrying BOTH
    itemprop and itemscope starts its own scope and its property
    name is kept on that scope's row as ``itemtype`` context.

    Property values follow the microdata value rules for the common
    shapes: ``content`` / ``href`` / ``src`` / ``datetime``
    attributes first, else the tag's immediately-following text run
    (tag-stripped shapes like <span itemprop=…><b>x</b></span>
    yield the text up to the first nested tag — '' if the value is
    wrapped, kept so the row is still countable).  Attribute names
    use the module's anchored form (data-itemprop= cannot match).

    One split + two explodes, all column expressions — the same
    zero-shuffle contract as the rest of the module.  ``scope`` is
    the segment index of the page split: deterministic per page,
    but its origin depends on whether content precedes the first
    scope (Java's split never emits a leading empty segment for a
    zero-width match at index 0), so treat it as an opaque
    within-page id, not a count.
    """
    segs = (pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.split(_html_str(pages, html_col),
                             _ITEMSCOPE_SPLIT_RE))
        .alias("scope", "_s"))
        .where(F.col("_s").rlike(
            r'(?is)^<[^>]*[\s"\']itemscope[\s"\'>=]')))
    segs = segs.withColumn(
        "_first", F.regexp_extract("_s", r"(?s)^<[^>]*>", 0))
    segs = segs.select(
        "url", "scope", "_s", "_first",
        F.concat(F.col("url"), F.lit("#md"),
                 F.col("scope").cast("string")).alias("subj"),
        F.regexp_extract("_first", _ITEMTYPE_ATTR_RE, 1)
        .alias("itemtype"))
    hits = segs.select(
        "url", "scope", "subj", "itemtype",
        F.explode(F.regexp_extract_all(
            # drop the scope's own first tag so a combined
            # itemprop+itemscope tag doesn't list itself as its
            # own property
            F.expr("substring(_s, length(_first) + 1)"),
            F.lit(_PROP_HIT_RE), F.lit(0))).alias("_h"))
    value = F.coalesce(
        F.nullif(F.regexp_extract("_h", _CONTENT_ATTR_RE, 1),
                 F.lit("")),
        F.nullif(F.regexp_extract(
            "_h", r'(?is)(?:^|[\s"\'])(?:href|src|datetime)\s*=\s*'
                  r'["\']([^"\']*)["\']', 1), F.lit("")),
        F.trim(F.regexp_extract("_h", r">([^<]*)$", 1)))
    obj = value
    for ent, ch in _ENTITIES:
        obj = F.replace(obj, F.lit(ent), F.lit(ch))
    return hits.select(
        "url", "scope", "subj", "itemtype",
        F.regexp_extract("_h", _ITEMPROP_ATTR_RE, 1).alias("pred"),
        obj.alias("obj"))


def markup_as_triples(flat: DataFrame) -> DataFrame:
    """Project `jsonld_triples` output onto the pipeline's triple
    shape (subj, pred, obj) so it can feed ``write_triples`` /
    ``merge_kg`` directly; object/array payloads stay as JSON text."""
    return flat.where(F.col("kind") != "null") \
        .select("subj", "pred", "obj")


def markup_sink_rows(pages: DataFrame, n_buckets: int) -> DataFrame:
    """The publisher JSON-LD of ``pages`` as triple-sink rows:
    :func:`markup_as_triples`' projection with the url kept, one row
    per distinct (subj, pred, obj, url), bucketed by url exactly as
    ``emit_triples`` buckets the NER rows."""
    from .triples import bucket_of

    return (jsonld_triples(pages)
            .where(F.col("kind") != "null")
            .select("subj", "pred", "obj", "url")
            .distinct()
            .withColumn("part_id", bucket_of(F.col("url"), n_buckets)))
