"""Web link-graph construction from raw html — hyperlink
extraction, URL canonicalization and host-level edge aggregation.

No reference counterpart (wikilinks/neleval is evaluation-side);
this is the public-knowledge web-curation step that turns the
BASELINE.json input table (url, warc_ts, html, ...) into the graph
signals a KG-construction pipeline needs: which hosts link to
which.

Spark-first design — every step below is a JVM column expression
(regexp / array / higher-order functions; the scalar/regexp parts
run in whole-stage codegen, higher-order functions evaluate as
interpreted JVM expressions — CodegenFallback, see PLANS.md
"higher-order functions are interpreted"); there is NO Python in
the path.  The only wide operations
are the one inherent explode (one output row per anchor) and the one
inherent groupBy (host-pair counts, map-side combinable — a hub host
pair partially aggregates on every input partition before the
exchange, so popular hosts never funnel raw anchor rows through one
task).  At 10^12 pages nothing else shuffles.

URL canonicalization contract (steps N1-N9; the DuckDB oracle in
``__spark_entry__`` mirrors them number-for-number, which is what
lets the driver hash-check this cross-engine):

  N1. trim surrounding whitespace
  N2. drop the fragment (``#`` to end)
  N3. split base (before ``?``) from the query string
  N4. lowercase the ``scheme://host[:port]`` prefix (path and query
      keep their case); a url with no ``scheme://`` prefix
      normalizes to NULL — callers resolve relative refs FIRST
      (see ``extract_links``)
  N5. drop default ports (``http://…:80``, ``https://…:443``)
  N6. best-effort dot-segment collapse on the path: two passes of
      ``/./`` → ``/`` then four passes of ``/seg/../`` → ``/`` —
      a FIXED pass count, identical on both engines, so deeper
      nesting is left as-is rather than looped over
  N7. (composition of N4-N6)
  N8. drop a lone trailing slash (``http://h/`` → ``http://h``)
  N9. drop tracking params (``utm_*``, ``fbclid``, ``gclid``,
      ``msclkid``), sort the survivors bytewise, rejoin with ``&``

The contract is ASCII-exact; non-ASCII urls pass through the same
steps but parameter ordering then depends on each engine's string
collation (the synthetic corpora are ASCII).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme per RFC 3986: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME = "[a-zA-Z][a-zA-Z0-9+.-]*"
# query params stripped by N9 (shared with the DuckDB oracle)
TRACKING_PARAM_RE = "^(utm_[a-zA-Z0-9_]+|fbclid|gclid|msclkid)="
# href attribute of an anchor tag, double-quoted (shared Java∩RE2)
HREF_RE = '(?i)<a\\s[^>]*href="([^"]*)"'


def _collapse_dots(path: Column) -> Column:
    """N6: fixed-pass dot-segment collapse (2× ``/./``, 4× ``/x/../``)."""
    for _ in range(2):
        path = F.regexp_replace(path, "/\\./", "/")
    for _ in range(4):
        path = F.regexp_replace(path, "/[^/]+/\\.\\./", "/")
    return path


def normalize_url(u: Column) -> Column:
    """Canonicalize an ABSOLUTE url per steps N1-N9 (module doc).

    Returns NULL for inputs without a ``scheme://`` prefix — resolve
    relative references first (``extract_links`` does).
    """
    u = F.trim(u)                                            # N1
    u = F.regexp_replace(u, "#.*", "")                       # N2
    base = F.regexp_extract(u, "^[^?]*", 0)                  # N3
    query = F.regexp_extract(u, "^[^?]*\\?(.*)", 1)
    schemehost = F.regexp_extract(base, f"^{_SCHEME}://[^/]*", 0)  # N4
    rest = base.substr(F.length(schemehost) + F.lit(1), F.length(base))
    sh = F.lower(schemehost)
    sh = F.regexp_replace(sh, "^(http://[^/:]*):80$", "$1")  # N5
    sh = F.regexp_replace(sh, "^(https://[^/:]*):443$", "$1")
    rest = _collapse_dots(rest)                              # N6
    base2 = F.concat(sh, rest)                               # N7
    base2 = F.regexp_replace(                                # N8
        base2, f"^({_SCHEME}://[^/]+)/$", "$1")
    parts = F.filter(                                        # N9
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    canon = F.concat(
        base2,
        F.when(F.size(parts) > 0,
               F.concat(F.lit("?"), F.array_join(F.array_sort(parts), "&")))
         .otherwise(F.lit("")))
    return F.when(schemehost == "", F.lit(None).cast("string")) \
            .otherwise(canon)


def host_of(u: Column) -> Column:
    """Lowercased host of an absolute url ('' when there is none)."""
    return F.lower(F.regexp_extract(u, f"^{_SCHEME}://([^/?#:]+)", 1))


def _resolve(href: Column, src: Column) -> Column:
    """RFC-3986-style reference resolution, the common cases:
    absolute http(s) kept; other schemes (mailto:, javascript:,
    data:, …) dropped; ``//host/…`` takes the source scheme;
    ``/path`` takes the source origin; ``seg`` resolves against the
    source directory; empty / fragment-only dropped.  Dot segments
    are collapsed later by normalize_url N6."""
    href = F.trim(href)
    src_base = F.regexp_extract(src, "^[^?#]*", 0)
    src_scheme = F.lower(F.regexp_extract(src, f"^({_SCHEME}):", 1))
    src_origin = F.regexp_extract(src, f"^{_SCHEME}://[^/?#]*", 0)
    # directory of the source path ('http://h/a/b' → 'http://h/a/';
    # an origin-only source gets '/': the '/[^/]*$' replace must not
    # eat into the '//' of the scheme separator
    src_dir = F.when(
        src_base.rlike(f"^{_SCHEME}://[^/]*$"),
        F.concat(src_base, F.lit("/"))
    ).otherwise(F.regexp_replace(src_base, "/[^/]*$", "/"))
    return (
        F.when((href == "") | href.startswith("#"),
               F.lit(None).cast("string"))
         .when(href.rlike("^(?i)https?://"), href)
         .when(href.rlike(f"^{_SCHEME}:"), F.lit(None).cast("string"))
         .when(href.startswith("//"),
               F.concat(src_scheme, F.lit(":"), href))
         .when(href.startswith("/"), F.concat(src_origin, href))
         .otherwise(F.concat(src_dir, href))
    )


def extract_links(pages: DataFrame, url: str = "url",
                  html: str = "html") -> DataFrame:
    """(url, html) pages → one (src, dst) row per resolvable anchor.

    ``src`` is the page url as given; ``dst`` is the canonicalized
    absolute target (normalize_url N1-N9 after reference
    resolution).  Anchors with non-http(s) schemes, fragment-only or
    empty hrefs are dropped.  The html column may be binary (UTF-8
    decoded) or string.

    Scale: regexp_extract_all + one explode — the explode is the
    output's cardinality, not overhead; everything else is
    whole-stage codegen.  No shuffle at all (narrow map)."""
    html_col = F.col(html)
    if dict(pages.dtypes)[html] == "binary":
        html_col = F.decode(html_col, "UTF-8")
    hrefs = F.regexp_extract_all(html_col, F.lit(HREF_RE), 1)
    exploded = (pages
                .select(F.col(url).alias("src"),
                        F.explode(hrefs).alias("href")))
    dst = normalize_url(_resolve(F.col("href"), F.col("src")))
    return (exploded
            .select("src", dst.alias("dst"))
            .where(F.col("dst").isNotNull()
                   & F.col("dst").rlike("^https?://")))


def host_edges(links: DataFrame, keep_self: bool = False,
               min_count: int = 1) -> DataFrame:
    """(src, dst) link rows → (src_host, dst_host, n_links) edges.

    Self-loops (intra-host links) are dropped by default — they
    carry no authority signal and on real crawls dominate the edge
    count.  ``min_count`` prunes rare pairs after aggregation.

    Scale: ONE groupBy on the (src_host, dst_host) pair with
    map-side partial counts — a hub pair collapses to one row per
    input partition before the exchange."""
    e = links.select(host_of(F.col("src")).alias("src_host"),
                     host_of(F.col("dst")).alias("dst_host"))
    e = e.where((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if not keep_self:
        e = e.where(F.col("src_host") != F.col("dst_host"))
    out = (e.groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links")))
    if min_count > 1:
        out = out.where(F.col("n_links") >= min_count)
    return out


# Multi-part public suffixes recognized by registered_domain — an
# embedded, documented SUBSET of the Mozilla Public Suffix List
# (publicsuffix.org; the full PSL is data, not code: swap this tuple
# for a broadcast of the real list at deployment, same expression).
MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.br", "org.br", "net.br", "gov.br",
    "co.in", "org.in", "net.in",
    "com.cn", "org.cn", "net.cn", "gov.cn", "edu.cn",
    "co.kr", "or.kr", "go.kr", "ac.kr",
    "com.mx", "org.mx", "gob.mx",
    "com.tr", "org.tr", "gov.tr",
    "co.za", "org.za", "gov.za",
    "com.sg", "org.sg", "edu.sg",
    "co.nz", "org.nz", "govt.nz",
)


def registered_domain(host: Column) -> Column:
    """eTLD+1 of a lowercase hostname: the last two labels, or the
    last three when the trailing two form a listed multi-part public
    suffix ("bbc.co.uk" → "bbc.co.uk", "www.bbc.co.uk" →
    "bbc.co.uk", "a.b.example.com" → "example.com").  Single-label
    hosts (and a bare suffix like "co.uk") pass through unchanged.
    IP literals are NOT special-cased (the PSL excludes them; a
    dotted IPv4 comes back as its last two octets — filter IPs
    upstream if they matter).

    Pure whole-stage-codegen split/element_at/IN expressions — the
    suffix set is a literal IN list, no join, no Python."""
    p = F.split(host, "\\.")
    n = F.size(p)
    last1 = F.try_element_at(p, F.lit(-1))
    last2 = F.try_element_at(p, F.lit(-2))
    last3 = F.try_element_at(p, F.lit(-3))
    suf2 = F.concat_ws(".", last2, last1)
    return (F.when(n <= 1, host)
             .when(suf2.isin(*MULTI_SUFFIXES) & (n >= 3),
                   F.concat_ws(".", last3, last2, last1))
             .otherwise(suf2))


# full anchor element, open tag through the nearest close tag
# (non-greedy, dotall — identical Java ∩ RE2 semantics)
ANCHOR_RE = '(?is)<a\\s[^>]*href="[^"]*"[^>]*>.*?</a>'


def _anchor_text(tag: Column) -> Column:
    """Visible text of an anchor element: strip the open/close tags,
    replace nested markup with spaces, collapse whitespace, trim."""
    t = F.regexp_replace(tag, "(?is)^<a[^>]*>", "")
    t = F.regexp_replace(t, "(?is)</a>$", "")
    t = F.regexp_replace(t, "(?s)<[^>]*>", " ")
    return F.trim(F.regexp_replace(t, "\\s+", " "))


def extract_anchors(pages: DataFrame, url: str = "url",
                    html: str = "html") -> DataFrame:
    """(url, html) pages → one (src, dst, anchor) row per resolvable
    anchor WITH its visible text — the raw material for wikilinks-
    style alias mining (anchor text names its link target; Singh et
    al. 2012's Wikilinks corpus is the public-knowledge model).

    Target handling matches ``extract_links`` (reference resolution
    then normalize_url N1-N9); anchors whose visible text is empty
    after markup stripping (e.g. image links) are dropped.

    Scale: same shape as extract_links — regexp_extract_all + one
    explode (the output's own cardinality), everything in whole-stage
    codegen, zero shuffle."""
    html_col = F.col(html)
    if dict(pages.dtypes)[html] == "binary":
        html_col = F.decode(html_col, "UTF-8")
    tags = F.regexp_extract_all(html_col, F.lit(ANCHOR_RE), 0)
    exploded = (pages
                .select(F.col(url).alias("src"),
                        F.explode(tags).alias("tag")))
    href = F.regexp_extract(F.col("tag"), '(?i)href="([^"]*)"', 1)
    return (exploded
            .select("src",
                    normalize_url(_resolve(href, F.col("src")))
                    .alias("dst"),
                    _anchor_text(F.col("tag")).alias("anchor"))
            .where(F.col("dst").isNotNull()
                   & F.col("dst").rlike("^https?://")
                   & (F.col("anchor") != "")))


def anchor_priors(anchors: DataFrame, min_count: int = 1,
                  round_scale: int = 6) -> DataFrame:
    """(src, dst, anchor) rows → the wikilinks-style mention-prior
    table: one (alias, dst, n, prior) row per lowercased anchor text
    and link target, where ``prior`` = P(dst | alias) — the fraction
    of the alias's anchors that point at ``dst``.  This is the
    commonness prior entity-linking candidate generation consumes
    (``pipeline/candidates.py`` joins mentions against exactly such
    an (alias, prior) dim table).

    ``min_count`` drops rare (alias, dst) pairs AFTER the prior is
    computed, so surviving priors keep their P(dst | alias)-over-the-
    whole-crawl meaning (they need not sum to 1 post-filter).

    ``prior`` is an exact-integer ratio (count / per-alias total)
    rounded to ``round_scale`` — one correctly-rounded IEEE division,
    identical across engines/partitionings.

    Scale: first exchange is the (alias, dst) groupBy with map-side
    partial counts — a hub pair ("click here" → one target repeated
    everywhere) collapses per input partition; the alias window then
    runs over ALREADY-AGGREGATED rows (one per distinct pair — a hot
    alias's partition is bounded by its distinct targets, not its
    anchor occurrences)."""
    from pyspark.sql.window import Window

    counts = (anchors
              .select(F.lower(F.col("anchor")).alias("alias"), "dst")
              .groupBy("alias", "dst")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("alias")
    out = counts.select(
        "alias", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(w), round_scale)
         .alias("prior"))
    if min_count > 1:
        out = out.where(F.col("n") >= min_count)
    return out


def host_cocitation(links: DataFrame, min_count: int = 1,
                    max_out: int = 64) -> DataFrame:
    """Co-citation counts between hosts: how many pages link BOTH
    host_a and host_b (Small 1973's co-citation analysis applied to
    the host graph — public knowledge).  Returns (host_a, host_b,
    n_pages) with host_a < host_b, one undirected pair per row.

    ``links``: page-level (src, dst) rows (``extract_links`` output).
    A page's own host is excluded (self-citation carries no
    relatedness signal).  ``max_out``: pages citing more than this
    many distinct hosts (link farms, navigation indexes) are DROPPED
    — the hot-page guard that bounds pair expansion at max_out²/2
    per page; dropped pages are counted in no pair, mirrored exactly
    in the oracle.

    Scale shape: ONE groupBy(src) building the sorted distinct-host
    array (bounded per page by its own html size), the guard filter,
    then IN-ROW pair expansion (nested ``transform`` over the sorted
    array — no self-join, no struct array_distinct trap since the
    array is pre-deduped) feeding ONE map-side-combined groupBy on
    the pair.  Two exchanges total; the explode is the output's own
    cardinality."""
    page_hosts = (links
                  .select(F.col("src"),
                          host_of(F.col("dst")).alias("h"))
                  .where((F.col("h") != "")
                         & (F.col("h") != host_of(F.col("src"))))
                  .groupBy("src")
                  .agg(F.array_sort(F.collect_set("h")).alias("hs"))
                  .where(F.size("hs").between(2, max_out)))
    pairs = F.explode(F.flatten(F.transform(
        F.col("hs"),
        lambda x, i: F.transform(
            F.slice(F.col("hs"), i + F.lit(2),
                    F.size(F.col("hs"))),
            lambda y: F.struct(x.alias("a"), y.alias("b"))))))
    out = (page_hosts
           .select(pairs.alias("p"))
           .select(F.col("p.a").alias("host_a"),
                   F.col("p.b").alias("host_b"))
           .groupBy("host_a", "host_b")
           .agg(F.count(F.lit(1)).alias("n_pages")))
    if min_count > 1:
        out = out.where(F.col("n_pages") >= min_count)
    return out
