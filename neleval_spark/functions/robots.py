"""robots.txt politeness: parse exclusion files and filter a crawl
frontier — the compliance gate every crawl pipeline needs before the
fetch stage (RFC 9309, the Robots Exclusion Protocol).

Semantics implemented (the RFC core, without the Google wildcard
extensions — ``*``/``$`` patterns pass through as literal prefixes
and the docstring below is the documented contract):

* a robots.txt is a sequence of groups, each opened by one or more
  ``User-agent:`` lines followed by ``Allow:``/``Disallow:`` rules;
* rule matching is LONGEST-PREFIX over the url path PLUS the query
  string (``path?query``, as RFC 9309 §2.2.2 and CPython's
  robotparser match — so ``Disallow: /search?q=`` works); on a tie,
  ``Allow`` wins;
* an empty ``Disallow:`` value means "no restriction" (dropped);
* agent resolution: if any group names the crawler's product token
  exactly (case-insensitive), only those groups apply; otherwise the
  ``*`` groups; a url with no matching rule is allowed — as is a
  host with no robots.txt at all.

Everything is whole-stage-codegen column algebra — no Python
anywhere:

* parsing: one ``split``+``posexplode`` per robots file (files are
  KB-sized; the explode's output is the rule table's own
  cardinality) and one per-host window to attach each rule line to
  the most recent ``User-agent`` group above it;
* filtering: the rule table is host-keyed and TINY relative to the
  frontier (one row per rule, ~10^1 per host); the join is an
  equi-join on host — broadcast when the rule table fits, AQE
  handles it otherwise — followed by a prefix test and ONE
  ``max_by`` per url (map-side combined; no window over the
  frontier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_robots", "robots_filter", "schedule_frontier",
           "sitemap_directives"]


def sitemap_directives(robots: DataFrame, host: str = "host",
                       body: str = "body") -> DataFrame:
    """(host, body) robots.txt rows → one (host, pos, sitemap) row
    per ``Sitemap:`` directive — the primary sitemap DISCOVERY
    channel (sitemaps.org: a robots.txt names its sitemaps;
    crawlers fetch those urls and feed the bodies through
    ``discovery.extract_sitemap_urls``).  Sitemap lines are
    GLOBAL per RFC 9309 / the sitemaps protocol — independent of
    any User-agent group — so this is a plain line filter, not part
    of ``parse_robots``' group recovery.  Inline comments are
    stripped; ``pos`` is the line number (deterministic id).  One
    split + explode, zero shuffles.
    """
    lines = robots.select(
        F.col(host).alias("host"),
        F.posexplode(F.split(F.col(body), "\n"))
        .alias("pos", "line"))
    url = F.trim(F.regexp_replace(
        F.regexp_extract("line", r"(?i)^\s*sitemap\s*:\s*(.*)$", 1),
        "#.*", ""))
    return (lines.select("host", "pos", url.alias("sitemap"))
            .where(F.col("sitemap") != ""))


def parse_robots(robots: DataFrame, host: str = "host",
                 body: str = "body") -> DataFrame:
    """(host, body) robots.txt rows → rule table
    (host, agent, rule, prefix, prefix_len).

    ``rule`` is 1 for Allow, 0 for Disallow (integer so downstream
    argmax tie-breaks are exact cross-engine); comments (#…) and
    unknown directives are dropped; group structure is recovered as
    lag-marked ``User-agent`` RUNS (cumulative-sum group ids), and
    rules join to every agent of their run's group.
    """
    from pyspark.sql import Window

    lines = robots.select(
        F.col(host).alias("host"),
        F.posexplode(F.split(F.col(body), "\n"))
        .alias("pos", "line"))
    # strip comments + whitespace, lowercase the directive name
    cleaned = lines.select(
        "host", "pos",
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"))
    kv = cleaned.select(
        "host", "pos",
        F.lower(F.trim(F.regexp_extract("line", "^([^:]+):", 1)))
        .alias("k"),
        F.trim(F.regexp_extract("line", "^[^:]+:(.*)$", 1))
        .alias("v"))
    # RFC 9309 groups: a maximal RUN of User-agent lines opens a
    # group whose rules apply to EVERY agent in the run — so rules
    # join group-wise, they don't attach to the last UA line only.
    # Group ordinal = cumulative count of UA-run starts (a UA line
    # not directly preceded by another UA line, comments/blanks
    # notwithstanding — blank lines do NOT delimit groups in the RFC).
    wseq = Window.partitionBy("host").orderBy("pos")
    wcum = wseq.rowsBetween(Window.unboundedPreceding, 0)
    is_ua = F.col("k") == "user-agent"
    meaningful = kv.where(F.col("k") != "")  # drop blank/comment rows
    marked = meaningful.withColumn(
        "grp",
        F.sum(F.when(is_ua & ~F.coalesce(
            F.lag(is_ua).over(wseq), F.lit(False)), 1)
            .otherwise(0)).over(wcum))
    agents = marked.where(is_ua).select(
        "host", "grp", F.lower(F.col("v")).alias("agent")).distinct()
    rules = marked.where(
        F.col("k").isin("allow", "disallow")
        # empty Disallow = unrestricted (RFC); empty Allow is a no-op
        & (F.col("v") != ""))
    return rules.join(agents, ["host", "grp"]).select(
        "host", "agent",
        F.when(F.col("k") == "allow", F.lit(1)).otherwise(F.lit(0))
        .alias("rule"),
        F.col("v").alias("prefix"),
        F.length("v").alias("prefix_len"))


def robots_filter(frontier: DataFrame, rules: DataFrame,
                  agent: str = "*", url: str = "url",
                  keep_disallowed: bool = False) -> DataFrame:
    """Filter a url frontier by a :func:`parse_robots` rule table.

    Adds an ``allowed`` boolean (and drops disallowed rows unless
    ``keep_disallowed`` — keep them to audit compliance).  The
    frontier is never windowed: matching is host-equi-join →
    prefix test → one ``max_by`` argmax per url on the total order
    (prefix_len, rule), which encodes longest-prefix-then-allow-wins.

    Rules match against ``path?query`` (RFC 9309; CPython
    robotparser parity).  ``*``/``$`` in rules stay LITERAL here
    (documented module contract — no Google wildcard extension), in
    the path and the query part alike.
    """
    agent = agent.lower()
    # agent resolution per host: specific group if present, else *
    hosts_specific = (rules.where(F.col("agent") == F.lit(agent))
                      .select("host").distinct()
                      .withColumn("_has_specific", F.lit(True)))
    r = (rules.where(F.col("agent").isin(agent, "*"))
         .join(hosts_specific, "host", "left")
         .where((F.col("agent") == F.lit(agent))
                | ~F.coalesce("_has_specific", F.lit(False)))
         .select(F.col("host").alias("_rhost"), "rule", "prefix",
                 "prefix_len"))

    raw_path = F.parse_url(F.col(url), F.lit("PATH"))
    raw_query = F.parse_url(F.col(url), F.lit("QUERY"))
    path = F.when(raw_path.isNull() | (raw_path == ""),
                  F.lit("/")).otherwise(raw_path)
    f = frontier.select(url).withColumn(
        "_host", F.parse_url(F.col(url), F.lit("HOST"))) \
        .withColumn(
            "_path",
            F.when(raw_query.isNull() | (raw_query == ""), path)
            .otherwise(F.concat(path, F.lit("?"), raw_query)))
    hits = (f.join(r, f["_host"] == r["_rhost"], "left")
            .where(F.col("_rhost").isNull()
                   | F.col("_path").startswith(F.col("prefix"))))
    verdict = (hits.groupBy(url)
               .agg(F.max_by(
                   "rule",
                   F.struct(F.col("prefix_len"), F.col("rule")))
                   .alias("_best")))
    out = (frontier.join(verdict, url, "left")
           .withColumn("allowed",
                       F.coalesce(F.col("_best") == 1, F.lit(True)))
           .drop("_best"))
    if keep_disallowed:
        return out
    return out.where("allowed").drop("allowed")


def schedule_frontier(frontier: DataFrame, delay_s: int,
                      max_per_host: int | None = None,
                      start_ts: int = 0,
                      url: str = "url") -> DataFrame:
    """Politeness scheduling: assign each frontier url a fetch slot
    so one host is never hit more than once per ``delay_s`` seconds —
    the dispatch step between the robots filter and the fetcher.

    Adds ``host``, ``slot`` (0-based per-host ordinal) and
    ``fetch_ts = start_ts + slot * delay_s``.  Slot order is the
    engine-agnostic salted url hash (deterministic across runs,
    engines and partitionings — the :func:`~neleval_spark.functions.
    corpusops.hash_sample` convention), so a re-run schedules
    identically.

    A per-host sequence is inherently a per-host sort, so a hot host
    serializes ITS OWN rows through one window task — that is why
    ``max_per_host`` (applied BEFORE ranking, via the two-phase
    bucketed top-k of :func:`~neleval_spark.functions.corpusops.
    cap_per_domain`, which never sorts a whole hot host in one task)
    should be set at crawl scale: it is also the operational reality
    that a crawl cycle fetches a bounded number of urls per host
    (the politeness budget: cycle_seconds / delay_s)."""
    from neleval_spark.functions.corpusops import cap_per_domain

    f = frontier.withColumn(
        "host", F.parse_url(F.col(url), F.lit("HOST")))
    if max_per_host is not None:
        f = cap_per_domain(f, max_per_host, domain_col="host",
                           id_col=url, salt="#sched") \
            .drop("domain_rank")
    from pyspark.sql import Window
    from neleval_spark.stats.significance import token_hash
    w = Window.partitionBy("host").orderBy(
        token_hash(F.concat(F.col(url), F.lit("#sched"))),
        F.col(url))
    return (f.withColumn("slot",
                         F.row_number().over(w) - F.lit(1))
            .withColumn("fetch_ts",
                        F.lit(start_ts)
                        + F.col("slot") * F.lit(delay_s)))
