"""Incremental KG construction across crawl generations: re-run the
expensive per-page stages ONLY on pages whose bytes changed, reuse
the previous generation's linked mentions for everything else.

Why this is sound: the pipeline factors at a provable purity
boundary.  Everything up to scored/linked mentions (extraction, NER,
candidate generation, scoring, top-1 selection) is a pure function of
(page row, broadcast KB) — no cross-document state — so an unchanged
page's linked mentions are bit-identical across runs and can be
carried forward.  The ONE cross-document stage, NIL canonicalization
(connected components over surface keys), re-runs globally on the
merged mention set — a new page CAN merge an old page's NIL cluster,
and carrying forward canonical eids would miss that.  The result is
therefore EXACTLY the full rebuild (pinned by
tests/test_incremental.py equality tests), at the cost of the
changed fraction, not the corpus.

Scale shape: the diff is one full-outer join on url over two
(url, xxhash64) projections (sub-page-width rows), written ONCE per
step as a (url, status) scratch snapshot, so each generation's html is
read and hashed once whatever reads the diff.  The fresh-page
selection and the reuse of stored mentions (and through it the NIL-key
CC collect and the sink) semi-join against that snapshot's scan, which
the planner sizes from its files: while the url set fits under the
broadcast threshold each semi-join is a static broadcast join, and
neither pages nor stored mentions are shuffled.  A live join would be
sized as the product of its inputs and planned as a sort-merge join,
shuffling the wide side first.  Past the threshold (crawl scale) the
semi-joins are sort-merge joins again, with the html still hashed
once.  Only changed+added pages enter the mapInPandas stages.  At
crawl scale the changed fraction per generation is typically a few
percent — this converts the dominant Python-stage cost to O(churn),
while the relational tail (canonicalize + triple sink) stays O(corpus)
but cheap: below the driver-CC cap the NIL labels are one projection
of a broadcast CC result (no shuffle of the mention side), and the
sink bucket count is sized from the merged mention scans, so a small
generation writes one file.  The sink ships the merged mentions once,
narrow and hashed by part_id, and that exchange also serves the
write; the fresh pages' candidate rows likewise cross one url
exchange, scored before it.  Pair with
:func:`~neleval_spark.pipeline.kg.merge_kg` when maintaining
the aggregated KG instead of re-emitting witness triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import canonicalize_nils
from .run import _materialize, build_mentions
from .triples import emit_triples, sink_buckets

__all__ = ["crawl_diff", "page_diff", "incremental_linked",
           "incremental_triples"]


def crawl_diff(old: DataFrame, new: DataFrame, key: str = "url",
               content_col: str = "content_hash") -> DataFrame:
    """Snapshot churn between two crawls: per-``key`` status
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    The forward complement of :func:`~.run.latest_snapshot`: where
    that op collapses recrawls, this one *compares* two crawl
    generations so a scheduler can prioritize churning hosts and skip
    static ones (public-knowledge recrawl-policy practice; no
    reference counterpart — the reference is an evaluation engine).

    Inputs must be one row per ``key`` (run ``latest_snapshot``
    first when they aren't).  ``content_col`` is whatever identity
    proxy the caller trusts — a stored digest, or
    ``xxhash64(html)`` computed on the way in.

    Scale shape: ONE full-outer join on ``key``.  That join is
    inherent to the semantics; url keys are near-unique so there is
    no skew to guard, and when both generations live in the bucketed
    layout (sources/bucketed.py, bucket-by-url) the SMJ runs with
    ZERO exchange.  Output is narrow (key, status, both hashes) —
    project page bodies away before calling, not after.
    """
    o = old.select(F.col(key).alias(key),
                   F.col(content_col).alias("old_content"),
                   F.lit(True).alias("_in_old"))
    n = new.select(F.col(key).alias(key),
                   F.col(content_col).alias("new_content"),
                   F.lit(True).alias("_in_new"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
         .when(F.col("_in_new").isNull(), F.lit("removed"))
         .when(F.col("old_content").eqNullSafe(F.col("new_content")),
               F.lit("unchanged"))
         .otherwise(F.lit("changed")))
    return j.select(key, status.alias("status"),
                    "old_content", "new_content")


def page_diff(pages_prev: DataFrame, pages_new: DataFrame,
              url: str = "url", content: str = "html") -> DataFrame:
    """Byte-level generation diff: (url, status ∈ added/removed/
    changed/unchanged) via xxhash64 of the raw fetched content."""
    def sig(df):
        return df.select(F.col(url).alias("url"),
                         F.xxhash64(F.col(content))
                         .alias("content_hash"))

    return crawl_diff(sig(pages_prev), sig(pages_new))


def incremental_linked(pages_prev: DataFrame, pages_new: DataFrame,
                       prev_linked: DataFrame, kb: DataFrame
                       ) -> DataFrame:
    """Linked (pre-canonicalization) mentions for the NEW generation:
    reuse ``prev_linked`` rows for byte-unchanged urls, run the real
    pipeline only on changed+added pages.  ``prev_linked`` must be
    the stored ``build_mentions(..., canonicalize=False)`` output of
    the PREVIOUS generation.  Removed urls drop out by construction
    (they are in neither the unchanged set nor the new pages).

    The returned frame reads two scratch snapshots, listed in its
    ``_materialized_deps``: the (url, status) diff and the fresh
    pages' linked mentions.  Free them with
    :func:`~.run.release_materialized` once every action over the frame
    has run."""
    d = _materialize(page_diff(pages_prev, pages_new)
                     .select("url", "status"))
    unchanged = d.where(F.col("status") == "unchanged").select("url")
    todo = d.where(F.col("status").isin("added", "changed")) \
        .select("url")
    kept = prev_linked.join(unchanged, "url", "left_semi")
    fresh_pages = pages_new.join(todo, "url", "left_semi")
    fresh = build_mentions(fresh_pages, kb, canonicalize=False)
    out = kept.unionByName(fresh)
    out._materialized_deps = [d, *fresh._materialized_deps]
    return out


def incremental_triples(pages_prev: DataFrame, pages_new: DataFrame,
                        prev_linked: DataFrame, kb: DataFrame) -> DataFrame:
    """Full incremental step: reuse + recompute linked mentions, then
    re-run the two global (cheap, relational) stages — NIL
    canonicalization and the triple sink — over the merged set.
    Output is EXACTLY the full rebuild's (subj, pred, obj, url) rows.

    The sink's bucket count is estimated from the merged
    PRE-canonicalization mentions (the ``prev_linked`` scan plus the
    fresh snapshot): the canonicalized plan joins a local-rows CC
    result of unknown size.

    The returned frame carries the step's scratch snapshots in
    ``_materialized_deps`` (see :func:`incremental_linked`).  They stay
    on disk until released — the per-process default scratch root is
    removed at exit, a ``spark.neleval.scratchDir`` is not — so a
    caller that runs many steps frees them after the write::

        t = incremental_triples(prev, new, prev_linked, kb)
        write_triples(t, out, run_id=run)
        for h in t._materialized_deps:
            release_materialized(h)
    """
    linked = incremental_linked(pages_prev, pages_new, prev_linked, kb)
    out = emit_triples(canonicalize_nils(linked),
                       n_buckets=sink_buckets(linked))
    out._materialized_deps = linked._materialized_deps
    return out
