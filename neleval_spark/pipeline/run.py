"""End-to-end construction pipeline orchestration + evaluation hook.

    web_pages ──extract──▶ text ──NER──▶ mentions
      ──broadcast-join alias dict──▶ candidates
      ──vectorized scoring──▶ linked mentions
      ──connected-components──▶ NIL-canonicalized mentions
      ──▶ (subj, pred, obj) triples ──▶ partitioned parquet + manifests

Every stage is a DataFrame transform; the only Python surfaces are the
Arrow-batched UDFs (extraction, NER, score combination) mandated by
BASELINE.json input_hint. The evaluation closes the loop with the
measure engine from ``neleval_spark.measures`` (the reference's own
metrics re-expressed as distributed aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .candidates import generate_candidates, score_and_select
from .canonicalize import canonicalize_nils
from .extract import with_extracted_text
from .ner import detect_mentions
from .triples import emit_triples, sink_buckets


def build_mentions(pages: DataFrame, kb: DataFrame,
                   use_stored_text: bool = False,
                   dedupe_snapshots: bool = False,
                   canonicalize: bool = True) -> DataFrame:
    """web_pages + alias dict → linked, canonicalized mentions.

    ``dedupe_snapshots``: the BASELINE.json input table carries every
    fetch of a url as its own (url, warc_ts, ...) row; set True when
    the input may contain recrawls and only the newest snapshot per
    url should enter the KG (functions/corpusops.latest_snapshot —
    map-side-combined max_by, ≤1 row per url per partition shuffled).
    Off by default: the synthetic corpus is already one-row-per-url,
    and the extra exchange isn't free."""
    from .ner import extract_and_detect, gazetteer_from_kb

    from .candidates import with_context_features

    if dedupe_snapshots:
        from ..functions.corpusops import latest_snapshot

        pages = latest_snapshot(pages, key="url", ts="warc_ts",
                                content_col="html")

    # Arrow batch sizing for the html ship into Python is a session
    # conf (get_spark sets 512-row batches; see session.py for the
    # measurement) — a conf.set here would leak into the caller's
    # session permanently, so it lives with the session factory.
    pages = pages.where(F.col("lang") == "en")
    # the alias dim doubles as the tagger's dictionary (ner.py):
    # known names are found by longest-match even where the casing
    # heuristics alone would hesitate
    gaz = gazetteer_from_kb(kb)
    if use_stored_text:
        mentions = detect_mentions(pages, gazetteer=gaz)
    else:
        # extraction + NER fused into one Python hop (see ner.py)
        mentions = extract_and_detect(pages, gazetteer=gaz)
    # candidate gen (broadcast join — no shuffle) and the
    # context-feature projection run in the SAME stage as NER, so the
    # wide context strings are dropped BEFORE the exchange; the
    # explicit repartition then (a) ships only narrow scored-feature
    # rows and (b) keeps the NER and scoring Python operators in
    # separate Spark stages (chained Python operators in one stage
    # serialize badly — measured ~5×) at zero extra shuffle cost:
    # hash(url) satisfies the later groupBy(url, start, end) clustering
    cands = with_context_features(generate_candidates(mentions, kb))
    cands = cands.repartition(F.col("url"))
    # materialize the scored mention table once (canonicalization fans
    # out into ≥3 consumers — nil branch, linked branch, key graph —
    # and a live plan with Python stages would re-run per consumer)
    linked = _materialize(score_and_select(cands))
    if not canonicalize:
        # pre-canonicalization linked mentions: the PER-PAGE-pure
        # stage boundary (everything above depends only on the page
        # row + broadcast KB; NIL canonicalization below is the one
        # cross-document step) — pipeline/incremental.py reuses these
        # rows for unchanged pages across crawl generations
        linked._materialized_deps = [linked]
        return linked
    out = canonicalize_nils(linked)
    # expose the materialization handle so callers that manage its
    # lifetime (e.g. streaming ingest, one release per micro-batch)
    # can free exactly what this call materialized — a blanket
    # catalog.clearCache() would evict the caller's own cached frames
    out._materialized_deps = [linked]
    return out


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer frame once: write it to a scratch
    parquet table and re-read it.

    Each downstream consumer then scans a COLUMNAR, column-pruned
    snapshot — the triple sink reads 3 narrow columns instead of
    deserializing whole nested-candidate rows, and the nested
    ``candidates`` array is only decoded by the consumer that actually
    outputs it.  On a cluster this is a staging table (point
    ``spark.neleval.scratchDir`` at shared storage); the returned
    frame carries ``_scratch_dir`` so lifetime managers (streaming
    ingest) can delete it per batch.
    """
    import os
    import uuid

    spark = df.sparkSession
    base = spark.conf.get("spark.neleval.scratchDir", None) \
        or _process_scratch_root()
    path = os.path.join(base, f"neleval_mat_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    # read back with the schema just written: a bare read would start
    # a parquet footer-inference job on every call
    out = spark.read.schema(df.schema).parquet(path)
    out._scratch_dir = path
    return out


_SCRATCH_ROOT: str | None = None


def _process_scratch_root() -> str:
    """Default scratch location: a per-process temp dir removed at
    interpreter exit, so scratch snapshots whose lifetime nobody
    manages explicitly (e.g. the mentions table run_pipeline RETURNS
    to the caller) cannot accumulate across runs the way files
    dropped directly in /tmp would."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="neleval_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT,
                        ignore_errors=True)
    return _SCRATCH_ROOT


def release_materialized(df: DataFrame) -> None:
    """Free one _materialize result: delete its scratch snapshot."""
    import shutil

    shutil.rmtree(df._scratch_dir, ignore_errors=True)


def to_neleval_mentions(mentions: DataFrame) -> DataFrame:
    """Project pipeline mentions into the normalized evaluation schema
    (docid = url; derived columns as in the measure engine)."""
    from ..operators.normalize import with_is_first

    out = mentions.select(
        F.col("url").alias("docid"),
        "start", "end", "eid", "score", "type",
        F.lit(None).cast("map<string,string>").alias("attrs"),
        "candidates",
    )
    out = (
        out.withColumn(
            "is_nil",
            F.col("eid").isNull() | F.col("eid").startswith("NIL"))
        .withColumn("is_linked", ~F.col("is_nil"))
        .withColumn("kbid", F.when(F.col("is_linked"), F.col("eid")))
    )
    return with_is_first(out)


def run_pipeline(
    pages: DataFrame,
    kb: DataFrame,
    out_dir: str | None = None,
    n_buckets: int | None = None,
    markup: bool = False,
) -> dict:
    """Run construction end-to-end; optionally materialize triples.

    ``n_buckets`` defaults to :func:`~.triples.sink_buckets` of the
    materialized mentions; the NER and markup rows share that one
    count.

    ``markup=True`` opens the SECOND entrance into the same KG:
    publisher-embedded JSON-LD (pipeline/markup.jsonld_triples →
    markup_as_triples) is flattened and unioned into the triple sink
    alongside the NER-derived rows, sharing the url-hashed part_id
    scheme so both streams land in the same partition layout.  The
    markup pass runs over ALL pages (structured data is
    language-independent; the lang filter only gates the NER path)
    and is a narrow map plus one distinct on its own slice — it adds
    no exchange to the NER stream.

    Returns {'mentions': DF, 'triples': DF, 'manifest': DF|None}.
    """
    # the canonicalized mentions feed both the returned mentions table
    # and the triple sink: materialize once; the upstream scored-
    # mention materialization is only an input to THIS one, so free it
    # as soon as the canonicalized snapshot exists
    built = build_mentions(pages, kb)
    mentions = _materialize(built)
    for h in getattr(built, "_materialized_deps", ()):
        release_materialized(h)
    n = n_buckets or sink_buckets(mentions)
    triples = emit_triples(mentions, n_buckets=n)
    if markup:
        from .markup import markup_sink_rows

        triples = triples.unionByName(markup_sink_rows(pages, n))
    manifest = None
    if out_dir is not None:
        from .triples import read_triples, write_triples

        manifest = write_triples(triples, out_dir)
        triples = read_triples(pages.sparkSession, out_dir)
    return {"mentions": mentions, "triples": triples, "manifest": manifest}


def triple_prf(sys_triples: DataFrame, gold_triples: DataFrame) -> dict:
    """Set P/R/F over (subj, pred, obj) — the BASELINE.json gate
    (P/R ≥ 0.95 vs the reference triple set)."""
    key = ["subj", "pred", "obj"]
    s = sys_triples.select(*key).distinct().withColumn("_s", F.lit(1))
    g = gold_triples.select(*key).distinct().withColumn("_g", F.lit(1))
    row = (
        s.join(g, key, "full_outer")
        .agg(
            F.sum(F.col("_s") * F.col("_g")).alias("tp"),
            F.sum(F.when(F.col("_g").isNull(), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(F.col("_s").isNull(), 1).otherwise(0)).alias("fn"),
        )
        .collect()[0]
    )
    tp = row["tp"] or 0
    fp = row["fp"] or 0
    fn = row["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": p, "recall": r, "fscore": f}


def gold_triples_from_mentions(gold_mentions: DataFrame,
                               n_buckets: int | None = None) -> DataFrame:
    """Derive the reference triple set from gold mentions with the
    same emission rules."""
    return emit_triples(gold_mentions, n_buckets=n_buckets)
