"""Cross-generation KG maintenance over the triples the sink writes.

:func:`aggregate_kg` folds one generation's witness-level triples into
one row per distinct triple, :func:`merge_kg` upserts that into the
accumulated KG, and :func:`conflate_kg`, :func:`prune_kg` and
:func:`validate_kg` fuse, age out and check it.
:func:`fact_intervals` is the temporal view (one validity interval
per (subj, pred) run), and :func:`to_ntriples` / :func:`from_ntriples`
are the RDF N-Triples exit and entrance.  None of this is on the
construction path: :mod:`~neleval_spark.pipeline.triples` is the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_kg(triples: DataFrame, generation: int) -> DataFrame:
    """Witness-level triples (subj, pred, obj, url) → one aggregated
    KG row per distinct triple:

        (subj, pred, obj, n_pages, first_seen, last_seen)

    ``n_pages`` counts distinct witnessing urls; both *_seen carry the
    crawl ``generation`` ordinal.  ONE hash aggregate with map-side
    partial (count_distinct over the url already deduplicated per
    triple by emit_triples, so approx paths aren't needed); this is
    the table :func:`merge_kg` maintains across generations."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.count_distinct("url").alias("n_pages"))
        .withColumn("first_seen", F.lit(generation))
        .withColumn("last_seen", F.lit(generation))
    )


def fact_intervals(observations: DataFrame, ts: str = "warc_ts",
                   tiebreak: str | None = None,
                   open_end_ms: int = -1) -> DataFrame:
    """Temporal-KG fact validity: timestamped triple observations
    ``(subj, pred, obj, ts)`` → one row per (subj, pred) run of an
    identical object,

        (subj, pred, obj, valid_from_ms, valid_to_ms, n_snapshots)

    — "the KG believed subj --pred--> THIS obj from t1 until t2".
    This is SCD-2 over the (subj, pred) timeline (the triple-level
    analogue of the url-level
    :func:`~neleval_spark.functions.corpusops.snapshot_intervals`,
    which it delegates to with the composite key): when a recrawl
    extracts a different object for a functional predicate (a person
    changes employer, a page changes canonical entity), the old fact's
    interval closes at the new observation's timestamp and a new open
    run starts.  The open (current) fact gets ``valid_to_ms =
    open_end_ms`` (pinned sentinel, not NULL).

    Semantics note: runs are over the OBSERVED sequence per
    (subj, pred), so the predicate is treated as functional — one
    object at a time.  For multi-valued predicates, feed one
    canonical observation per (subj, pred, ts) first (e.g. the
    majority object per crawl generation), or SCD-2 presence per
    (subj, pred, obj) against the snapshot grid instead.

    Scale shape: inherited from snapshot_intervals — one exchange
    hashed on (subj, pred), per-key sorts over one fact's observation
    history (tiny), no global sort, no driver state."""
    from ..functions.corpusops import snapshot_intervals

    return snapshot_intervals(
        observations, key=["subj", "pred"], ts=ts, value_col="obj",
        tiebreak=tiebreak, open_end_ms=open_end_ms)


def merge_kg(base: DataFrame, delta: DataFrame,
             mode: str = "replace") -> DataFrame:
    """Incrementally fold one crawl generation's aggregated KG
    (:func:`aggregate_kg` output) into the accumulated KG — the
    maintenance operation that makes the triple store a living
    artifact across recrawls instead of a one-shot dump.

    ONE full-outer equi-join on the (subj, pred, obj) key — inherent
    to upsert semantics; the key space is near-unique (it IS the KG's
    primary key) so there is no skew side, and both inputs are
    aggregate-sized, not witness-sized.

    * ``mode="replace"`` — a RECRAWL generation: the delta re-observed
      the web, so its ``n_pages`` supersedes the base count for
      triples it saw; base-only triples persist with their old count
      (going stale — see :func:`prune_kg`).
    * ``mode="sum"`` — DISJOINT-witness shards (e.g. two halves of one
      crawl partitioned by url): counts add.

    ``first_seen``/``last_seen`` take min/max either way, so staleness
    (``current_gen - last_seen``) and novelty (``first_seen ==
    current_gen``) stay queryable."""
    if mode not in ("replace", "sum"):
        raise ValueError(f"unknown merge mode: {mode!r}")
    key = ["subj", "pred", "obj"]
    b = base.select(
        *key, F.col("n_pages").alias("_bn"),
        F.col("first_seen").alias("_bf"),
        F.col("last_seen").alias("_bl"))
    d = delta.select(
        *key, F.col("n_pages").alias("_dn"),
        F.col("first_seen").alias("_df"),
        F.col("last_seen").alias("_dl"))
    j = b.join(d, key, "full_outer")
    if mode == "replace":
        n = F.coalesce(F.col("_dn"), F.col("_bn"))
    else:
        n = (F.coalesce(F.col("_dn"), F.lit(0))
             + F.coalesce(F.col("_bn"), F.lit(0)))
    return j.select(
        *key,
        n.alias("n_pages"),
        F.least(F.col("_bf"), F.col("_df")).alias("first_seen"),
        F.greatest(F.col("_bl"), F.col("_dl")).alias("last_seen"),
    )


def conflate_kg(kg: DataFrame,
                entity_preds: tuple = ("cooccurs_with",),
                max_dist: int = 2, q: int = 3) -> DataFrame:
    """Conflate KG nodes whose NAMES fuzzy-match (typos, dropped
    characters, token order) — the knowledge-fusion step after
    :func:`merge_kg`'s exact-key upsert.  Two crawl generations that
    spell the same entity "Acme Corp" and "Acme Crop" produce two
    parallel node families; this folds them onto one canonical node.

    Mechanics: the DISTINCT node vocabulary (all subjects, plus
    objects of ``entity_preds`` — other objects such as doc urls are
    never conflated) runs through :func:`~neleval_spark.functions.er.
    er_resolve` (prefix-filter blocking + levenshtein ≤ ``max_dist``
    + connected components; canonical = component-minimum name, so
    the output is a pure function of the vocabulary).  Triples are
    rewritten onto canonical nodes and re-aggregated: ``n_pages``
    SUMS (the witnesses were counted under distinct spellings),
    ``first_seen``/``last_seen`` take min/max.

    Scale shape: ER runs on the node VOCABULARY (distinct names —
    orders of magnitude smaller than the triple table); the rewrite
    is two equi-joins of the triple table against the vocabulary-
    sized mapping; the re-aggregation is one hash exchange on the
    conflated key.  The triple table itself never enters the
    blocking or CC loops."""
    from ..functions.er import er_resolve

    nodes = (kg.select(F.col("subj").alias("name"))
             .unionByName(kg.where(F.col("pred").isin(*entity_preds))
                          .select(F.col("obj").alias("name")))
             .distinct())
    mapping = (er_resolve(nodes.withColumn("id", F.col("name")),
                          max_dist=max_dist, q=q)
               .select(F.col("id").alias("name"), "canonical"))
    ms = mapping.select(F.col("name").alias("subj"),
                        F.col("canonical").alias("_cs"))
    mo = mapping.select(F.col("name").alias("obj"),
                        F.col("canonical").alias("_co"))
    rewritten = (
        kg.join(ms, "subj", "left")
        .join(mo, "obj", "left")
        .select(
            F.coalesce("_cs", F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("pred").isin(*entity_preds),
                   F.coalesce("_co", F.col("obj")))
            .otherwise(F.col("obj")).alias("obj"),
            "n_pages", "first_seen", "last_seen"))
    return (rewritten.groupBy("subj", "pred", "obj")
            .agg(F.sum("n_pages").cast("long").alias("n_pages"),
                 F.min("first_seen").alias("first_seen"),
                 F.max("last_seen").alias("last_seen")))


def prune_kg(kg: DataFrame, current_gen: int,
             max_staleness: int) -> DataFrame:
    """Evict triples not re-observed within ``max_staleness``
    generations — a narrow filter (no shuffle); pair with
    :func:`merge_kg` so dead pages age out of the KG instead of
    accumulating forever."""
    return kg.where(
        F.col("last_seen") >= F.lit(current_gen - max_staleness))


def validate_kg(triples: DataFrame,
                known_preds: tuple = ("mentioned_in", "cooccurs_with"),
                entity_preds: tuple = ("cooccurs_with",),
                canonical_preds: tuple = ("cooccurs_with",),
                key: tuple = ("subj", "pred", "obj")) -> DataFrame:
    """Integrity report over a triple table: one ``(check,
    violations)`` row per invariant, all checks always present (count
    0 when clean) so downstream gates can assert on a fixed shape.

    Checks:

    * ``null_field`` — any of subj/pred/obj NULL or empty.
    * ``unknown_pred`` — pred outside ``known_preds`` (the pipeline's
      closed vocabulary; emit_triples mints only these).
    * ``self_loop`` — subj == obj on an entity-object predicate.
    * ``non_canonical_pair`` — subj >= obj on a symmetric predicate
      (emit_triples generates pairs over the SORTED entity set, so
      subj < obj is a construction invariant; a violation means a
      foreign/corrupted generation entered the store).
    * ``dangling_object`` — an entity-valued object that never occurs
      as a subject (every co-occurring entity also gets its own
      ``mentioned_in`` row, so the subject set is the entity
      universe).
    * ``duplicate_key`` — rows sharing ``key`` beyond the first; pass
      ``key=("subj", "pred", "obj", "url")`` for witness-level tables
      where the same triple legitimately repeats across pages.

    Scale shape: the four per-row checks fold into ONE map-side
    combined aggregate (no data-proportional shuffle); duplicate_key
    is a groupBy on the KG's primary key (near-unique, no skew side);
    dangling_object is distinct-objects LEFT ANTI distinct-subjects —
    both sides entity-keyed, broadcast-eligible only if tiny, and
    bounded by the entity universe, not the triple count.  No
    collect, no cartesian, no Python.
    """
    nullish = None
    for c in ("subj", "pred", "obj"):
        e = F.col(c).isNull() | (F.col(c) == "")
        nullish = e if nullish is None else nullish | e
    is_entity = F.col("pred").isin(*entity_preds)
    rowwise = triples.agg(
        F.sum(nullish.cast("long")).alias("null_field"),
        F.sum((~F.col("pred").isin(*known_preds)).cast("long"))
        .alias("unknown_pred"),
        F.sum((is_entity & (F.col("subj") == F.col("obj")))
              .cast("long")).alias("self_loop"),
        F.sum((F.col("pred").isin(*canonical_preds)
               & (F.col("subj") >= F.col("obj"))).cast("long"))
        .alias("non_canonical_pair"),
    ).select(F.explode(F.map_from_arrays(
        F.array(F.lit("null_field"), F.lit("unknown_pred"),
                F.lit("self_loop"), F.lit("non_canonical_pair")),
        F.array("null_field", "unknown_pred", "self_loop",
                "non_canonical_pair"),
    )).alias("check", "violations"))
    rowwise = rowwise.select(
        "check", F.coalesce("violations", F.lit(0)).alias("violations"))

    dupes = (triples.groupBy(*key)
             .agg(F.count(F.lit(1)).alias("_n"))
             .agg(F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))
                  .alias("violations"))
             .select(F.lit("duplicate_key").alias("check"), "violations"))

    objs = triples.where(is_entity).select(
        F.col("obj").alias("_e")).distinct()
    subjs = triples.select(F.col("subj").alias("_e")).distinct()
    dangling = (objs.join(subjs, "_e", "left_anti")
                .agg(F.count(F.lit(1)).alias("violations"))
                .select(F.lit("dangling_object").alias("check"),
                        "violations"))

    return rowwise.unionByName(dupes).unionByName(dangling) \
        .orderBy("check")


def to_ntriples(triples: DataFrame,
                subj_base: str = "http://kg.local/e/",
                pred_base: str = "http://kg.local/p/",
                obj_base: str = "http://kg.local/e/",
                url_preds: tuple = ("mentioned_in",)) -> DataFrame:
    """Serialize triple rows as RDF N-Triples lines (W3C N-Triples:
    one ``<s> <p> <o> .`` statement per line) — the interop exit so
    the emitted KG loads into any standard triple store.

    Entity/predicate ids mint IRIs under the given bases; predicates
    in ``url_preds`` carry a URL object which IS the IRI.  IRI-unsafe
    characters are percent-encoded per RFC 3987 (the minimal set that
    can occur in ids and urls: space, quote, angle brackets, braces,
    pipe, caret, backslash, backtick).  Pure column expressions — a
    narrow projection, no shuffle; write with ``.write.text()``.
    """
    def esc(col):
        out = col
        for ch, enc in ((" ", "%20"), ('"', "%22"), ("<", "%3C"),
                        (">", "%3E"), ("{", "%7B"), ("}", "%7D"),
                        ("|", "%7C"), ("^", "%5E"), ("\\", "%5C"),
                        ("`", "%60")):
            out = F.replace(out, F.lit(ch), F.lit(enc))
        return out

    obj_iri = F.when(
        F.col("pred").isin(*url_preds), esc(F.col("obj"))
    ).otherwise(F.concat(F.lit(obj_base), esc(F.col("obj"))))
    line = F.concat(
        F.lit("<"), F.lit(subj_base), esc(F.col("subj")),
        F.lit("> <"), F.lit(pred_base), esc(F.col("pred")),
        F.lit("> <"), obj_iri, F.lit("> ."))
    return triples.select(line.alias("line"))


# one whole N-Triples statement: subject (IRI or blank node),
# predicate IRI, object (IRI | blank node | literal with optional
# @lang / ^^<datatype>), terminating dot.  Backreference-free on
# purpose: the DuckDB oracle replays it under RE2.
_NT_LINE_RE = (
    r'^\s*(<[^>]*>|_:\S+)\s+<([^>]*)>\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"'
    r'(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)\s*\.\s*$')


def from_ntriples(lines: DataFrame, col: str = "line",
                  subj_base: str = "http://kg.local/e/",
                  pred_base: str = "http://kg.local/p/",
                  obj_base: str = "http://kg.local/e/",
                  stats: dict | None = None) -> DataFrame:
    """Parse W3C N-Triples lines back into rows — the interop
    ENTRANCE matching ``to_ntriples``' exit, so external KG dumps
    (and our own round-trip) load as ordinary triple tables.

    Output: (subj, pred, obj, kind, lang, datatype) with ``kind``
    in iri / bnode / literal.  IRIs are percent-DECODED (inverting
    the exporter's RFC-3987 minimal encoding) and stripped of the
    given base prefixes, so ``from_ntriples(to_ntriples(t))``
    restores ``t``'s ids exactly; IRIs under foreign bases stay
    absolute.  Literals keep their lexical form with the quote
    escape undone (``\\"`` → ``"``; other backslash escapes pass
    through raw — percent-free structural parsing, documented v1
    interop scope); ``lang``/``datatype`` are '' when absent.

    Comment (#…) and blank lines are dropped silently per the spec;
    MALFORMED statement lines are dropped with the count surfaced
    via ``stats["bad_lines"]`` — never silently estimated.  Pure
    column expressions over ``spark.read.text`` rows: narrow,
    shuffle-free, parallel by input split at any dump size.
    """
    def dec(c):
        # url_decode is form-decoding: '+' means space — protect
        # literal plus signs before inverting the %-encoding, and
        # keep the raw text when a stray '%' makes decoding fail
        protected = F.replace(c, F.lit("+"), F.lit("%2B"))
        return F.coalesce(F.try_url_decode(protected), c)

    def strip_base(c, base):
        return F.when(c.startswith(base),
                      F.substring(c, len(base) + 1, 2 ** 30)
                      ).otherwise(c)

    src = lines.select(F.col(col).alias("_l"))
    body = src.where(~F.col("_l").rlike(r"^\s*(#|$)"))
    parts = body.select(
        F.regexp_extract("_l", _NT_LINE_RE, 1).alias("_s"),
        F.regexp_extract("_l", _NT_LINE_RE, 2).alias("_p"),
        F.regexp_extract("_l", _NT_LINE_RE, 3).alias("_o"))
    if stats is not None:
        stats["bad_lines"] = parts.where(F.col("_s") == "").count()
    ok = parts.where(F.col("_s") != "")
    subj = F.when(
        F.col("_s").startswith("_:"), F.col("_s")
    ).otherwise(strip_base(
        dec(F.regexp_extract("_s", r"^<(.*)>$", 1)), subj_base))
    pred = strip_base(dec(F.col("_p")), pred_base)
    is_lit = F.col("_o").startswith('"')
    is_bnode = F.col("_o").startswith("_:")
    lit_value = F.replace(
        F.regexp_extract("_o", r'^"((?:[^"\\]|\\.)*)"', 1),
        F.lit('\\"'), F.lit('"'))
    obj = (F.when(is_lit, lit_value)
           .when(is_bnode, F.col("_o"))
           .otherwise(strip_base(
               dec(F.regexp_extract("_o", r"^<(.*)>$", 1)),
               obj_base)))
    kind = (F.when(is_lit, "literal").when(is_bnode, "bnode")
            .otherwise(F.lit("iri")))
    return ok.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
        kind.alias("kind"),
        F.regexp_extract("_o", r'"@([A-Za-z0-9-]+)$', 1)
         .alias("lang"),
        F.regexp_extract("_o", r"\^\^<([^>]*)>$", 1)
         .alias("datatype"))
