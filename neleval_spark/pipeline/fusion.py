"""Knowledge fusion: resolve conflicting objects per (subj, pred)
across witnessing sources by iterated source-reliability voting.

``aggregate_kg`` (kg.py) counts witnesses per distinct triple but
keeps every conflicting object a crawl emitted — "E1 born_in Paris"
from 40 hosts and "E1 born_in Lyon" from 3 scraper mirrors both
survive.  For FUNCTIONAL predicates the KG needs one resolved object
per (subj, pred) plus a confidence, and plain majority vote is wrong
on the web: boilerplate mirrors outvote authoritative sources.  The
classic fix (TruthFinder, Yin et al. KDD'07; the Average·Log /
Investment family, Pasternack & Roth COLING'10; Knowledge-Based
Trust, Dong et al. VLDB'15) iterates

    fact belief   <- trust mass of the sources claiming it,
                     normalized across the competing objects of its
                     (subj, pred) key;
    source trust  <- mean belief of the facts the source claims.

This module implements that fixpoint, UNROLLED to a fixed ``n_iter``
(each iteration is a full lineage stage; convergence is fast — the
literature and our tests use 2-3 sweeps), in EXACT FIXED-POINT
INTEGER arithmetic: trust and belief are BIGINT multiples of
``1/scale``.  All sums are integer (order-independent, no float
associativity drift), all divisions are integer ``DIV`` on
non-negative operands — so results are bit-identical across engines
and partitionings, which is what lets the driver's DuckDB oracle
replay the same unrolled iterations and hash-match (CLAUDE.md
"integer weights" convention).

Scale shape (the 100-TB lens):

* the trust table has one row per SOURCE (host-grained: ~10^8 rows
  worst case, a few GB) — broadcast onto the witness-level claims
  each sweep; claims themselves are never re-shuffled for the join;
* fact confidence = one hash aggregate over (subj, pred, obj) with
  map-side partials;
* cross-object normalization is a window over (subj, pred) whose
  partitions hold the DISTINCT CONFLICTING OBJECTS of one key — the
  conflict fan-out of a functional predicate, not the witness count
  (use :func:`neleval_spark.pipeline.kg.aggregate_kg` for
  multi-valued predicates; fusing ``mentioned_in`` would make these
  groups url-cardinality wide, and makes no semantic sense);
* the trust update joins claims to per-fact beliefs on the
  (subj, pred, obj) key — near-unique on the belief side; a hub fact
  witnessed by millions of sources is exactly the shape AQE's skew
  join splits.

Cost: ``n_iter`` × (one aggregate + one window + one equi-join).  No
collect, no cartesian, no per-row Python.

Overflow bound: ``conf * scale`` must stay under 2^63, i.e.
``max_sources_per_fact * scale**2 < 9.2e18`` — the default
``scale=1_000_000`` allows ~9.2M witnessing sources per single fact;
lower ``scale`` (coarser trust grid) to raise the bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["subj", "pred"]
FACT = ["subj", "pred", "obj"]


def _beliefs(claims: DataFrame, trust: DataFrame, scale: int) -> DataFrame:
    """One half-sweep: per-fact trust mass, normalized per key.

    Returns one row per distinct (subj, pred, obj):
    ``conf`` (BIGINT trust mass), ``belief`` (fixed-point vote share,
    0..scale), ``n_sources``, ``n_objects`` (conflict width of the
    key).
    """
    c = claims.join(F.broadcast(trust.select("source", "trust")),
                    "source")
    conf = c.groupBy(*FACT).agg(
        F.sum("trust").alias("conf"),
        F.count(F.lit(1)).alias("n_sources"))
    w = Window.partitionBy(*KEY)
    return (conf
            .withColumn("_total", F.sum("conf").over(w))
            .withColumn("n_objects", F.count(F.lit(1)).over(w))
            .withColumn("belief",
                        F.expr(f"conf * CAST({scale} AS BIGINT)"
                               " DIV _total"))
            .drop("_total"))


def _trust_update(claims: DataFrame, beliefs: DataFrame) -> DataFrame:
    """Other half-sweep: source trust = mean belief of its claims
    (integer mean — exact, order-independent)."""
    return (claims
            .join(beliefs.select(*FACT, "belief"), FACT)
            .groupBy("source")
            .agg(F.expr("sum(belief) DIV count(1)").alias("trust"),
                 F.count(F.lit(1)).alias("n_claims")))


def fuse_facts(claims: DataFrame, n_iter: int = 2,
               scale: int = 1_000_000) -> DataFrame:
    """Resolve each (subj, pred) key to its most credible object.

    ``claims``: witness-level rows (source, subj, pred, obj) — e.g.
    source = registered domain of the witnessing url.  Duplicate
    (source, subj, pred, obj) rows are collapsed first (a source
    asserting a fact on 10,000 of its own pages is one vote, the
    standard one-vote-per-source guard against self-amplification).

    Returns one row per (subj, pred): the winning ``obj`` (highest
    final belief; ties break on lexicographically smallest obj — a
    pinned, engine-agnostic rule), its ``belief`` (fixed point,
    0..scale), ``n_sources`` (sources claiming the WINNER) and
    ``n_objects`` (competing objects for the key).  The winner pick
    is a row_number over the same (subj, pred) partition the
    normalization window uses — conflict-width-sized groups, see the
    module docstring.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    claims = claims.select("source", *FACT).dropDuplicates()
    trust = (claims.select("source").distinct()
             .withColumn("trust", F.lit(scale).cast("long")))
    beliefs = _beliefs(claims, trust, scale)
    for _ in range(n_iter - 1):
        trust = _trust_update(claims, beliefs)
        beliefs = _beliefs(claims, trust, scale)
    wr = Window.partitionBy(*KEY).orderBy(
        F.col("belief").desc(), F.col("obj").asc())
    return (beliefs
            .withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") == 1)
            .select(*FACT, "belief", "n_sources", "n_objects"))


def align_predicates(triples: DataFrame, min_support: int = 2,
                     min_overlap_pct: int = 50) -> DataFrame:
    """Schema fusion: detect predicate pairs that mean the same thing
    by their (subj, obj) pair distributions — the relation-alignment
    half of PARIS (Suchanek, Abiteboul & Senellart, VLDB'12), reduced
    to its set-overlap core.  When :func:`~neleval_spark.pipeline.
    kg.merge_kg` folds KGs built by different extractors or
    crawl generations, ``born_in`` and ``place_of_birth`` survive as
    parallel predicates; two predicates asserting many of the SAME
    (subj, obj) pairs are alignment candidates.

    Emits one row per unordered candidate pair (pred_a < pred_b):
    integer supports ``n_common`` / ``n_a`` / ``n_b`` (exact,
    engine-agnostic), ``jaccard`` = n_common/(n_a+n_b-n_common) and
    the directional containments (each a SINGLE division of exact
    integers — bitwise deterministic), pre-filtered to
    ``n_common >= min_support`` and max-containment >=
    ``min_overlap_pct`` percent, the latter tested by integer
    cross-multiplication (``100*n_common >= pct*min(n_a,n_b)``) so
    the FILTER never compares floats.

    Plan shape (100-TB lens): distinct (pred, subj, obj) →
    self-equi-join on the (subj, obj) pair key → one hash aggregate
    per predicate pair.  The join's per-key fan-out is the number of
    DISTINCT PREDICATES asserting that exact pair — bounded by the
    schema vocabulary (typically 10²-10⁴), not by entity degree, so
    no hub blow-up: a celebrity subject spreads over its many
    distinct objects.  Predicate support counts are a separate tiny
    aggregate (rows = |schema|) joined back broadcast.  No cartesian,
    no collect.
    """
    pairs = triples.select("pred", "subj", "obj").dropDuplicates()
    support = pairs.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n"))
    a = pairs.select(F.col("pred").alias("pred_a"), "subj", "obj")
    b = pairs.select(F.col("pred").alias("pred_b"), "subj", "obj")
    common = (a.join(b, ["subj", "obj"])
              .filter(F.col("pred_a") < F.col("pred_b"))
              .groupBy("pred_a", "pred_b")
              .agg(F.count(F.lit(1)).alias("n_common"))
              .filter(F.col("n_common") >= min_support))
    out = (common
           .join(F.broadcast(support.select(
               F.col("pred").alias("pred_a"),
               F.col("n").alias("n_a"))), "pred_a")
           .join(F.broadcast(support.select(
               F.col("pred").alias("pred_b"),
               F.col("n").alias("n_b"))), "pred_b"))
    return (out
            .filter(F.lit(100) * F.col("n_common")
                    >= F.lit(min_overlap_pct)
                    * F.least("n_a", "n_b"))
            .select(
                "pred_a", "pred_b", "n_common", "n_a", "n_b",
                (F.col("n_common")
                 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                 ).alias("jaccard"),
                (F.col("n_common") / F.col("n_a"))
                .alias("containment_a"),
                (F.col("n_common") / F.col("n_b"))
                .alias("containment_b")))


def source_trust(claims: DataFrame, n_iter: int = 2,
                 scale: int = 1_000_000) -> DataFrame:
    """The dual view: per-source reliability after ``n_iter`` sweeps
    (the trust table the LAST belief pass of :func:`fuse_facts` with
    the same ``n_iter`` consumed, then updated once more — i.e. the
    trust implied by the final beliefs).  One row per source:
    (source, trust, n_claims).  Useful on its own as a crawl-quality
    signal: persist it and feed low-trust hosts to the frontier
    scheduler as demotions.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    claims = claims.select("source", *FACT).dropDuplicates()
    trust = (claims.select("source").distinct()
             .withColumn("trust", F.lit(scale).cast("long")))
    beliefs = _beliefs(claims, trust, scale)
    for _ in range(n_iter - 1):
        trust = _trust_update(claims, beliefs)
        beliefs = _beliefs(claims, trust, scale)
    return _trust_update(claims, beliefs)
