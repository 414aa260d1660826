"""Incremental near-duplicate detection against a persistent MinHash
signature index.

The 100 TB workflow: the corpus is deduplicated once and its MinHash
signatures persist as a compact parquet index (~100 B/doc — 8 longs +
an id); each new crawl increment is then checked against the index
*and* itself, and only the surviving (canonical) documents'
signatures are appended.  Matches are verified by signature agreement
— estimated Jaccard = fraction of equal minhash components — because
the index intentionally does NOT store text (storing text would make
the index another copy of the corpus).

Scale shape:

* The increment is small relative to the index by construction (a
  day's crawl vs the corpus).  Its distinct band-bucket keys are
  **broadcast**, so the index-side banded scan is filtered to active
  buckets before anything shuffles — index rows outside the
  increment's buckets never leave the scan.
* Per-bucket candidates are capped (``max_candidates``, smallest
  doc_id first): boilerplate buckets can hold 10^6 index docs, and a
  new document needs ONE confirmed duplicate, not all of them.  The
  cap is the index-side analogue of ``minhash_lsh_pairs``'
  hot-bucket guard (functions/textops.py:132), and is applied as a
  TWO-PHASE partial top-k (the ``cap_per_domain`` shape) so no
  single task ever sorts a whole boilerplate bucket.
* Index updates are run_id-partitioned and replaced on replay, like
  the triple sink's runs (pipeline/triples.py write_triples):
  replaying a crashed or duplicated increment converges to exactly
  one copy of its signatures.

Within-increment semantics are first-wins: a new document can match
an index document or a smaller-id document of the same increment, so
exactly one member of each intra-increment duplicate group survives.

No reference counterpart; extends the dedup family the training-data
brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textops import minhash_signatures


def _band_keys(sig: DataFrame, n_hashes: int, band_size: int,
               id_alias: str) -> DataFrame:
    bands = []
    for b in range(n_hashes // band_size):
        cols = [F.col(f"h{b * band_size + j}").cast("string")
                for j in range(band_size)]
        bands.append(sig.select(
            F.col("doc_id").alias(id_alias),
            F.lit(b).alias("band"),
            F.concat_ws("_", *cols).alias("bucket")))
    out = bands[0]
    for b in bands[1:]:
        out = out.union(b)
    return out


def check_increment(docs: DataFrame, index_sig: DataFrame | None,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_hashes: int = 8, band_size: int = 2,
                    shingle: int | None = 3,
                    threshold: float = 0.75,
                    max_candidates: int = 50) -> DataFrame:
    """Per-increment-document duplicate verdicts.

    Returns one row per signature-bearing document of ``docs``:
    ``(doc_id, is_duplicate, dup_of, est_jaccard)`` where ``dup_of``
    is the smallest verified match (index doc or smaller-id increment
    doc) and ``est_jaccard`` its signature-agreement estimate.
    Documents too short to shingle carry no signature and are
    implicitly canonical.

    ``index_sig`` is the signature index DataFrame
    ``(doc_id, h0..h{n-1})`` or None for a cold start."""
    sig_new = minhash_signatures(docs, id_col, text_col,
                                 n_hashes, shingle)
    sig_all = (sig_new.withColumn("_new", F.lit(True)) if index_sig is
               None else
               sig_new.withColumn("_new", F.lit(True)).unionByName(
                   index_sig.select(
                       "doc_id", *[f"h{i}" for i in range(n_hashes)])
                   .withColumn("_new", F.lit(False))))

    bn = _band_keys(sig_new, n_hashes, band_size, "new_id")
    ba = _band_keys(sig_all.drop("_new"), n_hashes, band_size,
                    "other_id")
    # restrict the (large) index-side banded table to the increment's
    # buckets BEFORE any exchange: the increment's key set is small
    # and broadcast
    active = bn.select("band", "bucket").distinct()
    ba = ba.join(F.broadcast(active), ["band", "bucket"])
    # hot-bucket cap: a new doc needs one duplicate, not a million —
    # keep the smallest candidate ids per bucket.  TWO-PHASE partial
    # top-k (the cap_per_domain shape, corpusops.py): phase 1 caps
    # per (band, bucket, hash-sub-bucket) so no single task ever
    # sorts a whole boilerplate bucket (10^6 index docs per the
    # module docstring); phase 2 then ranks ≤ max_candidates·n_sub
    # rows per bucket.  The composition returns EXACTLY the global
    # smallest max_candidates ids (every global top-k row is within
    # its own sub-bucket's top-k), so the sub-bucket hash never
    # affects the result and can be engine-local.
    n_sub = 32
    w1 = Window.partitionBy("band", "bucket", "_sub") \
        .orderBy("other_id")
    w2 = Window.partitionBy("band", "bucket").orderBy("other_id")
    ba = (ba.withColumn("_sub", F.pmod(
              F.xxhash64(F.col("other_id").cast("string")),
              F.lit(n_sub)))
          .withColumn("_rn", F.row_number().over(w1))
          .where(F.col("_rn") <= max_candidates)
          .drop("_rn", "_sub")
          .withColumn("_rn", F.row_number().over(w2))
          .where(F.col("_rn") <= max_candidates).drop("_rn"))

    cand = (bn.join(ba, ["band", "bucket"])
            .where(F.col("other_id") != F.col("new_id"))
            .select("new_id", "other_id").distinct())
    # first-wins within the increment: a new doc only defers to
    # SMALLER-id increment docs (index docs always qualify)
    new_ids = sig_new.select(F.col("doc_id").alias("other_id"),
                             F.lit(True).alias("_other_new"))
    cand = (cand.join(F.broadcast(new_ids), "other_id", "left")
            .where(F.col("_other_new").isNull()
                   | (F.col("other_id") < F.col("new_id")))
            .drop("_other_new"))

    h = [f"h{i}" for i in range(n_hashes)]
    sa = sig_all.select(F.col("doc_id").alias("new_id"),
                        *[F.col(c).alias(f"a_{c}") for c in h])
    sb = sig_all.select(F.col("doc_id").alias("other_id"),
                        *[F.col(c).alias(f"b_{c}") for c in h])
    agree = sum(F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1)
                .otherwise(0) for c in h)
    verified = (cand.join(sa, "new_id").join(sb, "other_id")
                .withColumn("est_jaccard",
                            F.round(agree / F.lit(float(n_hashes)), 6))
                .where(F.col("est_jaccard") >= threshold))

    best = verified.groupBy("new_id").agg(
        F.min(F.struct("other_id", "est_jaccard")).alias("_m"))
    return (sig_new.select("doc_id")
            .join(best.select(F.col("new_id").alias("doc_id"),
                              F.col("_m.other_id").alias("dup_of"),
                              F.col("_m.est_jaccard")
                              .alias("est_jaccard")),
                  "doc_id", "left")
            .withColumn("is_duplicate", F.col("dup_of").isNotNull()))


def update_index(docs: DataFrame, index_dir: str,
                 run_id: str | None = None,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_hashes: int = 8, band_size: int = 2,
                 shingle: int | None = 3,
                 threshold: float = 0.75,
                 max_candidates: int = 50) -> DataFrame:
    """Check ``docs`` against the index at ``index_dir`` and append
    the canonical (non-duplicate) documents' signatures.

    Idempotent per ``run_id``: signatures land under a run_id
    partition via dynamic partition overwrite, so replaying the same
    increment replaces rather than appends (like a write_triples
    run).  Returns the verdict DataFrame of
    :func:`check_increment`, materialized before the write so the
    verdicts the caller acts on are the verdicts the index update
    used."""
    import time as _time

    from pyspark.errors import AnalysisException

    spark = docs.sparkSession
    run_id = run_id or f"inc-{int(_time.time() * 1000)}"
    try:
        index_sig = spark.read.parquet(index_dir)
    except AnalysisException:  # cold start: no index yet
        index_sig = None

    sig_new = minhash_signatures(docs, id_col, text_col,
                                 n_hashes, shingle)
    verdict = check_increment(docs, index_sig, id_col, text_col,
                              n_hashes, band_size, shingle,
                              threshold, max_candidates)
    # cut the verdict's lineage to the index files before writing to
    # them: without this, a consumer evaluating the (lazy) verdict
    # after the write would re-scan the just-updated index
    verdict = verdict.localCheckpoint(eager=True)
    keep = (sig_new.join(
        verdict.where("is_duplicate").select("doc_id"),
        "doc_id", "left_anti").withColumn("run_id", F.lit(run_id)))
    (keep.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("run_id").parquet(index_dir))
    return verdict
