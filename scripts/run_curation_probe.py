"""One-off scale probe: the round-5 curation/embedding ops over N
synthetic multi-line docs (~200 tokens each) — wall / docs/sec for
clean_lines, dsir_weights, bpe_encode (200 merges), skipgram_pairs
and split+shard+write.  Evidence for the PLANS.md round-5 scale
notes.
Usage:
    python scripts/run_curation_probe.py [n_docs]
"""
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                          "/dev/shm/spark_local")
# executor python workers must import neleval_spark (bpe_encode UDF);
# APPEND — setdefault would lose when PYTHONPATH is already set
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (os.environ.get("PYTHONPATH"), REPO) if p)
from pyspark.sql import functions as F

from neleval_spark import get_spark
from neleval_spark.functions.bpe import bpe_encode
from neleval_spark.functions.corpusops import clean_lines
from neleval_spark.functions.textops import skipgram_pairs
from neleval_spark.functions.webquality import dsir_weights

spark = get_spark(app_name="probe_curation", master="local[32]",
                  shuffle_partitions=64, driver_memory="24g")
tmp = tempfile.mkdtemp(prefix="probecur_")
try:
    # ~200 tokens/doc over a 2k-word vocab, 20 lines of 10 words,
    # some lines punctuation-terminated, every 13th doc javascripty
    i = F.col("id")
    word = lambda k: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(i * F.lit(31) + k * F.lit(577),
                           F.lit(2_000)).cast("string"))
    line = lambda ln: F.concat(  # noqa: E731
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda k: word(k + ln * 10)), " "),
        F.when((i + ln) % 3 == 0, F.lit(".")).otherwise(F.lit("")))
    docs = (
        spark.range(n_docs).repartition(64)
        .select(
            i.alias("doc_id"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), F.lit(19)), line),
                "\n").alias("text"),
            F.when(i % 2 == 0, F.lit("en")).otherwise(F.lit("de"))
            .alias("lang")))
    docs.write.mode("overwrite").parquet(tmp + "/docs")
    docs = spark.read.parquet(tmp + "/docs")

    t0 = time.perf_counter()
    n_kept = clean_lines(docs).where("keep_doc").count()
    t_cl = time.perf_counter() - t0

    target = docs.where("doc_id % 17 = 0")
    t0 = time.perf_counter()
    n_scored = dsir_weights(docs, target).count()
    t_ds = time.perf_counter() - t0

    merges = [("w", str(d)) for d in range(10)] + \
             [(f"w{d}", str(e)) for d in range(10) for e in range(10)] + \
             [(f"w{d}{e}", str(g)) for d in range(3)
              for e in range(10) for g in range(3)]
    t0 = time.perf_counter()
    n_pieces = bpe_encode(docs, merges).agg(
        F.sum("n_pieces")).first()[0]
    t_be = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pairs = skipgram_pairs(docs, window=2).count()
    t_sg = time.perf_counter() - t0

    # split (4-doc clusters) -> per-split permutation -> 32 balanced
    # shards -> one file per (split, shard) leaf, the funnel's tail
    from neleval_spark.functions.corpusops import (shuffle_shards,
                                                   split_by_cluster,
                                                   write_shards)
    t0 = time.perf_counter()
    sharded = shuffle_shards(
        split_by_cluster(
            docs.withColumn("cluster",
                            F.col("doc_id") - F.col("doc_id") % 4),
            {"train": 800_000, "valid": 100_000, "test": 100_000}),
        n_shards=32, group_cols=["split"])
    write_shards(sharded, tmp + "/shards", n_shards=32,
                 group_cols=["split"])
    t_sh = time.perf_counter() - t0
    import glob
    n_leaves = len(glob.glob(tmp + "/shards/split=*/shard=*"))
    n_files = len(glob.glob(tmp + "/shards/split=*/shard=*/*.parquet"))

    print(f"RESULT n_docs={n_docs} "
          f"clean_lines={t_cl:.1f}s ({n_docs / t_cl:.0f} docs/s, "
          f"kept={n_kept}) "
          f"dsir={t_ds:.1f}s ({n_docs / t_ds:.0f} docs/s, "
          f"scored={n_scored}) "
          f"bpe_encode={t_be:.1f}s ({n_docs / t_be:.0f} docs/s, "
          f"pieces={n_pieces}, merges={len(merges)}) "
          f"skipgram={t_sg:.1f}s ({n_docs / t_sg:.0f} docs/s, "
          f"pairs={n_pairs}) "
          f"split+shard+write={t_sh:.1f}s ({n_docs / t_sh:.0f} "
          f"docs/s, leaves={n_leaves}, files={n_files})",
          flush=True)
finally:
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
