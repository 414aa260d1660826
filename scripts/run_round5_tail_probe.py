"""One-off scale probe for the round-5 tail ops: snapshot_intervals
over ~1M crawl snapshots and mine_bitext over 20k x 20k synthetic
embeddings.
Evidence for the PLANS.md round-5 scale notes.
Usage:
    python scripts/run_round5_tail_probe.py [n_urls]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                          "/dev/shm/spark_local")
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (os.environ.get("PYTHONPATH"), REPO) if p)

from pyspark.sql import functions as F

from neleval_spark import get_spark
from neleval_spark.functions.bitext import mine_bitext
from neleval_spark.functions.corpusops import snapshot_intervals

n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000

spark = get_spark(app_name="probe_r5tail", master="local[32]",
                  shuffle_partitions=64, driver_memory="24g")

# --- snapshot_intervals: n_urls urls x 8 snapshots, content changes
# on a per-url cadence (runs of 1..8)
i = F.col("id")
snaps = (spark.range(n_urls * 8).repartition(64)
         .select(
             (i % n_urls).alias("url"),
             F.timestamp_seconds(F.lit(1700000000)
                                 + F.expr("id div %d" % n_urls)
                                 * 86400).alias("warc_ts"),
             F.concat(
                 (i % n_urls).cast("string"), F.lit("#"),
                 (F.expr("id div %d" % n_urls)
                  / ((i % 7) + 1)).cast("long").cast("string"))
             .alias("content_hash"),
             i.alias("fetch_id")))
t0 = time.perf_counter()
n_iv = snapshot_intervals(snaps, tiebreak="fetch_id").count()
t_si = time.perf_counter() - t0

# --- mine_bitext: 20k x 20k embeddings (dim 32, hash-synthesized)
dim = 32


def synth(side, n):
    v = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (F.pmod(F.xxhash64(F.col("id") * 2654435761
                                     + d * 40503), F.lit(1000))
                   / 500.0 - 1.0))
    return spark.range(n).select(
        F.col("id").alias(f"{side}id"), v.alias(f"{side}v"))


t0 = time.perf_counter()
n_mined = mine_bitext(synth("s", 20_000), synth("t", 20_000),
                      k=4, threshold=1.0, mutual=True).count()
t_bm = time.perf_counter() - t0

print(f"RESULT n_urls={n_urls} "
      f"snapshot_intervals={t_si:.1f}s "
      f"({n_urls * 8 / t_si:.0f} snaps/s, {n_iv} intervals) "
      f"bitext={t_bm:.1f}s ({n_mined} pairs from 20k x 20k)")
spark.stop()
