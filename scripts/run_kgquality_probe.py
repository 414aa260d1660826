"""One-off scale probe for the round-5 KG-quality tail:
distant-supervision labeling over ~3M mentions (600k sentences x 5
mentions, one 5k-mention boilerplate page, KB matching ~1/8 of
pairs), and SDValidate plausibility over the 21-pred x 5M-triple
table. Evidence for the PLANS.md distant_label /
triple_plausibility notes.
Usage:
    python scripts/run_kgquality_probe.py [scale]
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
from neleval_spark.pipeline.distant import (
    cooccurring_pairs, distant_label)
from neleval_spark.pipeline.plausibility import (
    predicate_type_signature, score_triples)

scale = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0

spark = get_spark(app_name="probe_kgquality", master="local[32]",
                  shuffle_partitions=64, driver_memory="24g")
i = F.col("id")

# --- distant supervision: 600k sentences x 5 mentions (+1 page with
# 5k mentions that the guard must drop), eids mod 40k, KB 200k edges
n_sent = int(600_000 * scale)
m = (spark.range(n_sent * 5).repartition(64)
     .select(F.concat(F.lit("u"), (i % n_sent).cast("string"))
             .alias("url"),
             F.lit(0).cast("long").alias("sent_id"),
             (F.expr(f"id div {n_sent}") * 30).alias("start"),
             (F.expr(f"id div {n_sent}") * 30 + 8).alias("end"),
             # slot index k = id div n_sent must keep its own term:
             # a single (i * c) % 40000 collapses to a per-sentence
             # constant whenever n_sent is a multiple of 40000
             F.concat(F.lit("E"),
                      (((i % n_sent) * 7919
                        + F.expr(f"id div {n_sent}") * 1237)
                       % 40_000).cast("string"))
             .alias("eid")))
heavy = (spark.range(5_000)
         .select(F.lit("uHEAVY").alias("url"),
                 F.lit(0).cast("long").alias("sent_id"),
                 (i * 30).alias("start"), (i * 30 + 8).alias("end"),
                 F.concat(F.lit("E"), i.cast("string")).alias("eid")))
kb = (spark.range(200_000)
      .select(F.concat(F.lit("E"), (i % 40_000).cast("string"))
              .alias("subj"),
              F.concat(F.lit("p"), (i % 5).cast("string")).alias("pred"),
              F.concat(F.lit("E"), ((i * 13) % 40_000).cast("string"))
              .alias("obj")))
dstats = {}
t0 = time.perf_counter()
labeled = distant_label(
    cooccurring_pairs(m.unionByName(heavy), max_mentions=64,
                      stats=dstats),
    kb, na_keep_ppm=50_000)
agg = labeled.agg(
    F.count(F.lit(1)).alias("n"),
    F.sum((F.col("pred") != "NA").cast("long")).alias("pos")).first()
t_distant = time.perf_counter() - t0
print(f"distant_label: {n_sent * 5} mentions -> {agg['n']} examples "
      f"({agg['pos']} positive), dropped {dstats['dropped_sentences']}"
      f" heavy sentence(s), {t_distant:.1f} s")

# --- plausibility: 5M triples, 21 preds, 40k entities, 60k type rows
n_tr = int(5_000_000 * scale)
t = (spark.range(n_tr).repartition(64)
     .select(F.concat(F.lit("E"), (i % 40_000).cast("string"))
             .alias("subj"),
             F.concat(F.lit("p"), (i % 21).cast("string")).alias("pred"),
             F.concat(F.lit("E"), ((i * 31) % 40_000).cast("string"))
             .alias("obj")))
ty = (spark.range(60_000)
      .select(F.concat(F.lit("E"), (i % 40_000).cast("string"))
              .alias("entity"),
              F.concat(F.lit("t"), (i % 25).cast("string")).alias("type")))
t0 = time.perf_counter()
sig = predicate_type_signature(t, ty)
n_scored = score_triples(t, sig, ty).count()
t_plaus = time.perf_counter() - t0
print(f"triple_plausibility: {n_tr} triples -> {n_scored} scored, "
      f"{t_plaus:.1f} s (signature learn + score)")

spark.stop()
