"""One-off scale probe: link-graph construction over N synthetic
pages (~40 anchors each) — wall / pages/sec / anchors/sec for
extract_links→host_edges, anchor_priors and host_cocitation.
Evidence for the PLANS.md linkgraph scale notes.
Usage:
    python scripts/run_linkgraph_probe.py [n_pages]
"""
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                          "/dev/shm/spark_local")
from pyspark.sql import functions as F

from neleval_spark import get_spark
from neleval_spark.functions.linkgraph import (
    anchor_priors, extract_anchors, extract_links, host_cocitation,
    host_edges)

spark = get_spark(app_name="probe_linkgraph", master="local[32]",
                  shuffle_partitions=64, driver_memory="24g")
tmp = tempfile.mkdtemp(prefix="probelg_")
try:
    # ~40 anchors/page over a 10k-host space with a Zipf-ish hub
    # (every page links hub0.net) — hot host-pair + hot alias paths
    i = F.col("id")
    pages = (
        spark.range(n_pages).repartition(64)
        .select(
            F.concat(F.lit("http://s"),
                     F.pmod(i, F.lit(2_000)).cast("string"),
                     F.lit(".org/p"), i.cast("string"),
                     F.lit(".html")).alias("url"),
            F.concat(
                F.lit('<html><a href="http://hub0.net/x">Hub</a>'),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(39)),
                        lambda k: F.concat(
                            F.lit('<a href="http://h'),
                            F.pmod(F.col("id") * F.lit(37)
                                   + k * F.lit(997),
                                   F.lit(10_000)).cast("string"),
                            F.lit(".net/p"), k.cast("string"),
                            F.lit('?utm_source=x">Entity '),
                            F.pmod(F.col("id") + k,
                                   F.lit(500)).cast("string"),
                            F.lit("</a>"))), ""),
                F.lit("</html>")).alias("html")))
    pages.write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    t0 = time.perf_counter()
    n_links = extract_links(pages).count()
    t_ext = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_edges = host_edges(extract_links(pages)).count()
    t_he = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_alias = anchor_priors(extract_anchors(pages)).count()
    t_ap = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pairs = host_cocitation(extract_links(pages)).count()
    t_cc = time.perf_counter() - t0

    print(f"RESULT n_pages={n_pages} links={n_links} "
          f"extract={t_ext:.1f}s ({n_pages / t_ext:.0f} pages/s, "
          f"{n_links / t_ext:.0f} anchors/s) "
          f"host_edges={t_he:.1f}s (edges={n_edges}) "
          f"anchor_priors={t_ap:.1f}s (aliases={n_alias}) "
          f"cocitation={t_cc:.1f}s (pairs={n_pairs})", flush=True)
finally:
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
