"""One-off scale probe: the full construction pipeline at 1M docs.

Evidence for the sublinearity claim at 16x the bench corpus (60k);
records wall, docs/sec, triples.  Usage:
    python scripts/run_1m_probe.py [n_docs]
"""
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

if os.path.isdir("/dev/shm"):
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                          "/dev/shm/spark_local")
from neleval_spark import get_spark
from neleval_spark.pipeline.corpus import kb_table, synth_corpus
from neleval_spark.pipeline.run import build_mentions
from neleval_spark.pipeline.triples import emit_triples

spark = get_spark(app_name="probe_1m", master="local[32]",
                  shuffle_partitions=64, driver_memory="24g")
tmp = tempfile.mkdtemp(prefix="probe1m_")
try:
    t0 = time.perf_counter()
    synth_corpus(spark, n_docs, min_sents=60, max_sents=90) \
        .write.mode("overwrite").parquet(tmp)
    gen = time.perf_counter() - t0
    pages = spark.read.parquet(tmp)
    t0 = time.perf_counter()
    n = emit_triples(build_mentions(pages, kb_table(spark))).count()
    wall = time.perf_counter() - t0
    print(f"RESULT n_docs={n_docs} gen={gen:.1f}s wall={wall:.1f}s "
          f"docs_per_sec={n_docs / wall:.1f} triples={n}", flush=True)
finally:
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
