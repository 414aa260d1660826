"""spark-submit driver script: pages table -> triples + manifests.

Ships with scripts/submit_pipeline.sh (the library reaches executors
via --py-files). The input is any table with the BASELINE.json shape
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string);
the output directory receives one run of partitioned triples plus its
per-partition lineage manifest, written last as the run's commit
record.  A re-run with the same out_dir replaces that run, so
re-running a crashed job is the recovery.
"""
import sys

from pyspark.sql import SparkSession

from neleval_spark.pipeline.corpus import kb_table
from neleval_spark.pipeline.run import run_pipeline


def main() -> None:
    pages_path, out_dir = sys.argv[1], sys.argv[2]
    spark = (
        SparkSession.builder.appName("neleval_spark_pipeline")
        # html-heavy Arrow batches: see neleval_spark/session.py
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # no per-expression stack capture: see neleval_spark/session.py
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    pages = spark.read.parquet(pages_path)
    result = run_pipeline(pages, kb_table(spark), out_dir=out_dir)
    print("manifest rows:", result["manifest"].count())


if __name__ == "__main__":
    main()
