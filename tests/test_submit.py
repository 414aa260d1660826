"""spark-submit --py-files smoke test: the north-rule deployment path
(scripts/submit_pipeline.sh) must work end-to-end — library packaged
as a zip, shipped via --py-files, pipeline run in a fresh JVM, output
triples + lineage manifest readable afterwards."""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None or shutil.which("zip") is None,
    reason="spark-submit/zip not on PATH")


def test_submit_pipeline_smoke(spark, tmp_path):
    # corpus written by the session fixture; the submit job itself
    # runs in its OWN JVM via the shell script
    from neleval_spark.pipeline.corpus import synth_corpus

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    synth_corpus(spark, 200).write.parquet(pages)

    env = dict(os.environ)
    env["SHUFFLE_PARTITIONS"] = "4"
    # keep the child JVM small; it must not contend with the fixture's
    env.setdefault("SPARK_SUBMIT_OPTS", "-Xmx2g")
    res = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "submit_pipeline.sh"),
         pages, out, "local[2]"],
        capture_output=True, text=True, cwd=str(tmp_path),
        timeout=600, env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "manifest rows:" in res.stdout

    triples = spark.read.parquet(os.path.join(out, "triples"))
    assert triples.count() > 0
    assert {"subj", "pred", "obj"} <= set(triples.columns)
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    assert manifest.count() > 0
