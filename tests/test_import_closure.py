"""The core entry modules load only the core.

The library's two jobs (construction and evaluation) are reached
through a handful of modules; importing them must not pull in the
rest of the package through eager package ``__init__``s.  The check
runs in a fresh interpreter, so modules that other tests imported do
not count."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORE_ENTRIES = [
    "neleval_spark.pipeline.run",
    "neleval_spark.pipeline.incremental",
    "neleval_spark.pipeline.triples",
    "neleval_spark.measures",
    "neleval_spark.stats",
    "neleval_spark.sources.tsv",
    "neleval_spark.session",
]

ALLOWED = {
    "neleval_spark",
    "neleval_spark.graph",
    "neleval_spark.graph.connected_components",
    "neleval_spark.measures",
    "neleval_spark.measures._join",
    "neleval_spark.measures.catalog",
    "neleval_spark.measures.clustering",
    "neleval_spark.measures.contingency",
    "neleval_spark.measures.overlap",
    "neleval_spark.measures.sets",
    "neleval_spark.operators",
    "neleval_spark.operators.normalize",
    "neleval_spark.pipeline",
    "neleval_spark.pipeline.candidates",
    "neleval_spark.pipeline.canonicalize",
    "neleval_spark.pipeline.corpus",
    "neleval_spark.pipeline.extract",
    "neleval_spark.pipeline.incremental",
    "neleval_spark.pipeline.kb",
    "neleval_spark.pipeline.ner",
    "neleval_spark.pipeline.run",
    "neleval_spark.pipeline.triples",
    "neleval_spark.schema",
    "neleval_spark.session",
    "neleval_spark.sources",
    "neleval_spark.sources.tsv",
    "neleval_spark.stats",
    "neleval_spark.stats.significance",
}


def test_core_entries_import_only_the_core():
    code = (
        "import importlib, json, sys\n"
        f"for m in {CORE_ENTRIES!r}:\n"
        "    importlib.import_module(m)\n"
        "print(json.dumps(sorted(m for m in sys.modules\n"
        "    if m == 'neleval_spark' or m.startswith('neleval_spark.'))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO})
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert loaded <= ALLOWED, sorted(loaded - ALLOWED)
