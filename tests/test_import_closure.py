"""The core entry modules load only the core, and so do their calls.

The library's two jobs (construction and evaluation) are reached
through a handful of modules; importing them must not pull in the
rest of the package through eager package ``__init__``s, and calling
them must not reach outside the core through lazy imports (nothing
under ``neleval_spark.functions``, for one).  Each check runs in a
fresh interpreter, so modules that other tests imported do not
count."""

import importlib
import inspect
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
    "neleval_spark.pipeline.extract",
    "neleval_spark.pipeline.incremental",
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

# The defaulted parameters of each core entry: an option added or left
# behind by a removal fails test_core_entries_options.
CORE_OPTIONS = {
    "neleval_spark.pipeline.run.run_pipeline": ("out_dir", "n_buckets"),
    "neleval_spark.pipeline.incremental.incremental_triples": (),
    "neleval_spark.measures.evaluate": (
        "measures", "group_by", "overall", "weighting"),
    "neleval_spark.stats.bootstrap_confidence": (
        "n_trials", "percentiles", "metrics", "seed", "method"),
    "neleval_spark.stats.permutation_test": (
        "n_trials", "metrics", "seed", "hash_mode"),
    "neleval_spark.sources.tsv.read_annotations_tsv": (),
    "neleval_spark.pipeline.triples.write_triples": (
        "run_id", "overwrite_run"),
    "neleval_spark.pipeline.triples.read_triples": ("up_to_run",),
}


def test_core_entries_options():
    got = {}
    for path in CORE_OPTIONS:
        mod, name = path.rsplit(".", 1)
        params = inspect.signature(
            getattr(importlib.import_module(mod), name)).parameters
        got[path] = tuple(n for n, p in params.items()
                          if p.default is not p.empty)
    assert got == CORE_OPTIONS


PRINT_LOADED = (
    "import json, sys\n"
    "print(json.dumps(sorted(m for m in sys.modules\n"
    "    if m == 'neleval_spark' or m.startswith('neleval_spark.'))))\n"
)


def _loaded_after(code: str) -> set:
    out = subprocess.run(
        [sys.executable, "-c", code + PRINT_LOADED], cwd=REPO,
        check=True, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": REPO})
    return set(json.loads(out.stdout.strip().splitlines()[-1]))


def test_core_entries_import_only_the_core():
    loaded = _loaded_after(
        "import importlib\n"
        f"for m in {CORE_ENTRIES!r}:\n"
        "    importlib.import_module(m)\n")
    assert loaded <= ALLOWED, sorted(loaded - ALLOWED)


def _annotations(path, relink):
    """Six docs of four mentions in two clusters each; ``relink``
    splits each doc's second cluster, so CEAF solves a component of
    more than one edge."""
    with open(path, "w") as f:
        for d in range(6):
            for i in range(4):
                eid = f"E{d}" if i < 2 else f"NIL{d}"
                if relink and i == 3:
                    eid = f"NIL{d}b"
                f.write(f"d{d}\t{10 * i}\t{10 * i + 5}\t{eid}\t1.0\t"
                        f"PER\n")


def test_core_calls_load_only_the_core(spark, tmp_path):
    """One call of each core entry on tiny inputs written here, so the
    child imports nothing but the core entries and the session."""
    from neleval_spark.pipeline.corpus import kb_table, synth_corpus

    d = str(tmp_path)
    synth_corpus(spark, 12, seed=7).write.parquet(f"{d}/gen1")
    synth_corpus(spark, 16, seed=8).write.parquet(f"{d}/gen2")
    kb_table(spark).write.parquet(f"{d}/kb")
    _annotations(f"{d}/gold.tsv", relink=False)
    _annotations(f"{d}/sys.tsv", relink=True)
    loaded = _loaded_after(f"""
from neleval_spark.measures import evaluate
from neleval_spark.pipeline.incremental import incremental_triples
from neleval_spark.pipeline.run import build_mentions, run_pipeline
from neleval_spark.session import get_spark
from neleval_spark.sources.tsv import read_annotations_tsv
from neleval_spark.stats import (
    bootstrap_confidence, per_doc_contingency, permutation_test)

spark = get_spark(master="local[2]", shuffle_partitions=2,
                  driver_memory="1g")
gen1, gen2, kb = (spark.read.parquet(f"{d}/" + n)
                  for n in ("gen1", "gen2", "kb"))
run_pipeline(gen1, kb, out_dir=f"{d}/out")
prev = build_mentions(gen1, kb, canonicalize=False)
incremental_triples(gen1, gen2, prev, kb).count()
build_mentions(gen1.unionByName(gen2), kb,
               dedupe_snapshots=True).count()
sys_df = read_annotations_tsv(spark, f"{d}/sys.tsv")
gold_df = read_annotations_tsv(spark, f"{d}/gold.tsv")
assert evaluate(sys_df, gold_df, measures="all")
pd_sys = per_doc_contingency(sys_df, gold_df, "strong_link_match")
pd_gold = per_doc_contingency(gold_df, gold_df, "strong_link_match")
bootstrap_confidence(pd_sys, n_trials=20)
permutation_test(pd_sys, pd_gold, n_trials=20, hash_mode="poly")
spark.stop()
""")
    assert loaded <= ALLOWED, sorted(loaded - ALLOWED)
