#!/usr/bin/env python3
"""Benchmark entry point: one workload in one fresh process.

    python3 perfbench/run.py --workload recrawl_delta --seed 1 \\
        --seconds 1 --trace 0 [--cores N]

Run from the repository root.  Steps: start Spark on ``local[N]``
(``setup_s``), write the seeded inputs, prepare what the outputs are
checked against, then run the workload until ``--seconds`` have
passed, at least once, checking every run's outputs.  The first run
in a fresh process is what a ``spark-submit`` job pays (JIT, generated
code and Python workers all cold), so with ``--seconds 1`` exactly
that run is timed.  Timings are medians over the timed runs.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces the
first run instead (each layer's public function called in turn under
a span, its output materialized), then times untraced and traced runs
in pairs for the tracing overhead; it writes the spans to
``.perfbench/traces/`` and prints the per-layer metrics.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.

Everything the run writes stays under ``.perfbench/`` in the
repository root; the per-run work directory is removed at exit.
"""

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY = "4g"  # leaves room on a 15 GB, 4-core host
MIN_TIMED_RUNS = 1

END_TO_END = {  # name -> unit; every workload reports all of them
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
    "shuffle_write_mb": "MB",
}
LAYERS = ["session", "sources", "ner", "candidates", "canonicalize",
          "triples", "incremental", "measures", "stats"]
LAYER_GENERIC = {"busy_s": "s", "executor_run_s": "s",
                 "slot_idle_frac": "ratio", "shuffle_write_mb": "MB",
                 "gc_s": "s", "spill_mb": "MB", "tasks": "count",
                 "tasks_failed": "count"}
CLUSTERING = ["b_cubed", "b_cubed_plus", "mention_ceaf",
              "typed_mention_ceaf"]
LAYER_SPECIFIC = {
    "ner.docs_in": "count", "ner.mentions_out": "count",
    "candidates.cands_per_mention": "ratio",
    "candidates.linked_frac": "ratio",
    "canonicalize.nil_mentions": "count",
    "canonicalize.components": "count",
    "triples.emit_busy_s": "s", "triples.triples_out": "count",
    "triples.write_busy_s": "s", "triples.files_written": "count",
    "triples.bytes_written_mb": "MB",
    "incremental.diff_busy_s": "s", "incremental.reuse_frac": "ratio",
    "incremental.fresh_docs": "count",
    "sources.rows_out": "count",
    "measures.sets_busy_s": "s", "measures.clustering_busy_s": "s",
    **{f"measures.{m}.busy_s": "s" for m in CLUSTERING},
    "stats.trials_per_s": "1/s",
    "trace.total_s": "s", "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{k}": u for layer in LAYERS
           for k, u in LAYER_GENERIC.items()}
    out.update(LAYER_SPECIFIC)
    return out


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int,
                   default=len(os.sched_getaffinity(0)),
                   help="Spark local[N] threads (default: nproc)")
    return p.parse_args(argv)


def jvm_options(work: str) -> str:
    """Temp files in ``work``, and no perf-data file in /tmp."""
    return f"-Djava.io.tmpdir={work} -XX:-UsePerfData"


def start_spark(cores: int, work: str):
    """The library's session factory on local[cores], with every
    scratch location inside the work directory."""
    from neleval_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.neleval.scratchDir": os.path.join(work, "scratch"),
            "spark.driver.extraJavaOptions": jvm_options(work),
        })


def stop_spark(spark) -> None:
    """Stop the context, then the JVM behind the py4j gateway, and wait
    for it to exit (it takes its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runs:
    """Attempt bookkeeping: every workload run counts as attempted;
    one that raises or fails a check counts as failed."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.facts: list[dict] = []

    def check(self, fn):
        """Run ``fn`` (one workload run returning its output handle),
        verify the output; returns (seconds, output facts or None on
        failure)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
            wall = time.perf_counter() - t
            failures, facts = self.wl.verify(out)
        except Exception:
            wall = time.perf_counter() - t
            traceback.print_exc()
            failures, facts = ["raised"], None
        if failures:
            self.failed += 1
            print(f"[{self.wl.name}] check failed: {failures}",
                  file=sys.stderr)
            return wall, None
        self.facts.append(facts)
        return wall, facts


def end_to_end(wl, runs: Runs, counters, seconds: float, setup_s: float):
    from probe import StageCounters

    walls, shuffle, raw = [], [], []
    start = time.perf_counter()
    i = 1
    while i <= MIN_TIMED_RUNS or time.perf_counter() - start < seconds:
        counters.set_group(f"timed-{i}")
        wall, facts = runs.check(lambda: wl.run(i))
        counters.set_group(None)
        raw.append(wall)
        if facts is not None:
            walls.append(wall)
            ids = counters.stage_ids(f"timed-{i}")
            shuffle.append(StageCounters.totals(
                counters.stages(), ids)["shuffle_write_bytes"])
        i += 1
    walls = walls or raw  # nothing passed: report the raw times
    wall_s = statistics.median(walls)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "docs_per_s": wl.docs / wall_s,
        "shuffle_write_mb": statistics.median(shuffle or [0]) / 1e6,
    }
    extra = {"runs_timed": len(walls), "wall_min_s": min(walls),
             "wall_max_s": max(walls)}
    sink = [(f["sink_bytes"], f["triples"]) for f in runs.facts
            if f and "sink_bytes" in f]
    if sink:
        extra["sink_bytes_per_triple"] = statistics.median(
            b / n for b, n in sink)
    f1 = [f["triple_f1"] for f in runs.facts if f and "triple_f1" in f]
    if f1:
        extra["triple_f1"] = f1[0]
    extra["failed_frac"] = runs.failed / runs.attempted
    return metrics, extra


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer aggregates of one traced run (plus the session span).
    Sub-layers (``measures.sets``) roll up into their layer."""
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"].split(".")[0] == layer]
        busy = sum(s["self_s"] for s in mine)
        c = {k: sum(s["counters"][k] for s in mine)
             for k in mine[0]["counters"]} if mine else {}
        run_s = c.get("executor_run_ms", 0) / 1e3
        out.update({
            f"{layer}.busy_s": busy,
            f"{layer}.executor_run_s": run_s,
            f"{layer}.slot_idle_frac":
                1 - run_s / (busy * cores) if busy else 0.0,
            f"{layer}.shuffle_write_mb":
                c.get("shuffle_write_bytes", 0) / 1e6,
            f"{layer}.gc_s": c.get("gc_ms", 0) / 1e3,
            f"{layer}.spill_mb": c.get("spill_bytes", 0) / 1e6,
            f"{layer}.tasks": c.get("tasks", 0),
            f"{layer}.tasks_failed": c.get("tasks_failed", 0),
        })

    def busy(pred):
        return sum(s["self_s"] for s in spans if pred(s))

    out["triples.emit_busy_s"] = busy(lambda s: s["name"] == "triples.emit")
    out["triples.write_busy_s"] = busy(
        lambda s: s["name"] == "triples.write")
    out["incremental.diff_busy_s"] = busy(
        lambda s: s["name"] == "incremental.diff")
    out["measures.sets_busy_s"] = busy(
        lambda s: s["layer"] == "measures.sets")
    out["measures.clustering_busy_s"] = busy(
        lambda s: s["layer"] == "measures.clustering")
    for m in CLUSTERING:
        out[f"measures.{m}.busy_s"] = busy(
            lambda s: s["name"] == f"measures.{m}")
    return out


def traced(wl, runs: Runs, counters, seconds: float, cores: int,
           setup_span: tuple, trace_path: str):
    """The process's first run traced: per-layer metrics of the same
    cold run ``wall_s`` times.  Then the tracing overhead on warm runs:
    untraced and traced runs alternate for ``seconds``, ending with an
    untraced one (at least untraced, traced, untraced), so a steady
    warming trend cancels out of the difference of their medians."""
    from probe import Tracer

    tracer = Tracer(counters, T0)
    tracer.add("session", "session", *setup_span)

    def traced_run(i: int, got: dict):
        tracer.run_id = f"run-{i}"

        def one():
            with tracer.span("run", "run"):
                out, c = wl.traced(i, tracer)
            got.update(c)
            return out
        return runs.check(one)

    counts: dict = {}
    first_total, first_ok = traced_run(0, counts)
    walls, totals = [], []
    start = time.perf_counter()
    i = 1
    while True:
        wall, ok = runs.check(lambda: wl.run(i))
        if ok is not None:
            walls.append(wall)
        if i > 1 and time.perf_counter() - start >= seconds:
            break
        total, ok = traced_run(i + 1, {})
        if ok is not None:
            totals.append(total)
        i += 2
    tracer.finish()
    tracer.dump(trace_path)
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    if first_ok is not None:
        spans = [s for s in tracer.spans
                 if s["run_id"] in ("setup", "run-0")]
        metrics.update(layer_metrics(spans, cores))
        metrics.update(counts)
        metrics["trace.total_s"] = first_total
    if walls and totals:
        metrics["trace.overhead_s"] = (statistics.median(totals)
                                       - statistics.median(walls))
    return metrics


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "neleval_spark")):
        print(f"perfbench: no neleval_spark package under {ROOT}; run "
              "from a full checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(work)
    # set before anything is imported that may cache a temp dir: every
    # temporary file of Python, the JVM and Spark lands in ``work``,
    # and Python workers import the package from the checkout
    os.environ["TMPDIR"] = work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_options(work)
    os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        args = parse_args(argv)
        from probe import StageCounters
        from workloads import WORKLOADS

        spark = start_spark(args.cores, work)
        setup_end = time.perf_counter()
        counters = StageCounters(spark)
        setup_stages = {s["stageId"] for s in counters.stages()}
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        prepare_s = time.perf_counter() - setup_end
        runs = Runs(wl)
        if args.trace:
            trace_path = os.path.join(
                STATE, "traces",
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            metrics = traced(wl, runs, counters, args.seconds, args.cores,
                             (T0, setup_end, setup_stages), trace_path)
            units, extra = per_layer_units(), {"spans": trace_path}
        else:
            metrics, extra = end_to_end(wl, runs, counters, args.seconds,
                                        setup_end - T0)
            units = END_TO_END
        extra["prepare_s"] = prepare_s
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name in units:
        print(f"{args.workload:>14}  {name:<34} {metrics[name]:>14.6g} "
              f"{units[name]}")
    extra["process_s"] = time.perf_counter() - T0
    for name, v in extra.items():
        print(f"{args.workload:>14}  {name:<34} {v}")
    print(json.dumps({
        "correct": runs.failed == 0, "attempted": runs.attempted,
        "failed": runs.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
