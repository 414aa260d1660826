"""Measurement probes used by the benchmark: Spark stage counters read
from the application status store, and an in-memory span tracer.

None of these touch the program under test; they observe it from the
benchmark's own process.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# status-store fields summed per stage, keyed by the name reported
_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
}


class StageCounters:
    """Per-stage task metrics from Spark's status store.

    Works with the web UI disabled: the store is fed by the listener
    bus either way.  The whole retained stage list crosses py4j as one
    JSON string (Jackson with the Scala module, both shipped with
    Spark), so reading it costs one round trip, not one per field.
    Stages are attributed to work through job groups: every job run
    while a group is set carries it, including broadcast and adaptive
    sub-jobs, whose threads inherit the caller's local properties."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._args = (jvm.java.util.ArrayList(), False, False,
                      sc._gateway.new_array(jvm.double, 0),
                      jvm.java.util.ArrayList())
        self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        scala_module = (jvm.py4j.reflection.ReflectionUtil
                        .classForName("com.fasterxml.jackson.module."
                                      "scala.DefaultScalaModule$")
                        .getField("MODULE$").get(None))
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._tracker = sc._jsc.sc().statusTracker()
        self._bus = sc._jsc.sc().listenerBus()

    def _drain(self) -> None:
        """The store is fed asynchronously: wait until every event
        posted so far (the last stages' completions) is in it."""
        self._bus.waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def stage_ids(self, group: str) -> set[int]:
        self._drain()
        ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(job_id)
            if info.isDefined():
                ids.update(info.get().stageIds())
        return ids

    def stages(self) -> list[dict]:
        self._drain()
        listed = self._store.stageList(*self._args)
        return json.loads(
            self._mapper.writeValueAsString(self._as_java(listed)))

    @staticmethod
    def totals(stages: list[dict], ids) -> dict[str, float]:
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        for s in stages:
            if s["stageId"] in ids:
                for name, field in _STAGE_FIELDS.items():
                    out[name] += s[field]
        return out


class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id).

    Each span runs under its own Spark job group, so the stage
    counters of the jobs it started can be attributed to it after the
    fact.  Spans stay in memory; :meth:`dump` writes them out."""

    def __init__(self, counters: StageCounters, epoch: float):
        self.spans: list[dict] = []
        self._counters = counters
        self._epoch = epoch
        self._stack: list[dict] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "run_id": self.run_id,
               "parent": parent["id"] if parent else None,
               "group": f"{self.run_id}/{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self._counters.set_group(rec["group"])
        rec["start"] = time.perf_counter() - self._epoch
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._epoch
            self._stack.pop()
            self._counters.set_group(parent["group"] if parent else None)

    def add(self, name: str, layer: str, start: float, end: float,
            stage_ids=()) -> None:
        """Record a span timed elsewhere (session set-up), with the
        stages it ran."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "layer": layer, "run_id": self.run_id,
                           "parent": None, "group": None,
                           "stage_ids": sorted(stage_ids),
                           "start": start - self._epoch,
                           "end": end - self._epoch})

    def finish(self) -> None:
        """Self time per span, and stage counters for spans with a
        job group (a child's jobs belong to the child's group)."""
        stages = self._counters.stages()
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in self.spans
                          if c["parent"] == s["id"])
            s["self_s"] = s["end"] - s["start"] - covered
            ids = (self._counters.stage_ids(s["group"])
                   if s["group"] else set(s["stage_ids"]))
            s["counters"] = StageCounters.totals(stages, ids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
