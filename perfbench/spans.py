"""Spans and Spark work counters for the benchmark.

A span is one timed region of the benchmark's own code around a call
into the package: name, start, end, parent span and operation id.  In a
traced run every span runs under its own Spark job group, and when the
span ends the counters of that group's jobs are read from the JVM status
store (tasks, shuffle bytes, spill, executor time).  They are read right
away because the store keeps only the most recent 1,000 stages.  Spans
stay in memory and are written out once, when the run ends.

In an untraced run a span records nothing and sets no job group.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "executor_run_s",
    "executor_cpu_s",
)


def read_counters(sc, group: str) -> dict:
    """Sum the status-store counters of every job in ``group``.  Skipped
    stages (their shuffle output was reused) ran no tasks and count as
    nothing."""
    out = dict.fromkeys(COUNTERS, 0)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            attempts = store.stageData(stage_id, False, None, False, no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if str(d.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                out["output_bytes"] += d.outputBytes()
                out["executor_run_s"] += d.executorRunTime() / 1e3
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
    return out


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            **attrs,
        }
        group = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            # restore the enclosing span's group so its own jobs stay its own
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["counters"] = read_counters(self.sc, group)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}
