"""Spans over calls into the engine, with Spark counters per span.

Every span tags the Spark jobs its thread starts (``SparkContext``
job tags nest: a job carries the tags of every open span of its
thread). When the run ends, ``collect`` reads Spark's own status store
(``statusTracker`` plus ``AppStatusStore.lastStageAttempt``) for the
jobs of each tag and attaches one counter set per span:

  wall_s, jobs, stages, tasks, exec_run_s, exec_cpu_s,
  exec_offcpu_s (run minus JVM CPU: Python workers and I/O),
  shuffle_mb, spill_mb

Spans live in memory until ``collect``; nothing is written while the
workload runs. ``overhead_s`` is the time spent inside the tracer
during the run (tagging and bookkeeping), i.e. its cost to the
measured path.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager

COUNTERS = ["wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
            "exec_offcpu_s", "shuffle_mb", "spill_mb"]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = next(self._ids)
        stack = self._stack()
        span = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                "req": req, "tag": f"perfbench-span-{sid}", **attrs}
        self.spark.sparkContext.addJobTag(span["tag"])
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield span
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spark.sparkContext.removeJobTag(span["tag"])
            span["start"], span["end"] = start - self._t0, end - self._t0
            with self._lock:
                self.spans.append(span)
                self.overhead_s += (start - t_in) + (time.perf_counter() - end)

    def collect(self) -> list[dict]:
        """Attach counters and self time to every span (call once, after
        the traced work has finished)."""
        jobs_by_tag = _JobCounters(self.spark)
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - children.get(s["id"], 0.0)
            s.update(jobs_by_tag.for_tag(s["tag"]))
        return self.spans


class _JobCounters:
    """Counters of the jobs carrying one tag, from the status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self.tracker = jsc.statusTracker()
        self.store = jsc.statusStore()
        self._stages: dict[int, tuple] = {}

    def _stage(self, stage_id: int) -> tuple:
        if stage_id not in self._stages:
            sd = self.store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                self._stages[stage_id] = None
            else:
                self._stages[stage_id] = (
                    sd.numCompleteTasks(),
                    sd.executorRunTime() / 1e3,
                    sd.executorCpuTime() / 1e9,
                    (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6,
                    (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                )
        return self._stages[stage_id]

    def for_tag(self, tag: str) -> dict:
        out = dict(jobs=0, stages=0, tasks=0, exec_run_s=0.0, exec_cpu_s=0.0,
                   shuffle_mb=0.0, spill_mb=0.0)
        for job_id in self.tracker.getJobIdsForTag(tag):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(job_id)
            if info.isEmpty():
                continue
            for stage_id in info.get().stageIds():
                st = self._stage(stage_id)
                if st is None:
                    continue
                out["stages"] += 1
                out["tasks"] += st[0]
                out["exec_run_s"] += st[1]
                out["exec_cpu_s"] += st[2]
                out["shuffle_mb"] += st[3]
                out["spill_mb"] += st[4]
        out["exec_offcpu_s"] = max(0.0, out["exec_run_s"] - out["exec_cpu_s"])
        return out


def rollup(spans: list[dict], name: str) -> dict:
    """Sum of the counter set over every span called ``name``, plus the
    number of such spans."""
    picked = [s for s in spans if s["name"] == name]
    out = {c: sum(s.get(c, 0) for s in picked) for c in COUNTERS}
    out["self_s"] = sum(s["self_s"] for s in picked)
    out["count"] = len(picked)
    return out
