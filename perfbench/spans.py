"""Spans and Spark counters, recorded from outside the package.

A traced run wraps each benchmark operation in a span tagged with its
own Spark job group, wraps the public ``ram_*`` kernels of
``incubator_hugegraph_spark.ram`` so their calls show as child spans,
and, right after each operation, reads that group's jobs and stages
from the driver's status store (it keeps only the newest ~1000 jobs,
so reading at the end of a run would lose most of them). Spans stay in
memory and are written once, at the end of the run.

An untraced run uses ``NullTracer``: no job groups, no wrappers, no
status-store reads.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

#: per-operation counter families, in report order
FAMILIES = ("wall_s", "plan_s", "action_s", "jobs", "stages", "tasks",
            "shuffle_write_bytes", "shuffle_read_bytes", "executor_run_s",
            "executor_cpu_s", "gc_s", "job_span_s", "driver_gap_s",
            "ram_calls", "ram_s", "trace_s")


class NullTracer:
    @contextmanager
    def op(self, name: str):
        yield {}


class SparkTracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = 0
        self._ram_depth = 0
        self._ram_time = 0.0
        self._ram_calls = 0

    # -- spans -------------------------------------------------------
    def _open(self, name: str, group: str | None) -> dict:
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1] if self._stack else None,
             "group": group, "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s["id"])
        return s

    def _close(self, s: dict) -> None:
        s["end"] = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        s = self._open(name, self.spans[self._stack[0]]["group"]
                       if self._stack else None)
        try:
            yield
        finally:
            self._close(s)

    @contextmanager
    def op(self, name: str):
        """One benchmark operation: its own job group; on exit ``stats``
        holds the operation's Spark counters."""
        self._ops += 1
        group = f"perfbench-{self._ops}-{name}"
        self._sc.setJobGroup(group, name, False)
        ram_t0, ram_n0 = self._ram_time, self._ram_calls
        stats: dict = {}
        s = self._open(name, group)
        try:
            yield stats
        finally:
            self._close(s)
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            t = time.monotonic()
            stats.update(self._group_stats(group, s["start"], s["end"]))
            stats["ram_calls"] = self._ram_calls - ram_n0
            stats["ram_s"] = self._ram_time - ram_t0
            stats["trace_s"] = time.monotonic() - t
            s["stats"] = dict(stats)

    # -- Spark status store ------------------------------------------
    def _read(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def _group_stats(self, group: str, t0: float, t1: float) -> dict:
        # job-end events reach the status store through the async
        # listener bus; drain it so the group's last job is complete
        self._bus.waitUntilEmpty(10_000)
        jobs = [self._read(self._store.job(j))
                for j in self._sc.statusTracker().getJobIdsForGroup(group)]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0}
        intervals = []
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                intervals.append((j["submissionTime"] / 1e3,
                                  j["completionTime"] / 1e3))
            for sid in j.get("stageIds", []):
                try:
                    st = self._read(self._store.lastStageAttempt(sid))
                except Exception:  # py4j error: stage never submitted
                    continue
                if st.get("status") == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["executor_run_s"] += st["executorRunTime"] / 1e3
                out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
        covered = _union_length(intervals, t0, t1)
        out["job_span_s"] = covered
        out["driver_gap_s"] = (t1 - t0) - covered
        return out

    # -- RamTable kernels --------------------------------------------
    def wrap_ram(self) -> None:
        """Record every top-level call of a public ``ram_*`` kernel as
        a child span. The operators import these names at call time,
        so patching the module attributes reaches every caller."""
        from incubator_hugegraph_spark import ram
        for name in dir(ram):
            fn = getattr(ram, name)
            if name.startswith("ram_") and callable(fn):
                setattr(ram, name, self._ram_wrapper(name, fn))

    def _ram_wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if self._ram_depth:
                return fn(*args, **kwargs)
            self._ram_depth += 1
            t = time.monotonic()
            try:
                with self.span(f"ram.{name}"):
                    return fn(*args, **kwargs)
            finally:
                self._ram_depth -= 1
                if name != "ram_fits":
                    self._ram_time += time.monotonic() - t
                    self._ram_calls += 1
        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
