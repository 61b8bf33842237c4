"""Spans and Spark job accounting for the traced run.

A span has a name, start, end, parent and op id. Each timed op is one
span; each public call of the program inside it is a child span. Spans
stay in memory and are written out when the run ends. A child span that
runs Spark work gets its own job group, so its jobs, stages, tasks,
executor time and shuffle/input bytes are read back from the status store
after the op (outside the timed interval).

With tracing off, `span` yields immediately and records nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_STAGE_FIELDS = ("executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
                 "shuffle_read_bytes", "input_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._ungrouped_seen: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else len(self.spans),
               "group": f"pb-span-{len(self.spans)}", **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if parent is None:
            self._ungrouped_seen = self._ungrouped_jobs()
        self._sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1]["group"],
                                     self._stack[-1]["name"])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    self._sc.setLocalProperty(key, None)

    def account(self, op: dict) -> None:
        """Attach Spark counters to an op span and its children. Call after
        the op has ended and outside any timed interval. Jobs submitted from
        threads the program starts carry no job group; they are charged to
        the op itself as `ungrouped`."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        for s in [s for s in self.spans if s["op"] == op["id"]]:
            s.update(self._job_stats(
                self._sc.statusTracker().getJobIdsForGroup(s["group"])))
        new = self._ungrouped_jobs() - self._ungrouped_seen
        op["ungrouped"] = self._job_stats(sorted(new))

    def op_totals(self, op: dict) -> dict:
        """Counters of an op: its own jobs, its children's, and jobs
        submitted from untracked threads during it."""
        parts = [s for s in self.spans if s["op"] == op["id"]]
        parts.append(op["ungrouped"])
        return {k: sum(p.get(k, 0) for p in parts)
                for k in ("jobs", "stages", "tasks") + _STAGE_FIELDS}

    def _ungrouped_jobs(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _job_stats(self, job_ids) -> dict:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               **{k: 0 for k in _STAGE_FIELDS}}
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["input_bytes"] += st.inputBytes()
        return out

    def self_ms(self) -> dict[str, list[float]]:
        """Self time per span name: duration minus the time covered by the
        span's children, one value per span."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out.setdefault(s["name"], []).append(
                (s["end"] - s["start"] - covered) * 1000.0)
        return out

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "group"}
                for s in self.spans]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def jvm_heap_used_mb(spark) -> float:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20
