"""Spans and Spark counters recorded from outside the engine.

A traced run wraps each call into the engine in a span (name, start, end,
parent, query id).  A span opened with ``spark=True`` also gets its own Spark
job group; when it closes, the jobs of that group are read back through
``statusTracker()`` and the JVM status store (tasks, failed tasks, executor
run/CPU/GC time, shuffle and input bytes, stage intervals).  Spans stay in
memory and are written once, at the end of the run, with their self time:
the span's wall minus the part of it that child spans cover.

An untraced run uses the same calls with ``enabled=False``: no job groups,
no status-store reads, nothing kept.
"""

from __future__ import annotations

import contextlib
import json
import time

_STAGE_DONE = ("COMPLETE", "FAILED")


def covered_ms(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Milliseconds of [start, end] (seconds) covered by the union of intervals."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, qid: int | None = None, spark: bool = False):
        """Yield a dict the caller may add counts to; kept only when enabled."""
        rec: dict = {"name": name, "qid": qid}
        if not self.enabled:
            yield rec
            return
        rec["id"] = len(self.spans)
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if spark:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self._sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self._sc._jsc.clearJobGroup()
                rec.update(self._spark_counters(group))

    def add_child(self, parent: dict, name: str, start: float, end: float) -> None:
        """Record a span known only by its interval (a builder phase, a stage)."""
        if self.enabled:
            self.spans.append({
                "name": name, "qid": parent.get("qid"), "id": len(self.spans),
                "parent": parent["id"], "start": start, "end": end,
            })

    def _spark_counters(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # stages of the call that just returned are all recorded
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_bytes": 0, "input_bytes": 0, "stage_intervals": [],
        }
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                sd = store.lastStageAttempt(stage_id)
                if str(sd.status()) not in _STAGE_DONE:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["stage_intervals"].append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
        return out

    def self_times(self) -> None:
        """Set ``self_ms`` on every span: wall minus what its children cover.

        Stages of a span's own job group count as children, so a query
        span's self time is the driver-side wall no Spark stage overlaps."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            ivals = children.get(s["id"], []) + list(s.get("stage_intervals", []))
            s["wall_ms"] = (s["end"] - s["start"]) * 1000.0
            s["self_ms"] = s["wall_ms"] - covered_ms(s["start"], s["end"], ivals)

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
