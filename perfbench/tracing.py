"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log reader that attaches stage intervals and task metrics.

Spans stay in memory and are written out once, at the end of a traced
run. With tracing off, ``Tracer.span`` records nothing.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Nested spans (name, start, end, parent, attributes) on the
    ``time.perf_counter`` clock. Each thread keeps its own parent stack:
    ``foreachBatch`` callbacks arrive on a py4j callback thread."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        # perf_counter() + wall_offset = epoch seconds (event-log clock)
        self.wall_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name, "parent": stack[-1] if stack else None, **attrs}
        rec["start"] = time.perf_counter()
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Attach a finished child span measured elsewhere (a Spark stage,
        a micro-batch phase)."""
        if self.enabled:
            rec = {"id": len(self.spans), "name": name, "parent": parent, "start": start, "end": end}
            self.spans.append({**rec, **attrs})

    def write(self, path: str) -> None:
        """Write every span with its self time: duration minus the union
        of its children's intervals clipped to it."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
        with open(path, "w") as fh:
            for s in out:
                fh.write(json.dumps(s) + "\n")


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on a plain-JSON event log: one
    uncompressed, non-rolling file per application."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]  # fmt: skip


class StageLog:
    """Stages and tasks of one application, read from its event log after
    the SparkContext stopped (the log is complete only then)."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.job_starts: list[float] = []
        self.stages: dict[int, dict] = {}
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.job_starts.append(ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["start"] = info.get("Submission Time", 0) / 1e3
                    st["end"] = info.get("Completion Time", 0) / 1e3
                    st["tasks"] = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = self._stage(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st["write_b"] += wr.get("Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["failed"] += 1 if ev.get("Task Info", {}).get("Failed") else 0

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid,
            {"start": 0.0, "end": 0.0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
             "read_b": 0, "write_b": 0, "spill_b": 0, "failed": 0},
        )  # fmt: skip

    def stages_between(self, lo: float, hi: float) -> list[dict]:
        """Completed stages submitted inside the epoch interval [lo, hi]."""
        return [s for s in self.stages.values() if s["end"] and lo <= s["start"] <= hi]

    def jobs_between(self, lo: float, hi: float) -> int:
        return sum(1 for t in self.job_starts if lo <= t <= hi)


def stage_totals(log: StageLog, lo: float, hi: float) -> dict[str, float]:
    """Stage/task counters over one epoch interval, plus the driver gap:
    wall time not covered by any stage's active interval."""
    stages = log.stages_between(lo, hi)
    busy = union_length([(s["start"], s["end"]) for s in stages], lo, hi)
    return {
        "jobs": log.jobs_between(lo, hi),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "driver_gap_s": (hi - lo) - busy,
        "task_run_s": sum(s["run_s"] for s in stages),
        "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_read_mb": sum(s["read_b"] for s in stages) / 2**20,
        "shuffle_write_mb": sum(s["write_b"] for s in stages) / 2**20,
        "spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
        "tasks_failed": sum(s["failed"] for s in stages),
    }
