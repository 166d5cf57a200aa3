"""Reader for Spark's JSON event log, using only the standard library.

Spark writes one JSON object per line. The benchmark sets the local
property ``perfbench.span`` around every call it times; each job carries
the property in its start event, stages belong to a span through their
job, and tasks through their stage. A stage whose plan runs the Arrow
kernel (an RDD scope named ``MapInArrow``) is a kernel stage.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Task:
    duration_ms: int
    run_ms: int
    gc_ms: int
    fetch_wait_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    py_sent_bytes: int
    py_recv_bytes: int


class EventLog:
    def __init__(self, log_dir: str):
        self.span_stages: dict[str, set[int]] = {}
        self.kernel_stages: set[int] = set()
        self.stage_wall_ms: dict[int, int] = {}
        self.tasks: dict[int, list[Task]] = {}
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            if span is not None:
                self.span_stages.setdefault(span, set()).update(e["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_wall_ms[info["Stage ID"]] = (
                info["Completion Time"] - info["Submission Time"])
            scopes = [json.loads(r["Scope"])["name"]
                      for r in info["RDD Info"] if r.get("Scope")]
            if "MapInArrow" in scopes:
                self.kernel_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                return
            acc: dict[str, int] = {}
            for a in info.get("Accumulables", []):
                if a.get("Name") in (PY_SENT, PY_RECV):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Update"])
            self.tasks.setdefault(e["Stage ID"], []).append(Task(
                duration_ms=info["Finish Time"] - info["Launch Time"],
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                fetch_wait_ms=m.get("Shuffle Read Metrics", {})
                .get("Fetch Wait Time", 0),
                shuffle_write_bytes=m.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                py_sent_bytes=acc.get(PY_SENT, 0),
                py_recv_bytes=acc.get(PY_RECV, 0),
            ))

    def span_tasks(self, span: str, kernel_only: bool = False) -> list[Task]:
        stages = self.span_stages.get(span, set())
        if kernel_only:
            stages = stages & self.kernel_stages
        return [t for s in sorted(stages) for t in self.tasks.get(s, [])]

    def job_metrics(self, span: str) -> dict[str, float]:
        """Stage metrics of one timed ``run_job`` call."""
        tasks = self.span_tasks(span)
        kernel = [t.duration_ms for t in self.span_tasks(span, kernel_only=True)]
        durations = [t.duration_ms for t in tasks]
        return {
            "job.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / 1e6,
            "job.fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1e3,
            "job.task_skew": max(kernel) / max(statistics.median(kernel), 1),
            "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
            "spark.spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
            "spark.task_p50_ms": statistics.median(durations),
            "spark.task_max_ms": max(durations),
        }

    def kernel_metrics(self, span: str) -> dict[str, float]:
        """Kernel-stage metrics of one timed ``extract`` call."""
        stages = self.span_stages.get(span, set()) & self.kernel_stages
        tasks = self.span_tasks(span, kernel_only=True)
        return {
            "kernel.stage_wall_s": sum(self.stage_wall_ms[s]
                                       for s in stages) / 1e3,
            "kernel.stage_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "kernel.py_sent_mb": sum(t.py_sent_bytes for t in tasks) / 1e6,
            "kernel.py_recv_mb": sum(t.py_recv_bytes for t in tasks) / 1e6,
        }
