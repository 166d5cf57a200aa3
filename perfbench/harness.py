"""Process and session plumbing shared by the benchmark's modules."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# the heap that fits a 4-core 15 GB box next to four Python workers
MAX_HEAP_MB = 2048


def default_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def heap_mb() -> int:
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    return max(1024, min(MAX_HEAP_MB, avail_kb // 1024 // 3))


def configure_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let the workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": f"{heap_mb()}m",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM, the Python worker daemon and its workers), sampled from /proc.
    Each process counts its proportional set size, so pages that forked
    workers share are counted once."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                return next(int(line.split()[1]) for line in f
                            if line.startswith("Pss:"))
        except (OSError, StopIteration):
            return 0  # the process has exited

    def tree_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            total += self._pss_kb(pid)
            stack.extend(children.get(pid, ()))
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self.tree_kb())
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop_event.set()
        self.join()
        return self.peak * 1024 / 1e6


def start_spark(cores: int, work: str, event_log: bool = False):
    from rag_document_parser_spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, if it runs, and wait until the JVM (and the Python
    workers it owns) exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(what: str, since: float) -> None:
    print(f"perfbench: {what} done at {time.perf_counter() - since:.1f} s",
          file=sys.stderr, flush=True)


def timed_reps(rep, seconds: float) -> list[float]:
    """Call ``rep`` until ``seconds`` have passed; at least twice."""
    walls: list[float] = []
    start = time.perf_counter()
    while len(walls) < 2 or time.perf_counter() - start < seconds:
        walls.append(rep())
    return walls
