"""Per-layer split of the extraction job: the ``--trace 1`` run.

After the untraced reps, Spark restarts in the same JVM with its event log
on, and the benchmark times, from outside, one call per layer boundary:

- ``job``: ``run_job`` as in the untraced reps (its stages give the
  shuffle, GC, spill and task-time metrics);
- ``exchange``: stored input ``.repartition(par, bucket_col(256))`` into
  the noop sink;
- ``extract``: ``extract(...)`` into the noop sink: exchange, chunking and
  kernel, no sinks; ``job.sink_s`` is ``run_job`` minus this;
- ``chunk``: ``extract`` over the docs above the chunk budget alone;
- ``lineage``: ``read_lineage`` plus the committed-bucket count.

The kernel probe then runs ``make_kernel`` single-threaded in this process
over the same stored rows, in Arrow batches of
``arrow_max_records_per_batch``: first all docs, then each route alone.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from perfbench.eventlog import SPAN_PROPERTY, EventLog
from perfbench.harness import log, timed_reps
from perfbench.inputs import N_BUCKETS, count_files
from rag_document_parser_spark.config import DEFAULT_CONFIG
from rag_document_parser_spark.operators.extract_arrow import make_kernel
from rag_document_parser_spark.plans import (chunk_giant_docs, extract,
                                             read_lineage)
from rag_document_parser_spark.plans.job import bucket_col

PROBE_REPS = 2
# route of a mixed-corpus doc, by the kind of its first span
ROUTES = {"html": "html", "markdown": "markdown", "xml": "xml",
          "json": "json", "pdf_block": "pdf", "header": "interleaved"}


def _timed(spark, span: str, fn) -> float:
    sc = spark.sparkContext
    sc.setLocalProperty(SPAN_PROPERTY, span)
    try:
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t
    finally:
        sc.setLocalProperty(SPAN_PROPERTY, None)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probes(spark, todo_dir: str, lineage_dir: str) -> dict[str, float]:
    """Median wall of each layer probe over ``PROBE_REPS`` calls."""
    todo = spark.read.parquet(todo_dir).select("doc_id", "spans")
    par = min(N_BUCKETS, spark.sparkContext.defaultParallelism * 2)
    budget = DEFAULT_CONFIG.max_spans_per_chunk
    big = todo.where(F.size("spans") > budget)
    probes = {
        "exchange": lambda: _noop(todo.repartition(par, bucket_col(N_BUCKETS))),
        "extract": lambda: _noop(extract(
            todo, DEFAULT_CONFIG, partition_expr=bucket_col(N_BUCKETS),
            num_partitions=par)),
        "chunk": lambda: _noop(extract(big, DEFAULT_CONFIG)),
        "lineage": lambda: read_lineage(spark, lineage_dir)
        .select("partition_id").distinct().count(),
    }
    walls = {name: statistics.median(
        _timed(spark, f"{name}{i}", fn) for i in range(PROBE_REPS))
        for name, fn in probes.items()}
    walls["chunk_rows"] = chunk_giant_docs(big, budget) \
        .where(F.col("n_chunks") > 1).count()
    return walls


def _kernel_seconds(table: pa.Table) -> float:
    batches = table.combine_chunks().to_batches(
        max_chunksize=DEFAULT_CONFIG.arrow_max_records_per_batch)
    kernel = make_kernel(DEFAULT_CONFIG)
    t = time.perf_counter()
    for _ in kernel(iter(batches)):
        pass
    return time.perf_counter() - t


def kernel_probe(todo_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Single-threaded kernel seconds over all docs and per route.
    Returns (metrics, spans per second by route)."""
    pa.set_cpu_count(1)
    table = ds.dataset(todo_dir, format="parquet").to_table(
        columns=["doc_id", "spans"])
    metrics = {"kernel.cpu_s": _kernel_seconds(table)}
    table = table.filter(pc.greater(pc.list_value_length(table["spans"]), 0))
    first_kind = pc.struct_field(pc.list_element(table["spans"], 0), "kind")
    spans_per_s = {}
    for kind, route in ROUTES.items():
        part = table.filter(pc.equal(first_kind, kind))
        secs = _kernel_seconds(part)
        metrics[f"kernel.route.{route}_s"] = secs
        spans = pc.sum(pc.list_value_length(part["spans"])).as_py() or 0
        spans_per_s[route] = spans / secs
    metrics["kernel.route_efficiency"] = sum(
        metrics[f"kernel.route.{r}_s"] for r in ROUTES.values()) \
        / metrics["kernel.cpu_s"]
    return metrics, spans_per_s


def traced_run(spark, runner, work: str, seconds: float,
               untraced_best: float) -> tuple[dict, dict]:
    """The traced reps, the layer probes and the kernel probe.
    Returns (metrics as {name: (value, unit)}, detail)."""
    t0 = time.perf_counter()
    runner.attach(spark)
    todo_dir = runner.in_dir
    if runner.resume:
        # the rows the timed resume call processes: buckets not committed
        todo_dir = os.path.join(work, "todo")
        committed = read_lineage(spark, runner.template) \
            .select(F.col("partition_id").alias("bucket")).distinct()
        runner.df.withColumn("bucket", bucket_col(N_BUCKETS)) \
            .join(F.broadcast(committed), "bucket", "left_anti") \
            .drop("bucket").write.parquet(todo_dir)
    # warm-up of the new session's Python workers
    _noop(extract(spark.read.parquet(todo_dir).select("doc_id", "spans")))
    log("traced warm-up", t0)

    reps = itertools.count()
    walls = timed_reps(lambda: _timed(spark, f"job{next(reps)}", runner.rep),
                       seconds)
    files = count_files(os.path.join(runner.out, "data"))
    if runner.resume:
        files -= count_files(os.path.join(runner.template, "data"))
    probes = _probes(spark, todo_dir,
                     runner.template if runner.resume else runner.out)
    log("traced reps and probes", t0)
    kernel, spans_per_s = kernel_probe(todo_dir)
    log("kernel probe", t0)

    wall = statistics.median(walls)
    metrics = {
        "job.exchange_s": (probes["exchange"], "s"),
        "job.extract_s": (probes["extract"], "s"),
        "job.sink_s": (wall - probes["extract"], "s"),
        "job.files_written": (files, "count"),
        "job.chunk_s": (probes["chunk"], "s"),
        "job.chunk_rows": (probes["chunk_rows"], "count"),
        "job.lineage_read_s": (probes["lineage"], "s"),
        **{k: (v, "ratio" if k.endswith("efficiency") else "s")
           for k, v in kernel.items()},
        "trace.job_wall_s": (wall, "s"),
        # best against best: JIT warm-up left in an untraced rep is not
        # tracing cost
        "trace.overhead": (min(walls) / untraced_best - 1, "ratio"),
    }
    detail = {"traced_rep_wall_s": walls, "probes_s": probes,
              "kernel_cpu_s": kernel["kernel.cpu_s"],
              "kernel_spans_per_s": spans_per_s}
    return metrics, detail


def event_log_metrics(work: str, detail: dict) -> dict:
    """Metrics read from the event log once Spark has stopped, and the
    layer sum: exchange + kernel-stage wall + sink, against the traced job
    wall."""
    elog = EventLog(os.path.join(work, "eventlog"))
    n_jobs = len(detail["traced_rep_wall_s"])
    job = {k: statistics.median(elog.job_metrics(f"job{i}")[k]
                                for i in range(n_jobs))
           for k in elog.job_metrics("job0")}
    stage = {k: statistics.median(elog.kernel_metrics(f"extract{i}")[k]
                                  for i in range(PROBE_REPS))
             for k in elog.kernel_metrics("extract0")}
    probes = detail["probes_s"]
    wall = statistics.median(detail["traced_rep_wall_s"])
    layers = {"exchange": probes["exchange"],
              "kernel": stage["kernel.stage_wall_s"],
              "sink": wall - probes["extract"]}
    detail["layers_s"] = layers
    print(f"perfbench: layers {layers}, sum {sum(layers.values()):.2f} s, "
          f"job {wall:.2f} s; kernel spans/s {detail['kernel_spans_per_s']}",
          file=sys.stderr)
    return {
        "job.shuffle_write_mb": (job["job.shuffle_write_mb"], "MB"),
        "job.fetch_wait_s": (job["job.fetch_wait_s"], "s"),
        "job.task_skew": (job["job.task_skew"], "ratio"),
        "kernel.boundary_core_s": (
            stage["kernel.stage_run_s"] - detail["kernel_cpu_s"], "s"),
        "kernel.py_sent_mb": (stage["kernel.py_sent_mb"], "MB"),
        "kernel.py_recv_mb": (stage["kernel.py_recv_mb"], "MB"),
        "spark.gc_s": (job["spark.gc_s"], "s"),
        "spark.spill_mb": (job["spark.spill_mb"], "MB"),
        "spark.task_p50_ms": (job["spark.task_p50_ms"], "ms"),
        "spark.task_max_ms": (job["spark.task_max_ms"], "ms"),
        "trace.layer_residue": (abs(wall - sum(layers.values())) / wall,
                                "ratio"),
    }
