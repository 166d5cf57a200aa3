"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from rag_document_parser_spark.config import DEFAULT_CONFIG


def get_spark(app: str = "rag-document-parser-spark", master: str | None = None,
              shuffle_partitions: int = 32, extra: dict[str, str] | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_CONFIG.arrow_max_records_per_batch))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Pin the heap (-Xms == -Xmx) and pre-touch it: a growable heap in
        # local mode caused multi-10x run-to-run variance (kernel-time
        # storms zero-filling pages as G1 grew/shrank the heap under 32
        # concurrent tasks). Irrelevant on a real cluster with fixed
        # executor memory, essential for stable local benchmarks.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')} "
                "-XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
