"""The batch extraction job: salted repartition → kernel → sinks + lineage.

Pipeline (north rule, SURVEY.md §3.1 "Our Spark lifecycle"):

    read documents (Iceberg/parquet)
      → checkpoint anti-join against committed lineage partitions (resume)
      → deterministic salted bucketing on xxhash64(doc_id)  [skew defusal]
      → optional intra-doc chunking for giant span arrays
      → Arrow extraction kernel
      → re-assemble chunks, reading-order sort preserved
      → write output partitioned by bucket  +  lineage rows
        (partition_id=bucket, doc_count, checksum=bit_xor(doc_hash) hex,
         wall_ms) appended to the metrics table

Resume model: ``partition_id`` IS the deterministic bucket
(``pmod(xxhash64(doc_id), n_buckets)``), not Spark's ephemeral task
partition id — so a re-run computes identical bucket membership, anti-joins
the committed bucket set (broadcast: it is at most ``n_buckets`` rows), and
processes only the remainder. On a real cluster the two writes are Iceberg
appends (snapshot-isolated, atomic per commit); locally they are parquet
appends with per-bucket directory layout, committed bucket-at-a-time.
Equivalent of the reference's job registry + idempotent delete
(/root/reference/api_server.py:233-348), done with data instead of state.

Scale notes:
- the only shuffle in the whole job is the explicit ``repartition`` on the
  salt column; everything after is narrow.
- the committed-partition join is a broadcast anti-join (≤ n_buckets rows).
- one giant doc cannot stall a task: ``chunk_giant_docs`` slices its span
  array across rows before the kernel and a final groupBy reassembles —
  that groupBy shuffles only the chunked docs (filtered), not the corpus.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.operators import extract_arrow
from rag_document_parser_spark.schema import LINEAGE_SCHEMA


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def doc_hash_col():
    """Order-sensitive per-doc content hash over the cleaned span sequence.

    xxhash64 hashes nested array<struct> natively in the JVM — measured
    ~12x cheaper than the to_json round-trip it replaces."""
    return F.xxhash64(F.col("doc_id"), F.col("spans_clean"))


def _span_slices(df: DataFrame, max_spans: int) -> DataFrame:
    """ONE filter-free pass slicing every doc's span array into rows of
    at most ``max_spans`` spans: ``(doc_id, _nc, chunk_id, spans)``,
    where ``_nc`` is the doc's chunk count. Normal docs emit their single
    row unchanged (chunk_id=0, _nc=1). Routing is a when/otherwise inside
    the explode input, so the physical plan scans the source exactly once.

    posexplode_OUTER on purpose: plain posexplode lets
    InferFiltersFromGenerate add size()>0 filters on the generator INPUT
    expression, re-evaluating the whole slice chain per row as a
    pre-Generate filter (the lambda re-eval trap).
    """
    n_chunks = F.when(F.size("spans") > max_spans,
                      F.ceil(F.size("spans") / F.lit(max_spans)).cast("int")
                      ).otherwise(F.lit(1))
    slices = F.when(
        n_chunks == 1, F.array(F.col("spans"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice("spans", i * max_spans + 1, max_spans),
        )
    )
    return df.select(
        F.col("doc_id"),
        n_chunks.alias("_nc"),
        F.posexplode_outer(slices).alias("chunk_id", "spans"),
    )


def chunk_giant_docs(df: DataFrame, max_spans: int) -> DataFrame:
    """Split rows whose span array exceeds ``max_spans`` into chunk rows.

    Adds ``chunk_id`` (0-based) and ``n_chunks``. Normal docs pass through
    untouched with chunk_id=0, n_chunks=1. A public inspection helper
    (tests and the benchmark assert chunk counts with it) over the same
    slicing ``extract`` runs.
    """
    return _span_slices(df, max_spans).select(
        "doc_id", "spans", F.col("_nc").alias("n_chunks"), "chunk_id")


# U+0001 as chunk-tag delimiter: cannot collide with printable doc_ids, and
# the strip regex additionally requires the exact "<SOH><digits>/<digits>$"
# shape before treating a row as chunked.
_SEP = "\x01"

# public extract() columns (title_key is kernel-internal, used only by
# the chunk reassembly below)
_OUT_COLS = ["doc_id", "spans_clean", "route", "title", "success", "error",
             "wall_us"]


def _chunk_rows(df: DataFrame, max_spans: int) -> DataFrame:
    """Kernel-ready ``(doc_id, spans)`` rows, one per span-slice, with the
    chunk bookkeeping smuggled into the doc_id ("<id><SOH><chunk>/<n>")
    so the kernel stays a pure (doc_id, spans) operator. Docs that fit
    one chunk keep their untagged doc_id."""
    tagged = F.when(
        F.col("_nc") == 1, F.col("doc_id")
    ).otherwise(
        F.concat(F.col("doc_id"), F.lit(_SEP),
                 F.concat_ws("/", F.col("chunk_id"), F.col("_nc"))))
    return _span_slices(df, max_spans).select(tagged.alias("doc_id"),
                                              "spans")


def _reassemble_big(out: DataFrame) -> DataFrame:
    """Merge kernel output of chunked rows back to one row per doc —
    EXACTLY reproducing the unchunked contract.

    Span order: each chunk arrives reading-order-sorted, and within a
    chunk ties on (offset-null, offset) preserve original array order;
    annotating every span with (chunk_id, within-chunk output index) and
    sorting the flattened array by (nl, off, chunk_id, idx) therefore
    reproduces the global (nl, off, original-position) order — chunk
    slicing is array-order-contiguous, so (chunk_id, idx) sorts exactly
    like the original position for equal (nl, off).

    Title: each chunk carries the (nl, off, pos) key of the span its
    title came from (``title_key``); the doc title is the title whose
    (nl, off, chunk_id, pos) key is minimal — the first titled kept span
    in whole-doc reading order, matching ``semantics.clean_doc``.
    """
    strip = ("substring(doc_id, 1, length(doc_id) - "
             "length(regexp_extract(doc_id, '" + _SEP + "\\\\d+/\\\\d+$', 0)))")
    parsed = out.select(
        F.expr(strip).alias("doc_id"),
        F.regexp_extract("doc_id", _SEP + "(\\d+)/(\\d+)$", 1)
        .cast("int").alias("chunk_id"),
        "spans_clean", "route", "title", "title_key", "success", "error",
        "wall_us",
    )
    grouped = parsed.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("chunk_id", "spans_clean", "wall_us",
                                    "title", "title_key"))
        ).alias("chunks"),
        F.flatten(F.collect_list(F.split("route", ","))).alias("route_parts"),
        F.min("success").alias("success"),
        F.max("error").alias("error"),
    )
    classes = F.array_sort(F.array_distinct(F.col("route_parts")))
    classes_ne = F.filter(classes, lambda c: c != "empty")
    annotated = F.flatten(F.transform(
        F.col("chunks"),
        lambda c: F.transform(
            c["spans_clean"],
            lambda s, i: F.struct(
                s["offset"].isNull().cast("int").alias("nl"),
                F.coalesce(s["offset"], F.lit(0)).alias("off"),
                c["chunk_id"].alias("cid"),
                i.alias("idx"),
                s.alias("s"),
            ),
        ),
    ))
    keyed_titles = F.filter(
        F.transform(
            F.col("chunks"),
            lambda c: F.when(c["title"].isNotNull(), F.struct(
                c["title_key"]["nl"].alias("nl"),
                c["title_key"]["off"].alias("off"),
                c["chunk_id"].alias("cid"),
                c["title_key"]["pos"].alias("pos"),
                c["title"].alias("t"),
            )),
        ),
        lambda x: x.isNotNull(),
    )
    first_title = F.element_at(
        F.concat(F.array_sort(keyed_titles),
                 F.array(F.lit(None).cast(
                     "struct<nl:int,off:int,cid:int,pos:int,t:string>"))), 1)
    return grouped.select(
        "doc_id",
        F.transform(F.array_sort(annotated),
                    lambda x: x["s"]).alias("spans_clean"),
        F.when(F.size(classes_ne) > 0, F.array_join(classes_ne, ","))
        .otherwise(F.lit("empty")).alias("route"),
        first_title["t"].alias("title"),
        "success",
        "error",
        F.aggregate(F.col("chunks.wall_us"), F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("wall_us"),
    )


def _nondet(c):
    """Wrap a predicate so PushDownPredicates cannot move it (or any
    conjunct of it) below the protective exchange. The wrapper must make
    the WHOLE CaseWhen nondeterministic (``nondet AND p`` would have its
    deterministic conjunct split off and pushed to the scan, breaking
    exchange reuse and re-introducing the double scan), and the chosen
    expression must not be foldable: Spark 4 folds rand() range
    comparisons (rand >= -1 simplifies to true and the wrapper
    vanishes — observed), while spark_partition_id() >= 0 survives, is
    always true, and costs nothing."""
    return F.when(F.spark_partition_id() >= 0, c).otherwise(F.lit(False))


def extract(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
            chunk: bool = True,
            partition_expr=None, num_partitions: int | None = None,
            ) -> DataFrame:
    """The composable single-operator form (SURVEY.md §3.2): no sinks.

    Chunking: the input is scanned ONCE into a protective exchange
    (``repartition(num_partitions, partition_expr)``; the expression
    sees raw doc_ids, so a caller's bucket/salt column partitions
    exactly). The small-doc path flows straight to the kernel with zero
    chunk bookkeeping; the rare giant-doc branch explodes into tagged
    span-slices post-exchange and pays one more (tiny) exchange to
    spread its chunks across tasks. The small/big routing happens
    ABOVE the protective exchange with nondeterministically-wrapped
    filters, so Catalyst cannot push them past it: both branches read
    the SAME materialized shuffle (ReuseExchange / AQE stage reuse), the
    kernel runs exactly once per row, and a non-deterministic input
    plan is safe without persist — the shuffle files are written once,
    so every row flows to exactly one branch.
    """
    if not chunk:
        return extract_arrow(df, cfg).select(*_OUT_COLS)
    max_spans = cfg.max_spans_per_chunk

    # exchange the RAW rows (partition_expr sees untagged doc_ids, so a
    # caller's bucket expression partitions exactly), then route ABOVE
    # the materialized shuffle: the common small-doc path flows straight
    # into the kernel with zero chunk bookkeeping — no wrap/explode copy
    # — while the rare big branch explodes post-exchange.
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    pexpr = partition_expr if partition_expr is not None \
        else F.col("doc_id")
    ex = df.select("doc_id", "spans").repartition(num_partitions, pexpr)
    is_big = F.coalesce(F.size("spans") > max_spans, F.lit(False))
    small = ex.where(_nondet(~is_big))
    big = ex.where(_nondet(is_big))
    out_small = extract_arrow(small, cfg)
    # spread the rare giant-doc chunks across tasks (posexplode leaves
    # them co-located with their source row)
    chunked = _chunk_rows(big, max_spans).repartition(F.col("doc_id"))
    out_big = _reassemble_big(extract_arrow(chunked, cfg))
    return out_small.select(*_OUT_COLS) \
        .unionByName(out_big.select(*_OUT_COLS))


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = os.path.join(out_dir, "lineage")
    # existence probe first: avoids a noisy AnalysisException stack in the
    # JVM log on the first run. Local paths use os.path; remote URIs fall
    # back to try/except (an Iceberg catalog would make this a table check).
    if "://" not in path and not os.path.exists(path):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def run_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    resume: bool = True,
    fail_after_buckets: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Run the full extraction job. Returns summary counters.

    ``fail_after_buckets`` is a test hook: process only the first K buckets
    (by bucket id) then stop, simulating a mid-job failure so the resume
    path can be exercised.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    n_buckets = cfg.n_buckets
    df = input_df.withColumn("bucket", bucket_col(n_buckets))

    skipped = 0
    if resume:
        committed = read_lineage(spark, out_dir).select(
            F.col("partition_id").alias("bucket")
        ).distinct()
        skipped = committed.count()
        if skipped:
            # broadcast left-anti join, never a collect+isin: the committed
            # set is <= n_buckets rows, so the broadcast is tiny, and the
            # filter stays a hash-lookup per row instead of re-serializing
            # an id list into every task.
            df = df.join(F.broadcast(committed), "bucket", "left_anti")

    if fail_after_buckets is not None:
        remaining = sorted(
            r.bucket for r in df.select("bucket").distinct().collect()
        )[:fail_after_buckets]
        df = df.where(F.col("bucket").isin(remaining))

    # the one shuffle: extract's protective exchange doubles as the salted
    # bucket exchange (partition_expr = the deterministic bucket, so each
    # bucket's rows land in exactly one task → one file per bucket dir;
    # giant-doc chunks spread via extract's internal second exchange).
    par = min(n_buckets, spark.sparkContext.defaultParallelism * 2)
    out = extract(df.select("doc_id", "spans"), cfg,
                  partition_expr=bucket_col(n_buckets), num_partitions=par)
    out = out.withColumn("doc_hash", doc_hash_col()) \
             .withColumn("bucket", bucket_col(n_buckets))

    # dynamic partition overwrite = per-bucket idempotence: a re-run after a
    # mid-write crash replaces exactly the re-processed bucket directories
    # (the Iceberg analog is a replace-partitions snapshot commit); buckets
    # committed by other runs are untouched because the anti-join above
    # removed their rows from this write.
    data_path = os.path.join(out_dir, "data")
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
       .partitionBy("bucket").parquet(data_path)

    # lineage from a column-pruned READ-BACK of what was just written, not
    # from `out`: recomputing the lineage aggregate from `out` would run
    # the whole extraction a second time, while reading 3 small columns
    # back from columnar storage is nearly free at any scale. The read-back
    # is restricted to the buckets THIS run actually processed: stale
    # bucket dirs left by a crashed run, or pre-existing data under
    # out_dir, must not be swept into lineage and marked committed by a
    # run that never touched them. When nothing filtered the input
    # (resume off, no fail-after hook) the run processed EVERY bucket by
    # definition, so the set is statically range(n_buckets) — that skips
    # a whole extra scan+distinct over the input, a fixed driver cost
    # that otherwise eats into small-corpus scaling. (Contract already
    # implied by resume=False: the caller declares a fresh full run over
    # out_dir.)
    if not resume and fail_after_buckets is None:
        run_buckets = spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket"))
    else:
        run_buckets = df.select("bucket").distinct()
    written = (spark.read.parquet(data_path)
               .select("bucket", "doc_hash", "wall_us")
               .join(F.broadcast(run_buckets), "bucket", "left_semi"))
    lineage = (
        written.groupBy(F.col("bucket").alias("partition_id"))
        .agg(
            F.count("*").alias("doc_count"),
            F.lower(F.hex(F.bit_xor("doc_hash"))).alias("checksum"),
            (F.sum("wall_us") / 1000).cast("long").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    lineage.write.mode("append").parquet(os.path.join(out_dir, "lineage"))

    # single aggregation job for the summary (was two: a distinct-count
    # and a sum — each a separate fixed-cost driver round-trip)
    done = read_lineage(spark, out_dir).agg(
        F.count_distinct("partition_id").alias("b"),
        F.sum("doc_count").alias("d"),
    ).collect()[0]
    return {
        "run_id": run_id,
        "buckets_skipped": skipped,
        "buckets_total_committed": done["b"],
        "docs_committed": done["d"],
    }
