"""Correctness gate run after the timed reps of every run.

Two checks on the job's output directory:

- a deterministic doc sample (``crc32(doc_id) % SAMPLE_EVERY == 0``, plus
  every doc over the chunk budget) compared with ``semantics.clean_doc``
  on the span sequence (kind, text, media_ref, offset, in order), route
  and title;
- lineage invariants: the committed doc counts sum to the input, all
  buckets are present, and each bucket's checksum equals
  ``bit_xor(doc_hash)`` recomputed from the written data.
"""

from __future__ import annotations

import os
import zlib

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from rag_document_parser_spark.config import DEFAULT_CONFIG
from rag_document_parser_spark.plans.job import doc_hash_col
from rag_document_parser_spark.semantics import clean_doc

# ~4k of the 40k mixed docs
SAMPLE_EVERY = 10


def _sample(in_dir: str) -> dict[str, list]:
    table = ds.dataset(in_dir, format="parquet").to_table()
    long_doc = pc.fill_null(pc.greater(
        pc.list_value_length(table["spans"]),
        DEFAULT_CONFIG.max_spans_per_chunk), False).to_pylist()
    ids = table["doc_id"].to_pylist()
    keep = [i for i, (d, big) in enumerate(zip(ids, long_doc))
            if big or zlib.crc32(d.encode()) % SAMPLE_EVERY == 0]
    rows = table.take(keep).to_pylist()
    return {r["doc_id"]: r["spans"] for r in rows}


def check_sample(in_dir: str, out_dir: str) -> tuple[int, int]:
    """Returns (docs checked, docs that differ from the oracle)."""
    want = _sample(in_dir)
    got = ds.dataset(os.path.join(out_dir, "data"), format="parquet",
                     partitioning="hive").to_table(
        columns=["doc_id", "spans_clean", "route", "title", "success"],
        filter=pc.field("doc_id").isin(list(want))).to_pylist()
    by_id: dict[str, list[dict]] = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(r)
    bad = 0
    for doc_id, spans in want.items():
        rows = by_id.get(doc_id, [])
        spans_clean, route, title, success, _ = clean_doc(spans, DEFAULT_CONFIG)
        if len(rows) != 1 or (rows[0]["spans_clean"], rows[0]["route"],
                              rows[0]["title"], rows[0]["success"]) != (
                spans_clean, route, title, success):
            bad += 1
    return len(want), bad


def check_lineage(spark, out_dir: str, n_input: int,
                  n_buckets: int) -> tuple[int, int]:
    """Returns (buckets that break an invariant, docs with success=false)."""
    lineage = ds.dataset(os.path.join(out_dir, "lineage"),
                         format="parquet").to_table().to_pylist()
    committed = {r["partition_id"]: r for r in lineage}
    written = {r["bucket"]: r for r in (
        spark.read.parquet(os.path.join(out_dir, "data"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"),
             F.lower(F.hex(F.bit_xor(doc_hash_col()))).alias("checksum"),
             F.sum((~F.col("success")).cast("int")).alias("errors"))
        .collect())}
    bad = sum(
        b not in committed or b not in written
        or committed[b]["doc_count"] != written[b]["n"]
        or committed[b]["checksum"] != written[b]["checksum"]
        for b in range(n_buckets))
    # a duplicate or out-of-range lineage row breaks the invariants too
    bad += len(lineage) - len(committed) + len(set(committed) - set(range(n_buckets)))
    if sum(r["doc_count"] for r in lineage) != n_input:
        bad += 1
    return bad, sum(r["errors"] or 0 for r in written.values())
