"""Benchmark inputs: made from the seed, stored as parquet before timing.

The source table has the shape of one sf0.1 ``documents`` table (5,000
rows of 8-104 space-separated words) and is written with pyarrow.
``corpus.spans_df_from_documents`` wraps it into the span model, and the
result is written once; timed reps read only stored input.

``resume_skew`` takes 10k mixed docs and adds giant pdf docs from
``corpus.generate_fixture_docs``, with ids picked so that ``GIANT_DOCS`` of
them fall in the upper half of the buckets: the half its timed resume
call processes.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from rag_document_parser_spark.config import DEFAULT_CONFIG
from rag_document_parser_spark.corpus import (generate_fixture_docs,
                                              spans_df_from_documents)
from rag_document_parser_spark.plans.job import bucket_col
from rag_document_parser_spark.schema import ARROW_SPAN_STRUCT

N_SOURCE_DOCS = 5_000
# docs per source row: 8 x 5,000 = the 40k-doc mixed corpus
MIXED_MULT = 8
# 10k docs under the resume_skew giants
RESUME_MULT = 2
GIANT_DOCS = 8
WARM_GIANTS = 2
GIANT_SPANS = 8_192
N_BUCKETS = DEFAULT_CONFIG.n_buckets

VOCAB = ("a batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window agg").split()
LANGS = ("en", "zh", "ar", "fr", "de")

INPUT_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(ARROW_SPAN_STRUCT)),
])


def write_documents(sf_dir: str, seed: int) -> None:
    """One ``documents.parquet``; the seed picks both ids and text."""
    rng = random.Random(seed)
    first = seed * N_SOURCE_DOCS
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(N_SOURCE_DOCS):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 104)))
        rows["doc_id"].append(first + i)
        rows["text"].append(text)
        rows["lang"].append(rng.choice(LANGS))
        rows["source"].append(f"src{i % 20}")
        rows["n_chars"].append(len(text))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table(rows), os.path.join(sf_dir, "documents.parquet"))


def giant_docs(spark, seed: int) -> pa.Table:
    """pdf_block docs of ``GIANT_SPANS`` spans: ``GIANT_DOCS`` in buckets
    ``N_BUCKETS // 2`` and up, which the timed resume call processes, and
    ``WARM_GIANTS`` below, which the template job commits (so the chunking
    path is compiled before the timed reps)."""
    names = [f"giant-{seed}-{k}" for k in range(16 * GIANT_DOCS)]
    upper = {r.doc_id for r in spark.createDataFrame(
        [(n,) for n in names], "doc_id string")
        .where(bucket_col(N_BUCKETS) >= N_BUCKETS // 2).collect()}
    ids = ([n for n in names if n in upper][:GIANT_DOCS]
           + [n for n in names if n not in upper][:WARM_GIANTS])
    docs = []
    for k, doc_id in enumerate(ids):
        (doc,) = generate_fixture_docs(seed=seed * len(names) + k, n_docs=0,
                                       giant_doc_spans=GIANT_SPANS)
        docs.append({"doc_id": doc_id, "spans": doc["spans"]})
    return pa.Table.from_pylist(docs, schema=INPUT_ARROW_SCHEMA)


def materialize(spark, workload: str, work: str, seed: int) -> str:
    """Write the workload's input under ``work`` and return its directory."""
    sf_dir = os.path.join(work, "sf")
    in_dir = os.path.join(work, "input")
    write_documents(sf_dir, seed)
    mult = RESUME_MULT if workload == "resume_skew" else MIXED_MULT
    spans_df_from_documents(spark, sf_dir, mult=mult).write.parquet(in_dir)
    if workload == "resume_skew":
        pq.write_table(giant_docs(spark, seed),
                       os.path.join(in_dir, "giants.parquet"))
    return in_dir


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def count_files(path: str) -> int:
    """Parquet files under ``path``."""
    return sum(f.endswith(".parquet")
               for _, _, files in os.walk(path) for f in files)
