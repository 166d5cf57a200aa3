"""Scaling evidence for the CURATION CHAIN (auxiliary to the headline).

The north-rule criterion is evidenced on the extraction job
(``python3 perfbench/run.py --scaling``); this runner applies the same
two-level protocol (local[1] vs local[4], fresh JVM per level, one
self-contained invocation) to the full curation chain — extract →
quality gate → PII → boilerplate → exact dedup → verified near-dup
clusters.

INPUT CONSTRUCTION MATTERS here in a way it does not for the extract
job: the naive ``mult`` replication reuses each base doc's text
verbatim, so at mult=m EVERY doc sits in an m-member exact-duplicate
clique — candidate pairs grow as m² per clique and the "broadcast the
small dup side" assumption inverts (the dup side becomes the whole
corpus). Measured on that adversarial input the wall is dominated by
the quadratic verify join, and comparing walls across m conflates
scale with difficulty (eff 0.52 at m=16 → 0.31 at m=64, recorded under
"curate_chain_adversarial"). The fair protocol (default here) grows
the corpus at CONSTANT duplicate structure: each replica's text gets a
~40 % unique-token suffix (distinct shingles per replica), pushing
cross-replica Jaccard well under the 0.8 near-dup threshold, so per-doc
work stays constant as n grows. The perturbed corpus is written to a
temp parquet dir OUTSIDE the timed region.

Appends a row to BENCH/scaling_matrix.json under "curate_chain" and
prints the summary.

Usage: python scripts/bench_scaling_curate.py [mult] [--adversarial]

Each level's session comes from ``session.get_spark``;
``SPARK_DRIVER_MEM`` sizes its heap (default 8g).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
MULT = ARGS[0] if ARGS else "16"
ADVERSARIAL = "--adversarial" in sys.argv
LEVELS = (1, 4)

CHILD = r"""
import json, os, shutil, sys, tempfile, time
from pyspark.sql import functions as F
from rag_document_parser_spark.session import get_spark
cores, mult, adversarial = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3] == "1"
spark = get_spark(app="curate-scaling", master=f"local[{cores}]",
                  shuffle_partitions=max(cores * 2, 8),
                  extra={"spark.local.dir": "/dev/shm/spark-local"
                         if os.path.isdir("/dev/shm") else "/tmp"})
spark.sparkContext.setLogLevel("ERROR")
from rag_document_parser_spark.corpus import spans_df_from_documents
from rag_document_parser_spark.plans.curate import curate, curation_report
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
tmp = None
if adversarial or mult == 1:
    src, eff_mult = sf, mult
else:
    # constant-duplicate-structure growth: unique-token suffix per replica
    base = spark.read.parquet(f"{sf}/documents.parquet")
    rep = (base.crossJoin(spark.range(mult).select(
               F.col("id").alias("replica")))
           .select((F.col("doc_id") * 1000 + F.col("replica"))
                   .alias("doc_id"),
                   F.col("lang"), F.col("source"),
                   F.concat(
                       F.col("text"), F.lit(" "),
                       F.array_join(F.transform(
                           F.sequence(F.lit(1),
                                      (F.col("n_chars") / 25 + 2)
                                      .cast("int")),
                           lambda i: F.concat(F.lit("u"), F.substring(
                               F.md5(F.concat_ws("-",
                                                 F.col("doc_id")
                                                 .cast("string"),
                                                 F.col("replica")
                                                 .cast("string"),
                                                 i.cast("string"))),
                               1, 6))), " ")).alias("text"))
           .withColumn("n_chars", F.length("text").cast("bigint")))
    tmp = tempfile.mkdtemp(prefix="curate_scale_", dir="/dev/shm"
                           if os.path.isdir("/dev/shm") else "/tmp")
    rep.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    src, eff_mult = tmp, 1
df = spans_df_from_documents(spark, src, mult=eff_mult)
n = df.select("doc_id").distinct().count()   # warm the input path
t0 = time.perf_counter()
curation_report(curate(df)).collect()
wall = time.perf_counter() - t0
print(json.dumps({"cores": cores, "docs": n, "wall_sec": round(wall, 2)}))
spark.stop()
if tmp:
    shutil.rmtree(tmp, ignore_errors=True)
"""


def run(cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cores), MULT,
         "1" if ADVERSARIAL else "0"],
        capture_output=True, text=True, check=True, cwd=REPO)
    line = [ln for ln in out.stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    results = {c: run(c) for c in LEVELS}
    lo, hi = (results[c] for c in LEVELS)
    speedup = lo["wall_sec"] / hi["wall_sec"]
    eff = speedup / (LEVELS[1] / LEVELS[0])
    key = "curate_chain_adversarial" if ADVERSARIAL else "curate_chain"
    summary = {
        "metric": "curate_scaling_efficiency",
        "input": "verbatim-replica (adversarial all-dup)" if ADVERSARIAL
                 else "perturbed-replica (constant dup structure)",
        "mult": int(MULT),
        "docs": lo["docs"],
        "wall_sec": {str(c): results[c]["wall_sec"] for c in LEVELS},
        "speedup": round(speedup, 2),
        "value": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    path = os.path.join(REPO, "BENCH", "scaling_matrix.json")
    matrix = json.load(open(path)) if os.path.exists(path) else {}
    matrix.setdefault(key, []).append(summary)
    with open(path, "w") as f:
        json.dump(matrix, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
