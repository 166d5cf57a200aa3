"""Benchmark of the batch extraction job, ``plans.job.run_job``.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload mixed_40k --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --scaling --seed 1 --seconds 10

One run builds a SparkSession with ``session.get_spark`` (``local[cores]``,
cores from ``SPARK_GRAFT_CPUS`` or the CPUs this process may use), writes
the workload's input to parquet once, warms the job up, then times fresh
``run_job`` calls on the stored input for ``--seconds`` (at least two).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of ``perfbench/layers.py`` with
``--trace 1``. The line before it holds the detail of the run.
``--scaling`` runs ``mixed_40k`` at 1 and 4 cores, each in a fresh
process and JVM, and prints ``scaling_efficiency``.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("mixed_40k", "resume_skew")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, default="mixed_40k")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling", action="store_true",
                   help="run mixed_40k at 1 and 4 cores and print the "
                        "scaling efficiency")
    return p.parse_args(argv)


class JobRunner:
    """Fresh ``run_job`` calls on the stored input.

    ``resume_skew`` commits the lower half of the buckets into a template
    output once (``fail_after_buckets``); each rep starts from an untimed
    copy of it and times ``run_job(resume=True)``.
    """

    def __init__(self, spark, workload: str, in_dir: str, work: str):
        import pyarrow.dataset as ds

        from perfbench.inputs import N_BUCKETS

        self.resume = workload == "resume_skew"
        self.in_dir = in_dir
        self.work = work
        self.out = os.path.join(work, "out")
        self.template = os.path.join(work, "template")
        self.n_input = ds.dataset(in_dir, format="parquet").count_rows()
        self.n_buckets = N_BUCKETS
        self.docs = self.n_input
        self.attach(spark)

    def attach(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.in_dir)

    def warm_up(self) -> None:
        """Untimed jobs, so that the JIT, the Python workers and the
        file-system caches are warm before the timed reps: one rep, or for
        ``resume_skew`` the template job (it also takes the chunking path)
        and a resume call on a copy of the template that commits one more
        bucket."""
        from rag_document_parser_spark.plans import read_lineage, run_job

        if not self.resume:
            self.rep()
            return
        run_job(self.spark, self.df, self.template, resume=False,
                fail_after_buckets=self.n_buckets // 2, run_id="template")
        self.docs -= read_lineage(self.spark, self.template) \
            .agg({"doc_count": "sum"}).collect()[0][0]
        shutil.copytree(self.template, self.out)
        run_job(self.spark, self.df, self.out, resume=True,
                fail_after_buckets=1)

    def rep(self) -> float:
        """One timed ``run_job`` call; returns its wall seconds."""
        from rag_document_parser_spark.plans import run_job

        shutil.rmtree(self.out, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.template, self.out)
        t = time.perf_counter()
        r = run_job(self.spark, self.df, self.out, resume=self.resume)
        wall = time.perf_counter() - t
        if (r["docs_committed"], r["buckets_total_committed"]) != (
                self.n_input, self.n_buckets):
            raise RuntimeError(f"run_job committed {r}, expected "
                               f"{self.n_input} docs in {self.n_buckets} buckets")
        return wall


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    """One benchmark run. Returns (result line, detail)."""
    t_setup = time.perf_counter()
    from perfbench import gate, harness, inputs

    cores = harness.default_cores()
    spark = harness.start_spark(cores, work)
    harness.log("session", t_setup)
    in_dir = inputs.materialize(spark, args.workload, work, args.seed)
    harness.log("input", t_setup)
    runner = JobRunner(spark, args.workload, in_dir, work)
    runner.warm_up()
    setup_s = time.perf_counter() - t_setup
    harness.log("warm-up", t_setup)

    sampler = harness.RssSampler()
    sampler.start()
    walls = harness.timed_reps(runner.rep, args.seconds)
    peak_rss_mb = sampler.stop()
    harness.log("timed reps", t_setup)

    checked, mismatched = gate.check_sample(in_dir, runner.out)
    harness.log("oracle sample", t_setup)
    bad_buckets, error_docs = gate.check_lineage(
        spark, runner.out, runner.n_input, runner.n_buckets)
    harness.log("correctness gate", t_setup)
    rates = [runner.docs / w for w in walls]
    metrics = {
        "docs_per_s": (statistics.median(rates), "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "write_amp": (inputs.dir_bytes(runner.out) / inputs.dir_bytes(in_dir),
                      "ratio"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "docs_per_rep": runner.docs, "rep_wall_s": walls,
        "docs_per_s_reps": rates,
        "end_to_end": {k: v for k, (v, _) in metrics.items()},
        "error_rate": error_docs / runner.n_input,
        "oracle_docs_checked": checked, "oracle_mismatches": mismatched,
        "lineage_bad_buckets": bad_buckets,
    }
    if args.trace:
        from perfbench import layers

        spark.stop()  # the JVM stays up and warm
        spark = harness.start_spark(cores, work, event_log=True)
        metrics, trace_detail = layers.traced_run(
            spark, runner, work, args.seconds, untraced_best=min(walls))
    harness.stop_jvm()
    if args.trace:
        metrics.update(layers.event_log_metrics(work, trace_detail))
        detail.update(trace_detail)
    failed = mismatched + bad_buckets + error_docs
    result = {
        "correct": failed == 0,
        "attempted": runner.docs * len(walls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def scaling(args: argparse.Namespace) -> dict:
    """``mixed_40k`` at 1 and 4 cores, each in a fresh process and JVM."""
    dps = {}
    for cores in (1, 4):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             "mixed_40k", "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            cwd=ROOT, env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores)),
            capture_output=True, text=True, check=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        if not last["correct"]:
            raise RuntimeError(f"scaling run at {cores} cores was incorrect")
        dps[cores] = last["metrics"]["docs_per_s"]["value"]
    return {"docs_per_s": dps,
            "scaling_efficiency": dps[4] / dps[1] / 4, "target": 0.8}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rag_document_parser_spark",
                                       "__init__.py")):
        print(f"perfbench: no rag_document_parser_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.scaling:
        print(json.dumps(scaling(args)))
        return 0
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    harness.configure_env(ROOT, work)
    try:
        result, detail = run(args, work)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
