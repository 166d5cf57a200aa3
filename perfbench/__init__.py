"""Benchmark of the batch extraction job (``plans.job.run_job``)."""
