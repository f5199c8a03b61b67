"""Benchmark of duwamish_spark: workloads, oracles, tracing; entry point run.py."""
