"""Benchmark for h3ronpy_spark; run perfbench/run.py from the repository root."""
