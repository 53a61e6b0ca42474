"""Benchmark of the unstract_spark engine: see perfbench/run.py."""
