"""Benchmark of the spark-graft engine; see run.py."""
