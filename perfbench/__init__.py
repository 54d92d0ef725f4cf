"""Benchmark of the spark-graft engine; the entry point is ``run.py``."""
