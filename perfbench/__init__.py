"""Benchmark for the tilematrix_spark engine; see run.py."""
