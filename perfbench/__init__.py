"""Benchmark of the gwv_spark validation engine; see README.md."""
