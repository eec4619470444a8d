"""Benchmark for the mindsdb_spark engine; see README.md."""
