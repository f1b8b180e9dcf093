"""Benchmark of the sqltask_spark engine; see README.md."""
