"""Benchmark of the eventstream-spark engine; see README.md."""
