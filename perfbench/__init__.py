"""Benchmark of the luxor-db-spark engine; see README.md."""
