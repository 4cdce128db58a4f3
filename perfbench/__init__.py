"""Benchmark of the aresdb_spark engine; see README.md."""
