"""Benchmark of the paper pipeline and the query registry; see README.md."""
