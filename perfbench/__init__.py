"""Benchmark of the engine in this checkout; see README.md."""
