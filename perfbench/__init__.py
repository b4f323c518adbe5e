"""Benchmark of record: see README.md."""
