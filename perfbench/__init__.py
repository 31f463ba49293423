"""Benchmark of the ingest -> materialize -> serve loop (see README.md)."""
