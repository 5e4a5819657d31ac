"""Benchmark for the ingest-to-serve pipeline and the registry queries (see README.md)."""
