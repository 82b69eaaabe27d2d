"""Benchmark of record for deepie_spark; see README.md."""
