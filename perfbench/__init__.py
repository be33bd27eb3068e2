"""Benchmark of kairos_spark; see README.md."""
