"""Benchmark of record for the meerpipe_spark engine (see README.md)."""
