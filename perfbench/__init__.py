"""Benchmark of promi_spark: see README.md in this directory."""
