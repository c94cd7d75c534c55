"""Benchmark of parsel_spark: see README.md in this directory."""
