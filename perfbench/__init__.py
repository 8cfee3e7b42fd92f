"""Benchmark for the esa_pfa_spark engine; see README.md."""
