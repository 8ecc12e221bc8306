"""Benchmark for the Spark ads pipeline engine; see README.md."""
