"""Benchmark for the sleep-analytics + training-data engine (see README.md)."""
