"""Benchmark of the impresso_ta CLI jobs; the entry point is run.py."""
