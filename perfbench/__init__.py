"""Benchmark of the near-duplicate pipeline: see run.py."""
