"""Benchmark of the production extraction job; see run.py."""
