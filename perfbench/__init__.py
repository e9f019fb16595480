"""Benchmark of the clips validation job; see README.md."""
