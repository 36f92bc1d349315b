"""Benchmark for the full-text engine: see README.md."""
