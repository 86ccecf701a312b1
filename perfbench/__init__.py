"""Benchmark for the sync and query paths; see perfbench/README.md."""
