"""Benchmark harness: see perfbench/README.md."""
