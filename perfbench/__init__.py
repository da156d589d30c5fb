"""Benchmark of the engine: see perfbench/README.md."""
