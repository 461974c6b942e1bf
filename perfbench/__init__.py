"""Benchmark of the query engine: see ``perfbench/README.md``."""
