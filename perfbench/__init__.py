"""Benchmark of the engine's pipeline, alerts API and query registry; run with ``python3 perfbench/run.py``."""
