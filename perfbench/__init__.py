"""Benchmark of the ftidx engine; entry point ``perfbench/run.py``."""
