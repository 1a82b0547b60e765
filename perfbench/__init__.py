"""Benchmark for the jobspark engine; run with ``python3 perfbench/run.py``."""
