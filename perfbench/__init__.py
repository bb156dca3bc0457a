"""Benchmark of the cashflow lifecycle; run ``python3 perfbench/run.py``."""
