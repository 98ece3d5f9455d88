"""Benchmark of the cod-stats match pipeline; run ``perfbench/run.py``."""
