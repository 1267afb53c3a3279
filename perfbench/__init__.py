"""Benchmark for the osmspark engine; run `perfbench/run.py`."""
