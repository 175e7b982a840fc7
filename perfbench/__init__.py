"""Benchmark for the engine: see run.py and README.md."""
