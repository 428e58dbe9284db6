"""Benchmark of the STTM engine: see BENCHMARK.json and run.py."""
