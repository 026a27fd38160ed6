"""Benchmark for the sequin_spark engine: see run.py and BENCHMARK.json."""
