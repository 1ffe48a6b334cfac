"""Benchmark of raquet_spark: see run.py and BENCHMARK.json."""
