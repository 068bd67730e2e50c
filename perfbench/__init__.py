"""Benchmark of the mit_map_reduce_spark package: see run.py."""
