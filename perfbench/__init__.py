"""Benchmark for the data_mining_map_reduce_spark engine; see run.py."""
