"""Benchmark of gpu_bdb_spark: see perfbench/README.md."""
