"""Benchmark of the etl_mini_dw_spark package; see README.md."""
