"""Benchmark for jurimetria_etl_spark (see perfbench/README.md)."""
