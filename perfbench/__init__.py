"""Benchmark of the medallion DAG and the query registry (see README.md)."""
