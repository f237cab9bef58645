"""Benchmark for the GCS-to-Postgres pipeline and the query engine; run perfbench/run.py."""
