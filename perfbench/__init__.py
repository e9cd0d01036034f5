"""Serving-and-ingest benchmark for newsleak_spark (entry: perfbench/run.py)."""
