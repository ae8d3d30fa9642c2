"""Benchmark for data_ingestion_py_spark: see run.py."""
