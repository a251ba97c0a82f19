"""Seeded end-to-end and per-layer benchmark of pdf_parse_bench_spark
(entry point: perfbench/run.py)."""
