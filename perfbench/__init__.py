"""Benchmark for the flexneuart_spark engine: index build, warm BM25 query
and (traced runs) incremental ingest. Entry point: ``perfbench/run.py``;
metric definitions and workload rationale: ``perfbench/README.md``."""
