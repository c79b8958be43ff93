"""Benchmark of the engine's N-Quads ETL, lookup surface and corpus
curation workloads; see README.md."""
