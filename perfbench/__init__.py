"""Benchmark of the engine's public functions: seeded workloads, DuckDB
output checks, end-to-end and per-layer metrics. See ``README.md``."""
