"""Benchmark helpers: input generators, statistics, metric tables, DuckDB oracle."""
