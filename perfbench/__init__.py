"""Benchmark for the library_beam_spark engine: three seeded workloads
(etl_full, update_feed, operator_suite), their correctness checks and a
traced run for per-layer numbers. Entry point: ``perfbench/run.py``."""
