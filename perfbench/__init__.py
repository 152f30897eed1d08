"""Benchmark for the collector engine: seeded inputs, workloads, checks
and per-layer tracing. Entry point: ``python3 perfbench/run.py``."""
