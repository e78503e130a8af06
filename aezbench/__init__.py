"""Benchmark of the aezspark engine: seeded workloads, oracle checks and
per-layer tracing. Entry point: aezbench/run.py."""
