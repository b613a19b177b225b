"""Benchmark for the engine: seeded workloads, oracle-checked outputs, layer traces."""
