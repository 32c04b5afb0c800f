"""Benchmark of the engine: workloads, tracing and the run entry point."""
