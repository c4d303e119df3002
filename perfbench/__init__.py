"""Benchmark package: workloads, generators, engine counters and tracing."""
