"""Repository benchmark: workloads, tracing and correctness gates (see README.md)."""
