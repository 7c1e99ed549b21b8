"""Repo benchmark: seeded workloads, checks, tracing and event-log parsing."""
