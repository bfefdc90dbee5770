"""Benchmark of the extraction job: workloads, spans, event-log parsing."""
