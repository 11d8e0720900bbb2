"""Reusable DataFrame operators for large-scale training-data pipelines:
text analysis, deduplication, similarity search.

All hot paths are JVM built-ins (whole-stage codegen) or Arrow-batched
pandas UDFs — no per-row Python.
"""
