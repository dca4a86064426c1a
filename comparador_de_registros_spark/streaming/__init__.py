"""Incremental processing.

The reference is batch-only (chunked CSV iteration, SURVEY.md §2.10)
and the north_rule's pipeline is batch spark-submit with checkpoints,
so this package provides *incrementality*, not Structured Streaming
state: delta dedup of newly arrived conversations against the
existing signature corpus (stream_dedup.py).
"""
