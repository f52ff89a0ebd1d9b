"""Structured Streaming surface: the reference's batching/trigger
machinery (message_queue/, SURVEY.md §2.8) re-expressed as Spark
streaming primitives."""

from .stream_extract import (
    read_pages_stream,
    start_curate_stream,
    start_extract_stream,
    stream_curate,
    stream_dedup,
    stream_window_counts,
)

__all__ = [
    "read_pages_stream",
    "start_curate_stream",
    "start_extract_stream",
    "stream_curate",
    "stream_dedup",
    "stream_window_counts",
]
