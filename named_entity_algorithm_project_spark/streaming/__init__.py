"""Structured-Streaming front-end: incremental transcript ingestion."""

from .incremental import incremental_extract, process_batch, stream_paths  # noqa: F401
