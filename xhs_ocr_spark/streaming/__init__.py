"""Structured Streaming surface."""

from .incremental import (  # noqa: F401
    extraction_stream,
    streaming_corpus_funnel,
    streaming_dedup_within_watermark,
)
