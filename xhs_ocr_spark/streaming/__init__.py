"""Structured Streaming surface."""

from .incremental import (  # noqa: F401
    extraction_stream,
    streaming_dedup_within_watermark,
    streaming_sessions,
    windowed_event_counts,
)
from .stateful import stateful_user_totals  # noqa: F401
