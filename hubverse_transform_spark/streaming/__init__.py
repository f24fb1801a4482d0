"""Streaming surface: event-driven ingest parity (Layer A: Spark's file
source with ``foreachBatch``, plus the per-object Lambda dispatch) and
windowed aggregations / interval joins over `events` (Layer B [EXT])."""

from hubverse_transform_spark.streaming.ingest import dispatch_object_event, stream_model_outputs
from hubverse_transform_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

__all__ = [
    "dispatch_object_event",
    "stream_model_outputs",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
]
