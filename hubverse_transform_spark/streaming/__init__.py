"""Streaming surface: event-driven ingest parity (Layer A: Spark's file
source with ``foreachBatch``, plus the per-object Lambda dispatch) and
windowed aggregations / interval joins over `events` (Layer B [EXT])."""
