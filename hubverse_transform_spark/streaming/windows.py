"""Windowed aggregations over event streams [EXT].

Built on ``F.window`` / ``F.session_window`` + ``withWatermark`` — the same
functions work on a static DataFrame (batch backfill over historical events)
and a streaming one (live ingestion); tests exercise both paths.

Watermarks bound state: at 100 TB/day the state store only retains windows
newer than (max event time - delay); late rows beyond the watermark drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    return df.withWatermark(ts_col, watermark) if watermark and df.isStreaming else df


def tumbling_window_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Non-overlapping fixed windows: count + value stats per window/group."""
    df = _maybe_watermark(events, ts_col, watermark)
    keys = [F.window(F.col(ts_col), window_duration).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
    )


def sliding_window_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    slide_duration: str = "5 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Overlapping windows (each row lands in window/slide windows)."""
    df = _maybe_watermark(events, ts_col, watermark)
    keys = [F.window(F.col(ts_col), window_duration, slide_duration).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def session_window_agg(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    gap: str = "5 minutes",
    group_cols: list[str] | None = None,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Dynamic-length sessions: a session closes after ``gap`` of silence."""
    df = _maybe_watermark(events, ts_col, watermark)
    keys = [F.session_window(F.col(ts_col), gap).alias("session")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
