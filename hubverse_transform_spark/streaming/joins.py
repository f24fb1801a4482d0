"""Stream-stream joins [EXT]: watermarked interval joins between two event
streams.

Unlike a stream-static join (stateless lookup) a stream-stream join buffers
BOTH sides in the state store until the watermark says no match can still
arrive. The interval condition is what makes state bounded: with
``click.ts BETWEEN purchase.ts - horizon AND purchase.ts`` each side only
retains rows younger than (watermark delay + horizon) — without a time
bound Spark rejects inner joins with watermarks on both sides as
unbounded-state.

Scale: state is partitioned by the equi-join key (user), so it scales with
active users per retention window, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    left_watermark: str = "10 minutes",
    right_watermark: str = "10 minutes",
    horizon_seconds: int = 300,
    how: str = "inner",
) -> DataFrame:
    """Join rows of ``left`` to rows of ``right`` with the same key where
    the left event happened within ``horizon_seconds`` BEFORE the right
    event (attribution shape: click -> purchase).

    Both inputs may be streaming (watermarks applied and required for state
    cleanup) or static (condition-only join, same semantics for backfill).
    Column names are prefixed ``l_`` / ``r_`` to keep both timestamps.

    ``how``: "inner", or the outer variants "leftOuter" / "rightOuter" /
    "fullOuter" — outer rows with no partner emit null-padded ONLY once the
    watermark closes their match window (so an un-purchased click appears
    after watermark + horizon, not immediately); state stays bounded by the
    same interval condition.
    """
    l = left.select(
        F.col(key_col).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key_col, left_ts)],
    )
    r = right.select(
        F.col(key_col).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key_col, right_ts)],
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", left_watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", right_watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("l_ts") <= F.col("r_ts"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr(f"INTERVAL {horizon_seconds} SECONDS"))
    )
    return l.join(r, cond, how)
