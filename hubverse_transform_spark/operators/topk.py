"""Top-k operators [EXT].

``orderBy().limit(k)`` already executes as TakeOrderedAndProject (per-partition
partial top-k, then a single driver merge of k·partitions rows) — the right
global plan at any scale. Per-group top-k uses rank-over-window, which
shuffles once on the group key with partial sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_name: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number window (deterministic given a
    total order in ``order_cols`` — include a tie-breaker column)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )
