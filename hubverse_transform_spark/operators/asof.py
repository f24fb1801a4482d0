"""As-of (point-in-time) join [EXT].

Spark has no native ASOF JOIN. The range-join formulation
(``l.ts >= r.ts`` + window) degenerates to BroadcastNestedLoop at scale, so we
use the union+window formulation instead: tag both sides, union, sort within
each key partition by (ts, side), and carry the right side's latest value
forward with ``last(..., ignorenulls=True)``. Cost: ONE shuffle on the join
key — the same exchange a plain equi-join would pay — regardless of how many
right rows precede each left row.

Tie semantics: a right row at exactly ``left.ts`` IS visible (backward
inclusive, matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts`` oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, attach ``value_cols`` from the
    latest right row with ``right.ts <= left.ts`` and equal ``on`` keys.

    ``right`` must be unique per (on, right_ts) — pre-aggregate if not, or
    the carried value is the last within Spark's stable sort (nondeterministic).
    Left rows with no prior right row keep nulls.
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn("_ts", F.col(left_ts))
    rt = (
        right.select(
            *on,
            F.col(right_ts).alias("_ts"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("_side", F.lit(0))
    )

    # align schemas for unionByName
    for c in left.columns:
        if c not in rt.columns and c != "_side":
            rt = rt.withColumn(c, F.lit(None))
    for c in value_cols:
        if c not in lt.columns:
            lt = lt.withColumn(c, F.lit(None))

    unioned = lt.unionByName(rt.select(lt.columns))

    # right rows sort before left rows at the same ts => inclusive visibility
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
    return filled.filter(F.col("_side") == 1).drop("_side", "_ts", *value_cols)
