"""Binned interval join [EXT]: a point-in-interval join on an equi-key.

A point-in-interval join has no equi-key, so Spark's only direct plan is a
(Broadcast)NestedLoopJoin, which compares every point with every interval.
The rewrite is BINNING: quantize the value domain into fixed-width bins,
replicate each interval into every bin it overlaps, and equi-join on the
bin id — Catalyst then plans a hash join on the bin key with the interval
side broadcast, so the points stream through it without a shuffle, and the
exact range predicate filters residual bin-collisions after the match.

Cost model: replication factor is ~(interval_width / bin_width + 1), so pick
``bin_width`` near the typical interval width; candidate pairs per bin are
(points in bin) x (intervals overlapping bin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Inner-join ``points`` to ``intervals`` where
    ``lo_col <= value_col <= hi_col`` (closed interval) via bin equi-keys.

    Both inputs keep all their columns (names must not collide). The
    interval side explodes into one row per overlapped bin — keep
    ``bin_width`` of the same order as the interval widths to bound the
    blow-up.

    The interval side is always the broadcast build side. That is pinned,
    not left to Catalyst: a locally-created interval frame has no stats, so
    left to itself Catalyst may broadcast the POINTS side instead — silently
    collecting the fact table to the driver (observed: 2.5x slowdown at
    sf0.1, an OOM at lake scale).
    """
    binned_pts = points.withColumn(
        "_bin_l", F.floor(F.col(value_col) / F.lit(bin_width)).cast("long")
    )
    rep = intervals.withColumn(
        "_bin_r",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    rep = F.broadcast(rep)
    cond = (
        (binned_pts["_bin_l"] == rep["_bin_r"])
        & (binned_pts[value_col] >= rep[lo_col])
        & (binned_pts[value_col] <= rep[hi_col])
    )
    return binned_pts.join(rep, cond, "inner").drop("_bin_l", "_bin_r")
