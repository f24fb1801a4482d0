"""Snapshot diff [EXT]: what changed between two versions of a table.

The lake-maintenance primitive behind incremental syncs, CDC backfills, and
"what did yesterday's load actually do": full-outer join the two snapshots
on the key and classify every key as added / removed / changed / unchanged.
Value comparison is a single md5 over the concatenated, null-tagged value
columns — one expression per side, so the join carries two narrow columns
(key, digest) no matter how wide the table is.

Scale shape: both sides shuffle once on the key (co-partitioned full-outer
sort-merge join); with both snapshots bucketed on the key the exchange
disappears entirely (Spark's ``bucketBy`` at write time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _digest(cols: list[str]):
    # null-tagged so NULL vs '' vs 'null' stay distinct
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
            F.concat(F.lit("\x01"), F.col(c).cast("string"))
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("\x02", *parts))


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Classify keys across snapshots: returns (key, change) where change in
    {'added', 'removed', 'changed', 'unchanged'}."""
    o = old.select(F.col(key).alias("k"), _digest(cols).alias("oh"))
    n = new.select(F.col(key).alias("k"), _digest(cols).alias("nh"))
    return o.join(n, "k", "full_outer").select(
        F.col("k").alias(key),
        F.when(F.col("oh").isNull(), F.lit("added"))
        .when(F.col("nh").isNull(), F.lit("removed"))
        .when(F.col("oh") != F.col("nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
