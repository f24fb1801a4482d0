"""Skew mitigation [EXT]: salted two-phase aggregation for pathological key
distributions.

AQE's skew handling (enabled in the session factory) splits oversized
partitions at runtime, after the fact. Salting is the planned form: spread
one hot key across ``salt_buckets`` partial aggregates by appending a salt
component to the grouping key, then merge the partials per key — no single
reducer owns a hot key's entire row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def two_phase_agg(
    df: DataFrame,
    group_col: str,
    aggs: dict[str, str],
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof aggregation: aggregate on (key, salt) first, then merge
    partials per key.

    A single hot key turns ``groupBy(key)`` into one straggler task; salting
    splits that key's rows across ``salt_buckets`` partial aggregates (each
    a fraction of the hot key's volume) and the second, tiny aggregation
    merges them. Only decomposable aggregates are supported — ``sum``,
    ``count``, ``min``, ``max`` (avg = sum/count at the call site) — because
    the merge must be the same associative function.

    ``aggs`` maps column -> one of sum|count|min|max; output columns are
    ``{fn}_{col}``. (Spark's AQE partial aggregation + skew handling covers
    many cases; this is the explicit form for when the skew is known and
    you want the split regardless of runtime stats.)
    """
    _MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    _FIRST = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for fn in aggs.values():
        if fn not in _FIRST:
            raise ValueError(f"non-decomposable aggregate {fn!r}")

    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(group_col, "__salt").agg(
        *[_FIRST[fn](F.col(c)).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    )
    return partial.groupBy(group_col).agg(
        *[_MERGE[fn](F.col(f"{fn}_{c}")).alias(f"{fn}_{c}") for c, fn in aggs.items()]
    )
