"""Deterministic sampling [EXT] for training-data curation: hash-keyed
splits (scale path, pure projection) and exact-k stratified sampling
(window path). Both are reproducible across runs and engines — the sample
is a pure function of the row key, never of RNG state or partitioning,
which is what makes downstream dedup/eval splits auditable.

``rand(seed)`` / ``df.sample`` are partitioning-dependent in Spark and not
reproducible in a SQL oracle; md5-keyed selection is (DuckDB computes the
identical digest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: tuple[tuple[str, float], ...] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a pure
    function of ``md5(key)``, so the partition is stable under re-runs,
    re-partitioning, data growth, and engine choice — the property an
    auditable eval split needs (a ``rand()`` split is none of these).

    Scale path: a stateless projection — no shuffle, no coordination; rows
    can be split during ingest. Bucketing compares the first 8 md5 hex chars
    against precomputed hex thresholds: fixed-width lowercase hex compares
    lexicographically exactly as the 32-bit integer it encodes, so a SQL
    oracle reproduces the assignment with plain string comparison (no
    hex->int conversion drift).
    """
    fracs = [f for _, f in splits]
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {sum(fracs)}")
    u = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    expr = None
    for name, thresh in split_thresholds(splits):
        cond = u < F.lit(thresh)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = expr.otherwise(splits[-1][0]) if expr is not None else F.lit(splits[-1][0])
    return df.withColumn(out_col, expr)


def split_thresholds(
    splits: tuple[tuple[str, float], ...],
) -> list[tuple[str, str]]:
    """(name, 8-hex-char cumulative threshold) for every split but the last
    (which takes the remainder). Shared with the SQL oracle so both engines
    bucket on byte-identical constants."""
    out, cum = [], 0.0
    for name, frac in splits[:-1]:
        cum += frac
        out.append((name, format(int(cum * (1 << 32)), "08x")))
    return out


def proportional_allocation_sample(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    key_col: str,
    total_k: int,
) -> DataFrame:
    """Weight-proportional sample allocation: stratum ``s`` gets
    ``floor(total_k * weight(s) / total_weight)`` sample slots (integer
    arithmetic — exact and engine-portable, no float division), filled by
    md5-rank within the stratum. The curation move behind "sample 1M docs,
    proportional to each source's token mass".

    Two aggregations over the stratum key (weights, then the rank filter's
    window) plus one broadcast join of the tiny per-stratum allocation table
    — the big table shuffles once. Integer weights required (token/char
    counts are); ``weight_col`` sums must stay within int64.
    """
    weights = df.groupBy(strata_col).agg(F.sum(weight_col).alias("_w"))
    total = weights.agg(F.sum("_w").alias("_tw"))
    alloc = weights.crossJoin(F.broadcast(total)).select(
        strata_col,
        F.expr(f"({total_k} * _w) div _tw").alias("_alloc"),
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    ranked = df.withColumn("sample_rank", F.row_number().over(w))
    return ranked.join(F.broadcast(alloc), strata_col).filter(
        F.col("sample_rank") <= F.col("_alloc")
    ).drop("_alloc")


def stratified_sample_exact(
    df: DataFrame, strata_col: str, key_col: str, k: int
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically ranked
    by key digest (a reproducible 'random' order).

    Window path: one shuffle on the stratum key. For 100 TB corpora with
    few strata prefer ``hash_split`` (no shuffle) unless exact
    per-stratum counts are required; for heavy strata the sort is the cost
    — rank by digest so the sort key is uncorrelated with ingest order.
    Adds a ``sample_rank`` column (1..k within each stratum).
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def per_group_cap(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    cap: int,
) -> DataFrame:
    """Per-domain quota capping [EXT]: keep at most ``cap`` rows per group,
    preferring rows by ``order_cols`` (callers must include a unique
    tiebreak key so the kept set is deterministic). This is the standard
    curation guard against a single domain dominating a training mix
    (C4/RefinedWeb cap documents per registered domain).

    One window shuffle partitioned BY THE GROUP — no global sort; a hot
    domain concentrates on one reducer only up to its own row count, which
    is exactly the work that domain requires. Adds ``_rank`` then filters;
    the projection drops the helper column.
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= cap)
        .drop("_rank")
    )
