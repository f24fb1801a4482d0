"""SCD Type-2 history reconstruction [EXT]: collapse a change log into
validity intervals (gaps-and-islands on attribute change, not time gap —
the sibling of operators/sessions.py, which islands on inactivity).

Given per-key observations ordered by time, every run of consecutive equal
attribute values becomes one slowly-changing-dimension version row with
[valid_from, valid_to) effective dating — how a warehouse rebuilds a
dimension's history from an event stream or CDC feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_scd2(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Collapse (key, ts, attr) observations into SCD2 version intervals.

    Returns one row per run of equal ``attr_col`` values per key:
    (key, attr, version, valid_from, valid_to, n_obs) — ``version`` is
    1-based per key, ``valid_to`` is the next version's ``valid_from``
    (null for the current version, i.e. a half-open interval chain).

    Plan: one shuffle on the key; the change-flag window, the running-sum
    island id, the per-island aggregate, and the lead() for ``valid_to``
    all reuse the same (key, ts) sort order, so Spark plans a single
    Exchange + Sort for the whole chain. Null-safe comparison keeps a run
    of null attributes as its own version rather than splitting per row.
    ``tiebreak_col`` orders observations that share a timestamp, so the
    version chain is deterministic.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(F.col(attr_col)).over(w)
    prev_seen = F.lag(F.lit(1)).over(w)
    changed = F.when(
        prev_seen.isNull() | ~F.col(attr_col).eqNullSafe(prev), F.lit(1)
    ).otherwise(F.lit(0))
    versioned = df.withColumn(
        "version",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_version = versioned.groupBy(key_col, "version").agg(
        F.min(attr_col).alias(attr_col),
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    w2 = Window.partitionBy(key_col).orderBy("version")
    return per_version.withColumn("valid_to", F.lead("valid_from").over(w2)).select(
        key_col, attr_col, "version", "valid_from", "valid_to", "n_obs"
    )


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE INTO semantics without a table format: apply a CDC changeset
    (``op`` in 'U'pdate / 'D'elete / 'I'nsert) to a snapshot in one pass,
    with the strict WHEN MATCHED / WHEN NOT MATCHED contract:

    - matched + U    -> change row's columns win (update)
    - matched + D    -> row dropped (delete)
    - matched + I    -> no-op, base row passes through (insert cannot clobber)
    - unmatched + I  -> change row appended (insert)
    - unmatched + U/D -> no-op; base rows without a change pass through

    Precondition (the same one Delta/Iceberg MERGE enforces at runtime):
    **at most one change row per key**. Duplicate keys would fan out
    through the join, silently duplicating matched rows, so they raise
    ``ValueError`` naming sample duplicate keys, mirroring Delta's
    "multiple source rows matched". The check costs one count-per-key
    aggregation on the SAME key the join shuffles on, so at scale it rides
    the shuffle MERGE already pays. Callers with duplicate keys pre-reduce
    the changeset (e.g. on a CDC sequence column).

    Implementation is a single full-outer join on the key — one shuffle,
    both sides co-partitioned, no second pass. This is exactly the shuffle
    Delta/Iceberg MERGE plans when the changeset is too big to broadcast;
    for a small changeset Spark's AQE will demote the join to broadcast on
    its own. Each side must share the non-key column set; change rows carry
    nulls only where ``op_col`` says they are deletes.
    """
    data_cols = [c for c in base.columns if c != key_col]
    b = base.withColumn("_in_base", F.lit(1))
    ch = changes.select(
        F.col(key_col),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(f"_ch_{c}") for c in data_cols],
    )
    dupes = (
        ch.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(5)
        .collect()
    )
    if dupes:
        sample = [r[key_col] for r in dupes]
        raise ValueError(
            "apply_changeset: multiple change rows matched the same key "
            f"(sample keys: {sample}); MERGE requires at most one source "
            "row per key — pre-reduce the changeset"
        )
    joined = b.join(ch, on=key_col, how="full_outer")
    matched = F.col("_in_base").isNotNull()
    take_change = (matched & (F.col("_op") == "U")) | (
        ~matched & (F.col("_op") == "I")
    )
    keep = (matched & ~F.col("_op").eqNullSafe(F.lit("D"))) | (
        ~matched & (F.col("_op") == "I")
    )
    out_cols = [
        F.when(take_change, F.col(f"_ch_{c}")).otherwise(F.col(c)).alias(c)
        for c in data_cols
    ]
    return joined.filter(keep).select(F.col(key_col), *out_cols)
