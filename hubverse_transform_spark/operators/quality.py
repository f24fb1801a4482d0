"""Data-quality expectations [EXT]: declarative row-level constraint checks,
plus referential-integrity and partition-completeness audits.

Generalizes the reference's file-level error channel (UserWarning on bad
extensions, ref model_output.py:112-122, 212-221) to the data plane: instead
of rejecting whole files, every ROW is checked against named predicates and
annotated with which checks failed — the badRecordsPath pattern for
semantic (not parse) errors; a caller routes rows with one filter on the
annotation.

Scale shape: all checks evaluate in ONE projection over the scan (an array
of failed-check names built from ``when`` expressions — pure codegen, no
UDF), and a filter on it is pushable. No shuffle at all unless the caller
adds one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: name of the appended column listing failed checks (empty array = clean)
VIOLATIONS_COL = "violations"


def with_expectations(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Append ``violations: array<string>`` listing every failed check.

    ``checks`` maps check-name -> predicate Column that must hold for a
    clean row. A predicate evaluating to NULL (e.g. comparisons over null
    inputs) counts as a violation — null-hostile semantics, matching SQL
    CHECK constraints' spirit for quarantine purposes.
    """
    flags = [
        F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
        for name, pred in checks.items()
    ]
    return df.withColumn(
        VIOLATIONS_COL,
        F.array_compact(F.array(*flags)) if flags else F.array().cast("array<string>"),
    )


def referential_integrity_audit(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key audit [EXT]: for each (name, child, fk_col, parent, pk_col)
    relation, count child rows and orphans (child keys absent from the
    parent, nulls counted separately) — the referential-integrity report a
    lake runs after every bulk load.

    Each relation is one left-anti join; parents are dimension-sized in a
    star schema, so Spark broadcasts them and every branch stays map-side
    (no shuffle of the fact table). Branches union into one long-format
    result and run concurrently in a single job.
    """
    from functools import reduce

    parts = []
    for name, child, fk, parent, pk in relations:
        keys = child.select(F.col(fk).alias("_k"))
        nn = keys.filter(F.col("_k").isNotNull())
        orphans = nn.join(
            parent.select(F.col(pk).alias("_k")).distinct(), "_k", "left_anti"
        )
        parts.append(
            keys.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("_k").isNull().cast("long")).alias("n_null_fk"),
            ).crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
        )
    return reduce(DataFrame.unionAll, parts)


def partition_completeness(
    df: DataFrame,
    ts_col: str,
    *,
    low_watermark: float = 0.5,
) -> DataFrame:
    """Partition-completeness audit [EXT]: for every calendar day between the
    data's min and max (inclusive), the ingested row count and a status —
    ``missing`` (day absent), ``low`` (below ``low_watermark``× the mean
    daily volume), else ``ok``. The check a lake runs before declaring a
    daily partition queryable; gaps here mean upstream loss, not filters.

    Plan: one daily-count aggregate; the day SPINE is generated from the
    min/max scalar pair (broadcast, one row -> explode(sequence)) and
    left-joins the counts — the fact table is scanned once and never joins
    anything non-broadcast. The spine is |days| rows; at any scale that is
    KB-sized.
    """
    daily = df.groupBy(F.to_date(ts_col).alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    bounds = daily.agg(
        F.min("day").alias("_lo"),
        F.max("day").alias("_hi"),
        F.avg("n_rows").alias("_mean"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
        ).alias("day"),
        "_mean",
    )
    joined = spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
        F.when(F.col("n_rows").isNull(), F.lit("missing"))
        .when(F.col("n_rows") < F.col("_mean") * low_watermark, F.lit("low"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )
    return joined
