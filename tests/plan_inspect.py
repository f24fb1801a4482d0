"""Plan-shape helpers for the tests: pushdown, pruning, join strategy,
codegen spans and unpartitioned windows, read off ``explain_str`` or the
optimized logical plan.

At 100 TB a scan that reads all columns for a 2-column projection, or a
sort-merge join where a broadcast was possible, IS the performance bug — so
the tests assert plan shape, not just results, using these helpers.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from hubverse_transform_spark.plans.inspect import explain_str


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters pushed into the file scan (``PushedFilters: [...]``)."""
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scanned_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (``ReadSchema``) — the pruning check."""
    plan = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    """True when the plan contains a BroadcastHashJoin (vs sort-merge)."""
    return "BroadcastHashJoin" in explain_str(df)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen spans — wider is better (fewer
    breaks). Handles both the tree form (``WholeStageCodegen (1)``) and the
    formatted form (``[codegen id : 1]``)."""
    plan = explain_str(df)
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    ids |= set(re.findall(r"codegen id : (\d+)", plan))
    if ids:
        return len(ids)
    # under AQE, codegen happens per-stage at execution time and the
    # pre-execution plan carries no annotation — probe a fresh Dataset
    # (fresh QueryExecution) with AQE off to see the static codegen layout
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees",
            explain_str(df.alias("_codegen_probe"), mode="codegen"),
        )
        return int(m.group(1)) if m else 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def global_window_count(df: DataFrame) -> int:
    """Number of Window operators with an EMPTY partition spec in the
    optimized logical plan. An unpartitioned window funnels its entire
    input through ONE task (Spark itself warns "No Partition Defined for
    Window operation") — fatal at lake scale unless the rows entering it
    are bounded by something other than data volume (group cardinality,
    value granularity). Counted on the logical plan via the JVM tree walk
    because the physical plan string is ambiguous (``Window [e], [o]`` vs
    ``Window [e], [p], [o]`` can't be parsed robustly once expressions
    nest brackets)."""

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    plan = df._jdf.queryExecution().optimizedPlan()  # type: ignore[attr-defined]
    return sum(
        1
        for n in walk(plan)
        if n.nodeName() == "Window" and n.partitionSpec().size() == 0
    )
