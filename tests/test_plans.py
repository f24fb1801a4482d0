"""Plan-shape assertions: at 100 TB the physical plan IS the product.

These tests pin that filters reach the parquet scan, unused columns are
pruned, small dimensions broadcast, the range join stays nested-loop over a
broadcast (never a cross shuffle), and the hot path stays in whole-stage
codegen.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from plan_inspect import (
    has_broadcast_join,
    pushed_filters,
    scanned_columns,
    whole_stage_codegen_spans,
)

from hubverse_transform_spark.plans.inspect import explain_str

SF = "/root/testdata/sf0.001"


def test_q06_pushes_filters_to_scan(spark):
    df = entry.q06_revenue_filter(spark, SF)
    pf = " ".join(pushed_filters(df))
    assert "l_discount" in pf and "l_quantity" in pf


def test_q06_prunes_columns(spark):
    cols = set(scanned_columns(df := entry.q06_revenue_filter(spark, SF)))
    # only the three referenced columns leave the scan
    assert cols == {"l_discount", "l_quantity", "l_extendedprice"}, explain_str(df)


def test_q01_prunes_unused_lineitem_columns(spark):
    cols = set(scanned_columns(entry.q01_pricing_summary(spark, SF)))
    assert "l_partkey" not in cols and "l_tax" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"} <= cols


def test_q02_broadcasts_dimensions(spark):
    df = entry.q02_revenue_by_region(spark, SF)
    assert has_broadcast_join(df)


def test_q18_range_join_is_broadcast_nested_loop(spark):
    plan = explain_str(entry.q18_range_join_bands(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q01_whole_stage_codegen(spark):
    assert whole_stage_codegen_spans(entry.q01_pricing_summary(spark, SF)) >= 1


def test_q03_top10_is_take_ordered(spark):
    # global top-k must not be a full sort: TakeOrderedAndProject does a
    # per-partition partial top-k then a single driver merge
    plan = explain_str(entry.q03_top_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q69_pushes_filters_both_scans(spark):
    df = entry.q69_excess_inventory_shippers(spark, SF)
    pf = " ".join(pushed_filters(df))
    # the p_size cut reaches the part scan, the shipdate range the lineitem scan
    assert "p_size" in pf and "l_shipdate" in pf


def test_q72_edges_basket_build_no_join(spark):
    # r14: the pair stream is a basket build (groupBy order -> sorted
    # distinct part set -> map-side i<j pair explode), NOT a lineitem
    # self-join — one fact exchange instead of two plus a join, and no
    # broadcast of a corpus-sized side anywhere. Asserted on the
    # edge-build frame — pagerank() returns an eagerly localCheckpointed
    # frame, so the final frame's explain no longer shows this subplan.
    plan = explain_str(entry._q72_edges(spark, SF))
    assert "Join" not in plan and "BroadcastExchange" not in plan
    assert "collect_set" in plan and "explode" in plan


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_part_pairs_equal_the_self_join(spark, sf):
    """The basket build is an exact fast path: ``_part_pairs`` is the
    distinct src < dst pair set of a lineitem self-join on the order key,
    and ``_q72_edges`` is that set plus every pair reversed."""
    from pyspark.sql import functions as F

    sf_dir = SF.replace("sf0.001", sf)
    li = entry._t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    r = li.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("_pb"))
    joined = (
        li.join(r, (F.col("l_orderkey") == F.col("_ok")) & (F.col("l_partkey") < F.col("_pb")))
        .select(F.col("l_partkey").alias("src"), F.col("_pb").alias("dst"))
        .distinct()
    )
    half = entry._part_pairs(spark, sf_dir)
    assert half.count() == joined.count() > 0
    assert half.exceptAll(joined).count() == 0 and joined.exceptAll(half).count() == 0
    both = joined.unionByName(joined.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = entry._q72_edges(spark, sf_dir)
    assert edges.count() == both.count()
    assert edges.exceptAll(both).count() == 0 and both.exceptAll(edges).count() == 0


def test_q73_subquery_is_decorrelated(spark):
    # Catalyst must rewrite the correlated scalar-agg subquery into an
    # aggregate + join, not a per-row subquery execution
    plan = explain_str(entry.q73_correlated_avg_subquery(spark, SF))
    assert "Join" in plan
    assert "ScalarSubquery" not in plan


def test_runtime_bloom_filter_injection(spark):
    """Spark injects a bloom-filter runtime row filter from the selective
    (filtered) join side into the big side's scan when broadcast is off —
    the 100 TB shuffle-join guard that prunes fact rows before the exchange.
    Local toy sizes fall under the default thresholds, so the test pins the
    CONFS that make injection fire and asserts the optimizer actually
    injects (if an upgrade silently stops injecting, this fails)."""
    from pyspark.sql import functions as F

    from hubverse_transform_spark.session import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        o = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
