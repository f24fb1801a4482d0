"""Salted two-phase aggregation equals the direct aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_two_phase_agg_equals_direct(spark):
    from hubverse_transform_spark.operators.skew import two_phase_agg
    from hubverse_transform_spark.session import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    got = {
        r.l_returnflag: (r.sum_l_quantity, r.count_l_orderkey, r.max_l_extendedprice)
        for r in two_phase_agg(
            li,
            "l_returnflag",
            {"l_quantity": "sum", "l_orderkey": "count", "l_extendedprice": "max"},
        ).collect()
    }
    want = {
        r.l_returnflag: (r.s, r.c, r.m)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("s"),
            F.count("l_orderkey").alias("c"),
            F.max("l_extendedprice").alias("m"),
        )
        .collect()
    }
    assert got == want
