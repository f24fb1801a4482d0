"""compute_release contract: eager checkpoint + deterministic release."""

from __future__ import annotations

from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release


def _is_checkpoint_scan(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "LogicalRDD" in plan or "ExistingRDD" in plan


def test_compute_release_checkpoints_and_unpersists(spark):
    base = spark.range(100).withColumn("v", F.col("id") * 2).persist()
    out = base.groupBy((F.col("id") % 10).alias("k")).agg(F.sum("v").alias("s"))
    released = compute_release(out, base)
    # eager checkpoint: the returned frame scans an RDD, not the DAG
    assert _is_checkpoint_scan(released)
    # the intermediate is no longer registered with the CacheManager
    assert base.storageLevel.useMemory is False
    # values intact
    assert released.count() == 10

