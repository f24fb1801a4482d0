"""compute_release contract: eager checkpoint + deterministic release."""

from __future__ import annotations

import pytest
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



# Every query whose plan had, or has, a persist / compute_release /
# localCheckpoint site of its own or in a one-consumer operator. Kept sites
# must release; stripped ones must leave no stray persist behind.
MATERIALIZATION_CONSUMERS = [
    "q47_winnow_overlap_pairs",
    "q137_brand_triangles",
    "q150_recursive_reach",
    "q158_prefix_filter_jaccard",
    "q212_containment_pairs",
    "q236_bfs_reach",
    "q245_fellegi_sunter",
    "q249_kcore_peel",
    "q251_hits_bipartite",
    "q253_degree_assortativity",
    "q256_classifier_eval",
    "q267_adamic_adar",
    "q309_blocking_quality_audit",
    "q331_item_item_cf",
    "q334_clustering_coefficient",
    "q353_cf_holdout_hitrate",
    "q365_rec_novelty_coverage",
    "q370_ranker_agreement",
]


@pytest.mark.parametrize("name", MATERIALIZATION_CONSUMERS)
def test_query_leaves_nothing_cached(spark, name):
    import __spark_entry__ as entry

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    entry.queries()[name](spark, "/root/testdata/sf0.001").collect()
    assert cm.isEmpty(), f"{name} left a persisted frame registered"
