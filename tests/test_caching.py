"""caching contract: compute_release checkpoints and releases, iterate cuts
every round, and no other module cuts lineage."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release, iterate

REPO = Path(__file__).resolve().parents[1]


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


def test_iterate_runs_exact_rounds_and_cuts_each(spark):
    seen = []

    def halve(df, i):
        seen.append(i)
        return df.select("id", (F.col("v") / 2).cast("long").alias("v"))

    out = iterate(spark.range(4).withColumn("v", F.lit(8)), halve, 2)
    assert seen == [1, 2] and _is_checkpoint_scan(out)
    assert {r.v for r in out.collect()} == {2}


def test_only_caching_cuts_lineage():
    """Every localCheckpoint/checkpoint call lives in caching.py, so its
    fault-tolerance paragraph covers every lineage cut."""
    files = [REPO / "__spark_entry__.py", *sorted((REPO / "hubverse_transform_spark").rglob("*.py"))]
    offenders = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in files
        if path.name != "caching.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert not offenders, f"lineage cut outside caching.py: {offenders}"



# Every query whose plan had, or has, a persist / compute_release /
# localCheckpoint site of its own or in a one-consumer operator, and every
# consumer of an iterative operator. Kept sites must release; stripped ones
# must leave no stray persist behind.
MATERIALIZATION_CONSUMERS = [
    "q45_dedup_clusters",
    "q47_winnow_overlap_pairs",
    "q72_part_pagerank",
    "q137_brand_triangles",
    "q150_recursive_reach",
    "q158_prefix_filter_jaccard",
    "q194_star_components",
    "q195_power_iteration_pca",
    "q198_cluster_survivorship",
    "q202_cluster_size_distribution",
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
    "q366_dedup_storage_savings",
    "q370_ranker_agreement",
]


@pytest.mark.parametrize("name", MATERIALIZATION_CONSUMERS)
def test_query_leaves_nothing_cached(spark, name):
    import __spark_entry__ as entry

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    entry.queries()[name](spark, "/root/testdata/sf0.001").collect()
    assert cm.isEmpty(), f"{name} left a persisted frame registered"
