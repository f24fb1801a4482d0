"""Connected components over near-duplicate pair graphs [EXT].

Completes the dedup pipeline: candidate pairs (MinHash-LSH / SimHash) form an
undirected graph; each connected component is one duplicate cluster, and the
minimum doc id in a component is its canonical representative.

Algorithm: min-label propagation with pointer jumping. Each round every
node adopts the smallest label among itself and its neighbors (one join of
edges x labels + one groupBy min, both shuffled on node id), then the label
of its label (one more join), so a path of length L converges in
O(log L) rounds. No driver-side graph state; the fixpoint check is a count
of changed labels per round, and running out of rounds raises. Lineage is
cut each round with ``caching.compute_release`` (iterative plans otherwise
grow exponentially in Catalyst); ``caching`` records where that trade holds.

Deterministic: the fixpoint labels every node with its component's minimum id
regardless of execution order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node that appears in ``edges`` with its component's min id.

    Returns ``(node, component)``; isolated documents (no edges) are by
    definition their own singleton clusters and are not enumerated here.
    """
    sym = compute_release(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).unionByName(
            edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
    )
    labels = compute_release(
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    # Its own loop rather than caching.iterate: a version on iterate (uncut
    # start labels, an isEmpty fixpoint test) lost on q45, per-pass median
    # 3.01 s here vs 3.06 s, and on q366, 2.58 vs 2.66 s (sf0.1, 10
    # order-balanced pairs, parent IQR 0.40 / 0.56 s, iterate lower in 4 of
    # 10 for both; evidence/ab_iterate.jsonl).
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # the pre-iteration label rides along as _old so the fixpoint check
        # is a cheap aggregate over the checkpointed result — no extra join
        # of new-vs-old label sets per round
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping (label <- label of label): compresses chains so a
        # path of length L converges in O(log L) rounds instead of O(L)
        lookup = propagated.select(
            F.col("node").alias("_lnode"), F.col("label").alias("_llabel")
        )
        new_labels = compute_release(
            propagated.join(lookup, propagated.label == lookup._lnode, "left")
            .select(
                "node",
                "_old",
                F.least(
                    F.col("label"), F.coalesce(F.col("_llabel"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; output would be incorrect — raise "
            "max_iter (pointer jumping converges in O(log diameter), so 25 "
            "covers diameters up to ~2^25)"
        )

    return labels.select(F.col("node"), F.col("label").alias("component"))


def dedup_clusters(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Duplicate clusters from a pair graph: ``(node, component,
    cluster_size)`` — keep ``node == component`` rows to materialize the
    canonical survivors, or ``node != component`` for the deletion list."""
    from pyspark.sql import Window

    cc = connected_components(edges, src_col=src_col, dst_col=dst_col)
    w = Window.partitionBy("component")
    return cc.select(
        "node", "component", F.count(F.lit(1)).over(w).alias("cluster_size")
    )

