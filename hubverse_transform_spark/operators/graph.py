"""Iterative graph analytics [EXT]: PageRank over an edge DataFrame whose
``src`` and ``dst`` node sets agree (a symmetrized graph), per-node
triangle counts, and hop-limited BFS.

The reference has no graph code anywhere (grep over src/, faas/, test/ —
SURVEY.md §2.2); this is part of the Layer-B analytic surface. Complements
``operators/clusters.py`` (iterative connected components) with the other
canonical fixed-point graph computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release, iterate


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an edge list, exactly ``iterations`` rounds (bit-stable
    for oracle comparison). Returns (node, pr).

    Input contract, NOT checked: the set of ``src`` values equals the set
    of ``dst`` values and no endpoint is NULL. A symmetrized edge list —
    every ``(a, b)`` with its ``(b, a)``, as ``_q72_edges`` builds for q72
    — is one such input. The code relies on it three ways, and an edge
    list that breaks it yields wrong ranks with no error:

    - the node set is the adjacency keys (``distinct(src)``);
    - every node has an in-edge, so each round's aggregated contributions
      cover every node, with no join back to a node list;
    - every node has an out-edge, so no rank mass dangles.

    Scale shape: out-degrees fold via ONE ``collect_list`` aggregation on
    ``src`` whose keys double as the node list; the node count, taken once
    from that materialized table, enters each round's projection as a
    LITERAL (Python and JVM doubles are both IEEE-754 binary64, so
    ``lit((1-d)/n)`` is bit-identical to a broadcast division), so no round
    runs a broadcast job. Each round is one join of the fraction-folded
    edges with the rank vector on ``src`` and one aggregation on ``dst``,
    cut from its lineage by ``caching.iterate``; no nodes or ranks are
    collected to the driver.
    """
    # adjacency build: ONE exchange on src with partial collect_list
    # combining; keys are the complete node set (the input contract). The
    # count() is the one scalar this operator pulls to the driver, replacing
    # 1-row broadcast jobs in every round.
    adj = compute_release(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .groupBy("src")
        .agg(F.collect_list("dst").alias("_adj"))
    )
    n = adj.count()
    # frac = 1/out_degree, exploded map-side from the materialized adjacency
    e_frac = adj.select(
        "src",
        F.explode("_adj").alias("dst"),
        (F.lit(1.0) / F.size("_adj")).alias("frac"),
    )
    base = (1.0 - damping) / n

    def _round(ranks: DataFrame, _: int) -> DataFrame:
        return (
            e_frac.join(ranks, e_frac.src == ranks.node)
            .select(
                F.col("dst").alias("node"), (F.col("pr") * F.col("frac")).alias("m")
            )
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
            .select("node", (F.lit(base) + damping * F.col("m")).alias("pr"))
        )

    return iterate(
        adj.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr")),
        _round,
        iterations,
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle count [EXT] on an undirected simple graph.

    Canonicalizes each edge to (lo, hi) and distincts, then finds closed
    triples with the ordered two-join (a<b, b<c, a-c) — the standard
    distributed formulation: ordering the joins by node id means every
    triangle is produced exactly once and the join fan-out is bounded by
    forward-degree, not total degree (the classic skew guard for triangle
    counting; high-degree hubs only expand toward higher ids).

    Returns (node, triangles) for nodes in at least one triangle.

    The canonical edge list feeds three join branches (e1/e2/e3) and is
    not persisted: on q137, per-pass median 2.55 s without it vs 3.09 s with it
    (sf0.1, 10 order-balanced pairs, parent IQR 0.56 s, lower without in 10 of
    10; evidence/ab_materialization.jsonl).
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hop-limited breadth-first search: minimum hop distance (0..max_hops)
    from a seed node set over a directed edge list (symmetrize first for
    undirected semantics). Returns (node, hop) — one row per node reached
    within the budget, hop = its SHORTEST distance.

    The frontier/visited formulation computes min-hop directly: round k
    expands only nodes first reached at round k-1 (one equi-join edges ⋈
    frontier), then subtracts everything already visited (left_anti), so a
    node is emitted exactly once, at its first — i.e. minimum — hop. That
    is the property that makes BFS scale where path enumeration cannot: a
    dense co-occurrence graph has exponentially many ≤k-hop PATHS per node
    but only |V| (node, min-hop) rows, and this never materializes paths.

    Scale shape: per round, one shuffled hash join on ``src`` (frontier is
    usually far smaller than the edge list — at a 1000-executor scale the
    frontier side is broadcast-eligible in early rounds and AQE picks that
    up at runtime), one distinct on the frontier, one anti-join against
    visited (both hash-partitioned on ``node``, exchange reuse applies).
    The state carried between rounds is ``visited`` itself: the frontier of
    round k is its rows at hop k-1. Fixed ``max_hops`` keeps the loop
    bit-stable for differential oracles — no data-dependent early exit, no
    driver-side collection of nodes.
    """

    def _round(visited: DataFrame, h: int) -> DataFrame:
        frontier = visited.filter(F.col("hop") == h - 1).select(
            F.col("node").alias(src)
        )
        nxt = (
            edges.join(frontier.hint("shuffle_hash"), src)
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        return visited.unionByName(nxt.withColumn("hop", F.lit(h)))

    seed_nodes = seeds.select("node").distinct()
    return iterate(seed_nodes.withColumn("hop", F.lit(0)), _round, max_hops)
