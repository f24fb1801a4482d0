"""Iterative graph analytics [EXT]: PageRank over an edge DataFrame.

The reference has no graph code anywhere (grep over src/, faas/, test/ —
SURVEY.md §2.2); this is part of the Layer-B analytic surface. Complements
``operators/clusters.py`` (iterative connected components) with the other
canonical fixed-point graph computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    tol: float | None = None,
    truncate_every: int = 8,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count with an
    optional early exit: when ``tol`` is set, iteration stops as soon as
    the L1 rank delta ``sum(|pr_new - pr_old|)`` falls below it (the delta
    is one extra co-partitioned join + scalar agg per round — cheap next
    to the contribution shuffle, and it is what keeps a 20-iteration
    budget from paying 20 shuffle rounds on a graph that stabilizes in 6).
    ``tol=None`` (default) runs exactly ``iterations`` rounds, bit-stable
    for oracle comparison.

    Returns (node, pr). Nodes are those appearing in ``edges`` (either end);
    rank mass from dangling nodes is dropped (callers with undirected graphs
    symmetrize first, which eliminates danglings entirely).

    Scale shape: each iteration is one join of the edge list with the
    current rank vector on ``src`` (both sides hash-partitioned on the same
    key, so AQE reuses the exchange) followed by one aggregation on ``dst``
    — the classic two-shuffle PageRank step, no driver-side collection of
    nodes or ranks. Out-degrees are folded into the edge list ONCE up front
    (edges carry pr-mass fraction 1/out_deg), so the per-iteration join is
    binary, not ternary. The node count rides as a 1-row broadcast.
    Cache discipline — the cache-compute-release pattern
    (``caching.compute_release``): nodes, the fraction-folded edges, and
    each round's rank vector are ``persist()``ed (so the final job fills
    them once and every consumer reuses them, with full Catalyst/AQE
    planning — localCheckpointing the intermediates instead freezes the
    subplans behind LogicalRDD boundaries and measured 12x slower at
    sf0.1), then ONE eager materialization of the final (node, pr) output
    runs that job and every intermediate is unpersisted before returning —
    nothing stays registered, no per-iteration leak.

    ``truncate_every`` bounds plan depth for long runs: every K rounds the
    rank vector is eagerly ``localCheckpoint``ed (exact values, lineage
    cut) and the chunk's persisted rounds are released. Without this, a
    30-round chain of unmaterialized persists makes the CacheManager's
    per-action ``sameResult`` scan quadratic in plan depth — a 30-round
    run on a 7-node graph spent >7 min of JVM CPU planning, never
    executing. Short runs (the declared 3-iteration q72 path) never hit a
    truncation point, so their plan and bit-exact output are unchanged.

    ``symmetric=True`` (r14, guide §1.2/§2.4) licenses three exact plan
    cuts the general path cannot make (see Args for the contract):

    - the node set is just the adjacency keys (``distinct(src)`` ==
      ``distinct(src ∪ dst)``), deleting the union+distinct exchange;
    - every node has an in-edge, so ``contribs`` already covers ALL nodes
      and the per-iteration ``nodes LEFT JOIN contribs`` (whose
      ``coalesce(m, 0)`` provably never fires) is deleted — one join +
      cache scan per iteration gone;
    - out-degrees fold via ONE ``collect_list`` aggregation whose keys
      double as the node list, and the node count is taken once from that
      cached table and folded into the per-iteration projection as a
      LITERAL, deleting the per-iteration 1-row crossJoin broadcast jobs
      (Python and JVM doubles are both IEEE-754 binary64, so
      ``lit((1-d)/n)`` is bit-identical to the broadcast division).

    The r13 stage readout motivating this: the 3-iteration q72 run
    executed 33 jobs / ~100 stages — mostly per-iteration broadcast
    futures and the nodes-join barriers — on a graph whose rank vector is
    a few hundred KB; the 8-core cell matched the 32-core cell because the
    job CHAIN, not compute, was the wall.

    Args:
        symmetric: the caller guarantees the edge list is symmetrized —
            every ``(a, b)`` has its ``(b, a)`` — and has no NULL
            endpoints (q72's basket edges are built that way). Ranks then
            equal the general path's exactly. The contract is NOT checked:
            an edge list that breaks it yields wrong ranks with no error.
    """
    if symmetric:
        return _pagerank_symmetric(
            edges, src, dst, iterations, damping, tol, truncate_every
        )
    # the incoming edge frame is often an expensive build (self-joins,
    # LSH banding); nodes/out-degrees/fraction-folding each scan it, so
    # cache it too — released with everything else on exit (uncached, the
    # edge build ran 3x: measured ~2x slower cold at sf0.1 on q72)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct().persist()
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # fold 1/out_deg into the edges once via a count window over the ONE
    # shuffle on src (vs groupBy+re-join: same exchange, one fewer pass —
    # measured ~15% faster end-to-end on q72 at sf0.1, bit-identical
    # ranks). Bonus: the persisted e_frac comes out hash-partitioned on
    # src, exactly what every iteration's join needs — no re-exchange.
    w = Window.partitionBy("src")
    e_frac = e.select(
        "src", "dst", (F.lit(1.0) / F.count(F.lit(1)).over(w)).alias("frac")
    ).persist()

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    cached_rounds = []
    for it in range(iterations):
        contribs = (
            e_frac.join(ranks, e_frac.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("pr") * F.col("frac")).alias("m"))
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
        )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("pr"),
            )
        ).persist()
        cached_rounds.append(new_ranks)
        if tol is not None:
            delta = (
                new_ranks.select("node", F.col("pr").alias("_new"))
                .join(ranks.select("node", F.col("pr").alias("_old")), "node")
                .agg(F.sum(F.abs(F.col("_new") - F.col("_old"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
        if (it + 1) % truncate_every == 0 and it + 1 < iterations:
            # cut lineage: exact values, RDD-backed; the chunk's persists
            # are now fully folded into the checkpoint, release them
            ranks = ranks.localCheckpoint(eager=True)
            for c in cached_rounds:
                c.unpersist()
            cached_rounds.clear()
    return compute_release(ranks, e, nodes, e_frac, *cached_rounds)


def _pagerank_symmetric(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int,
    damping: float,
    tol: float | None,
    truncate_every: int,
) -> DataFrame:
    """The ``symmetric=True`` fast path of :func:`pagerank` — see its
    docstring for the three exact plan cuts and their licenses. Rank
    values are the same computation (same joins/aggregations over the
    same rows; only provably-inert operators deleted)."""
    # adjacency build: ONE exchange on src with partial collect_list
    # combining; keys are the complete node set (symmetric input). The
    # count() fills the cache eagerly — the one scalar this operator pulls
    # to the driver, replacing 1-row broadcast jobs in every iteration.
    adj = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .groupBy("src")
        .agg(F.collect_list("dst").alias("_adj"))
        .persist()
    )
    n = adj.count()
    # frac = 1/out_degree, exploded map-side from the cached adjacency —
    # partitioning on src survives the explode, so every iteration's join
    # reads co-partitioned cache with zero re-exchange
    e_frac = adj.select(
        "src",
        F.explode("_adj").alias("dst"),
        (F.lit(1.0) / F.size("_adj")).alias("frac"),
    )
    ranks = adj.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damping) / n
    cached_rounds: list[DataFrame] = []
    for it in range(iterations):
        new_ranks = (
            e_frac.join(ranks, e_frac.src == ranks.node)
            .select(
                F.col("dst").alias("node"), (F.col("pr") * F.col("frac")).alias("m")
            )
            .groupBy("node")
            .agg(F.sum("m").alias("m"))
            .select(
                "node", (F.lit(base) + damping * F.col("m")).alias("pr")
            )
        ).persist()
        cached_rounds.append(new_ranks)
        if tol is not None:
            delta = (
                new_ranks.select("node", F.col("pr").alias("_new"))
                .join(ranks.select("node", F.col("pr").alias("_old")), "node")
                .agg(F.sum(F.abs(F.col("_new") - F.col("_old"))).alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
        if (it + 1) % truncate_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
            for c in cached_rounds:
                c.unpersist()
            cached_rounds.clear()
    return compute_release(ranks, adj, *cached_rounds)


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle count [EXT] on an undirected simple graph.

    Canonicalizes each edge to (lo, hi) and distincts, then finds closed
    triples with the ordered two-join (a<b, b<c, a-c) — the standard
    distributed formulation: ordering the joins by node id means every
    triangle is produced exactly once and the join fan-out is bounded by
    forward-degree, not total degree (the classic skew guard for triangle
    counting; high-degree hubs only expand toward higher ids).

    Returns (node, triangles) for nodes in at least one triangle.

    The canonical edge list feeds THREE join branches (e1/e2/e3) and the
    engine reuses nothing across plan branches (the r13 zero-ReusedExchange
    census), so an expensive caller-side edge build — q137's basket
    self-join — would run three times; ``canon`` is persisted and the
    (per-node, bounded-by-|V|) output materialized once through
    ``compute_release`` [r13 s8, guide §2.4/§5: order-balanced quiet A/B
    min-of-18 ratio 0.89 on q137 at sf0.1, evidence/ab_r13c_exp4.jsonl].
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return compute_release(per_node, canon)


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
    ``visited`` and each frontier are persisted per round and ALL released
    before return (cache-compute-release); fixed ``max_hops`` keeps the
    loop bit-stable for differential oracles — no data-dependent early
    exit, no driver-side collection of nodes.
    """
    seed_nodes = seeds.select("node").distinct()
    visited = seed_nodes.withColumn("hop", F.lit(0)).persist()
    frontier = visited.select("node").persist()
    cached = [visited, frontier]
    for h in range(1, max_hops + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", src).hint("shuffle_hash"), src
            )
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .persist()
        )
        visited = visited.unionByName(nxt.withColumn("hop", F.lit(h))).persist()
        frontier = nxt
        cached += [nxt, visited]
    return compute_release(visited, *cached)
