"""Connected components / dedup clusters over pair graphs."""

from __future__ import annotations

from hubverse_transform_spark.operators.clusters import (
    connected_components,
    dedup_clusters,
)


def test_connected_components_chain_and_triangle(spark):
    # components: chain 1-2-3-4, triangle 10-11-12, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # a 30-node path needs multiple propagation rounds; label must still reach
    # the far end (fixpoint, not fixed-iteration truncation)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_dedup_clusters_sizes(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], ["id_a", "id_b"])
    rows = {r["node"]: r for r in dedup_clusters(edges).collect()}
    assert rows[3]["component"] == 1 and rows[3]["cluster_size"] == 3
    assert rows[9]["component"] == 8 and rows[9]["cluster_size"] == 2
    survivors = [n for n, r in rows.items() if r["component"] == n]
    assert sorted(survivors) == [1, 8]


def _union_find_components(pairs) -> dict:
    """Reference labeling: node -> its component's minimum id, by a plain
    union-find over the pair list (every node of a pair, self-loops too)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_components_equal_label_propagation(spark):
    """connected_components labels every node with its component's minimum
    id, as a union-find does, on a seeded random graph and on a long path
    (diameter 40, the case the retired large-star/small-star variant was
    added for) beside a triangle."""
    import random

    rng = random.Random(5)
    cases = []
    # random sparse graph
    cases.append([(rng.randrange(60), rng.randrange(60)) for _ in range(50)])
    # long path 100..140 (diameter 40) plus a separate triangle
    cases.append([(i, i + 1) for i in range(100, 140)] + [(200, 201), (201, 202), (200, 202)])
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r.node: r.component for r in connected_components(df).collect()}
        want = _union_find_components(pairs)
        assert got == want, (sorted(got.items())[:10], sorted(want.items())[:10])


def test_star_components_self_loop_only_nodes(spark):
    """A node whose only edges are self-loops comes back as a (node, node)
    singleton, and a self-loop on a connected node changes nothing
    (ADVICE r3)."""
    pairs = [(1, 2), (7, 7), (3, 3), (3, 4)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == _union_find_components(pairs)
    assert got[7] == 7  # self-loop-only: singleton survives
    assert got[3] == 3 and got[4] == 3  # self-loop on a connected node is inert


def test_label_propagation_raises_without_fixpoint(spark):
    """connected_components refuses to return unconverged labels."""
    import pytest

    from hubverse_transform_spark.operators.clusters import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(edges, max_iter=1)
