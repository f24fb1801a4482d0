"""Unit tests for operators/graph.py (PageRank) and the textstats search
operators (BM25, PMI collocations) on hand-computable fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hubverse_transform_spark.operators.graph import pagerank
from hubverse_transform_spark.operators.textstats import bm25_topk, pmi_bigrams


def test_pagerank_cycle_is_uniform(spark):
    # directed 3-cycle: every node has in=out=1 -> uniform 1/3 fixed point
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    pr = {r.node: r.pr for r in pagerank(edges, iterations=4).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in pr.values()), pr


def test_pagerank_star_one_iteration(spark):
    # undirected star c-a, c-b (symmetrized edge list), one iteration:
    # pr(a) = 0.15/3 + 0.85 * (1/3)/2 ; pr(c) = 0.15/3 + 0.85 * 2/3
    edges = spark.createDataFrame(
        [("c", "a"), ("a", "c"), ("c", "b"), ("b", "c")], ["src", "dst"]
    )
    pr = {r.node: r.pr for r in pagerank(edges, iterations=1).collect()}
    assert math.isclose(pr["a"], 0.05 + 0.85 / 6, rel_tol=1e-12)
    assert math.isclose(pr["b"], 0.05 + 0.85 / 6, rel_tol=1e-12)
    assert math.isclose(pr["c"], 0.05 + 0.85 * 2 / 3, rel_tol=1e-12)
    assert math.isclose(sum(pr.values()), 1.0, rel_tol=1e-12)


def test_bm25_prefers_matching_docs_and_normalizes_length(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine engine engine engine engine engine engine"),
            (3, "flink storm beam samza heron"),
            (4, "spark"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["spark"], k=3).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no query term -> never retrieved
    assert len(out) == 3 and out[0].rank == 1
    # doc 4 (tf=1 but length 1) must beat doc 2 (tf=1, length 8)
    assert ids.index(4) < ids.index(2)
    # doc 1: higher tf at modest length ranks first overall
    assert ids[0] == 1


def test_pmi_finds_planted_collocation(spark):
    rows = []
    for i in range(20):
        rows.append((i, "alpha beta new york gamma delta"))
    for i in range(20, 40):
        rows.append((i, "beta alpha delta gamma new york"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_bigrams(docs, min_count=5, k=5).collect()
    assert out[0].bigram == "new york"
    assert out[0].c_bigram == 40
    # pmi("new york") = ln((40/200) / ((40/240)*(40/240)))
    expect = math.log((40 / 200) / ((40 / 240) * (40 / 240)))
    assert math.isclose(out[0].pmi, round(expect, 6), rel_tol=1e-9)


def test_redact_pii_and_counts(spark):
    from pyspark.sql import functions as F

    from hubverse_transform_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@example.co.uk or call +1 555-123 4567"),
            (2, "server 10.0.0.1 serves https://example.com/a?b=c ok"),
            (3, "nothing sensitive here"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in df.select("id", redact_pii(F.col("text")).alias("red"),
                                      pii_counts(F.col("text")).alias("cnt")).collect()}
    assert "<EMAIL>" in out[1].red and "@" not in out[1].red
    assert "<PHONE>" in out[1].red and "555" not in out[1].red
    assert "<IPV4>" in out[2].red and "<URL>" in out[2].red
    assert out[2].red == "server <IPV4> serves <URL> ok"
    assert out[3].red == "nothing sensitive here"
    assert out[1].cnt["email"] == 1 and out[1].cnt["phone"] == 1
    assert out[3].cnt == {"email": 0, "phone": 0, "ipv4": 0, "url": 0}


def test_dup_ngram_fraction_cross_doc(spark):
    from hubverse_transform_spark.operators.textstats import dup_ngram_fraction

    rows = [
        (1, "a b c d e"),        # shares "a b c d" and "b c d e" with doc 2
        (2, "a b c d e"),
        (3, "x y z w q"),        # unique grams only
        (4, "no"),               # <4 tokens -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dup_ngram_fraction(df, n=4).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].total_ngrams == 2 and out[1].dup_ngrams == 2 and out[1].dup_frac == 1.0
    assert out[3].dup_ngrams == 0 and out[3].dup_frac == 0.0


def test_gopher_quality_rules_flags(spark):
    from hubverse_transform_spark.operators.textstats import gopher_quality_rules

    rows = [
        (1, "web", " ".join(["word"] * 100)),        # passes all
        (2, "web", "too short"),                     # wc fail
        (3, "web", " ".join(["ab"] * 100)),          # mean word len 2 -> fail
        (4, "web", " ".join(["123"] * 100)),         # alpha fraction 0 -> fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = gopher_quality_rules(df).collect()[0]
    assert out.n_docs == 4
    assert out.n_wordcount_fail == 1
    assert out.n_meanwordlen_fail >= 1
    assert out.n_alphafrac_fail >= 1
    assert out.n_pass_all == 1


def test_top_ngrams_per_group_rank_and_ties(spark):
    from hubverse_transform_spark.operators.textstats import top_ngrams_per_group

    rows = [
        (1, "en", "a b a b"),    # "a b" x2, "b a" x1
        (2, "en", "a b c"),      # "a b", "b c"
        (3, "fr", "x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = top_ngrams_per_group(df, n=2, k=2).collect()
    en = sorted([r for r in out if r.lang == "en"], key=lambda r: r.rank)
    assert en[0].ngram == "a b" and en[0].n_occurrences == 3 and en[0].rank == 1
    # tie between "b a" and "b c" at 1 occurrence -> lexicographic
    assert en[1].ngram == "b a" and en[1].rank == 2
    fr = [r for r in out if r.lang == "fr"]
    assert len(fr) == 1 and fr[0].ngram == "x y"


def test_pagerank_convergence_early_exit(spark):
    """Fixed-round PageRank is bit-stable across re-runs, as oracle parity
    needs."""
    # two triangles joined by a bridge
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src long, dst long")

    a = {r.node: r.pr for r in pagerank(df, iterations=3).collect()}
    b = {r.node: r.pr for r in pagerank(df, iterations=3).collect()}
    assert a == b


def test_bfs_hops_min_distance_and_budget(spark):
    from hubverse_transform_spark.operators.graph import bfs_hops

    # 1→2→3→4 chain plus the 1→5→4 shortcut: node 4 must be reached at hop
    # 2 (via 5), never at its hop-3 chain distance; 6→7 is disconnected.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (6, 7)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 5: 1, 3: 2, 4: 2}

    # hop budget: max_hops=1 stops at the first frontier
    got1 = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=1).collect()}
    assert got1 == {1: 0, 2: 1, 5: 1}


def test_bfs_hops_seed_dedup_and_multi_seed(spark):
    from hubverse_transform_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2), (3, 2), (2, 4)], ["src", "dst"])
    # duplicate seed rows must not double-count; both components expand
    seeds = spark.createDataFrame([(1,), (1,), (3,)], ["node"])
    out = bfs_hops(edges, seeds, max_hops=2)
    got = {r.node: r.hop for r in out.collect()}
    assert got == {1: 0, 3: 0, 2: 1, 4: 2}
    assert out.count() == 4


@pytest.mark.parametrize("iterations", [3, 20])
def test_pagerank_symmetric_fast_path_equals_general_path(spark, iterations):
    """On a symmetrized, NULL-free edge list, ``pagerank``'s cut-down plan
    (adjacency keys as the node set, no nodes join, literal node count)
    matches a plain power iteration over every node and edge at 3 rounds,
    the rounds q72 runs, and at 20, past where an unrolled plan failed."""
    import random

    rng = random.Random(20261017)
    pairs = set()
    while len(pairs) < 150:
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    sym = sorted(pairs | {(b, a) for a, b in pairs})
    df = spark.createDataFrame(sym, "src long, dst long").repartition(4)

    nodes = {n for e in sym for n in e}
    out_deg = {n: sum(1 for s, _ in sym if s == n) for n in nodes}

    def power_iteration(iterations, damping=0.85):
        pr = {n: 1.0 / len(nodes) for n in nodes}
        for _ in range(iterations):
            nxt = {n: (1.0 - damping) / len(nodes) for n in nodes}
            for s, d in sym:
                nxt[d] += damping * pr[s] / out_deg[s]
            pr = nxt
        return pr

    got = {r.node: r.pr for r in pagerank(df, iterations=iterations).collect()}
    want = power_iteration(iterations)
    assert set(got) == nodes
    for n in nodes:
        assert math.isclose(got[n], want[n], rel_tol=1e-12), n
