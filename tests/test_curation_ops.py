"""Unit tests for the round-3 curation operators: chunk-level dedup,
perplexity bucketing, per-domain
caps, and PQ reconstruction."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

from hubverse_transform_spark.operators.dedup import chunk_dup_stats
from hubverse_transform_spark.operators.sampling import per_group_cap
from hubverse_transform_spark.operators.similarity import pq_reconstruction
from hubverse_transform_spark.operators.textstats import perplexity_buckets


def test_chunk_dup_stats_flags_shared_chunks(spark):
    # docs a and b share their first 3-word chunk; c is unique
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma other words here"),
            (3, "totally unique content nothing shared"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in chunk_dup_stats(docs, chunk_words=3, drop_threshold=0.5).collect()
    }
    assert out[1].n_chunks == 2 and out[1].dup_chunks == 1
    assert out[2].n_chunks == 2 and out[2].dup_chunks == 1
    assert out[3].dup_chunks == 0 and out[3].keep
    assert abs(out[1].dup_fraction - 0.5) < 1e-12
    # fraction == threshold -> not strictly below -> dropped
    assert not out[1].keep


def test_chunk_dup_stats_partial_tail_chunk(spark):
    # 4 words at chunk_words=3 -> 2 chunks, the second a 1-word tail
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    row = chunk_dup_stats(docs, chunk_words=3).collect()[0]
    assert row.n_chunks == 2


def test_perplexity_buckets_three_tiers(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        r.bucket: r
        for r in perplexity_buckets(docs, n_buckets=3).collect()
    }
    assert set(exact) == {1, 2, 3}


def test_per_group_cap_keeps_top_rows_deterministically(spark):
    rows = [("a", i, f"r{i}") for i in range(10)] + [("b", 100, "only")]
    df = spark.createDataFrame(rows, ["grp", "score", "tag"])
    kept = per_group_cap(
        df, "grp", [F.col("score").desc(), F.col("tag")], 3
    ).collect()
    by_grp = {}
    for r in kept:
        by_grp.setdefault(r.grp, []).append(r.score)
    assert sorted(by_grp["a"], reverse=True) == [9, 8, 7]
    assert by_grp["b"] == [100]
    assert "_rank" not in per_group_cap(
        df, "grp", [F.col("score")], 1
    ).columns


def test_pq_reconstruction_error_monotone_in_codes(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    few = pq_reconstruction(emb, n_sub=4, n_codes=2)
    many = pq_reconstruction(emb, n_sub=4, n_codes=8)
    avg_few = few.agg(F.avg("avg_recon_err")).collect()[0][0]
    avg_many = many.agg(F.avg("avg_recon_err")).collect()[0][0]
    # larger codebook can only reduce (or tie) nearest-code distance
    assert avg_many <= avg_few + 1e-9
    # codes drawn from the corpus itself: the code vectors reconstruct
    # themselves exactly, so max error must exceed avg error overall
    assert many.count() > 0


def test_pq_reconstruction_equals_numpy_brute_force(spark):
    """The r12 exact-integer PQ pipeline (quantize each subspace distance
    once to floor(d*1e6+0.5) micro-units, integer argmin/sums, half-up
    displays) must equal an independent numpy reimplementation exactly —
    including the left-fold summation order the Spark HOF uses, so the
    quantization boundary cannot be straddled."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 30
    )
    n_sub, n_codes = 4, 4
    rows = emb.select("vec_id", "label", "embedding").collect()
    dim = len(rows[0]["embedding"])
    sub = dim // n_sub
    vecs = {r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"]) for r in rows}
    code_ids = sorted(vecs)[:n_codes]

    def fold_sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    import math

    per_label = {}
    for vid, (v, lbl) in vecs.items():
        e = 0
        for s in range(n_sub):
            sv = v[s * sub : (s + 1) * sub]
            best = None
            for c in code_ids:
                cv = vecs[c][0][s * sub : (s + 1) * sub]
                k = int(math.floor(fold_sq(sv, cv) * 1e6 + 0.5))
                if best is None or (k, c) < best:
                    best = (k, c)
            e += best[0]
        n, tot, mx = per_label.get(lbl, (0, 0, 0))
        per_label[lbl] = (n + 1, tot + e, max(mx, e))
    expected = {
        lbl: (
            n,
            math.floor(tot / n + 0.5) / 1e6,
            math.floor(mx + 0.5) / 1e6,
        )
        for lbl, (n, tot, mx) in per_label.items()
    }

    out = {
        r["label"]: (r["n_vecs"], r["avg_recon_err"], r["max_recon_err"])
        for r in pq_reconstruction(emb, n_sub=n_sub, n_codes=n_codes).collect()
    }
    assert out == expected


def test_partition_completeness_flags_gaps(spark):
    from hubverse_transform_spark.operators.quality import partition_completeness

    rows = []
    # 2024-01-01: 4 rows, 01-02: 4 rows, 01-03: missing, 01-04: 1 row (low)
    for d, n in [("2024-01-01", 4), ("2024-01-02", 4), ("2024-01-04", 1)]:
        rows += [(f"{d} 12:00:00",)] * n
    df = spark.createDataFrame(rows, ["ts"]).select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    out = {str(r.day): (r.n_rows, r.status) for r in
           partition_completeness(df, "ts", low_watermark=0.5).collect()}
    assert out["2024-01-01"] == (4, "ok")
    assert out["2024-01-03"] == (0, "missing")
    assert out["2024-01-04"][1] == "low"
    assert len(out) == 4  # full spine, gap included


def test_triangle_count_k4_and_square(spark):
    from hubverse_transform_spark.operators.graph import triangle_count

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], ["src", "dst"]
    )
    out = {r.node: r.triangles for r in triangle_count(k4).collect()}
    # K4 has C(3,2)=3 triangles through each node, 4 total
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    square = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], ["src", "dst"]
    )
    assert triangle_count(square).count() == 0
    # duplicate + reversed edges must not inflate counts
    tri_dup = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2)], ["src", "dst"]
    )
    out2 = {r.node: r.triangles for r in triangle_count(tri_dup).collect()}
    assert out2 == {0: 1, 1: 1, 2: 1}


def test_pq_adc_topk_shape_and_determinism(spark):
    from hubverse_transform_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    out = pq_adc_topk(emb, q, n_sub=4, n_codes=4, k=5).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        assert r.query_id != r.neighbor_id
        assert r.adc_dist >= 0
    for qid, rows in per_q.items():
        assert sorted(r[0] for r in rows) == [1, 2, 3, 4, 5]
    # deterministic across runs
    out2 = pq_adc_topk(emb, q, n_sub=4, n_codes=4, k=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_spherical_kmeans_deterministic_and_improving(spark):
    from hubverse_transform_spark.operators.similarity import (
        _nearest_cid,
        spherical_kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    c1 = spherical_kmeans_centroids(emb, k=8, iters=2)
    c2 = spherical_kmeans_centroids(emb, k=8, iters=2)
    assert c1 == c2  # fixed seeds + fixed iterations => bit-identical
    for _, v in c1:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9

    def objective(cents):
        # mean max-cosine to assigned centroid: Lloyd must not decrease it
        from hubverse_transform_spark.functions.vectors import cosine_similarity

        dim = len(cents[0][1])
        flat = F.array(*[F.lit(x) for _, cv in cents for x in cv])
        best = F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                lambda i: cosine_similarity(
                    F.col("embedding"), F.slice(flat, i * dim + 1, dim)
                ),
            )
        )
        return emb.agg(F.avg(best)).collect()[0][0]

    seeds = spherical_kmeans_centroids(emb, k=8, iters=0)
    refined = spherical_kmeans_centroids(emb, k=8, iters=3)
    assert objective(refined) >= objective(seeds) - 1e-9
