"""Similarity search over embedding columns [EXT].

Baseline: brute-force cosine top-k — broadcast the (small) query set against
the corpus, score with JVM-side higher-order functions, rank with a window
partitioned by query. The corpus side never shuffles for scoring; the only
exchange is the per-query top-k (tiny).

Scale path: hyperplane-LSH bucketing — each vector maps to a sign-pattern
bucket from D deterministic pseudo-random hyperplanes (derived from md5 of
(plane, dim) so runs are reproducible and oracle-able); candidate generation
joins on bucket, then exact cosine re-ranks. Probing multiple buckets trades
recall for cost. Near-duplicate pairs (``embedding_near_dup_pairs``) run
this bucketed form only; there is no all-pairs path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hubverse_transform_spark.functions.numeric import half_up
from hubverse_transform_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from hubverse_transform_spark.operators.topk import top_k_per_group


def cosine_brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Returns (query_id, neighbor_id, cosine_sim, rank); self-matches excluded.
    ``queries`` is broadcast — scoring is a map-only stage over the corpus.
    Ties break on neighbor id for full determinism.
    """
    # norms are hoisted to each SIDE of the join (|Q|+|C| evaluations), not
    # computed per pair (|Q|·|C|): across a join fan-out Spark's runtime
    # subexpression elimination cannot share them, so inlined
    # cosine_similarity would re-aggregate both norms for every pair —
    # measured 2.4× slower at 1000×4000 pairs. The arithmetic below is
    # bit-identical to cosine_similarity (same l2_norm expression per row,
    # same product/division order), so oracle hashes are unchanged.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", l2_norm(F.col("_qvec")))
    # spread the corpus before the broadcast join: a small embedding table
    # often arrives as ONE parquet partition, which would serialize the
    # |Q|·|C| scoring loop onto one task (measured 6×: 15s -> 2.4s at
    # 1000×1000); the shuffle moved is only the corpus itself
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
        )
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        .withColumn("_cn", l2_norm(F.col("_cvec")))
    )
    denom = F.col("_qn") * F.col("_cn")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.when(denom > 0, dot_product(F.col("_qvec"), F.col("_cvec")) / denom),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j in [-1, 1) derived
    from md5(plane|j). Reproducible across engines and runs (no RNG)."""
    comps = []
    for j in range(dim):
        h = hashlib.md5(f"{plane}|{j}".encode()).hexdigest()
        comps.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return comps


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id of ``vec`` under the given hyperplanes."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def cosine_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 4,
    dim: int = 64,
    probes: int = 0,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket.

    2^num_planes buckets per table; expected candidate set = corpus /
    2^planes per query per table. Two orthogonal recall amplifiers:

    - ``probes`` > 0 (multi-probe): each query additionally searches the
      buckets that differ in one plane's sign bit (the nearest Hamming
      neighbors — where borderline vectors land), trading ``probes``×
      candidate volume for recall without re-hashing the corpus.
    - ``num_tables`` > 1 (OR-ed tables): L independent hyperplane sets
      (table t uses planes t*num_planes .. t*num_planes+num_planes-1 of the
      deterministic md5 family); a candidate qualifies if it collides in ANY
      table, so miss probability decays as (1-p)^L — the standard
      amplification a single table's multi-probe can't reach. Corpus and
      query each explode to L rows keyed by (table, bucket); the join stays
      a bucket-key equi-join and candidate pairs found by several tables are
      deduped before the (expensive) exact re-rank.

    Same output shape as the brute-force operator, so callers can measure
    recall against the exact baseline (tools/dump_recall.py).
    """
    tables = [
        [_hyperplane(t * num_planes + p, dim) for p in range(num_planes)]
        for t in range(num_tables)
    ]
    c_sig = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                hyperplane_bucket(F.col(vec_col), planes).alias("b"),
            )
            for t, planes in enumerate(tables)
        ]
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.explode(c_sig).alias("_tb"),
    ).select("neighbor_id", "_cvec", "_tb.t", "_tb.b")
    q_entries = []
    for t, planes in enumerate(tables):
        bucket = hyperplane_bucket(F.col(vec_col), planes)
        q_entries.append(F.struct(F.lit(t).alias("t"), bucket.alias("b")))
        for i in range(min(probes, num_planes)):
            q_entries.append(
                F.struct(
                    F.lit(t).alias("t"),
                    bucket.bitwiseXOR(F.lit(1 << i)).alias("b"),
                )
            )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.explode(F.array(*q_entries)).alias("_tb"),
    ).select("query_id", "_qvec", "_tb.t", "_tb.b")
    cand = (
        c.join(F.broadcast(q), on=["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    if num_tables > 1:
        # a pair colliding in several tables must score once; within ONE
        # table the probe buckets are distinct values, so no dedup needed
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn(
        "cosine_sim", cosine_similarity(F.col("_qvec"), F.col("_cvec"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _nearest_cid(vec: Column, cents: list) -> Column:
    """Map-side argmax-cosine centroid id for ``vec`` against the (small)
    centroid list, ties to lowest cid.

    Centroids ride along as two constant-folded literal arrays (flat
    n_centroids×dim matrix + id list) iterated with one transform() —
    unrolling a per-centroid cosine expression instead multiplies the
    Catalyst tree by n_centroids×dim literal nodes and costs seconds of
    analysis/codegen before the first task runs. The matrix holds UNIT
    centroids, so argmax cosine = argmax dot (the row vector's norm is a
    constant positive factor across centroids) and the per-row HOF work
    drops to one multiply-add pass per centroid, no norms.
    """
    dim = len(cents[0][1])
    unit = []
    for _, cv in cents:
        n = sum(x * x for x in cv) ** 0.5 or 1.0
        unit.extend(x / n for x in cv)
    flat = F.array(*[F.lit(x) for x in unit])
    cids = F.array(*[F.lit(cid).cast("long") for cid, _ in cents])
    best = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda i: F.struct(
                dot_product(vec, F.slice(flat, i * dim + 1, dim)).alias("sim"),
                (-F.element_at(cids, i + 1)).alias("ncid"),
            ),
        )
    )
    return -best["ncid"]


def spherical_kmeans_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
) -> list:
    """Spherical k-means refinement of the deterministic IVF quantizer:
    start from the ``k`` lowest-id vectors (the same seeds the default IVF
    path uses), run ``iters`` Lloyd steps (assign by max cosine, re-center
    by mean, re-normalize to the unit sphere), return ``[(cid, vector)]``
    for ``ivf_cosine_topk(..., centroids=...)``.

    Deterministic end to end — fixed seeds, fixed iteration count, and every
    step is exact data-parallel aggregation: assignment is the map-side
    literal-matrix argmax (``_nearest_cid``, no shuffle), the update is one
    (cid, component) aggregation. Only the k×dim centroid matrix is ever
    collected. Better centroids shrink the probe volume a query needs for a
    given recall (see RECALL.md); the scale shape is identical to the
    default path.
    """
    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(k)
        .collect()
    )

    def _unit(v: list) -> list:
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [x / n for x in v]

    cents = [(i, _unit([float(x) for x in r["cv"]])) for i, r in enumerate(rows)]
    vecs = corpus.select(F.col(vec_col).alias("_v"))
    for _ in range(iters):
        sums = (
            vecs.withColumn("cid", _nearest_cid(F.col("_v"), cents))
            .select("cid", F.posexplode(F.col("_v")).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in sums:
            acc.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["s"]) / r["n"]
        new = []
        for cid, old in cents:
            comp = acc.get(cid)
            # empty cluster: keep its previous centroid (stays deterministic)
            new.append((cid, _unit([comp[p] for p in sorted(comp)]) if comp else old))
        cents = new
    return cents


def _ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int, centroids: list | None
) -> list[tuple[int, list[float]]]:
    """The IVF quantizer as ``[(cid, vector), ...]`` on the driver: the
    caller's ``centroids``, or else the ``n_centroids`` lowest-id corpus
    vectors (a bounded collect of at most ``n_centroids`` rows)."""
    if centroids is not None:
        return [(int(cid), [float(x) for x in cv]) for cid, cv in centroids]
    cent_rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in cent_rows]


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    centroids: list | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: inverted lists keyed by nearest coarse centroid.

    The alternative scale path to hyperplane LSH (``cosine_lsh_topk``): each
    corpus vector is assigned to its nearest centroid (the inverted list);
    a query scans only the ``n_probe`` lists whose centroids are nearest to
    it, so candidate volume is ~``n_probe / n_centroids`` of the corpus.

    Centroids here are the ``n_centroids`` lowest-id corpus vectors — a
    deterministic quantizer so DuckDB can replay the exact computation; pass
    ``centroids=[(cid, vector), ...]`` (e.g. from
    ``spherical_kmeans_centroids``) to swap in a trained quantizer without
    touching the plan shape. The centroid set is tiny, so it is collected
    once and:

    - the ASSIGNMENT is a map-only argmax over inline centroid literals
      (struct(sim, -cid) array_max = highest sim, ties to lowest cid) — the
      corpus never shuffles to get its list id, and at rest a lake bucketed
      by ``cid`` makes probing a partition-pruned scan;
    - the PROBE side is a broadcast cross-join (|queries| × n_centroids rows).

    Ties break on neighbor id; same output shape as the brute-force baseline
    so recall is directly measurable.
    """
    cents = _ivf_centroids(corpus, id_col, vec_col, n_centroids, centroids)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(cents, "cid bigint, cv array<double>")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    assigned = c.withColumn("cid", _nearest_cid(F.col("_cvec"), cents))

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    probes = top_k_per_group(
        q.crossJoin(F.broadcast(cent_df)).withColumn(
            "_psim", cosine_similarity(F.col("_qvec"), F.col("cv"))
        ),
        ["query_id"],
        [F.col("_psim").desc(), F.col("cid")],
        n_probe,
        "_prn",
    ).select("query_id", "_qvec", "cid")

    # keep the single cosine_similarity expression: hand-hoisting the norms
    # into their own projected columns measured ~25% SLOWER at sf0.1 —
    # Spark's runtime subexpression elimination already evaluates the shared
    # denom subtree once, and the extra projections only defeat it
    scored = (
        assigned.join(F.broadcast(probes), on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine_similarity(F.col("_qvec"), F.col("_cvec")))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= threshold).

    Buckets by hyperplane signature first — near-identical vectors land in
    the same bucket with high probability, and the join shuffles on bucket
    keys instead of exploding quadratically. Pairs split across buckets are
    missed (recall < 1, not exactness): the SQL oracle replays the same
    bucketing.
    """
    planes = [_hyperplane(p, dim) for p in range(num_planes)]
    # unit-normalize each vector ONCE (row count) so per-pair scoring is a
    # single dot product instead of dot + two norms: array lambdas run
    # interpreted, and the pair volume is quadratic in bucket size — paying
    # 3 reductions per pair instead of 1 tripled the dominant stage. The
    # norm is materialized as its own column first; inlining l2_norm inside
    # the transform() lambda would re-reduce the array per element (O(d^2)).
    normed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_raw"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).select(
        "_id",
        "_raw",
        F.transform(F.col("_raw"), lambda x: x / F.col("_n")).alias("_v"),
    )
    # bucket on the RAW vector: sign(dot) is scale-invariant, but the SQL
    # oracle replays the bucketing on raw doubles and a near-orthogonal
    # plane dot must not flip sign under the normalized arithmetic
    withb = normed.select(
        "_id", "_v", hyperplane_bucket(F.col("_raw"), planes).alias("_bucket")
    )
    a = withb.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_bucket"
    )
    b = withb.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_bucket"
    )
    joined = a.join(b, on="_bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn("cosine_sim", dot_product(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def semantic_dedup_reps(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication [EXT]: cluster embeddings by
    nearest coarse centroid, then keep ONE representative per cluster — the
    member most similar to its centroid (ties to lowest id). Downstream, the
    non-representative members are the semantic near-duplicates a curation
    pipeline drops or down-weights.

    Same deterministic quantizer as ``ivf_cosine_topk`` (the ``n_centroids``
    lowest-id vectors), so the cluster assignment is engine-reproducible; a
    production run swaps in k-means centroids without changing the plan.

    Plan shape: broadcast cross-join against the centroid table, one
    shuffle-argmax per vector (max_by over a (sim, -cid) struct) for the
    assignment, then one shuffle-argmax per cluster for the representative —
    two aggregations total, both with map-side partial combine, no
    all-pairs comparison anywhere. Returns (cid, rep_id, n_members,
    rep_sim): the representative and the cluster population it stands for.
    """
    v = emb.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
    cents = (
        v.orderBy("_id")
        .limit(n_centroids)
        .select(F.col("_id").alias("cid"), F.col("_v").alias("_cv"))
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        "_id",
        "cid",
        cosine_similarity(F.col("_v"), F.col("_cv")).alias("_sim"),
    )
    assigned = scored.groupBy("_id").agg(
        F.max_by(
            F.struct(F.col("cid"), F.col("_sim")),
            F.struct(F.col("_sim"), (-F.col("cid")).alias("_neg")),
        ).alias("_best")
    ).select("_id", F.col("_best.cid").alias("cid"), F.col("_best._sim").alias("_sim"))
    return assigned.groupBy("cid").agg(
        F.max_by(
            F.col("_id"), F.struct(F.col("_sim"), (-F.col("_id")).alias("_neg"))
        ).alias("rep_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.max(F.col("_sim")), 6).alias("rep_sim"),
    )


def _pq_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, n_sub: int, n_codes: int
):
    """The product quantizer both PQ operators share. Returns
    ``(subvectors, codebook, sq_dist)``: ``subvectors(df, keep,
    keep_names)`` explodes each ``vec_col`` vector of ``df`` into its
    ``n_sub`` contiguous subvectors ``(*keep_names, sub_id, _sv)``; the
    codebook ``(sub_id, _code, _cv)`` is the subvectors of the ``n_codes``
    lowest-id corpus vectors; ``sq_dist`` is the squared L2 between
    ``_sv`` and ``_cv``."""
    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    sub_dim = int(dim_row["d"]) // n_sub

    def subvectors(df: DataFrame, keep: list, keep_names: list) -> DataFrame:
        step = df.select(
            *keep,
            F.col(vec_col).alias("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub_id"),
        )
        return step.select(
            *keep_names,
            "sub_id",
            # double-cast so both engines (and the SQL oracle) subtract and
            # square in double precision, not float
            F.slice(F.col("_v"), F.col("sub_id") * sub_dim + 1, F.lit(sub_dim))
            .cast("array<double>")
            .alias("_sv"),
        )

    codebook = subvectors(
        corpus.orderBy(id_col).limit(n_codes),
        [F.col(id_col).alias("_code")],
        ["_code"],
    ).select("sub_id", "_code", F.col("_sv").alias("_cv"))
    sq_dist = F.aggregate(
        F.zip_with(F.col("_sv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return subvectors, codebook, sq_dist


def pq_reconstruction(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_sub: int = 4,
    n_codes: int = 4,
) -> DataFrame:
    """Product-quantization compression audit [EXT]: split each vector into
    ``n_sub`` contiguous subvectors, assign each subvector its nearest code
    from a per-subspace codebook, and report per-label reconstruction error
    — the PQ memory/recall tradeoff check run before shipping an ANN index
    (Jegou et al., "Product Quantization for Nearest Neighbor Search").

    Codebooks are the subvectors of the ``n_codes`` lowest-id corpus vectors
    (same deterministic-quantizer convention as ``ivf_cosine_topk`` — a
    production run swaps in per-subspace k-means without changing the plan).

    Plan shape: the codebook is tiny (n_sub × n_codes rows) and BROADCAST;
    the corpus explodes to one row per (vector, subspace) map-side, joins
    the broadcast codebook on subspace id, and picks argmin squared-L2 per
    (vector, subspace) via a window ranked on (rounded distance, code) —
    rounding first so cross-engine float noise can't flip near-ties, code
    tiebreak making ties deterministic. One shuffle (the window on vec id),
    one 3-row-per-label aggregate. The corpus never self-joins.

    Returns (label, n_vecs, avg_recon_err, max_recon_err) — error is the
    sum over subspaces of squared distance to the chosen code, i.e. the
    squared L2 between the vector and its PQ reconstruction.
    """
    subvectors, codebook, sq_dist = _pq_codebook(
        corpus, id_col, vec_col, n_sub, n_codes
    )
    # Quantize each subspace distance ONCE to exact integer micro-units
    # (floor(d·1e6 + 0.5) of a deterministic double — identical on both
    # engines; the continuous true distance hits the grid's half points
    # with measure zero). Everything downstream — the argmin ordering, the
    # per-vector error sum, and the per-label displays — is then exact
    # integer arithmetic. The previous form rounded to the 1e-6 grid but
    # kept FLOAT values, so avg() over n grid rationals was itself an
    # exact rational k·1e-6/n whose d=6 half boundary IS reachable —
    # ultra-sparse seed 909192 hit it (avg 8.2888545 exactly; the engines'
    # float averages straddled by 1 ulp).
    assigned = (
        subvectors(
            corpus,
            [F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl")],
            ["_id", "_lbl"],
        )
        .join(F.broadcast(codebook), "sub_id")
        .select(
            "_id",
            "_lbl",
            "sub_id",
            "_code",
            F.floor(sq_dist * F.lit(1e6) + 0.5).cast("long").alias("_k"),
        )
    )
    w = Window.partitionBy("_id", "sub_id").orderBy("_k", "_code")
    best = (
        assigned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .groupBy("_id", "_lbl")
        .agg(F.sum("_k").alias("_e"))
    )
    return (
        best.groupBy(F.col("_lbl").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # half-up of the integer micro-unit mean: value = Σe/(n·1e6),
            # displayed as floor(Σe/n + 0.5)/1e6 — Σe and n are exact
            # integers, so the division is the one deterministic double op
            # and both engines (and the equals-numpy test) evaluate the
            # identical IEEE sequence. Exact while Σe < 2^53 (per-label
            # total recon error ≲ 9e9 in micro-units per 2^53/1e6 — far
            # above anything these float32 vectors produce); beyond that
            # the display degrades gracefully to nearest-double, still
            # identically on both engines.
            (
                F.floor(F.sum("_e").cast("double") / F.count(F.lit(1)) + 0.5)
                / F.lit(1e6)
            ).alias("avg_recon_err"),
            # max of exact integers needs no rounding step at all: one
            # deterministic double division for display
            (F.max("_e").cast("double") / F.lit(1e6)).alias("max_recon_err"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 4,
    n_codes: int = 4,
    k: int = 5,
) -> DataFrame:
    """PQ asymmetric-distance top-k [EXT]: score queries against the
    PQ-compressed corpus without ever touching the original corpus vectors —
    the memory-bound ANN scan from Jegou et al. (ADC: distance(q, x) ≈
    Σ_sub lut[q, sub, code(x, sub)]).

    Plan shape, and why it scales:

    - the corpus is represented by its code table (|corpus| × n_sub rows of
      small ints) — at rest this is the PQ index, 64× smaller than raw
      float32 vectors at these defaults;
    - the per-query LOOKUP TABLE (|queries| × n_sub × n_codes squared
      distances) is tiny and BROADCAST — scoring is a map-side hash join on
      (sub_id, code) followed by a (query, vec) partial-sum shuffle. The
      corpus never joins itself and raw vectors never shuffle;
    - final top-k is the standard per-query rank window.

    Codebook convention matches ``pq_reconstruction`` (subvectors of the
    ``n_codes`` lowest-id corpus vectors), distances rounded to 6 before
    ranking with neighbor-id tiebreaks, so a SQL oracle replays the scan
    bit-for-bit. Returns (query_id, neighbor_id, adc_dist, rank).
    """
    subvectors, codebook, sq_dist = _pq_codebook(
        corpus, id_col, vec_col, n_sub, n_codes
    )

    # corpus -> PQ codes (one window shuffle; at rest this table IS the index)
    corpus_codes = (
        subvectors(corpus, [F.col(id_col).alias("_cid")], ["_cid"])
        .join(F.broadcast(codebook), "sub_id")
        .select("_cid", "sub_id", "_code", F.round(sq_dist, 6).alias("_d"))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_cid", "sub_id").orderBy("_d", "_code")
            ),
        )
        .filter(F.col("_rk") == 1)
        .select("_cid", "sub_id", "_code")
    )

    # per-query LUT: squared distance to every codebook centroid
    # half-safe: _ld's true value IS a 1e-6 grid point (grid quantization
    # of a continuous distance — first-order measure-zero), so the 4-term
    # ADC sum's true value is a grid point too; each float sum sits ~4 ulp
    # from it — 8 orders from any half boundary — so round(sum, 6)
    # re-snaps identically on both engines; top-k tiebreaks on _cid
    # (VERIFY_r12 §10's audited second-order site).
    lut = (
        subvectors(queries, [F.col(id_col).alias("_qid")], ["_qid"])
        .join(F.broadcast(codebook), "sub_id")
        .select("_qid", "sub_id", "_code", F.round(sq_dist, 6).alias("_ld"))
    )

    scored = (
        corpus_codes.join(F.broadcast(lut), ["sub_id", "_code"])
        .groupBy("_qid", "_cid")
        .agg(F.round(F.sum("_ld"), 6).alias("adc_dist"))
        .filter(F.col("_qid") != F.col("_cid"))
    )
    return top_k_per_group(
        scored, ["_qid"], [F.col("adc_dist"), F.col("_cid")], k
    ).select(
        F.col("_qid").alias("query_id"),
        F.col("_cid").alias("neighbor_id"),
        "adc_dist",
        "rank",
    )


def ivf_list_stats(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: list | None = None,
) -> DataFrame:
    """Inverted-list balance audit for the IVF quantizer: per-centroid list
    size, corpus share, and skew vs the ideal uniform share — the index
    health check run before bucketing a lake by list id (a hot list is a
    hot partition; skew here IS the shuffle skew every probe pays later).

    Same deterministic quantizer as ``ivf_cosine_topk`` (lowest-id seeds or
    a caller-trained set); assignment is the same map-only literal-matrix
    argmax, so the audit costs one scan plus an ``n_centroids``-row shuffle.

    EMPTY lists are reported too (``n_vecs = 0``): with caller-supplied
    centroids an empty inverted list is the worst skew signal, so the
    assignment counts are outer-joined onto the full centroid id list and
    ``skew_vs_uniform`` uses the CONFIGURED list count as the uniform
    denominator, not just the non-empty ones.
    """
    cents = _ivf_centroids(corpus, id_col, vec_col, n_centroids, centroids)
    assigned = corpus.select(
        _nearest_cid(F.col(vec_col).cast("array<double>"), cents).alias("cid")
    )
    spark = corpus.sparkSession
    all_lists = spark.createDataFrame(
        [(int(cid),) for cid, _ in cents], "cid int"
    )
    counts = (
        all_lists.join(
            assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_n")),
            "cid",
            "left",
        )
        .select("cid", F.coalesce("_n", F.lit(0)).alias("n_vecs"))
    )
    tot = counts.agg(F.sum("n_vecs").alias("_tot"))
    nlists = len(cents)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "cid",
            "n_vecs",
            # integer-ratio displays reach exact half boundaries — use
            # the engine-stable floor half-up, not round()
            half_up(F.col("n_vecs") / F.col("_tot"), 6).alias("share"),
            half_up(
                F.col("n_vecs") * F.lit(nlists) / F.col("_tot"), 4
            ).alias("skew_vs_uniform"),
        )
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training [EXT]:
    for each query vector, the top-k most-similar corpus vectors whose
    ``label_col`` DIFFERS from the query's — the "confusable but wrong"
    examples a trainer wants as negatives.

    Exact brute-force declared form: the query set is broadcast, scoring is
    a map-only stage over the corpus (one zip_with/aggregate dot per pair,
    JVM-side), and the only exchange is the per-query top-k. At lake scale
    swap candidate generation for the IVF path (``ivf_cosine_topk``) and
    apply the same label-exclusion filter on its shortlist — the filter
    composes with any ANN candidate source because it is a pure predicate
    on the scored pairs.
    """
    # r13 (guide §1.2 "per-task work"): same two fixes the brute-force
    # scorer above documents, applied here — (1) norms hoisted to each side
    # of the join (|Q|+|C| evaluations, not per pair: inlined
    # cosine_similarity evaluates BOTH norms TWICE per pair — once in the
    # null-guard, once in the division — 5 HOF folds per pair vs 1 after
    # hoisting); (2) the corpus spread before the broadcast join so a
    # one-file embedding scan cannot serialize the |Q|·|C| scoring loop
    # onto one task (no-op when the scan is already parallel). The
    # arithmetic is bit-identical to cosine_similarity: same l2_norm
    # expression per row, same product, same >0 guard on the same product,
    # same division order — oracle hashes unchanged.
    from hubverse_transform_spark.session import spread_small_scan

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("_qlabel"),
    ).withColumn("_qn", l2_norm(F.col("_qvec")))
    c = spread_small_scan(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cvec"),
            F.col(label_col).alias("neighbor_label"),
        )
    ).withColumn("_cn", l2_norm(F.col("_cvec")))
    denom = F.col("_qn") * F.col("_cn")
    scored = c.join(
        F.broadcast(q), F.col("_qlabel") != F.col("neighbor_label")
    ).withColumn(
        "cosine_sim",
        F.when(denom > 0, dot_product(F.col("_qvec"), F.col("_cvec")) / denom),
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    ).select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "rank")
