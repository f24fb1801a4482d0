"""One-pass data profiling [EXT]: per-column health statistics.

The first query anyone runs against an unfamiliar 100 TB lake: row count,
null fraction, distinct count, min/max per column.

One branch per column, each a ``groupBy(col).count()`` followed by a
6-expression rollup, unioned into the long-format result. N exact
``count_distinct``s in a single aggregation would compile to Catalyst's
Expand operator — every input row duplicated once per distinct aggregate, an
N× shuffle of the whole table, which is the wrong plan at lake scale. The
union shape instead scans each column independently (parquet column pruning
makes the N scans read the same total bytes as one full scan), map-side
partial aggregation collapses each shuffle to ~distinct-values volume, and
the branches run concurrently inside one job. Measured 4.5× faster than the
Expand plan at sf0.1 on 6 columns.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hubverse_transform_spark.caching import compute_release, iterate


def profile_columns(df: DataFrame) -> DataFrame:
    """Profile every column of ``df``.

    Returns (column, n_rows, n_null, n_distinct, min_value, max_value) with
    min/max rendered as strings so heterogeneous column types coexist in one
    long-format result. ``n_distinct`` excludes nulls (SQL COUNT DISTINCT
    semantics); min/max are computed on the native type and cast to string
    afterwards, so numeric columns keep numeric ordering.
    """
    parts = []
    for c in df.columns:
        per_val = (
            df.select(F.col(c).alias("_v"))
            .groupBy("_v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        parts.append(
            per_val.agg(
                F.lit(c).alias("column"),
                F.coalesce(F.sum("_cnt"), F.lit(0)).alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("_v").isNull(), F.col("_cnt"))), F.lit(0)
                ).alias("n_null"),
                F.count("_v").alias("n_distinct"),
                F.min("_v").cast("string").alias("min_value"),
                F.max("_v").cast("string").alias("max_value"),
            )
        )
    return reduce(DataFrame.unionAll, parts)


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    ddof: int = 1,
) -> DataFrame:
    """Sample covariance matrix of an ``array<float/double>`` column as the
    upper-triangle long form ``(i, j, cov)`` — the input to PCA / whitening /
    Mahalanobis scoring over an embedding lake.

    Scale shape — two-phase moment aggregation, the canonical "UDAF at
    scale" pattern:

    1. ``mapInPandas`` computes one partial Gram matrix ``X^T X`` per Arrow
       batch with a numpy matmul (BLAS, not per-row Python) and emits it as
       dim*(dim+1)/2 long-form rows, so an executor ships O(dim^2) floats
       per partition regardless of row count;
    2. a ``groupBy(i, j).sum`` merges partials — the only data-sized shuffle
       is the per-partition Gram rows, ~2080 rows each for dim=64;
    3. per-component sums/counts (one posexplode aggregation) broadcast-join
       onto the merged Gram to finish ``(S_ij - n*mu_i*mu_j) / (n - ddof)``.

    No driver-side collect; the matrix itself never materializes outside the
    executors. Exactness: floating sums differ from a sequential oracle only
    by addition order (callers round for comparison).
    """
    import pandas as pd  # noqa: F401  (mapInPandas batches are pandas)

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError(
            "embedding_covariance: input DataFrame is empty — covariance "
            "is undefined with no rows"
        )
    dim = int(dim_row["d"])

    def _partial_gram(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros((dim, dim), dtype="float64")
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype("float64")
            acc += x.T @ x
            seen = True
        if not seen:
            return
        iu = np.triu_indices(dim)
        yield pd.DataFrame(
            {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "s": acc[iu]}
        )

    vecs = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    gram = (
        vecs.mapInPandas(_partial_gram, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("sxx"))
    )
    comp = (
        vecs.select(F.posexplode("_v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
    )
    mi = comp.select(
        F.col("pos").alias("i"), F.col("sx").alias("_sxi"), "n"
    )
    mj = comp.select(F.col("pos").alias("j"), F.col("sx").alias("_sxj"))
    # n must exceed ddof or every covariance is a 0/0 null; raise_error is
    # evaluated executor-side inside the same projection — no extra pass.
    cov = (
        gram.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.when(
                F.col("n") <= F.lit(ddof),
                F.raise_error(
                    F.lit(
                        f"embedding_covariance: need more than ddof={ddof} "
                        "rows to form a sample covariance"
                    )
                ).cast("double"),
            )
            .otherwise(
                (F.col("sxx") - F.col("_sxi") * F.col("_sxj") / F.col("n"))
                / (F.col("n") - F.lit(ddof))
            )
            .alias("cov"),
        )
    )
    return cov


def power_iteration_top_eigen(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    iters: int = 3,
) -> DataFrame:
    """Top principal direction by power iteration over the distributed
    covariance matrix: v <- normalize(C v), starting from the uniform unit
    vector — the first PCA component without ever collecting C or calling
    an eigensolver. Returns one row per dimension: (dim, loading,
    eigenvalue_est) where eigenvalue_est = v·(C v) after ``iters`` rounds.

    Everything stays relational: C is ``embedding_covariance``'s long-form
    output mirrored to a full matrix (dim^2 rows — tiny), each iteration
    is one join + one 64-key aggregation, and the norm is a 1-row
    broadcast. Deterministic up to float addition order (callers round);
    the uniform start vector fixes the sign. C is materialized once
    (``caching.compute_release``) and the rounds run on ``caching.iterate``.
    """
    cov = embedding_covariance(df, vec_col)
    covf = compute_release(
        cov.unionByName(
            cov.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cov"
            )
        )
    )
    dim = covf.agg(F.max("i")).first()[0] + 1

    def _cv(v: DataFrame) -> DataFrame:  # w = C v
        return covf.join(v, "j").groupBy("i").agg(F.sum(F.col("cov") * F.col("x")).alias("w"))

    def _round(v: DataFrame, _: int) -> DataFrame:
        w = _cv(v)
        n = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_n"))
        return w.crossJoin(F.broadcast(n)).select(
            F.col("i").alias("j"), (F.col("w") / F.col("_n")).alias("x")
        )

    v0 = [(j, 1.0 / dim**0.5) for j in range(dim)]
    v = iterate(df.sparkSession.createDataFrame(v0, "j int, x double"), _round, iters)
    lam = (
        _cv(v)
        .join(v.select(F.col("j").alias("i"), "x"), "i")
        .agg(F.sum(F.col("w") * F.col("x")).alias("_lam"))
    )
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("j").alias("dim"),
        F.col("x").alias("loading"),
        F.col("_lam").alias("eigenvalue_est"),
    )
