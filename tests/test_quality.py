"""Row-level expectations (annotation, null-hostile semantics), column
profiling, snapshot diff and covariance operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from hubverse_transform_spark.operators.quality import VIOLATIONS_COL, with_expectations


def _df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "a"), (2, -1.0, "b"), (3, None, "c"), (4, 5.0, None)],
        ["id", "amount", "tag"],
    )


def _checks():
    # built lazily: Column construction needs an active SparkContext
    return {
        "amount_positive": F.col("amount") > 0,
        "tag_present": F.col("tag").isNotNull(),
    }


def test_with_expectations_annotates_failures(spark):
    out = {r.id: list(r[VIOLATIONS_COL]) for r in with_expectations(_df(spark), _checks()).collect()}
    assert out[1] == []
    assert out[2] == ["amount_positive"]
    # NULL predicate result counts as a violation (null-hostile)
    assert out[3] == ["amount_positive"]
    assert out[4] == ["tag_present"]


def test_profile_columns_one_pass(spark):
    from hubverse_transform_spark.operators.profiling import profile_columns
    from hubverse_transform_spark.plans.inspect import explain_str

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (2, None, 6.0)], ["k", "s", "v"]
    )
    out = {r.column: r for r in profile_columns(df).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_distinct == 2
    assert out["s"].n_null == 1 and out["s"].min_value == "a"
    assert out["v"].n_null == 1 and out["v"].max_value == "6.0"
    # the plan is a Union of per-column groupBy rollups — N exact
    # count_distincts in one agg would compile to Expand (an N-fold row
    # duplication shuffled over the whole table, wrong at lake scale)
    assert "Expand" not in explain_str(profile_columns(df))


def test_snapshot_diff_all_classes(spark):
    from hubverse_transform_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", 4.0)],
        ["k", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 9.0), (3, "", 3.0), (5, "e", 5.0)],
        ["k", "s", "v"],
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, "k", ["s", "v"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",  # NULL -> '' must register as a change (null-tagged digest)
        4: "removed",
        5: "added",
    }


def test_embedding_covariance_matches_numpy(spark):
    """Distributed two-phase Gram covariance == numpy.cov on the same data,
    across a multi-partition input (partial merge correctness)."""
    import numpy as np

    from hubverse_transform_spark.operators.profiling import embedding_covariance

    rng = np.random.default_rng(7)
    x = rng.normal(size=(200, 5)).astype("float64")
    df = spark.createDataFrame(
        [(row.tolist(),) for row in x], "embedding array<double>"
    ).repartition(7)
    got = {
        (r.i, r.j): r.cov for r in embedding_covariance(df, "embedding").collect()
    }
    want = np.cov(x, rowvar=False, ddof=1)
    assert len(got) == 15
    for (i, j), v in got.items():
        assert i <= j
        assert abs(v - want[i, j]) < 1e-9, (i, j, v, want[i, j])


def test_power_iteration_matches_numpy_eig(spark):
    """Distributed power iteration (converged) approximates numpy's top
    eigenpair of the same covariance matrix: eigenvalue within 1%, loading
    direction |cos| > 0.99 on an anisotropic random cloud."""
    import numpy as np

    from hubverse_transform_spark.operators.profiling import (
        power_iteration_top_eigen,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(300, 6))
    base[:, 2] *= 5.0  # dominant direction
    df = spark.createDataFrame(
        [(row.tolist(),) for row in base], "embedding array<double>"
    ).repartition(5)
    rows = power_iteration_top_eigen(df, "embedding", iters=12).collect()
    v = np.zeros(6)
    for r in rows:
        v[r.dim] = r.loading
    lam = rows[0].eigenvalue_est
    want_vals, want_vecs = np.linalg.eigh(np.cov(base, rowvar=False))
    top = np.argmax(want_vals)
    assert abs(lam - want_vals[top]) / want_vals[top] < 0.01
    assert abs(np.dot(v, want_vecs[:, top])) > 0.99
