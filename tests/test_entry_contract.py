"""Driver-contract drift guards: queries()/oracle_sql() stay consistent."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_oracle_key_has_a_query():
    qs, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {sorted(oracles - qs)}"


def test_rows_only_queries_are_the_known_set():
    # queries WITHOUT an oracle get only the weaker rows-only driver check;
    # adding one must be a conscious decision, not a forgotten entry
    qs, oracles = set(entry.queries()), set(entry.oracle_sql())
    # (q38 moved OUT of this set in r7: its output is now the exact count +
    # in-engine tolerance boolean, which hash-matches a literal-TRUE oracle)
    assert qs - oracles == {
        "q109_hll_union_users",
        # approx_percentile sketch output is engine-internal; correctness is
        # carried by its in-engine rank-error audit + the paths-agree test
        "q207_approx_decile_audit",
    }


def test_queries_are_the_module_functions_in_number_order():
    # the surface is frozen at 378; queries() is derived from the module's
    # q<NNN>_ functions, so a new or renamed function changes it
    qs = entry.queries()
    assert len(qs) == 378
    assert all(fn is getattr(entry, name) for name, fn in qs.items())
    nums = [int(name[1:].split("_")[0]) for name in qs]
    assert nums == sorted(nums) and len(set(nums)) == len(nums)


def test_query_names_are_well_formed_and_documented():
    import re

    for name, fn in entry.queries().items():
        assert re.match(r"^q\d{2,3}_[a-z0-9_]+$", name), name
        assert fn.__doc__ and len(fn.__doc__) > 20, f"{name} lacks a docstring"


def test_every_query_analyzes_against_real_testdata(spark, compiled_surface):
    """Catalyst analysis of every declared query over the driver's own
    parquet (where ``events.ts`` is TIMESTAMP_NTZ, unlike createDataFrame
    fixtures which default to LTZ) — catches AnalysisException-class drift
    (e.g. casts illegal on NTZ). Regression guard for the round-1 bench
    crash in sessionize().

    The non-eager queries were already fully analyzed (and optimized) by
    the shared one-compile-pass fixture over the same sf0.001 parquet —
    asserting its error channel IS this test; only the plan-eager queries
    (excluded there) still analyze directly."""
    from tests.conftest import PLAN_EAGER

    sf_dir = "/root/testdata/sf0.001"
    failures = [
        f"{name}: {art['error']}"
        for name, art in compiled_surface.items()
        if "error" in art
    ]
    for name in PLAN_EAGER:
        try:
            entry.queries()[name](spark, sf_dir).schema  # noqa: B018
        except Exception as exc:  # pragma: no cover - failure path
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, "\n".join(failures)


def test_sparse_data_denominator_guards_execute_at_sf0001(spark):
    """ANSI-mode divide-by-zero on SPARSE data (round-10 class): analysis
    passes and sf0.01+ execution passes, but at sf0.001 a propensity
    stratum genuinely goes single-arm (q307: p hits 0/1) and the two 20%
    captures genuinely miss each other (q377: zero recaptures). Both sites
    now guard the denominator with CASE (undefined estimate -> NULL) —
    this test EXECUTES them on the sparse tier, where the unguarded forms
    crashed with DIVIDE_BY_ZERO."""
    sf_dir = "/root/testdata/sf0.001"
    for name in ("q307_ipw_treatment_effect", "q377_capture_recapture"):
        rows = entry.queries()[name](spark, sf_dir).collect()
        assert len(rows) == 1, name


def test_sketch_queries_estimate_close_to_exact(spark):
    """q38 carries its own in-engine tolerance boolean (must be uniformly
    TRUE — same assertion its DuckDB oracle makes); q109 stays rows-only by
    design, so pin locally that the HLL-union estimates track the exact
    weekly distincts within the sketch's error envelope."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from hubverse_transform_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")

    for r in e.q38_approx_distinct_users(spark, sf).collect():
        assert r.approx_within_tol is True, (r.event_type, r.exact_users)

    weekly = {r.week: r.approx_users for r in e.q109_hll_union_users(spark, sf).collect()}
    exact_weekly = {
        r.week: r.n
        for r in ev.groupBy(F.weekofyear(F.date_trunc("day", "ts")).alias("week"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for w, est in weekly.items():
        assert abs(est - exact_weekly[w]) <= max(3, 0.05 * exact_weekly[w]), (w, est)


def test_quantile_scale_twins_paths_agree(spark):
    """The q40/q170 scale twins agree with their exact counterparts:

    - q206's rank-selected distributional quartiles bracket q40's
      interpolated ones (disc vs cont differ by at most one value step);
    - q207's approx_percentile cuts land within the sketch's rank-error
      guarantee (accuracy=10000 -> |realized rank - target| <= 1e-4, with
      slack for tie mass at the cut value) — asserted from the query's own
      audit columns AND re-derived against exact ranks here."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"

    exact = {r.l_returnflag: r for r in e.q40_quantiles(spark, sf).collect()}
    disc = {
        r.l_returnflag: r
        for r in e.q206_group_quantiles_scalable(spark, sf).collect()
    }
    assert set(exact) == set(disc)
    for flag, d in disc.items():
        x = exact[flag]
        # distributional cut is the smallest data value at-or-above the
        # interpolated one; both sit inside the same order-statistic gap
        for lo_col, cols in (
            ("p25_price", ("p25_price",)),
            ("p50_price", ("p50_price",)),
            ("p75_price", ("p75_price",)),
        ):
            xd = float(getattr(x, lo_col))
            dd = float(getattr(d, lo_col))
            # disc lands on the order statistic beside the interpolated
            # value; at sf0.001 (~6k rows) adjacent-value gaps reach ~0.5%
            assert abs(dd - xd) <= max(0.01 * abs(xd), 0.5), (flag, lo_col, xd, dd)
        assert abs(float(d.median_qty) - float(x.median_qty)) <= 1.0

    audit = e.q207_approx_decile_audit(spark, sf).collect()
    assert len(audit) == 9
    for r in audit:
        # sketch guarantee 1e-4 + rounding slack on the audit columns
        assert r.max_rank_err <= 2e-4, (r.decile, r.max_rank_err)
        # tie-aware interval really contains the target decile fraction
        assert r.frac_below - 2e-4 <= r.decile / 10.0 <= r.frac_at_or_below + 2e-4


def test_statistics_queries_match_numpy_reference(spark):
    """q213/q214/q215 against independent numpy/pure-Python references on
    the real sf0.001 documents table — guards against the oracle and the
    Spark side agreeing on the same WRONG formula (the differential can't
    catch a shared algebra slip)."""
    import numpy as np

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    docs = [
        (r.lang, r.source, r.n_chars, r.text.strip().lower().split())
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    ]

    # --- Spearman per lang (average ranks under ties) ---
    def avg_ranks(vals):
        order = np.argsort(np.asarray(vals), kind="stable")
        ranks = np.empty(len(vals))
        sv = np.asarray(vals)[order]
        i = 0
        while i < len(sv):
            j = i
            while j + 1 < len(sv) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
            i = j + 1
        return ranks

    got = {r.lang: r.spearman_rho for r in e.q213_spearman_length_ttr(spark, sf).collect()}
    for lang in got:
        xs = [n for lg, _s, n, _t in docs if lg == lang]
        ys = [len(set(t)) / len(t) for lg, _s, _n, t in docs if lg == lang]
        rho = np.corrcoef(avg_ranks(xs), avg_ranks(ys))[0, 1]
        assert abs(got[lang] - rho) < 1e-5, (lang, got[lang], rho)

    # --- KS between src0 and src1 token-length CDFs ---
    a = sorted(len(t) for _l, s, _n, t in docs if s == "src0")
    b = sorted(len(t) for _l, s, _n, t in docs if s == "src1")
    grid = sorted(set(a) | set(b))
    cdf = lambda xs, v: sum(1 for x in xs if x <= v) / len(xs)
    want_ks = max(abs(cdf(a, v) - cdf(b, v)) for v in grid)
    row = e.q214_ks_drift(spark, sf).collect()[0]
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.ks_stat - want_ks) < 1e-6

    # --- vocabulary Gini from raw sorted frequencies ---
    from collections import Counter

    freqs = Counter(w for _l, _s, _n, t in docs for w in t if w)
    c = np.sort(np.array(list(freqs.values()), dtype=float))
    n = len(c)
    want_gini = 2.0 * np.sum(np.arange(1, n + 1) * c) / (n * c.sum()) - (n + 1.0) / n
    row = e.q215_vocab_gini(spark, sf).collect()[0]
    assert row.vocab_size == n and row.total_tokens == int(c.sum())
    assert abs(row.gini - want_gini) < 1e-6
