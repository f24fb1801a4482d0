"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- percentiles: at least ten samples beyond -----------------------------------

@pytest.mark.parametrize("n, p, ok", [
    (19, 50, False), (20, 50, True), (39, 75, False), (40, 75, True),
    (99, 90, False), (100, 90, True), (0, 50, False),
])
def test_percentile_needs_ten_samples_beyond(n, p, ok):
    assert stats.supported(p, n) is ok


def test_highest_supported_percentile():
    assert stats.highest_supported(10) is None
    assert stats.highest_supported(25) == 50.0
    assert stats.highest_supported(45) == 75.0
    assert stats.highest_supported(200) == 95.0


def test_nearest_rank_percentile():
    values = list(range(1, 21))  # 1..20
    assert stats.percentile(values, 50) == 10
    assert stats.percentile(values[::-1], 50) == 10
    assert stats.percentile(values, 75) == 15
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_beta_cdf_known_values():
    assert stats.beta_cdf(0.5, 10.5, 10.5) == pytest.approx(0.5)
    assert stats.beta_cdf(0.3, 1.0, 1.0) == pytest.approx(0.3)  # uniform
    assert stats.beta_cdf(0.3, 2.0, 1.0) == pytest.approx(0.09)  # x^2
    assert stats.beta_cdf(0.0, 3.0, 4.0) == 0.0 and stats.beta_cdf(1.0, 3.0, 4.0) == 1.0


def test_harrell_davis_median():
    assert stats.harrell_davis([7.0] * 20, 50) == pytest.approx(7.0)
    values = [float(i) for i in range(1, 22)]  # symmetric around 11
    assert stats.harrell_davis(values, 50) == pytest.approx(11.0)
    assert stats.harrell_davis(values[::-1], 50) == pytest.approx(11.0)
    # weights are a partition of unity, so shifting every sample shifts it
    assert stats.harrell_davis([v + 5 for v in values], 50) == pytest.approx(16.0)


def test_harrell_davis_moves_little_when_middle_ranks_swap():
    base = [0.3] * 9 + [0.6, 0.9] + [1.5] * 9
    swapped = [0.3] * 9 + [0.9, 0.6] + [1.5] * 9
    wider = [0.3] * 9 + [0.62, 0.9] + [1.5] * 9
    assert stats.harrell_davis(base, 50) == pytest.approx(stats.harrell_davis(swapped, 50))
    assert abs(stats.harrell_davis(wider, 50) - stats.harrell_davis(base, 50)) < 0.02
    with pytest.raises(ValueError):
        stats.harrell_davis([], 50)


def test_summarize_records_count_and_support():
    s = stats.summarize([0.1] * 30)
    assert s["n"] == 30 and s["p50_supported"] and not s["p75_supported"]
    assert s["top_percentile"] == 50.0


# --- run length -------------------------------------------------------------------

def test_cycles_fit_the_window_and_respect_the_floor():
    assert stats.cycles(20, 9.0, 1) == 2
    assert stats.cycles(15, 9.0, 1) == 1
    assert stats.cycles(15, 2.2, 3) == 6
    assert stats.cycles(7.5, 2.2, 3) == 3
    assert stats.cycles(15, 24.0, 1) == 1


# --- failure counting -------------------------------------------------------------

def test_expected_warning_counts_as_success():
    t = stats.Tally()
    assert t.record("invalid", expected_warning=True, raised=UserWarning("bad extension"))
    assert (t.attempted, t.failed) == (1, 0)


def test_failures_are_counted_and_named():
    t = stats.Tally()
    t.record("ok", expected_warning=False, raised=None)
    t.record("crash", expected_warning=False, raised=RuntimeError("boom"))
    t.record("warned", expected_warning=False, raised=UserWarning("unexpected"))
    t.record("silent", expected_warning=True, raised=None)
    t.record("wrong", expected_warning=False, raised=None, check_errors=["rows 3 != 4"])
    t.record("other error", expected_warning=True, raised=ValueError("not a warning"))
    assert t.attempted == 6
    assert [name for name, _ in t.failures] == ["crash", "warned", "silent", "wrong", "other error"]
    assert "rows 3 != 4" in dict(t.failures)["wrong"]


def test_unattached_check_failure():
    t = stats.Tally()
    t.fail("drain 0", "stream stopped")
    assert (t.attempted, t.failed) == (0, 1)


# --- self time --------------------------------------------------------------------

def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0), _span(3, 1.5, 2.0, 1)]
    own = stats.self_times(spans)
    assert own == pytest.approx({0: 7.0, 1: 1.5, 2: 1.0, 3: 0.5})


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 8.0, 0), _span(3, 9.0, 12.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_union_length():
    assert stats.union_length([], 0, 1) == 0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)


# --- metric names match BENCHMARK.json -----------------------------------------

def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units_match_benchmark_json():
    m = stats.end_to_end(setup_s=[3.0, 1.0, 2.0], items=20, cpu_s=8.0)
    declared = {e["name"]: e["unit"] for e in _benchmark()["end_to_end"]}
    assert {k: v["unit"] for k, v in m.items()} == declared
    assert m["setup_s"]["value"] == 2.0
    assert m["cpu_ms_per_item"]["value"] == 400.0


def test_per_layer_names_and_units_match_benchmark_json():
    spans = {"query.compose": {"calls": 4, "s": 2.0, "jobs": 8},
             "query.compose@eager_compose": {"calls": 1, "s": 1.5, "jobs": 7}}
    m = stats.per_layer(spans=spans, measured={"ingest.batches": 0.5}, ops=4, get_spark_s=6.0,
                        driver_cpu_s=1.0, jvm_cpu_s=2.0, rss_mb=900.0, overhead_frac=0.01,
                        plain_op_s=[0.1] * 20, plain_items_per_s=5.0)
    declared = {e["name"]: e["unit"] for e in _benchmark()["per_layer"]}
    assert {k: v["unit"] for k, v in m.items()} == declared
    assert m["query.compose.s"]["value"] == 0.5
    assert m["query.compose.jobs"]["value"] == 2.0
    assert m["query.compose.s.eager_compose"]["value"] == 0.375
    assert m["ingest.batches"]["value"] == 0.5
    assert m["lake.open.s"]["value"] == 0
    assert m["mem.peak_rss_mb"]["value"] == 900.0
    assert m["wall.op_p50_ms"]["value"] == pytest.approx(100.0)
    assert m["wall.items_per_s"]["value"] == 5.0


def test_benchmark_json_shape():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    spec_path = os.path.join(ROOT, "perfbench", "spec.json")
    with open(spec_path) as f:
        spec = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(spec["workloads"])
    setup = next(e for e in b["end_to_end"] if e["name"] == "setup_s")
    assert setup["bound"] == max(e["bound"] for e in b["end_to_end"])
    layered = {m for row in spec["layers"] for m in row["metrics"]}
    assert layered == {e["name"] for e in b["per_layer"]}
    for w in spec["workloads"].values():
        assert w["cycle_s"] > 0 and w["min_cycles"] >= 1
    sample = spec["query_mix"]["sample"]
    assert len(sample) == len(set(sample)) >= 20
    assert set(spec["query_mix"]["strata_of"]) == set(sample)
