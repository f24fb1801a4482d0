"""Contract tests for bench.py's ambient-load recording (round-11 item 2).

The committed BENCH.json — the working copy of the number of record — must
carry the `load` context (getloadavg pre/post, /proc/stat busy fraction,
n_cpus) so round-over-round comparisons stop riding on unrecorded sandbox
weather. If this fails after a bench.py edit, re-run the bench
(`SPARK_GRAFT_SF_DIR=... python bench.py`) so the committed artifact
matches the current emitter.
"""

from __future__ import annotations

import json
import pathlib

import bench as bench_mod

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_proc_stat_shape_and_monotonicity():
    t0, i0 = bench_mod._proc_stat()
    assert isinstance(t0, int) and isinstance(i0, int)
    assert 0 <= i0 <= t0
    t1, i1 = bench_mod._proc_stat()
    assert t1 >= t0 and i1 >= i0


def test_committed_bench_json_carries_load_context():
    data = json.loads((REPO / "BENCH.json").read_text())
    load = data.get("load")
    assert load is not None, "BENCH.json predates the load field — re-run bench.py"
    assert len(load["loadavg_pre"]) == 3 and len(load["loadavg_post"]) == 3
    assert 0.0 <= load["cpu_busy_frac"] <= 1.0
    assert load["n_cpus"] >= 1


def test_committed_bench_json_carries_adjudication():
    """Round-13 contract: the number of record self-adjudicates its movers
    (r12 spent three manual q334 adjudications on what this field now
    answers). If this fails after a bench.py edit, re-run the full bench.

    Until the first full-surface refresh lands, the committed artifact may
    predate the field — the demo artifacts in evidence/ carry the shape in
    the interim, and this skip deletes itself the moment BENCH.json is
    regenerated (the emitter always writes the field now)."""
    data = json.loads((REPO / "BENCH.json").read_text())
    adj = data.get("adjudication")
    if adj is None:
        import pytest

        pytest.skip("BENCH.json predates auto-adjudication — refresh pending")
    assert adj["ratio_gate"] == bench_mod.RATIO_GATE
    assert adj["load_gate"] == bench_mod.LOAD_GATE
    assert isinstance(adj["started_loaded"], bool)
    assert adj["prior_source"].startswith(("git:", "none"))
    if "mass_wobble" in adj:  # r13 s8 emitter onward
        assert adj["mass_mover_gate"] == bench_mod.MASS_MOVER_GATE
        assert adj["n_flagged"] == len(adj["movers"])
        assert adj["mass_wobble"] == (adj["n_flagged"] >= bench_mod.MASS_MOVER_GATE)
        if adj["mass_wobble"]:
            # mass wobbles must not be laundered into quiet_baseline
            assert not any(
                rec["verdict"] == "quiet_baseline"
                for rec in adj["movers"].values()
            )
    for name, rec in adj["movers"].items():
        assert name in data["queries"]
        # The emitter gates strictly on the unrounded median/prior ratio but
        # records round(ratio, 3) — a 1.2504x mover lands in the artifact as
        # exactly 1.25, so the committed value may sit ON the gate.
        assert rec["ratio"] >= bench_mod.RATIO_GATE
        assert rec["verdict"] in {
            "recovered", "persistent", "quiet_baseline", "not_remeasured_cap"
        }
        if rec["verdict"] in {"recovered", "persistent"}:
            assert len(rec["remeasure"]) == 2
            assert rec["remeasure_min"] == min(rec["remeasure"])
            # the verdict is a pure function of the recorded numbers
            recovered = rec["remeasure_min"] <= bench_mod.RATIO_GATE * rec["prior"]
            assert rec["verdict"] == ("recovered" if recovered else "persistent")


def test_flag_movers_pure_logic():
    prior = {"qa": 1.0, "qb": 2.0, "qc": 0.5, "qnew": 0.0}
    timings = {
        "qa": 1.24,   # below gate — not a mover
        "qb": 2.51,   # 1.255x — mover
        "qc": 2.0,    # 4x — mover, worst first
        "qnew": 9.9,  # zero prior — never flagged
        "qz": 5.0,    # no prior — never flagged
    }
    flagged = bench_mod._flag_movers(timings, prior)
    assert [f[0] for f in flagged] == ["qc", "qb"]
    assert flagged[0] == ("qc", 0.5, 2.0)


def test_load_prior_override_and_fallback(tmp_path, monkeypatch):
    p = tmp_path / "prior.json"
    p.write_text(json.dumps({"queries": {"qa": 1.5}}))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    doc, src = bench_mod._load_prior()
    assert doc.get("queries") == {"qa": 1.5} and src == str(p)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(tmp_path / "missing.json"))
    doc, src = bench_mod._load_prior()
    assert doc == {} and src.startswith("unreadable:")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PRIOR")
    doc, src = bench_mod._load_prior()
    assert src == "git:HEAD:BENCH.json" and len(doc.get("queries", {})) > 300


def test_compact_fill_order_is_key_stable():
    """r14 (r13 verdict item 2): the compact stdout line's per-query map
    must lead with the committed prior's emitted keys so the driver's
    round-over-round comparison stops churning with the weather."""
    timings = {"qa": 1.0, "qb": 9.0, "qc": 0.2, "qd": 5.0}
    # prior emitted (qc, qa) in its compact line; qgone no longer exists
    prior_doc = {"compact_keys": ["qc", "qa", "qgone"]}
    order = bench_mod._compact_fill_order(timings, prior_doc)
    assert order == ["qc", "qa", "qb", "qd"]  # stable prefix, then slowest-first
    # prior WITHOUT compact_keys: slowest-~40 of its queries reproduce its
    # old slowest-first emission; anything else follows by current time
    prior_doc = {"queries": {"qa": 3.0, "qb": 1.0, "qc": 2.0}}
    order = bench_mod._compact_fill_order(timings, prior_doc)
    assert order == ["qa", "qc", "qb", "qd"]
    # no prior at all: pure current slowest-first (first-run behavior)
    assert bench_mod._compact_fill_order(timings, {}) == ["qb", "qd", "qa", "qc"]
    # fallback prefix is capped so a full-surface prior map cannot crowd
    # out a genuinely new slow query
    big_prior = {"queries": {f"q{i}": float(i) for i in range(100)}}
    order = bench_mod._compact_fill_order({f"q{i}": 1.0 for i in range(100)}, big_prior)
    assert len(order) == 100 and order[0] == "q99" and order[39] == "q60"


def test_wait_quiet_start_records_and_bounds(monkeypatch):
    """r14 (r13 verdict item 3): the quiet-start guard waits for the gate,
    is bounded, and always reports what it saw — never silent."""
    # already quiet: no wait at all
    monkeypatch.setattr(bench_mod.os, "getloadavg", lambda: (0.5, 1.0, 1.0))
    waited, first = bench_mod._wait_quiet_start(4.0, 720.0)
    assert waited == 0.0 and first == 0.5
    # loaded and staying loaded: bounded by max_wait, reports first loadavg
    monkeypatch.setattr(bench_mod.os, "getloadavg", lambda: (9.9, 9.9, 9.9))
    waited, first = bench_mod._wait_quiet_start(4.0, 0.3, poll=0.1)
    assert first == 9.9 and 0.3 <= waited < 2.0
    # max_wait 0 disables the guard even under load
    waited, first = bench_mod._wait_quiet_start(4.0, 0.0)
    assert waited == 0.0 and first == 9.9
    # loaded then clearing: returns promptly once below the gate
    seq = iter([(9.0,) * 3, (9.0,) * 3, (0.2,) * 3, (0.2,) * 3])
    monkeypatch.setattr(bench_mod.os, "getloadavg", lambda: next(seq))
    waited, first = bench_mod._wait_quiet_start(4.0, 30.0, poll=0.05)
    assert first == 9.0 and waited < 5.0


def test_committed_bench_json_carries_compact_keys():
    """The artifact of record must carry the emitted compact-line key set
    (the next run's stable prefix)."""
    data = json.loads((REPO / "BENCH.json").read_text())
    keys = data.get("compact_keys")
    assert isinstance(keys, list) and len(keys) >= 10
    assert all(k in data["queries"] for k in keys)
    load = data["load"]
    assert "quiet_wait_sec" in load and "loadavg_first" in load
    assert load["quiet_gate"] > 0


def _empty_compact() -> dict:
    return {"metric": "total_query_wall_sec", "value": 1.0, "queries": {}}


def test_malformed_prior_still_builds_the_compact_line(tmp_path, monkeypatch):
    """A prior whose `queries` is a list and whose `compact_keys` is not a
    list reads as empty, so the compact line still builds (slowest-first)
    instead of crashing after all timing is done."""
    p = tmp_path / "prior.json"
    p.write_text(json.dumps({"queries": ["qa", 1.0], "compact_keys": "qa"}))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    doc, src = bench_mod._load_prior()
    assert src == str(p)
    assert doc["queries"] == {} and doc["compact_keys"] == []
    timings = {"qa": 1.0, "qb": 3.0}
    assert bench_mod._flag_movers(timings, doc["queries"]) == []
    compact = _empty_compact()
    bench_mod._fill_compact(compact, timings, doc)
    assert list(compact["queries"]) == ["qb", "qa"]
    # malformed entries inside well-typed fields are dropped one by one
    p.write_text(json.dumps(
        {"queries": {"qa": "slow", "qb": 2.0}, "compact_keys": ["qa", ["qb"]]}
    ))
    doc, _ = bench_mod._load_prior()
    assert doc["queries"] == {"qb": 2.0} and doc["compact_keys"] == ["qa"]
    # a prior document that is not an object at all reads as no prior
    p.write_text(json.dumps([1, 2, 3]))
    assert bench_mod._load_prior() == ({}, str(p))


def test_compact_line_surfaces_new_slow_query_past_a_full_prior():
    """A stable prefix long enough to fill the whole budget is capped, so a
    new slow query not in the prior still appears in the compact line."""
    stable = [f"q{i:03d}_stable_query_with_a_long_name" for i in range(200)]
    timings = {k: 1.0 for k in stable} | {"q999_new_slow_query": 99.0}
    compact = _empty_compact()
    bench_mod._fill_compact(compact, timings, {"compact_keys": stable})
    assert "q999_new_slow_query" in compact["queries"]
    assert len(json.dumps(compact)) <= bench_mod.COMPACT_BUDGET
    emitted = list(compact["queries"])
    # the stable prefix still leads, in the prior's order
    assert emitted[:-1] == stable[: len(emitted) - 1]
