"""Interleaved same-machine A/B bench for attributing round-over-round drift.

One invocation = one PASS over a subset of queries in ONE tree (the round-9
protocol, VERIFY_r09.md §3, applied at suite level per the round-10 verdict
item #1). A driver shell alternates passes A,B,A,B,... within one session so
both trees sample the same ambient-load window; each pass records
os.getloadavg() and a /proc/stat busy-fraction delta so the load context is
a number, not a guess.

Usage:
    python tools/ab_bench.py <tree_root> <label> <q1,q2,...> <out.jsonl>

Each query runs once untimed (the warm-up: JIT, file listing and
first-touch caches) before its three timed runs, so a pass's spread is not
one cold run against two warm ones. The warm-up's wall time is recorded
separately under "warm" and never enters "queries"; it is the only timing
of work a query does on its first composition alone (q245's memoized plan
choice).

Appends one JSON line per pass: {"label", "tree", "pass_ts", "load_pre",
"load_post", "cpu_busy_frac", "warm": {name: run0},
"queries": {name: [run1, run2, run3]}}.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return sum(vals), idle


def main() -> None:
    tree, label, qcsv, out = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
    names = qcsv.split(",")
    sys.path.insert(0, tree)
    os.chdir(tree)
    import __spark_entry__ as entry_mod
    from hubverse_transform_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"ab-{label}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).groupBy(
        "r_name"
    ).count().write.mode("overwrite").format("noop").save()

    fns = entry_mod.queries()
    load_pre = os.getloadavg()
    tot0, idle0 = _proc_stat()
    t_pass0 = time.time()
    warm: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in names:
        fn = fns[name]
        times = []
        for _ in range(4):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        warm[name], runs[name] = times[0], times[1:]
    tot1, idle1 = _proc_stat()
    rec = {
        "label": label,
        "tree": tree,
        "pass_ts": round(time.time() - t_pass0, 1),
        "load_pre": [round(x, 2) for x in load_pre],
        "load_post": [round(x, 2) for x in os.getloadavg()],
        "cpu_busy_frac": round(1.0 - (idle1 - idle0) / max(1, tot1 - tot0), 4),
        "warm": warm,
        "queries": runs,
    }
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
