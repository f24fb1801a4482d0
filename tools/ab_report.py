"""Summarize an interleaved A/B bench log (tools/ab_quiet2.py output) into a
per-query attribution table: for each query, the min and median across ALL
A-passes vs ALL B-passes, and the B/A ratio of minima (the load-robust
estimator — minima approximate the unloaded cost). B is the tree whose
passes are labelled ``head``; every other label counts as A.

Usage: python tools/ab_report.py evidence/ab_r9_r10.jsonl
"""

from __future__ import annotations

import json
import statistics
import sys


def main() -> None:
    path = sys.argv[1]
    a_runs: dict[str, list[float]] = {}
    b_runs: dict[str, list[float]] = {}
    passes = []
    for line in open(path):
        rec = json.loads(line)
        passes.append(
            f"{rec['label']:6s} pass={rec['pass_ts']:7.1f}s "
            f"load_pre={rec['load_pre'][0]:5.2f} busy={rec['cpu_busy_frac']:.2f}"
        )
        tgt = a_runs if rec["label"] != "head" else b_runs
        for q, runs in rec["queries"].items():
            tgt.setdefault(q, []).extend(runs)
    print("passes (interleaved):")
    for p in passes:
        print("  " + p)
    print()
    print(f"{'query':42s} {'A min/med':>18s} {'B=head min/med':>18s} {'B/A min':>8s}")
    tot_a = tot_b = 0.0
    for q in sorted(a_runs):
        amin, amed = min(a_runs[q]), statistics.median(a_runs[q])
        bmin, bmed = min(b_runs[q]), statistics.median(b_runs[q])
        tot_a += amin
        tot_b += bmin
        print(f"{q:42s} {amin:8.2f}/{amed:8.2f} {bmin:8.2f}/{bmed:8.2f} {bmin / amin:8.2f}")
    print(f"\nsum of minima: A {tot_a:.2f}s  B(head) {tot_b:.2f}s  ratio {tot_b / tot_a:.3f}")


if __name__ == "__main__":
    main()
