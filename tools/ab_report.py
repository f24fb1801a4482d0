"""Summarize an interleaved A/B bench log (tools/ab_quiet2.py output) into a
per-query attribution table. Side A (the parent) is the first label in
the log and side B the other one; two label arguments name them instead
(a log with more than two labels needs them).

Per query it prints:

- the min and median over ALL runs of each side, and the B/A ratio of
  minima (the load-robust estimator — minima approximate the unloaded cost);
- each side's median of per-pass medians (``A pmed`` / ``B pmed``), the
  parent's interquartile range of per-pass medians (``A Q1-Q3``), and the
  pairs B won (its per-pass median lower than A's in the same pair) out of
  the complete pairs. These are the numbers the decision rules read: "B wins
  >= 9 of 10 pairs", "the gap between the pmeds exceeds A's IQR", or
  ``caching.py``'s keep rule (B's pmed lower, or higher by less than A's
  IQR with B winning at least half the pairs).

Pairs are consecutive passes, one of each side, as ab_quiet2 writes them
(A,B or B,A); an unmatched trailing pass counts only in the run columns.

Usage: python tools/ab_report.py <log.jsonl> [<label A> <label B>]
"""

from __future__ import annotations

import json
import statistics
import sys


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def main() -> None:
    path = sys.argv[1]
    recs = [json.loads(line) for line in open(path) if line.strip()]
    labels = list(dict.fromkeys(rec["label"] for rec in recs))
    if len(sys.argv) > 3:
        label_a, label_b = sys.argv[2:4]
    elif len(labels) == 2:
        label_a, label_b = labels
    else:
        sys.exit(f"{path}: labels {labels}; name side A and side B")
    recs = [rec for rec in recs if rec["label"] in (label_a, label_b)]
    runs: dict[str, dict[str, list[float]]] = {label_a: {}, label_b: {}}
    print("passes (interleaved):")
    for rec in recs:
        print(
            f"  {rec['label']:6s} pass={rec['pass_ts']:7.1f}s "
            f"load_pre={rec['load_pre'][0]:5.2f} busy={rec['cpu_busy_frac']:.2f}"
        )
        for q, qruns in rec["queries"].items():
            runs[rec["label"]].setdefault(q, []).extend(qruns)
    a_runs, b_runs = runs[label_a], runs[label_b]
    pairs = []
    i = 0
    while i + 1 < len(recs):
        x, y = recs[i], recs[i + 1]
        if x["label"] != y["label"]:
            pairs.append((y, x) if x["label"] == label_b else (x, y))
            i += 2
        else:
            i += 1
    print()
    print(
        f"{'query':36s} {'A min/med':>13s} {'B min/med':>15s} {'B/A min':>7s}"
        f" {'A pmed':>7s} {'B pmed':>7s} {'A Q1-Q3':>13s} {'B won':>6s}"
    )
    tot_a = tot_b = 0.0
    for q in sorted(a_runs):
        amin, amed = min(a_runs[q]), statistics.median(a_runs[q])
        bmin, bmed = min(b_runs[q]), statistics.median(b_runs[q])
        tot_a += amin
        tot_b += bmin
        pa = [statistics.median(a["queries"][q]) for a, _ in pairs]
        pb = [statistics.median(b["queries"][q]) for _, b in pairs]
        won = sum(y < x for x, y in zip(pa, pb))
        q1, q3 = _quartiles(pa)
        print(
            f"{q:36s} {amin:6.2f}/{amed:6.2f} {bmin:7.2f}/{bmed:7.2f} {bmin / amin:7.2f}"
            f" {statistics.median(pa):7.2f} {statistics.median(pb):7.2f}"
            f" {q1:6.2f}-{q3:6.2f} {won:3d}/{len(pairs):<2d}"
        )
    print(f"\nA = {label_a}, B = {label_b}")
    print(f"sum of minima: A {tot_a:.2f}s  B {tot_b:.2f}s  ratio {tot_b / tot_a:.3f}")


if __name__ == "__main__":
    main()
