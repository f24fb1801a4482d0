"""Order-balanced quiet-window interleaved A/B driver.

Waits for the 1-min loadavg to drop below the gate before each pair of
tools/ab_bench.py passes, and alternates WITHIN-pair order (A,B / B,A / ...)
so the systematic bias of one tree always getting the post-gate quiet slot
— visible in evidence/ab_r13c_exp{2,3}.jsonl where the second pass of each
pair consistently ran into rising load — cancels across pairs.

Usage:
  python tools/ab_quiet2.py <treeA> <labelA> <treeB> <labelB> <q1,q2,...> \
      <out.jsonl> <n_pairs> [load_gate]

Diagnostic only — never part of the bench contract or the timed surface.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))


def wait_quiet(gate: float, max_wait_s: float = 1800.0) -> float:
    t0 = time.time()
    while True:
        load1 = os.getloadavg()[0]
        if load1 < gate or time.time() - t0 > max_wait_s:
            return load1
        time.sleep(20)


def main() -> None:
    tree_a, label_a, tree_b, label_b, qcsv, out, n_pairs = sys.argv[1:8]
    gate = float(sys.argv[8]) if len(sys.argv) > 8 else 2.0
    for i in range(int(n_pairs)):
        load1 = wait_quiet(gate)
        order = [(tree_a, label_a), (tree_b, label_b)]
        if i % 2 == 1:
            order.reverse()
        print(
            f"pair {i + 1}: loadavg {load1:.2f}, order "
            f"{order[0][1]},{order[1][1]}",
            flush=True,
        )
        for tree, label in order:
            subprocess.run(
                [sys.executable, os.path.join(TOOLS, "ab_bench.py"),
                 tree, label, qcsv, out],
                stderr=subprocess.DEVNULL,
                check=True,
            )
    print("DONE", flush=True)


if __name__ == "__main__":
    main()
