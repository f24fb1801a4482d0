"""tools/ab_report.py reads A/B logs whatever their two labels are."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _report(log: str, *labels: str) -> str:
    cmd = [sys.executable, str(REPO / "tools" / "ab_report.py"), str(REPO / "evidence" / log), *labels]
    return subprocess.run(cmd, capture_output=True, text=True, check=True).stdout


def _won(out: str, query: str) -> str:
    return next(line for line in out.splitlines() if line.startswith(query)).split()[-1]


@pytest.mark.parametrize(
    ("log", "sides", "query", "won"),
    [
        ("ab_q334_part_pairs.jsonl", "parent, B = change", "q334_clustering_coefficient", "8/10"),
        ("ab_r13b_exp1.jsonl", "base, B = exp1", "q355_three_itemset_rules", "4/4"),
        ("ab_materialization.jsonl", "parent, B = head", "q256_classifier_eval", "0/10"),
    ],
)
def test_ab_report_reads_any_two_labels(log, sides, query, won):
    out = _report(log)
    assert f"A = {sides}" in out
    assert _won(out, query) == won


def test_ab_report_takes_sides_as_arguments():
    out = _report("ab_q334_part_pairs.jsonl", "change", "parent")
    assert "A = change, B = parent" in out
    assert _won(out, "q334_clustering_coefficient") == "2/10"
