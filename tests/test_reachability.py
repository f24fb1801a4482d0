"""Reachability lint: every top-level def in ``hubverse_transform_spark`` is
reached from a query, the bench or a tool, or is named in ``KEPT``.

Roots are the identifiers of ``__spark_entry__.py``, ``bench.py``, the
non-test ``perfbench/*.py`` and ``tools/*.py``, plus the package's own
module-level code (constants, class bodies; imports and ``__all__`` are not
uses). A top-level def is reached when its name is among the reached
identifiers; its body's identifiers are then reached too, to a fixed point.
Names are matched, not resolved, so the closure over-approximates: it can
miss dead code, never flag live code. Docstrings, comments and other string
literals are not references. Tests are not roots — code only tests reach
is dead weight the surface does not run.

A def that fails this check is deleted (with its tests), or it earns a
``KEPT`` entry whose reason names the parity row or the roadmap direction
that adopts it. A ``KEPT`` entry whose def became reached, or was deleted,
fails too, so the dict cannot go stale.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "hubverse_transform_spark"

#: (module path under the package, def name) -> why it stays unreached
KEPT = {
    ("schema.py", "output_schema"): "Layer-A parity A4/A20: the output schema policy",
    ("sources/model_output.py", "read_csv_with_quarantine"): "Layer-A parity A12: row-level CSV quarantine",
    ("sources/submission_catalog.py", "read_submission_catalog"): "Layer-A parity: the submission catalog (A14 listing)",
    ("sources/submission_catalog.py", "stream_submission_catalog"): "Layer-A parity: the submission catalog (A14 listing)",
    ("sources/submission_catalog.py", "_catalog"): "Layer-A parity: the submission catalog (A14 listing)",
    ("sources/submission_catalog.py", "_submission_names"): "Layer-A parity: the submission catalog (A14 listing)",
    ("streaming/ingest.py", "dispatch_object_event"): "Layer-A parity A13: the per-object Lambda dispatch",
    ("sinks.py", "overwrite_submission_partitions"): "ROADMAP direction A: the micro-batch sink",
}


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _root_files() -> list[pathlib.Path]:
    perfbench = [p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")]
    return [ROOT / "__spark_entry__.py", ROOT / "bench.py", *perfbench, *(ROOT / "tools").glob("*.py")]


def unreached_defs() -> set[tuple[str, str]]:
    """(module, name) of every package top-level def no root reaches."""
    reached: set[str] = set()
    for path in _root_files():
        reached |= _identifiers(ast.parse(path.read_text()))
    defs: dict[tuple[str, str], ast.stmt] = {}
    for path in sorted(PKG.rglob("*.py")):
        module = str(path.relative_to(PKG))
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(module, stmt.name)] = stmt
            elif not (isinstance(stmt, (ast.Import, ast.ImportFrom)) or _is_docstring(stmt) or _is_all(stmt)):
                reached |= _identifiers(stmt)
    pending = dict(defs)
    grew = True
    while grew:
        grew = False
        for key in [k for k in pending if k[1] in reached]:
            reached |= _identifiers(pending.pop(key))
            grew = True
    return set(pending)


def test_every_package_def_is_reached_or_kept():
    unreached = unreached_defs()
    dead = sorted(unreached - set(KEPT))
    stale = sorted(set(KEPT) - unreached)
    assert not dead, f"defs no query, bench or tool reaches (delete them or add a KEPT reason): {dead}"
    assert not stale, f"KEPT entries that are now reached or no longer exist: {stale}"
