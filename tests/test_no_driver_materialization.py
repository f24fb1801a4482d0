"""Data-plane discipline guard: the library must not collect datasets to the
driver. Every ``.collect()`` / ``.toPandas()`` / ``.toArrow()`` /
``.toLocalIterator()`` in ``hubverse_transform_spark`` must be on the
explicit allowlist below, each with a bounded-size
justification — new entries are a design decision, not a convenience.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "hubverse_transform_spark"

#: (file, function) -> why collecting there is bounded and correct
ALLOWED = {
    ("streaming/ingest.py", "stream_model_outputs"): "file-name list per micro-batch",
    ("operators/similarity.py", "_ivf_centroids"):
        "n_centroids seed rows (<=16): the IVF quantizer of ivf_cosine_topk and ivf_list_stats",
    ("operators/similarity.py", "spherical_kmeans_centroids"):
        "k seed rows + k*dim aggregated component sums per Lloyd step",
    ("operators/scd.py", "apply_changeset"):
        "limit(5) sample of duplicate keys for the MERGE-precondition error",
    ("transform.py", "write_parquet"):
        "one submission file's rows, encoded as one Parquet object on the driver as the "
        "reference holds them in memory; bulk loads go through sinks.backfill_hub_dataset",
}

#: the DataFrame methods that bring a dataset's rows to the driver
MATERIALIZING = ("collect", "toPandas", "toArrow", "toLocalIterator")


def _offenders():
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        # map line -> enclosing function name
        funcs: list[tuple[int, int, str]] = []
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                funcs.append((node.lineno, max(node.lineno, node.end_lineno or 0), node.name))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in MATERIALIZING
                and isinstance(getattr(node, "ctx", None), ast.Load)
            ):
                fn = next(
                    (name for lo, hi, name in funcs if lo <= node.lineno <= hi),
                    "<module>",
                )
                if (rel, fn) not in ALLOWED:
                    out.append(f"{rel}:{node.lineno} in {fn}()")
    return out


def test_collect_only_on_the_allowlist():
    offenders = _offenders()
    assert not offenders, (
        "unapproved driver-side materialization (add to ALLOWED only with a "
        "bounded-size justification):\n" + "\n".join(offenders)
    )


def test_allowlist_names_only_existing_functions():
    """A stale entry (its function deleted or renamed) would silently widen
    the allowlist for whatever later takes that name."""
    defined = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defined.add((rel, node.name))
    stale = sorted(set(ALLOWED) - defined)
    assert not stale, f"ALLOWED entries that name no function: {stale}"
