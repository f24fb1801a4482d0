"""Reachability lint: every top-level def and module-level constant in
``hubverse_transform_spark`` is reached from a query, the bench or a tool,
or is named in ``KEPT``; and every ``bool`` option of a reached function
takes both of its values at those call sites, or is named in
``KEPT_OPTIONS``.

Roots are the identifiers of ``__spark_entry__.py``, ``bench.py``, the
non-test ``perfbench/*.py`` and ``tools/*.py``, plus the package's own
module-level code other than defs and constant assignments (class bodies
are defs; imports and ``__all__`` are not uses). A top-level def or a
module-level assignment is reached when a name it binds is among the
reached identifiers; its identifiers are then reached too, to a fixed
point. Dunder assignments (``__version__``) are exempt. Identifiers inside
``KEPT`` defs reach constants (not defs: a def a ``KEPT`` def alone reaches
needs its own entry). Names are matched, not resolved, so the closure
over-approximates: it can miss dead code, never flag live code. Docstrings,
comments and other string literals are not references. Tests are not
roots — code only tests reach is dead weight the surface does not run.

Options: a parameter of a reached top-level function whose default is
``True`` or ``False`` selects a code path, so each of its two values must
be passed at some root call site (a call to a def of that name). A call
that omits the parameter passes the default; a call that passes anything
but a ``bool`` literal, or uses ``*args``/``**kwargs``, counts as both
values. A value no root passes picks code only tests run.

A def, constant or option that fails these checks is deleted (with its
tests), or it earns a ``KEPT``/``KEPT_OPTIONS`` entry whose reason names the
parity row or the roadmap item that adopts it. An entry whose def became
reached or was deleted, or whose option is now set both ways or is gone,
fails too, so neither dict can go stale.

Re-exports: every name is imported from the module that defines it, so a
name an import binds in a package ``__init__.py`` must be taken through that
package (``from <package> import <name>``, or ``<package>.<name>`` after
``import <package>``) by a root, a test or a package module; otherwise the
second import path is dead and the binding goes.
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

#: (module path under the package, function, parameter) -> why a value no
#: root passes stays
KEPT_OPTIONS = {
    ("operators/multimodal.py", "decode_features", "fake"):
        "queries decode fake only; the real decode (fake=False) is the deployment path, VERIFY_r09 item 6",
    ("operators/multimodal.py", "frame_sample", "fake"):
        "queries decode fake only; the real decode (fake=False) is the deployment path, VERIFY_r09 item 6",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _bound_names(stmt: ast.stmt) -> list[str] | None:
    """Names a module-level assignment binds, or None for other statements."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return None
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)]


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _root_files() -> list[pathlib.Path]:
    perfbench = [p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_")]
    return [ROOT / "__spark_entry__.py", ROOT / "bench.py", *perfbench, *(ROOT / "tools").glob("*.py")]


def _package_modules() -> list[tuple[str, ast.Module]]:
    return [(str(p.relative_to(PKG)), ast.parse(p.read_text())) for p in sorted(PKG.rglob("*.py"))]


def _close(reached: set[str], pending: dict[tuple[str, str], list[ast.stmt]]) -> None:
    """Move every pending entry whose name is reached out of ``pending``,
    adding the identifiers of its statements to ``reached``, to a fixed
    point."""
    grew = True
    while grew:
        grew = False
        for key in [k for k in pending if k[1] in reached]:
            for stmt in pending.pop(key):
                reached |= _identifiers(stmt)
            grew = True


def unreached() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(module, name) of every package top-level def, and of every
    module-level constant, that no root reaches."""
    reached: set[str] = set()
    for path in _root_files():
        reached |= _identifiers(ast.parse(path.read_text()))
    pending: dict[tuple[str, str], list[ast.stmt]] = {}
    constants: set[tuple[str, str]] = set()
    for module, tree in _package_modules():
        for stmt in tree.body:
            names = _bound_names(stmt)
            if isinstance(stmt, _DEFS):
                pending.setdefault((module, stmt.name), []).append(stmt)
            elif names and all(map(_is_dunder, names)):
                continue  # __all__, __version__: exempt, and not uses
            elif names:
                for n in names:
                    pending.setdefault((module, n), []).append(stmt)
                    constants.add((module, n))
            elif not (isinstance(stmt, (ast.Import, ast.ImportFrom)) or _is_docstring(stmt)):
                reached |= _identifiers(stmt)
    _close(reached, pending)
    dead_defs = {k for k in pending if k not in constants}
    for key in KEPT:
        for stmt in pending.get(key, []):
            reached |= _identifiers(stmt)
    _close(reached, pending)
    return dead_defs, {k for k in pending if k in constants}


def _bool_options(exclude: set[tuple[str, str]]) -> dict[tuple[str, str, str], tuple[bool, int | None]]:
    """(module, function, parameter) -> (default, positional index or None
    for keyword-only) of every bool-defaulted parameter of a top-level
    function not in ``exclude``."""
    out = {}
    for module, tree in _package_modules():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or (module, fn.name) in exclude:
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            with_defaults = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            for arg, default in with_defaults + list(zip(a.kwonlyargs, a.kw_defaults)):
                if isinstance(default, ast.Constant) and isinstance(default.value, bool):
                    index = positional.index(arg) if arg in positional else None
                    out[(module, fn.name, arg.arg)] = (default.value, index)
    return out


def _passed_values(call: ast.Call, param: str, default: bool, index: int | None) -> set[bool]:
    """The values one call passes for ``param``."""
    if any(kw.arg is None for kw in call.keywords) or any(isinstance(a, ast.Starred) for a in call.args):
        return {True, False}
    given = [kw.value for kw in call.keywords if kw.arg == param]
    if index is not None and index < len(call.args):
        given.append(call.args[index])
    if not given:
        return {default}
    value = given[0]
    if isinstance(value, ast.Constant) and isinstance(value.value, bool):
        return {value.value}
    return {True, False}


def unset_option_values() -> set[tuple[str, str, str]]:
    """(module, function, parameter) of every bool option of a reached
    function with a value that no root call site passes."""
    dead_defs, _ = unreached()
    options = _bool_options(dead_defs | set(KEPT))
    passed: dict[tuple[str, str, str], set[bool]] = {k: set() for k in options}
    for path in _root_files():
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            for key, (default, index) in options.items():
                if key[1] == name:
                    passed[key] |= _passed_values(call, key[2], default, index)
    return {k for k, values in passed.items() if values != {True, False}}


def _package_of(path: pathlib.Path) -> str:
    """Dotted name of the package a file's relative imports resolve against."""
    return ".".join(path.relative_to(ROOT).parts[:-1])


def reexports() -> set[tuple[str, str]]:
    """(package, name) of every name an import binds in a package
    ``__init__.py``."""
    out = set()
    for init in PKG.rglob("__init__.py"):
        for stmt in ast.parse(init.read_text()).body:
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for alias in stmt.names:
                    out.add((_package_of(init), (alias.asname or alias.name).split(".")[0]))
    return out


def imported_through_packages() -> set[tuple[str, str]]:
    """(module, name) a root, a test or a package module takes from a module
    by name: ``from <module> import <name>``, or ``<module>.<name>``
    over-approximated as any identifier ``<name>`` in a file that imports
    ``<module>`` (or a submodule of it)."""
    files = [*_root_files(), *(ROOT / "tests").glob("*.py"), *PKG.rglob("*.py")]
    out = set()
    for path in files:
        tree = ast.parse(path.read_text())
        imported: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                module = node.module or ""
                if node.level:
                    base = _package_of(path).rsplit(".", node.level - 1)[0]
                    module = f"{base}.{module}" if module else base
                out |= {(module, alias.name) for alias in node.names}
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    parts = alias.name.split(".")
                    imported |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
        out |= {(module, attr) for module in imported for attr in _identifiers(tree)}
    return out


def test_every_package_def_is_reached_or_kept():
    dead_defs, _ = unreached()
    dead = sorted(dead_defs - set(KEPT))
    stale = sorted(set(KEPT) - dead_defs)
    assert not dead, f"defs no query, bench or tool reaches (delete them or add a KEPT reason): {dead}"
    assert not stale, f"KEPT entries that are now reached or no longer exist: {stale}"


def test_every_module_constant_is_reached():
    _, dead = unreached()
    assert not dead, f"module-level constants no query, bench, tool or KEPT def reaches (delete them): {sorted(dead)}"


def test_every_bool_option_is_set_both_ways_or_kept():
    unset = unset_option_values()
    dead = sorted(unset - set(KEPT_OPTIONS))
    stale = sorted(set(KEPT_OPTIONS) - unset)
    assert not dead, (
        "bool options whose default or non-default value no query, bench or tool passes "
        f"(delete the option and the code it selects, or add a KEPT_OPTIONS reason): {dead}"
    )
    assert not stale, f"KEPT_OPTIONS entries now set both ways or no longer present: {stale}"


def test_every_reexport_is_imported_through_its_package():
    unused = sorted(reexports() - imported_through_packages())
    assert not unused, (
        "names a package __init__.py imports that nothing takes through the package "
        f"(import them from their defining module and drop the re-export): {unused}"
    )
