"""Reachability lint: every top-level def and module-level constant in
``hubverse_transform_spark`` is reached from a query, the bench or a tool,
or is named in ``KEPT``; every option of a reached function takes each of
its values at some call site, or is named in ``KEPT_OPTIONS``; every
environment variable the package reads is set by a root, or is named in
``KEPT_ENV``; and every tool is run by something, or is named in
``KEPT_TOOLS``.

Roots are the identifiers of ``__spark_entry__.py``, ``bench.py``, the
non-test ``perfbench/*.py`` and ``tools/*.py``, plus the package's own
module-level code other than defs and constant assignments (class bodies
are defs; imports and ``__all__`` are not uses). A top-level def or a
module-level assignment is reached when a name it binds is among the
reached identifiers; its identifiers are then reached too, to a fixed
point. Dunder assignments (``__version__``) are exempt. Identifiers inside
``KEPT`` defs reach constants (not defs: a def a ``KEPT`` def alone reaches
needs its own entry). Names are matched, not resolved, so every check
over-approximates: it can miss dead code, never flag live code. Docstrings,
comments and other string literals are not references. Tests are not
roots — code only tests reach is dead weight the surface does not run.

Options: a parameter of a reached top-level function is an option when its
default is ``True`` or ``False``, or when its default is another scalar
literal (``None``, a number, a string) and the function reads it in a
condition: an ``if``/``elif``/``while`` test, a conditional expression's
test, or an operand of ``and``/``or``. A ``bool`` option must be passed
both values; a ``None``-defaulted one both ``None`` and something else
("set"); any other, two distinct values. A call that omits the parameter
passes the default; a call that passes anything but a literal, or uses
``*args``/``**kwargs``, passes every value. Values come from the root call
sites (calls to a def of that name); a function no root calls takes them
from the calls in the reached package code (``sessionize`` from
``session_stats``). A value no call passes picks code only tests run.

Environment: a variable the package reads (``os.environ.get``,
``os.getenv``, ``os.environ[...]``) is a knob; some root must set it (a
subscript store, ``setdefault``/``putenv`` or a dict-literal key with its
name), or nothing ever turns it.

Tools: a ``tools/*.py`` is run when a test (other than this lint), a
``.claude/skills/*/SKILL.md``, a ``perfbench/`` file or another run tool
names it as a word, to a fixed point.

A def, constant, option, knob or tool that fails these checks is deleted
(with its tests), or it earns a ``KEPT*`` entry whose reason names the
parity row, the evidence or the roadmap item that keeps it. An entry whose
subject became reached, set or run, or is gone, fails too, so no dict can
go stale.

Re-exports: every name is imported from the module that defines it, so a
name an import binds in a package ``__init__.py`` must be taken through that
package (``from <package> import <name>``, or ``<package>.<name>`` after
``import <package>``) by a root, a test or a package module; otherwise the
second import path is dead and the binding goes.

Run as a script to print the census: ``python tests/test_reachability.py``.
"""

from __future__ import annotations

import ast
import pathlib
import re

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
    ("paths.py", "route_s3_key", "origin_prefix"):
        "Layer-A parity A11: a hub deployment names its own origin prefix",
    ("sinks.py", "backfill_hub_dataset", "file_format"):
        "Layer-A parity A2/A14: Parquet submissions backfill too (test_sinks)",
}

#: environment variable the package reads -> why no root sets it
KEPT_ENV: dict[str, str] = {}

#: tool file name -> why it stays though no test, skill, perfbench module or
#: run tool names it
KEPT_TOOLS = {
    "dump_recall.py": "writes RECALL.md, the recall evidence operators/similarity.py cites",
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


#: the one value a non-literal argument, ``*args`` or ``**kwargs`` stands for
_ANY = object()


def _literal(node: ast.expr):
    """The value of a scalar literal (``None``, ``bool``, number, ``str``,
    ``-1``), or ``_ANY``."""
    try:
        value = ast.literal_eval(node)
    except ValueError:
        return _ANY
    return value if value is None or isinstance(value, (bool, int, float, str)) else _ANY


def _condition_names(fn: ast.AST) -> set[str]:
    """Names read in an ``if``/``elif``/``while`` test, a conditional
    expression's test, or an operand of ``and``/``or`` inside ``fn``."""
    tests: list[ast.expr] = []
    for n in ast.walk(fn):
        if isinstance(n, (ast.If, ast.While, ast.IfExp)):
            tests.append(n.test)
        elif isinstance(n, ast.BoolOp):
            tests.extend(n.values)
    return {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}


def _options(exclude: set[tuple[str, str]]) -> dict[tuple[str, str, str], tuple[object, int | None]]:
    """(module, function, parameter) -> (default, positional index or None
    for keyword-only) of every option of a top-level function not in
    ``exclude``: a parameter whose default is ``True``/``False``, or whose
    default is another scalar literal and which the function reads in a
    condition."""
    out = {}
    for module, tree in _package_modules():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or (module, fn.name) in exclude:
                continue
            conditions = _condition_names(fn)
            a = fn.args
            positional = a.posonlyargs + a.args
            with_defaults = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            for arg, default in with_defaults + list(zip(a.kwonlyargs, a.kw_defaults)):
                value = _ANY if default is None else _literal(default)
                if value is _ANY or not (isinstance(value, bool) or arg.arg in conditions):
                    continue
                index = positional.index(arg) if arg in positional else None
                out[(module, fn.name, arg.arg)] = (value, index)
    return out


def _value(value, default):
    """How one passed value counts: a ``None``-defaulted option has the two
    values ``None`` and ``"set"``."""
    if default is None and value is not _ANY:
        return None if value is None else "set"
    return value


def _passed_values(call: ast.Call, param: str, default, index: int | None) -> set:
    """The values one call passes for ``param``."""
    if any(kw.arg is None for kw in call.keywords) or any(isinstance(a, ast.Starred) for a in call.args):
        return {_ANY}
    given = [kw.value for kw in call.keywords if kw.arg == param]
    if index is not None and index < len(call.args):
        given.append(call.args[index])
    return {_value(_literal(given[0]), default) if given else default}


def _all_set(values: set, default) -> bool:
    """Whether ``values`` covers the option: both bools, both ``None`` and
    ``"set"``, or two distinct literals for any other default."""
    if _ANY in values:
        return True
    if isinstance(default, bool):
        return values == {True, False}
    if default is None:
        return values == {None, "set"}
    return len(values) > 1


def _calls(trees) -> dict[str, list[ast.Call]]:
    """Calls by callee name (``f(...)`` and ``x.f(...)``)."""
    out: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for call in ast.walk(tree):
            if isinstance(call, ast.Call):
                func = call.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                out.setdefault(name, []).append(call)
    return out


def option_values() -> dict[tuple[str, str, str], tuple[object, set]]:
    """(module, function, parameter) -> (default, values passed) of every
    option of a reached function. A function that some root calls takes its
    values from the root call sites; one that no root calls, from the calls
    in the reached package code."""
    dead_defs, _ = unreached()
    options = _options(dead_defs | set(KEPT))
    root_calls = _calls(ast.parse(p.read_text()) for p in _root_files())
    package_calls = _calls(
        stmt
        for module, tree in _package_modules()
        for stmt in tree.body
        if not (isinstance(stmt, _DEFS) and (module, stmt.name) in dead_defs | set(KEPT))
    )
    out = {}
    for key, (default, index) in options.items():
        calls = root_calls.get(key[1]) or package_calls.get(key[1], [])
        values: set = set()
        for call in calls:
            values |= _passed_values(call, key[2], default, index)
        out[key] = (default, values)
    return out


def _env_reads() -> dict[str, str]:
    """Environment variable -> package module that reads it
    (``os.environ.get``, ``os.getenv``, ``os.environ[...]``)."""
    out = {}
    for module, tree in _package_modules():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and n.args and (
                (isinstance(n.func, ast.Attribute) and n.func.attr == "get" and _identifiers(n.func.value) >= {"environ"})
                or (isinstance(n.func, (ast.Attribute, ast.Name)) and _identifiers(n.func) >= {"getenv"})
            ):
                key = n.args[0]
            elif isinstance(n, ast.Subscript) and _identifiers(n.value) >= {"environ"}:
                key = n.slice
            else:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                out.setdefault(key.value, module)
    return out


def _env_setters() -> dict[str, set[str]]:
    """Environment variable -> root files that set it: a string key stored
    by subscript (``os.environ[k] = v``), passed first to ``setdefault`` or
    ``putenv``, or written as a dict-literal key (an ``env=`` mapping)."""
    out: dict[str, set[str]] = {}
    for path in _root_files():
        keys: list[ast.expr] = []
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store):
                keys.append(n.slice)
            elif isinstance(n, ast.Call) and n.args and getattr(n.func, "attr", None) in ("setdefault", "putenv"):
                keys.append(n.args[0])
            elif isinstance(n, ast.Dict):
                keys.extend(k for k in n.keys if k is not None)
        for k in keys:
            if isinstance(k, ast.Constant) and isinstance(k.value, str):
                out.setdefault(k.value, set()).add(str(path.relative_to(ROOT)))
    return out


def tool_runners() -> dict[str, list[str]]:
    """Tool stem -> the files that name it as a word: tests (not this
    lint), skills, ``perfbench/`` and other tools that are themselves
    named, to a fixed point. A tool nothing names maps to ``[]``."""
    tools = {p.stem: p.read_text() for p in sorted((ROOT / "tools").glob("*.py"))}
    outside = {
        str(p.relative_to(ROOT)): p.read_text()
        for p in [
            *(ROOT / "tests").glob("*.py"),
            *(ROOT / ".claude" / "skills").glob("*/SKILL.md"),
            *(ROOT / "perfbench").glob("*.py"),
        ]
        if p.resolve() != pathlib.Path(__file__).resolve()
    }
    named = {stem: re.compile(rf"\b{stem}\b") for stem in tools}
    runners = {stem: [f for f, text in outside.items() if named[stem].search(text)] for stem in tools}
    grew = True
    while grew:
        grew = False
        for stem in tools:
            by_tools = [
                f"tools/{other}.py"
                for other, text in tools.items()
                if other != stem and runners[other] and named[stem].search(text)
            ]
            new = [f for f in by_tools if f not in runners[stem]]
            runners[stem] += new
            grew |= bool(new)
    return runners


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


def _unset_options(kind) -> tuple[list, list]:
    """(unset options not kept, stale ``KEPT_OPTIONS`` entries) among the
    options whose default ``kind`` accepts; an entry for an option that no
    longer exists counts as a ``None`` default."""
    options = option_values()
    unset = {k for k, (default, values) in options.items() if kind(default) and not _all_set(values, default)}
    kept = {k for k in KEPT_OPTIONS if kind(options[k][0] if k in options else None)}
    return sorted(unset - set(KEPT_OPTIONS)), sorted(kept - unset)


def test_every_bool_option_is_set_both_ways_or_kept():
    dead, stale = _unset_options(lambda default: isinstance(default, bool))
    assert not dead, (
        "bool options whose default or non-default value no query, bench or tool passes "
        f"(delete the option and the code it selects, or add a KEPT_OPTIONS reason): {dead}"
    )
    assert not stale, f"KEPT_OPTIONS entries now set both ways: {stale}"


def test_every_literal_option_is_set_every_way_or_kept():
    dead, stale = _unset_options(lambda default: not isinstance(default, bool))
    assert not dead, (
        "options (None, number or string default, read in a condition) that no query, bench "
        "or tool passes in more than one way (delete the option and the code only its other "
        f"values select, or add a KEPT_OPTIONS reason): {dead}"
    )
    assert not stale, f"KEPT_OPTIONS entries now set every way or no longer present: {stale}"


def test_every_env_knob_is_set_by_a_root_or_kept():
    reads, setters = _env_reads(), _env_setters()
    unset = {name for name in reads if name not in setters}
    dead = sorted(unset - set(KEPT_ENV))
    stale = sorted(set(KEPT_ENV) - unset)
    assert not dead, (
        "environment variables the package reads that no perfbench module, tool or bench sets "
        f"(make the setting a constant, or add a KEPT_ENV reason): {[(n, reads[n]) for n in dead]}"
    )
    assert not stale, f"KEPT_ENV entries now set by a root or no longer read: {stale}"


def test_every_tool_is_run_or_kept():
    runners = tool_runners()
    unrun = {f"{stem}.py" for stem, files in runners.items() if not files}
    dead = sorted(unrun - set(KEPT_TOOLS))
    stale = sorted(set(KEPT_TOOLS) - unrun)
    assert not dead, (
        "tools no test, skill, perfbench module or run tool names "
        f"(delete them, or add a KEPT_TOOLS reason): {dead}"
    )
    assert not stale, f"KEPT_TOOLS entries now run by something or no longer present: {stale}"


def test_every_kept_entry_gives_a_reason():
    for kept in (KEPT, KEPT_OPTIONS, KEPT_ENV, KEPT_TOOLS):
        assert all(isinstance(r, str) and r.strip() for r in kept.values()), kept


def test_every_reexport_is_imported_through_its_package():
    unused = sorted(reexports() - imported_through_packages())
    assert not unused, (
        "names a package __init__.py imports that nothing takes through the package "
        f"(import them from their defining module and drop the re-export): {unused}"
    )


if __name__ == "__main__":
    dead_defs, dead_constants = unreached()
    print("unreached defs (KEPT marked *):")
    for key in sorted(dead_defs):
        print(f"  {'*' if key in KEPT else ' '} {key[0]}:{key[1]}")
    print("unreached constants:")
    for key in sorted(dead_constants):
        print(f"    {key[0]}:{key[1]}")
    print("options: default -> values passed (unset marked !, KEPT_OPTIONS marked *):")
    for key, (default, values) in sorted(option_values().items()):
        mark = "*" if key in KEPT_OPTIONS else " " if _all_set(values, default) else "!"
        shown = sorted("<any>" if v is _ANY else repr(v) for v in values)
        print(f"  {mark} {key[0]}:{key[1]}({key[2]}) {default!r} -> {', '.join(shown) or '<no call>'}")
    print("env knobs: reader <- setters:")
    setters = _env_setters()
    for name, module in sorted(_env_reads().items()):
        print(f"    {name}: {module} <- {', '.join(sorted(setters.get(name, []))) or KEPT_ENV.get(name, '!')}")
    print("tools <- what runs them:")
    for stem, files in sorted(tool_runners().items()):
        print(f"    {stem}.py <- {', '.join(files) or KEPT_TOOLS.get(stem + '.py', '!')}")
