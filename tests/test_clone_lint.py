"""Clone lint: no two functions repeat the same sub-plan.

Scope: every function of ``__spark_entry__.py`` except ``oracle_sql`` (its
SQL strings mirror the queries on purpose), and every function of
``hubverse_transform_spark``. Two functions clone each other when they
share a run of consecutive statements (in one statement list each: a
function body, or the body of an ``if``/``for``/``with``/``try`` block in
it) that spans at least ``MIN_LINES`` source lines of code (blank and
comment-only lines do not count; of two runs, the longer one counts) and
is identical after renaming local variables and numeric literals. Docstrings and imports are
not statements here; comments are not in the syntax tree at all.

Renaming: a local is a name the function binds (its parameters, lambda
parameters, assignment, loop, ``with`` and comprehension targets); two runs
match when one bijection of locals maps the one onto the other. Globals,
attributes and string literals (column names) must be equal. Every numeric
literal matches every other, so a head size of 20 and one of 10 is the same
plan with a parameter. A nested ``def`` is a function of its own and one
statement of its parent.

A clone is folded into one private helper that both sites call, or it
earns a ``KEPT_CLONES`` entry whose reason says why the two stay apart. An
entry that no longer matches a clone fails too, so the dict cannot go
stale.

Run as a script to print the census: ``python tests/test_clone_lint.py``.
"""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "hubverse_transform_spark"
ENTRY = ROOT / "__spark_entry__.py"

#: a shared run must span at least this many lines of code
MIN_LINES = 10

#: frozenset of two "file:function" names -> why the two keep their copies
KEPT_CLONES: dict[frozenset[str], str] = {
    frozenset(("__spark_entry__.py:q234_roc_auc_daily", "__spark_entry__.py:q243_best_split_stump")):
        "the (day, value) label grid keeps its F.when label in q234's body:"
        " tests/test_sparse_guard_gate.py counts F.when( in that source against"
        " q234's frozen floor of 2, and a helper would take one of the two",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_BLOCK_FIELDS = ("body", "orelse", "finalbody")


class _Func:
    __slots__ = ("name", "node", "locals", "src")

    def __init__(self, name: str, node: ast.AST, src: list[str]):
        self.name = name
        self.node = node
        self.locals = _local_names(node)
        self.src = src


def _local_names(fn: ast.AST) -> frozenset[str]:
    out: set[str] = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.arg):
            out.add(n.arg)
        elif isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del)):
            out.add(n.id)
    return frozenset(out)


def _skip(stmt: ast.stmt) -> bool:
    """Docstrings and imports are not statements of a run."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return True
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _tokens(stmt: ast.stmt, local: frozenset[str], rename: dict[str, str] | None) -> str:
    """The statement's syntax tree as text, numeric literals blanked and
    locals renamed. With ``rename`` None every local becomes one token (the
    coarse form runs are first matched on); otherwise each local is named by
    its first appearance in ``rename``'s run, which it extends."""

    def visit(node: ast.AST) -> str:
        if isinstance(node, ast.Name) and node.id in local:
            return f"L({_local(node.id)})"
        if isinstance(node, ast.arg) and node.arg in local:
            return f"A({_local(node.arg)})"
        if isinstance(node, ast.Constant) and type(node.value) in (int, float, complex):
            return "N"
        parts = [type(node).__name__]
        for field, value in ast.iter_fields(node):
            if field in ("ctx", "type_comment"):
                continue
            if isinstance(value, list):
                parts.append(field + "=[" + ",".join(_v(v) for v in value) + "]")
            else:
                parts.append(field + "=" + _v(value))
        return "(" + " ".join(parts) + ")"

    def _v(value) -> str:
        return visit(value) if isinstance(value, ast.AST) else repr(value)

    def _local(name: str) -> str:
        if rename is None:
            return "_"
        return rename.setdefault(name, f"v{len(rename)}")

    return visit(stmt)


def _functions() -> list[_Func]:
    files = [(ENTRY.name, ENTRY)] + [
        (str(p.relative_to(ROOT)), p) for p in sorted(PKG.rglob("*.py"))
    ]
    out: list[_Func] = []
    for label, path in files:
        text = path.read_text()
        tree, src = ast.parse(text), text.splitlines()
        stack: list[tuple[str, ast.AST]] = [("", tree)]
        while stack:
            prefix, node = stack.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, _FUNCS):
                    name = prefix + child.name
                    if path == ENTRY and name == "oracle_sql":
                        continue
                    out.append(_Func(f"{label}:{name}", child, src))
                    stack.append((name + ".", child))
                elif isinstance(child, ast.ClassDef):
                    stack.append((prefix + child.name + ".", child))
                elif not isinstance(child, ast.Lambda):
                    stack.append((prefix, child))
    return out


def _statement_lists(fn: ast.AST) -> list[list[ast.stmt]]:
    """The function's body and every block nested in it, short of nested
    functions and classes (a nested def is its own function)."""
    out: list[list[ast.stmt]] = []
    pending = [fn.body]
    while pending:
        stmts = [s for s in pending.pop() if not _skip(s)]
        if stmts:
            out.append(stmts)
        for s in stmts:
            if isinstance(s, (*_FUNCS, ast.ClassDef)):
                continue
            for field in _BLOCK_FIELDS:
                block = getattr(s, field, None)
                if isinstance(block, list) and block and isinstance(block[0], ast.stmt):
                    pending.append(block)
            for h in getattr(s, "handlers", ()):
                pending.append(h.body)
            for c in getattr(s, "cases", ()):
                pending.append(c.body)
    return out


def _span(src: list[str], stmts: list[ast.stmt]) -> int:
    """Source lines of code the run spans: its lines that are neither blank
    nor comment-only."""
    code = (src[i].strip() for i in range(stmts[0].lineno - 1, stmts[-1].end_lineno))
    return sum(1 for line in code if line and not line.startswith("#"))


def _exact_runs(fa: _Func, a: list[ast.stmt], fb: _Func, b: list[ast.stmt]):
    """Split two coarse-equal runs into the sub-runs that one consistent
    renaming maps onto each other."""
    start, ra, rb = 0, {}, {}
    for k in range(len(a)):
        ta, tb = _tokens(a[k], fa.locals, ra), _tokens(b[k], fb.locals, rb)
        if ta != tb:
            if k > start:
                yield a[start:k], b[start:k]
            ra, rb = {}, {}
            if _tokens(a[k], fa.locals, ra) == _tokens(b[k], fb.locals, rb):
                start = k
            else:
                start, ra, rb = k + 1, {}, {}
    if len(a) > start:
        yield a[start:], b[start:]


def clones() -> dict[frozenset[str], list[tuple[int, int, int]]]:
    """{frozenset of two function names: [(span, line in one, line in the
    other), ...]} for every shared run of at least ``MIN_LINES`` lines."""
    funcs = _functions()
    lists = []  # (func, statements, coarse tokens)
    for f in funcs:
        for stmts in _statement_lists(f.node):
            lists.append((f, stmts, [_tokens(s, f.locals, None) for s in stmts]))
    where = defaultdict(list)  # coarse token -> [(list index, position)]
    for li, (_, _, toks) in enumerate(lists):
        for pos, t in enumerate(toks):
            where[t].append((li, pos))
    found: dict[frozenset[str], set[tuple[int, int, int]]] = defaultdict(set)
    for occ in where.values():
        if len(occ) < 2:
            continue
        for i, (la, pa) in enumerate(occ):
            fa, sa, ta = lists[la]
            for lb, pb in occ[i + 1:]:
                fb, sb, tb = lists[lb]
                if fa is fb:
                    continue
                # maximal runs only: start where the previous statements differ
                if pa and pb and ta[pa - 1] == tb[pb - 1]:
                    continue
                n = 1
                while pa + n < len(ta) and pb + n < len(tb) and ta[pa + n] == tb[pb + n]:
                    n += 1
                if max(_span(fa.src, sa[pa:pa + n]), _span(fb.src, sb[pb:pb + n])) < MIN_LINES:
                    continue
                for ra, rb in _exact_runs(fa, sa[pa:pa + n], fb, sb[pb:pb + n]):
                    span = max(_span(fa.src, ra), _span(fb.src, rb))
                    if span >= MIN_LINES:
                        key = frozenset((fa.name, fb.name))
                        lines = tuple(sorted((
                            (fa.name, ra[0].lineno), (fb.name, rb[0].lineno)
                        )))
                        found[key].add((span, lines[0][1], lines[1][1]))
    return {k: sorted(v, reverse=True) for k, v in found.items()}


def test_no_unkept_clones():
    found = clones()
    unkept = {k: v for k, v in found.items() if k not in KEPT_CLONES}
    assert not unkept, "copied sub-plans; fold each into one private helper:\n" + "\n".join(
        f"  {' ~ '.join(sorted(k))}: {v}" for k, v in sorted(unkept.items(), key=lambda kv: sorted(kv[0]))
    )


def test_kept_clones_are_live_and_justified():
    found = clones()
    stale = [sorted(k) for k in KEPT_CLONES if k not in found]
    assert not stale, f"KEPT_CLONES entries that match no clone: {stale}"
    assert all(len(k) == 2 and reason.strip() for k, reason in KEPT_CLONES.items())


if __name__ == "__main__":
    for key, runs in sorted(clones().items(), key=lambda kv: -kv[1][0][0]):
        print(" ~ ".join(sorted(key)), runs)
