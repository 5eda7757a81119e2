"""Guard: an operator parameter exists only when a caller sets it.

AST scan of the package's top-level functions. A defaulted parameter
that no call site passes (by keyword, by position, or through a
`*args` / `**kw` splat) is a constant with a name, and the function
should use the constant. Call sites are searched in the package,
`bench.py`, `tools/`, `tests/` and `perfbench/`; a call matches by the
function's name (or an import alias of it), so a name shared by two
functions counts for both.

`ALLOWED` lists the parameters kept anyway: deployment settings
(where a run reads or writes, how long it waits) and parameters set
only through an indirect call, where the function is stored and
called later under another name.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ethereum_export_pipeline_spark"
CALLER_ROOTS = (PACKAGE, "bench.py", "tools", "tests", "perfbench")

#: "module.function.parameter" -> why it stays
ALLOWED = {
    "streaming.stream_chain_export.timeout_s":
        "deployment: how long an export waits for its stream to drain",
}


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _defaulted(fn: ast.FunctionDef):
    """(index or None, name) of every parameter with a default; the
    index is the position for positional parameters."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    for i, a in enumerate(pos):
        if i >= first:
            yield i, a.arg
    for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if d is not None:
            yield None, a.arg


def _calls():
    """(callee name, positional count, keywords, *args?, **kw?) for
    every call in the caller roots, import aliases resolved."""
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            tree = _parse(path)
            alias = {a.asname: a.name for n in ast.walk(tree)
                     if isinstance(n, ast.ImportFrom)
                     for a in n.names if a.asname}
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = (f.id if isinstance(f, ast.Name) else
                        f.attr if isinstance(f, ast.Attribute) else None)
                if name is None:
                    continue
                star = any(isinstance(a, ast.Starred) for a in node.args)
                npos = sum(not isinstance(a, ast.Starred)
                           for a in node.args)
                kws = {k.arg for k in node.keywords if k.arg}
                dstar = any(k.arg is None for k in node.keywords)
                yield alias.get(name, name), npos, kws, star, dstar


def never_set() -> list[str]:
    """`module.function.parameter` for every defaulted parameter of a
    package top-level function that no call site passes."""
    by_name: dict[str, list] = {}
    for name, npos, kws, star, dstar in _calls():
        by_name.setdefault(name, []).append((npos, kws, star, dstar))
    hits = []
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
        mod = mod[:-3].replace(os.sep, ".").removesuffix(".__init__")
        for fn in _parse(path).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = by_name.get(fn.name, [])
            for idx, param in _defaulted(fn):
                passed = any(
                    param in kws or dstar
                    or (idx is not None and (idx < npos or star))
                    for npos, kws, star, dstar in calls)
                if not passed:
                    hits.append(f"{mod}.{fn.name}.{param}")
    return hits


def test_no_never_set_parameters():
    hits = [h for h in never_set() if h not in ALLOWED]
    assert not hits, (f"{len(hits)} defaulted parameters no caller sets "
                      "(use the constant instead):\n" + "\n".join(hits))


def test_allowlist_is_live():
    stale = sorted(set(ALLOWED) - set(never_set()))
    assert not stale, f"ALLOWED entries now set by a caller, or gone: {stale}"
