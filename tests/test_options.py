"""Guard: an operator parameter exists only when callers pass it
different values.

AST scan of the package's top-level functions against every call
site. Call sites are searched in the package, `bench.py`, `tools/`
and `perfbench/` — NOT in `tests/`: a value only a test passes does
not justify a knob, so a test runs the operator at its constants. A
call matches by the function's name (or an import alias of it), so a
name shared by two functions counts for both. A function no non-test
code calls is not judged. Two rules:

* never set: a defaulted parameter that no call site passes (by
  keyword, by position, or through a `*args` / `**kw` splat);
* one value: a parameter that every call site gives the same
  constant-like expression — a literal, a tuple of literals, or an
  UPPER_CASE module constant, compared as `ast.unparse` text. An
  omitted argument counts as its default; a splat that may cover the
  parameter counts as a value that varies. A function also used as a
  value is called where the scan cannot see — the `(spark, sf_dir)`
  catalog builders stored in a `Query`, callbacks handed to Spark — so
  this rule skips it.

Either way the parameter is a constant with a name, and the function
should use the constant. `ALLOWED` lists the parameters kept anyway:
deployment settings (where a run reads or writes, how long it waits).
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ethereum_export_pipeline_spark"
CALLER_ROOTS = (PACKAGE, "bench.py", "tools", "perfbench")

#: "module.function.parameter" -> why it stays
ALLOWED = {
    "sources.csv_source.read_table_parquet.table":
        "deployment: the table a run reads",
    "incremental.run_incremental.table":
        "deployment: the manifest table a run records its ranges under",
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


def _functions():
    """(`module.function`, node) for every package top-level function."""
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
        mod = mod[:-3].replace(os.sep, ".").removesuffix(".__init__")
        for fn in _parse(path).body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{mod}.{fn.name}", fn


def _params(fn: ast.FunctionDef):
    """(position or None, name, default node or None) of every
    parameter; the position is given for positional parameters."""
    pos = fn.args.posonlyargs + fn.args.args
    defaults = [None] * (len(pos) - len(fn.args.defaults)) + fn.args.defaults
    for i, (a, d) in enumerate(zip(pos, defaults)):
        yield i, a.arg, d
    for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        yield None, a.arg, d


def _name(node) -> str | None:
    return (node.id if isinstance(node, ast.Name) else
            node.attr if isinstance(node, ast.Attribute) else None)


def _sites() -> tuple[dict[str, list[ast.Call]], set[str]]:
    """Every call in the caller roots by callee name, and every name
    loaded other than as a callee; import aliases resolved."""
    calls: dict[str, list[ast.Call]] = {}
    values: set[str] = set()
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            tree = _parse(path)
            alias = {a.asname: a.name for n in ast.walk(tree)
                     if isinstance(n, ast.ImportFrom)
                     for a in n.names if a.asname}
            callees = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.Call) and _name(node.func):
                    callees.add(id(node.func))
                    name = _name(node.func)
                    calls.setdefault(alias.get(name, name), []).append(node)
            values |= {alias.get(_name(n), _name(n)) for n in ast.walk(tree)
                       if _name(n) and isinstance(n.ctx, ast.Load)
                       and id(n) not in callees}
    return calls, values


def _argument(call: ast.Call, idx: int | None, param: str, default):
    """What `call` gives the parameter: the positional or keyword
    argument, else `default` itself (the node, so an omission is
    `is default`); None when a splat may cover it."""
    star = next((i for i, a in enumerate(call.args)
                 if isinstance(a, ast.Starred)), len(call.args))
    if idx is not None and idx < star:
        return call.args[idx]
    for k in call.keywords:
        if k.arg == param:
            return k.value
    if star < len(call.args) or any(k.arg is None for k in call.keywords):
        return None
    return default


def _constant(node) -> bool:
    """A literal, a tuple of literals, or an UPPER_CASE constant."""
    if isinstance(node, ast.Constant):
        return True
    if isinstance(node, ast.UnaryOp):
        return isinstance(node.operand, ast.Constant)
    if isinstance(node, ast.Tuple):
        return all(_constant(e) for e in node.elts)
    if isinstance(node, ast.Name):
        return node.id.isupper()
    if isinstance(node, ast.Attribute):
        return node.attr.isupper()
    return False


def _scan() -> tuple[list[str], list[str]]:
    """(never set, one value) as `module.function.parameter` lists."""
    calls, values = _sites()
    never, one = [], []
    for qual, fn in _functions():
        sites = calls.get(fn.name, [])
        for idx, param, default in _params(fn):
            args = [_argument(c, idx, param, default) for c in sites]
            if (sites and default is not None
                    and all(a is default for a in args)):
                never.append(f"{qual}.{param}")
            elif (sites and fn.name not in values
                    and all(a is not None and _constant(a) for a in args)
                    and len({ast.unparse(a) for a in args}) == 1):
                one.append(f"{qual}.{param}")
    return never, one


def test_no_never_set_parameters():
    hits = [h for h in _scan()[0] if h not in ALLOWED]
    assert not hits, (f"{len(hits)} defaulted parameters no caller sets "
                      "(use the constant instead):\n" + "\n".join(hits))


def test_no_one_value_parameters():
    hits = [h for h in _scan()[1] if h not in ALLOWED]
    assert not hits, (f"{len(hits)} parameters every caller gives the "
                      "same constant (use the constant instead):\n"
                      + "\n".join(hits))


def test_allowlist_is_live():
    never, one = _scan()
    stale = sorted(set(ALLOWED) - set(never) - set(one))
    assert not stale, ("ALLOWED entries now varied by the callers, or "
                       f"gone: {stale}")
