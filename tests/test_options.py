"""Guard: the package ships only code a workload runs, and an
operator parameter exists only when callers pass it different values.

AST scan of the package's top-level definitions against every
non-test reference. References are searched in the package,
`bench.py`, `tools/` and `perfbench/` — NOT in `tests/`: code or a
value only a test uses is not shipped for a reason, so a test runs
the operator the catalog runs, at its constants. A name matches by
itself (or an import alias of it), so a name shared by two
definitions counts for both.

`test_no_test_only_definitions` fails on a package top-level function
or class that nothing outside its own module-level body references —
counted to a fixpoint, so a helper referenced only from the bodies of
unreferenced definitions is unreferenced too (the driver entry
`__spark_entry__.py` is a referrer as well). `PENDING` lists the
test-only roots kept anyway, each with the change that will give it a
caller. The parameter rules judge only functions called outside tests:

* never set: a defaulted parameter that no call site passes (by
  keyword, by position, or through a `*args` / `**kw` splat);
* one value: a parameter that every call site gives the same
  constant-like expression — a literal, a tuple of literals, or an
  UPPER_CASE module constant, compared as `ast.unparse` text except
  that `mod.NAME` and a bare `NAME` are the same constant, and that
  literals equal to the literal value of the one constant name among
  the arguments are that constant (two different constant names never
  compare by value: `IVF_CELLS` and `PQ_CODEBOOK` are both 16 but
  separate settings). An omitted argument counts as its default; a
  splat that may cover the parameter counts as a value that varies.
  A function also used as a value is called where the scan cannot
  see — the `(spark, sf_dir)` catalog builders stored in a `Query`,
  callbacks handed to Spark — so this rule skips it.

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
    "sources.staged_sink.write_staged_csv.mode":
        "deployment: whether a run replaces or extends its export",
    "sources.csv_source.read_table_parquet.table":
        "deployment: the table a run reads",
    "incremental.run_incremental.table":
        "deployment: the manifest table a run records its ranges under",
}

#: the driver entry references the catalog's flagship; it calls no
#: operator, so it is a referrer but not a parameter call site
REFERRERS = (*CALLER_ROOTS, "__spark_entry__.py")

_S9 = ("the Glue-catalog step (S9) over convert_to_parquet's output; "
       "it goes on the graded path with it")
#: "module.definition" -> why it stays without a non-test caller
PENDING = {
    "operators.pipeline.run_full_export":
        "the reference's export (one DAG per range, bookmark rerun); "
        "its eth_full_export catalog row is ROADMAP direction 4",
    "operators.convert.convert_to_parquet":
        "the reference's three Glue convert jobs; eth_full_export "
        "reads them back typed (ROADMAP direction 4)",
    "streaming.incremental_convert":
        "the convert job's bookmarked incremental run (ROADMAP "
        "direction 4)",
    "streaming.stream_chain_export":
        "the export as a chain stream into the range layout (ROADMAP "
        "direction 4)",
    "sources.catalog.register_fixture_tables": _S9,
    "sources.catalog.register_converted_tables": _S9,
    "sources.catalog.drop_database": _S9,
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


def _module(path: str) -> str:
    mod = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
    return mod[:-3].replace(os.sep, ".").removesuffix(".__init__")


def _functions():
    """(`module.function`, node) for every package top-level function."""
    for path in _py_files(PACKAGE):
        for fn in _parse(path).body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{_module(path)}.{fn.name}", fn


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


def _value(node) -> str:
    """The text a constant-like argument compares by; `mod.NAME` reads
    as `NAME`, so a qualified and a bare use of one constant agree."""
    if isinstance(node, ast.Attribute) and node.attr.isupper():
        return node.attr
    return ast.unparse(node)


def _constants() -> dict[str, str]:
    """`NAME -> repr(value)` for every UPPER_CASE package constant bound
    to a literal; a name bound to anything else, or to two values in
    two modules, is left out."""
    found: dict[str, set] = {}
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                    and node.targets[0].id.isupper()):
                try:
                    v = repr(ast.literal_eval(node.value))
                except ValueError:
                    v = None
                found.setdefault(node.targets[0].id, set()).add(v)
    return {k: v.pop() for k, v in found.items()
            if len(v) == 1 and None not in v}


def _one_value(args: list, consts: dict[str, str]) -> bool:
    """Whether constant-like arguments are one value: one text, or one
    constant name and literals equal to its value."""
    if len({_value(a) for a in args}) == 1:
        return True
    names = {_value(a) for a in args
             if isinstance(a, (ast.Name, ast.Attribute))}
    if len(names) != 1 or (name := names.pop()) not in consts:
        return False
    try:
        lits = {repr(ast.literal_eval(a)) for a in args
                if not isinstance(a, (ast.Name, ast.Attribute))}
    except ValueError:
        return False
    return lits == {consts[name]}


def _scan() -> tuple[list[str], list[str]]:
    """(never set, one value) as `module.function.parameter` lists."""
    calls, values = _sites()
    consts = _constants()
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
                    and _one_value(args, consts)):
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


def _loaded(node, alias: dict[str, str]) -> set[str]:
    """Every name `node` loads, bare or as an attribute."""
    return {alias.get(_name(n), _name(n)) for n in ast.walk(node)
            if _name(n) and isinstance(n.ctx, ast.Load)}


def _references():
    """(names loaded outside any package definition, `name -> names
    loaded in its body` per package definition, `module.name -> name`
    of every package top-level function and class)."""
    roots: set[str] = set()
    uses: dict[str, set[str]] = {}
    defs: dict[str, str] = {}
    package = os.path.join(ROOT, PACKAGE)
    for rel in REFERRERS:
        for path in _py_files(rel):
            tree = _parse(path)
            alias = {a.asname: a.name for n in ast.walk(tree)
                     if isinstance(n, ast.ImportFrom)
                     for a in n.names if a.asname}
            for node in tree.body:
                if path.startswith(package) and isinstance(
                        node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                    defs[f"{_module(path)}.{node.name}"] = node.name
                    uses.setdefault(node.name, set()).update(
                        _loaded(node, alias))
                else:
                    roots |= _loaded(node, alias)
    return roots, uses, defs


def _live(roots: set[str], uses: dict[str, set[str]]) -> set[str]:
    """The names reachable from `roots` through definition bodies."""
    live, todo = set(), list(roots)
    while todo:
        n = todo.pop()
        if n not in live:
            live.add(n)
            todo.extend(uses.get(n, ()))
    return live


def test_no_test_only_definitions():
    roots, uses, defs = _references()
    live = _live(roots | {defs.get(q) for q in PENDING}, uses)
    dead = sorted(q for q, n in defs.items() if n not in live)
    assert not dead, (f"{len(dead)} package definitions only tests use "
                      "(give each a caller, or delete it with the tests "
                      "that exist only for it):\n" + "\n".join(dead))


def test_pending_is_live():
    roots, uses, defs = _references()
    pending = {defs.get(q) for q in PENDING}
    stale = sorted(q for q in PENDING if q not in defs
                   or defs[q] in _live(roots | pending - {defs[q]}, uses))
    assert not stale, ("PENDING entries now referenced outside tests, "
                       f"or gone: {stale}")
