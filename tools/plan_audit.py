"""Plan-shape ledger: one TSV row of physical-plan counters per plan
the engine builds.

  name  n_exchange  n_reused_exchange  n_bhj  n_smj  n_shj  n_bnlj
  n_cartesian  n_python  n_generate  n_window  n_sort

`n_python` counts BatchEvalPython / ArrowEvalPython / MapInPandas /
MapInArrow / FlatMapGroupsInPandas nodes. Planning only, on the
sf0.001 corpus at the tests' width (`cpus=4`); AQE has not yet run, so
these are the initial plans. Explain text length is left out: it
moves by a few bytes between runs, while the counters do not.

A row counts its final plan plus every frame `DataFrame.localCheckpoint`
/ `checkpoint` materializes while the row is built: an iterative
operator or an `@artifact` builder checkpoints its work at plan build,
and the final plan then shows only a scan of the checkpoint. The
`artifact:*` rows (`bench._artifact_builders()`, registry order) lead
the ledger; each builds cold over a fresh alias directory of the
corpus, so its registry key is new whatever the application already
memoized. The catalog rows then plan over that same alias, every
artifact warm, so a consumer row counts only its own plan and the
counts do not depend on what ran before. A `stream_*` row counts 0: a
stream plans only at `start()`, and the row reads its memory sink.

`plans/shapes.tsv` is the committed ledger, and
`tests/test_plan_ledger.py` compares every counter with it. A change
that moves a plan regenerates the ledger in the same diff:

  python tools/plan_audit.py > plans/shapes.tsv

With row names, only those rows are printed. A row whose counters
surprise is where to dig with `tools/dump_explain.py`.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "plans", "shapes.tsv")

COUNTERS = {
    "n_exchange": r"(?<!Reused)Exchange",
    "n_reused_exchange": r"ReusedExchange",
    "n_bhj": r"BroadcastHashJoin",
    "n_smj": r"SortMergeJoin",
    "n_shj": r"ShuffledHashJoin",
    "n_bnlj": r"BroadcastNestedLoopJoin",
    "n_cartesian": r"CartesianProduct",
    "n_python": (r"BatchEvalPython|ArrowEvalPython|MapInPandas"
                 r"|MapInArrow|FlatMapGroupsInPandas"),
    "n_generate": r"\bGenerate\b",
    "n_window": r"\bWindow\b",
    "n_sort": r"\bSort\b",
}
HEADER = ["name", *COUNTERS]
MATERIALIZERS = ("localCheckpoint", "checkpoint")


def _counts(df) -> list[int]:
    """Node counts: the "formatted" explain gives every node one
    `(id) Name` header in its details block (the tree names it again)."""
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    nodes = "\n".join(re.findall(r"^\(\d+\) (.*)$", txt, re.M))
    return [len(re.findall(rx, nodes)) for rx in COUNTERS.values()]


def row_names() -> list[str]:
    """Every ledger row: the artifact builders, then the catalog."""
    import bench
    import __spark_entry__ as e
    return [*bench._artifact_builders(), *e.queries()]


def shape_rows(spark, sf_dir: str, names) -> list[list[str]]:
    """Build each named row on an alias of `sf_dir` and count its nodes.

    Every artifact is built first (cold, in registry order) whether or
    not its row is named. A catalog query that cannot be planned gets
    the row `[name, "SKIP: <exception type>"]`.
    """
    import bench
    import __spark_entry__ as e
    builders, qs = bench._artifact_builders(), e.queries()
    cls = type(spark.range(0))
    original = {m: getattr(cls, m) for m in MATERIALIZERS}
    built: list[list[int]] = []

    def counted(method):
        def materialize(self, *args, **kwargs):
            built.append(_counts(self))
            return method(self, *args, **kwargs)
        return materialize

    def total(final: list[int]) -> list[str]:
        return [str(sum(c)) for c in zip(final, *built)]

    tmp = tempfile.mkdtemp(prefix="plan_audit_")
    alias = os.path.join(tmp, os.path.basename(os.path.abspath(sf_dir)))
    os.symlink(os.path.abspath(sf_dir), alias)
    got = {}
    try:
        for m, method in original.items():
            setattr(cls, m, counted(method))
        for name, build in builders.items():
            built.clear()
            build(spark, alias)
            got[name] = [name] + total([0] * len(COUNTERS))
        for name in names:
            if name in got:
                continue
            built.clear()
            try:
                final = _counts(qs[name](spark, alias))
            except Exception as ex:
                got[name] = [name, f"SKIP: {type(ex).__name__}"]
                continue
            got[name] = [name] + total(final)
    finally:
        for m, method in original.items():
            setattr(cls, m, method)
        shutil.rmtree(tmp, ignore_errors=True)
    return [got[n] for n in names]


def main() -> int:
    sys.path.insert(0, ROOT)
    from ethereum_export_pipeline_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plan_audit", cpus=4)
    names = sys.argv[1:] or row_names()
    print("\t".join(HEADER))
    for row in shape_rows(spark, e.SMOKE_SF_DIR, names):
        print("\t".join(row), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
