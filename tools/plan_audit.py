"""Plan-shape ledger: one TSV row of physical-plan counters per query.

  name  n_exchange  n_reused_exchange  n_bhj  n_smj  n_shj  n_bnlj
  n_cartesian  n_python  n_generate  n_window  n_sort

`n_python` counts BatchEvalPython / ArrowEvalPython / MapInPandas /
MapInArrow / FlatMapGroupsInPandas nodes. Planning only: the artifacts
a query consumes are built (plan build calls their builders), and AQE
has not yet run, so these are the initial plans on the sf0.001 corpus
at the tests' width (`cpus=4`). Explain text length is left out: it
moves by a few bytes between runs, while the counters do not.

`plans/shapes.tsv` is the committed ledger of all catalog rows, and
`tests/test_plan_ledger.py` compares every counter with it. A change
that moves a plan regenerates the ledger in the same diff:

  python tools/plan_audit.py > plans/shapes.tsv

With query names, only those rows are printed. A row whose counters
surprise is where to dig with `tools/dump_explain.py`.
"""

from __future__ import annotations

import os
import re
import sys

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


def shape_rows(spark, sf_dir: str, names) -> list[list[str]]:
    """Plan each named catalog query on `sf_dir` and count its nodes.

    A query that cannot be planned (a stream plans only at start())
    gets the row `[name, "SKIP: <exception type>"]`.
    """
    import __spark_entry__ as e
    qs = e.queries()
    rows = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:
            rows.append([name, f"SKIP: {type(ex).__name__}"])
            continue
        rows.append([name] + [str(len(re.findall(rx, txt)))
                              for rx in COUNTERS.values()])
    return rows


def main() -> int:
    sys.path.insert(0, ROOT)
    from ethereum_export_pipeline_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("plan_audit", cpus=4)
    names = sys.argv[1:] or list(e.queries())
    print("\t".join(HEADER))
    for row in shape_rows(spark, e.SMOKE_SF_DIR, names):
        print("\t".join(row), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
