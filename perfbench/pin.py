"""Pin the expected result of every benchmark query, cross-checked once
against its DuckDB ``oracle_sql()`` twin on the same corpus.

    python3 perfbench/pin.py

Run from the root of a checkout; it rewrites ``perfbench/expected.json``
with each query's row count and checksum (see ``worker.checksum``) and
the oracle comparison's status ("OK" when the Spark rows equal DuckDB's,
compared as in ``tools/oracle_check.py``). It refuses to write the file
when any query disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    tmp = os.path.join(ROOT, ".perfbench_work", "pin_tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                      PYTHONPATH=os.pathsep.join([ROOT, HERE]))
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import __spark_entry__ as entry
    from oracle_check import compare, duck_connect
    from ethereum_export_pipeline_spark.session import get_spark
    from worker import checksum, corpus_dir, load_spec

    spec = load_spec()
    sf_dir = corpus_dir(spec)
    names = [q for w in spec["workloads"].values() for q in w["queries"]]
    spark = get_spark("perfbench_pin", cpus=len(os.sched_getaffinity(0)))
    qs, sqls = entry.queries(), entry.oracle_sql()
    con = duck_connect(sf_dir)
    pinned, oracle = {}, {}
    try:
        for name in names:
            df = qs[name](spark, sf_dir)
            rows, digest = checksum(df)
            pinned[name] = {"rows": rows, "checksum": digest}
            res = compare(name, df, sqls.get(name), con)
            oracle[name] = res["status"]
            print(name, rows, digest, res["status"], file=sys.stderr)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    bad = {n: s for n, s in oracle.items() if s not in ("OK", "rows-only")}
    if bad:
        print(f"oracle mismatch, expected.json not written: {bad}",
              file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"corpus": spec["corpus"], "queries": pinned,
                   "oracle": oracle},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
