"""Per-query profiling harness for optimization work.

Times individual catalog queries (noop sink, min-of-N) on the bench's
session settings. For a query's plan, use tools/dump_explain.py.

Usage:
  python tools/profile_query.py [--sf DIR] [--runs N] <query ...>

`artifact:<name>` rows time the shared-artifact builders (bench.py
names).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from ethereum_export_pipeline_spark.session import get_spark
    import __spark_entry__ as e
    import bench

    spark = get_spark("profile")
    qs = e.queries()
    arts = bench._artifact_builders()

    # warm page cache + JVM like bench.py does
    from ethereum_export_pipeline_spark.sources.tables import (
        TESTDATA_TABLES, load_table)
    for t in TESTDATA_TABLES:
        load_table(spark, args.sf, t).count()
    qs["q1_pricing_summary"](spark, args.sf).collect()

    def consume(df):
        df.write.mode("overwrite").format("noop").save()

    for name in args.queries:
        if name.startswith("artifact:"):
            t0 = time.time()
            arts[name](spark, args.sf)
            print(f"{name}: {time.time() - t0:.3f}s (build, 1 run)")
            continue
        spark.sparkContext.setJobDescription(name)
        best, times = float("inf"), []
        for _ in range(args.runs):
            t0 = time.time()
            consume(qs[name](spark, args.sf))
            dt = time.time() - t0
            times.append(round(dt, 3))
            best = min(best, dt)
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: min {best:.3f}s  runs {times}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
