"""One benchmark process: set up Spark, run the timed passes of one
workload, check every result, and write a JSON record.

``run.py`` starts this file as a child process and reads the record it
writes; the child owns the JVM, so ``run.py`` can sample its memory and
stop everything it started. Usage (normally only from ``run.py``):

    worker.py --workload W --seed N --seconds S --trace T --out FILE

Every layer is timed from outside, around the benchmark's own calls
into it: ``session.get_spark`` (session), ``qs[name](spark, sf)`` (plan
build, with the eager sources/operators/streaming work it does),
``executedPlan()`` (Catalyst planning) and the checksum sink
(execution). With ``--trace 1`` the JVM was launched with the event log
on (``run.py`` sets ``PYSPARK_SUBMIT_ARGS``); the record then also holds
the event-log counters and the ``sources`` loader timings.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import re
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ethereum_export_pipeline_spark"
#: Session set-ups per run; setup_s is their median.
SETUPS = 3


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def corpus_dir(spec: dict) -> str:
    """The corpus directory: ``spec["corpus"]`` under the engine's own
    test-corpus root (the parent of ``__spark_entry__.SMOKE_SF_DIR``)."""
    import __spark_entry__ as entry
    return os.path.join(os.path.dirname(entry.SMOKE_SF_DIR), spec["corpus"])


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)["queries"]


def pass_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a shuffle that depends only on the
    workload seed and the pass number."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def warm_up(spark) -> None:
    """Fixed synthetic work over ``spark.range`` that reads no corpus
    data. It compiles the code paths the workloads use first (shuffle
    and broadcast joins, window + sort, posexplode, object aggregation,
    eager localCheckpoint, a parquet write and scan) and starts the
    Python workers through one mapInPandas, so that the JIT ramp and
    first-use costs land in set-up instead of in whichever query the
    shuffled order puts first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = spark.range(0, 20_000, 1, 4).selectExpr(
        "id % 97 AS g", "id", "sequence(0, CAST(id % 7 AS INT)) AS arr")
    ex = (base.select("g", "id", F.posexplode("arr").alias("p", "x"))
              .localCheckpoint(eager=True))
    agg = ex.groupBy("g").agg(
        F.array_sort(F.collect_list("x")).alias("xs"),
        F.count(F.lit(1)).alias("n"))
    top = (ex.join(agg, "g")
             .withColumn("r", F.row_number().over(
                 Window.partitionBy("g").orderBy("id")))
             .where("r <= 3")
             .select("g", F.size(F.array_intersect(
                 "xs", F.array(F.col("x").cast("int")))).alias("s")))
    (top.join(F.broadcast(agg.select("g", "n")), "g")
        .groupBy().sum("s", "n").collect())

    path = os.path.join(tempfile.mkdtemp(prefix="perfbench_warmup_"), "t")
    base.selectExpr("id", "g", "CAST(g AS STRING) AS s").write.parquet(path)
    scan = spark.read.parquet(path)
    scan.where("id > 10").groupBy("s").agg(F.sum("id")).collect()

    def _double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)
    (scan.select("id").mapInPandas(_double, "id long")
         .agg(F.sum("id")).collect())


def checksum(df) -> tuple[int, int]:
    """(row count, order-independent checksum) of a DataFrame: the sum
    over rows of the low 32 bits of ``xxhash64`` over every column.
    This aggregation is the benchmark's sink: it executes the whole
    plan and moves two numbers to the driver."""
    from pyspark.sql import functions as F
    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))),
                   F.lit(0)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"])


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_counts(plan_text: str) -> dict[str, int]:
    """Node counts in an executed-plan tree string (the initial plan
    when AQE is on, which does not depend on run-time statistics)."""
    names = [m.group(1) for line in plan_text.splitlines()
             if (m := _NODE.match(line))]
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange")
                         for n in names),
        "scans": sum("Scan" in n for n in names),
        "python_nodes": sum(bool(re.search("Python|Pandas|Arrow", n))
                            for n in names),
        "bnlj": sum(n == "BroadcastNestedLoopJoin" for n in names),
    }


class LoaderTimer:
    """Counts and times calls into ``sources.tables.load_table`` and
    ``register_views`` by rebinding them, in every module of the
    package that imported them, to timing wrappers. Nested calls are
    counted but only the outermost call is timed."""

    NAMES = ("load_table", "register_views")

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0

    def _wrap(self, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self.calls += 1
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if not self._depth:
                    self.seconds += time.perf_counter() - t0
        return timed

    def install(self) -> None:
        from ethereum_export_pipeline_spark.sources import tables
        for name in self.NAMES:
            original = getattr(tables, name)
            wrapped = self._wrap(original)
            for mod_name, mod in list(sys.modules.items()):
                if (mod_name.startswith(PACKAGE)
                        and getattr(mod, name, None) is original):
                    setattr(mod, name, wrapped)


class Worker:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool) -> None:
        spec = load_spec()
        self.sf_dir = corpus_dir(spec)
        self.queries = spec["workloads"][workload]["queries"]
        self.artifacts = spec["workloads"][workload]["artifacts"]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        #: (job group, first epoch ms, last epoch ms) of every timed call,
        #: so the event-log reader can place jobs that escape the group
        self.windows: list[tuple[str, int, int]] = []
        self.loader = LoaderTimer()

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def _timed(self, group: str, fn) -> tuple:
        """(fn(), seconds it took), run under job group ``group``."""
        self._group(group)
        t0, w0 = time.perf_counter(), int(time.time() * 1000)
        try:
            return fn(), time.perf_counter() - t0
        finally:
            self.windows.append((group, w0, int(time.time() * 1000)))

    def start_session(self) -> tuple[float, float]:
        from ethereum_export_pipeline_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        start_s = time.perf_counter() - t0
        _, warmup_s = self._timed("setup/warmup", lambda: warm_up(self.spark))
        return start_s, warmup_s

    def run_query(self, name: str, qs: dict, expected: dict) -> dict:
        rec: dict = {"name": name, "ok": False}
        try:
            df, rec["build_s"] = self._timed(
                f"{name}/build", lambda: qs[name](self.spark, self.sf_dir))
            plan, rec["plan_s"] = self._timed(
                f"{name}/plan",
                lambda: df._jdf.queryExecution().executedPlan())
            (rows, digest), rec["exec_s"] = self._timed(
                f"{name}/exec", lambda: checksum(df))
            rec.update(rows=rows, checksum=digest)
            if self.trace:
                rec["catalyst"] = plan_counts(plan.toString())
            want = expected.get(name)
            rec["ok"] = want == {"rows": rows, "checksum": digest}
            if not rec["ok"]:
                rec["error"] = f"result {rows}/{digest} != pinned {want}"
        except Exception as exc:  # a failed query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        return rec

    def build_artifacts(self, builders: dict) -> dict:
        """Cold, then repeated, call of each shared artifact builder the
        workload's queries consume. Building them first, in a fixed
        order, charges each build to the artifact and not to whichever
        consumer the shuffled order puts first."""
        out = {"build_s": 0.0, "hit_s": 0.0}
        for name in self.artifacts:
            for kind in ("build", "hit"):
                _, seconds = self._timed(f"{name}/{kind}", lambda: (
                    builders[name](self.spark, self.sf_dir)))
                out[f"{kind}_s"] += seconds
        return out

    def run(self) -> dict:
        import __spark_entry__ as entry
        import bench

        setups = []
        for _ in range(SETUPS):
            setups.append(self.start_session())
        if self.trace:
            self.loader.install()
        qs, expected = entry.queries(), load_expected()
        builders = bench._artifact_builders()
        passes, timed = [], 0.0
        while not passes or timed < self.seconds:
            order = pass_order(self.queries, self.seed, len(passes))
            t0 = time.perf_counter()
            artifacts = self.build_artifacts(builders)
            recs = [self.run_query(q, qs, expected) for q in order]
            wall = time.perf_counter() - t0
            timed += wall
            passes.append({"wall_s": wall, "artifacts": artifacts,
                           "queries": recs})
        record = {"setups": setups, "passes": passes, "cpus": self.cpus}
        if self.trace:
            record["sources"] = {"load_calls": self.loader.calls,
                                 "load_s": self.loader.seconds}
            self.spark.stop()  # flushes the event log
            from eventlog import summarize
            record["metrics"] = summarize(
                os.environ["PERFBENCH_EVENTLOG_DIR"], self.windows)
        return record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    record = Worker(args.workload, args.seed, args.seconds,
                    bool(args.trace)).run()
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
