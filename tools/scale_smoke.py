"""Scale run: the catalog itself over a derived ×N corpus — the
empirical check behind SCALE.md's extrapolations.

One event-logged `session.get_spark` session builds bench's shared
artifacts (`artifact:*` rows) first, then runs every named catalog row
(all of them by default), each under its own job group into a `noop`
sink. Prints one JSON line: per row its seconds plus shuffle read and
write bytes (read from the Spark event log, attributed by job group),
or its error.

Usage:
  python tools/make_corpus.py <sf_dir> 10 <corpus_dir>
  python tools/scale_smoke.py <corpus_dir> [name ...]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def read_group_bytes(event_dir: str) -> dict[str, dict[str, int]]:
    """Attribute shuffle/input bytes per job group from a finalized
    Spark event log (v2 rolling directory or v1 single file). Shared
    with tests/test_scale_envelopes.py, which pins the ×10 envelopes
    this tool's measurements established."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, int]] = {}
    paths = [p for p in glob.glob(f"{event_dir}/**", recursive=True)
             if os.path.isfile(p)]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(ev, dict):
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "other")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"), "other")
                    m = ev.get("Task Metrics") or {}
                    g = per_group.setdefault(
                        grp, {"shuffle_read": 0, "shuffle_write": 0,
                              "input_read": 0})
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    g["input_read"] += inp.get("Bytes Read", 0)
    return per_group


def event_logged_spark(app_name: str, event_dir: str):
    """`get_spark(app_name)` with its event log in `event_dir`. The
    confs reach the JVM through PYSPARK_SUBMIT_ARGS, the way
    perfbench/run.py passes them, so the JVM must not be running yet."""
    from pyspark import SparkContext
    if SparkContext._gateway is not None:
        raise RuntimeError("this process already started a JVM: its "
                           "event log can no longer be enabled")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{event_dir}",
        "--conf spark.eventLog.compress=false", "pyspark-shell"])
    from ethereum_export_pipeline_spark.session import get_spark
    return get_spark(app_name)


def run_rows(spark, corpus: str, rows: dict) -> dict[str, dict]:
    """Run each `(spark, corpus)` row under its own job group: catalog
    rows into a `noop` sink, `artifact:*` builders (which materialize
    themselves) as called. Returns {name: {"secs"} or {"error"}}."""
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for name, fn in rows.items():
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            res = fn(spark, corpus)
            if not name.startswith("artifact:"):
                res.write.mode("overwrite").format("noop").save()
            out[name] = {"secs": round(time.time() - t0, 2)}
        except Exception as ex:  # one failing row must not end the run
            traceback.print_exc(file=sys.stderr)
            msg = (str(ex).strip().splitlines() or [""])[0][:300]
            out[name] = {"error": f"{type(ex).__name__}: {msg}"}
        sc.setJobGroup("other", "other")
        print(f"# {name}: {out[name]}", file=sys.stderr)
    return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__.strip().split("Usage:")[1], file=sys.stderr)
        return 2
    corpus, names = sys.argv[1], sys.argv[2:]
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    import bench

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown catalog rows: {unknown}", file=sys.stderr)
        return 2
    event_dir = tempfile.mkdtemp(prefix="spark_graft_evlog_")
    t0 = time.time()
    spark = event_logged_spark("scale_smoke", event_dir)
    rows = {**bench._artifact_builders(),
            **{n: qs[n] for n in (names or qs)}}
    res = run_rows(spark, corpus, rows)
    spark.stop()  # flush + finalize the event log
    per_group = read_group_bytes(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    for name, r in res.items():
        if "secs" in r:
            g = per_group.get(name, {})
            r["shuffle_read"] = g.get("shuffle_read", 0)
            r["shuffle_write"] = g.get("shuffle_write", 0)
    print(json.dumps({"corpus": os.path.abspath(corpus),
                      "wall_s": round(time.time() - t0, 1),
                      "n_errors": sum("error" in r for r in res.values()),
                      "rows": res}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
