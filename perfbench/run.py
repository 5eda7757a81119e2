"""Benchmark of the export pipeline engine: one named workload, a closed
loop of one client over a fixed query list at sf0.1 on local[nproc].

    python3 perfbench/run.py --workload W --seed N --seconds S --trace T

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it carries the run's context (ambient load, an fsync write
probe, the failed fraction). With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` they are the
per-layer ones, from a process whose JVM logs Spark events. The tracing
overhead is ``trace.total_s`` of a traced run minus ``total_s`` of an
untraced run; ``selftest.py`` reports it. The exit code is non-zero
when a query failed or returned a result other than the pinned one in
``expected.json``, and when the checkout lacks the engine or the
corpus.

Workloads, their query lists and the layer-to-metric mapping are in
``workloads.json``. The benchmark writes only under ``.perfbench_work/``
in the checkout and removes its own run directory when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from worker import load_spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: A worker still running after this many seconds is killed, so that a
#: run ends within the 180 s its callers allow.
RUN_DEADLINE_S = 150.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def fsync_write_mbps(path: str, mb: int = 8, rounds: int = 4) -> float:
    """Slowest of a few fsync'd ``mb``-MB writes, in MB/s: a short
    probe of the write path shuffles and sinks use, recorded beside the
    run rather than waited on."""
    buf = os.urandom(1 << 20)
    worst = float("inf")
    try:
        with open(path, "wb") as fh:
            for _ in range(rounds):
                t0 = time.perf_counter()
                for _ in range(mb):
                    fh.write(buf)
                fh.flush()
                os.fsync(fh.fileno())
                worst = min(worst, mb / (time.perf_counter() - t0))
    finally:
        os.remove(path)
    return worst


def group_rss_mb(pgid: int) -> float:
    """Resident memory of every process in a process group (the worker,
    its JVM and the Python workers the JVM forks)."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[2]) != pgid:
                continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # raced with process exit
    return total * PAGE / 2**20


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(pgid: int) -> None:
    """Kill whatever is left of a worker's process group and wait until
    every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: bool,
               run_dir: str, deadline: float) -> tuple[dict, float]:
    """Start one worker process, sample its memory until it ends, and
    return (its record, peak RSS in MB)."""
    tag = "traced" if trace else "plain"
    tmp = os.path.join(run_dir, f"{tag}_tmp")
    local = os.path.join(run_dir, f"{tag}_local")
    events = os.path.join(run_dir, f"{tag}_events")
    for d in (tmp, local, events):
        os.makedirs(d)
    # -XX:-UsePerfData: the JVM would otherwise write its hsperfdata file
    # to the system temp directory, outside the checkout, whatever
    # java.io.tmpdir says
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} "
              "-XX:-UsePerfData'",
              f"--conf spark.local.dir={local}"]
    if trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{events}",
                   "--conf spark.eventLog.compress=false"]
    env = dict(os.environ,
               TMPDIR=tmp,
               SPARK_LOCAL_DIRS=local,
               PYTHONPATH=os.pathsep.join(
                   [ROOT, HERE] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]),
               PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
               PERFBENCH_EVENTLOG_DIR=events)
    out = os.path.join(run_dir, f"{tag}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--out", out]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    peak = 0.0
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                raise TimeoutError(f"{tag} worker passed the run deadline")
            peak = max(peak, group_rss_mb(proc.pid))
            time.sleep(0.2)
    finally:
        stop_group(proc.pid)
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{tag} worker exited with {proc.returncode}")
    with open(out) as fh:
        return json.load(fh), peak


def query_samples(record: dict) -> list[dict]:
    return [q for p in record["passes"] for q in p["queries"]]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(record: dict) -> dict:
    return {
        "setup_s": median(a + b for a, b in record["setups"]),
        "total_s": median(p["wall_s"] for p in record["passes"]),
        "query_p50_s": median(q["build_s"] + q["plan_s"] + q["exec_s"]
                              for q in query_samples(record) if q["ok"]),
    }


def per_layer(traced: dict, peak_rss_mb: float) -> dict:
    samples = [q for q in query_samples(traced) if q["ok"]]
    out = {
        "peak_rss_mb": peak_rss_mb,
        "session.start_s": median(a for a, _ in traced["setups"]),
        "session.warmup_s": median(b for _, b in traced["setups"]),
        "session.jvm_start_s": traced["setups"][0][0],
        "sources.load_calls": traced["sources"]["load_calls"],
        "sources.load_s": traced["sources"]["load_s"],
        "plans.build_s": (sum(q["build_s"] for q in samples)
                          + sum(p["artifacts"]["build_s"]
                                for p in traced["passes"])),
        "artifacts.build_s": sum(p["artifacts"]["build_s"]
                                 for p in traced["passes"]),
        "artifacts.hit_s": sum(p["artifacts"]["hit_s"]
                               for p in traced["passes"]),
        "catalyst.plan_s": sum(q["plan_s"] for q in samples),
        "exec.run_s": sum(q["exec_s"] for q in samples),
        "exec.output_rows": sum(q["rows"] for q in samples),
        "trace.total_s": median(p["wall_s"] for p in traced["passes"]),
    }
    for key in ("exchanges", "scans", "python_nodes", "bnlj"):
        out[f"catalyst.{key}"] = sum(q["catalyst"][key] for q in samples)
    out.update(traced["metrics"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Run one benchmark workload and print its metrics.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = load_spec()
    needed = (os.path.join(ROOT, "__spark_entry__.py"),
              os.path.join(ROOT, "ethereum_export_pipeline_spark"))
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: cannot run, missing {missing}", file=sys.stderr)
        return 2
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(spec['workloads'])}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        context = {"load1_begin": load1(),
                   "fsync_write_mbps": fsync_write_mbps(
                       os.path.join(run_dir, "fsync_probe"))}
        record, peak = run_worker(args.workload, args.seed, args.seconds,
                                  bool(args.trace), run_dir, deadline)
        context["load1_end"] = load1()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = query_samples(record)
    failed = sum(not q["ok"] for q in samples)
    for q in samples:
        if not q["ok"]:
            print(f"perfbench: {q['name']} failed: {q.get('error')}",
                  file=sys.stderr)
    if args.trace:
        values, specs = per_layer(record, peak), bench["per_layer"]
    else:
        values, specs = end_to_end(record), bench["end_to_end"]
    context.update(
        failed_frac=failed / len(samples), cpus=record["cpus"],
        passes=len(record["passes"]), setups=record["setups"],
        order=[q["name"] for q in record["passes"][0]["queries"]],
        query_s=[[q.get(k, 0.0) for k in ("build_s", "plan_s", "exec_s")]
                 for q in record["passes"][0]["queries"]])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in specs}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
