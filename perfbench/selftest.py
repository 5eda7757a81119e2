"""Self-test of the benchmark: its counters are deterministic and the
workload seed changes the query order and nothing else.

    python3 perfbench/selftest.py [WORKLOAD ...]

Run from the root of a checkout (default: every workload). For each
workload it makes one untraced run with seed 1 and three traced runs,
two with seed 1 and one with seed 2, and checks that:

* every run is correct and exits 0;
* the two seed-1 runs report every count in ``DETERMINISTIC`` exactly
  alike (job, stage and task counts, shuffle and sink bytes, plan node
  counts, output rows, stream batches). The bytes sent to and returned
  from Python workers are left out: the Python data-source sink and
  stream frame their batches differently from run to run;
* the seed-2 run reports the same counts, and runs the same queries in
  another order.

Timings are not compared; the tracing overhead (``trace.total_s`` of
the first traced run minus ``total_s`` of the untraced run) is printed.
Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from worker import load_spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DETERMINISTIC = (
    "sources.load_calls", "sources.input_bytes", "sources.output_bytes",
    "plans.build_jobs", "catalyst.exchanges", "catalyst.scans",
    "catalyst.python_nodes", "catalyst.bnlj", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.failed_tasks", "exec.output_rows", "stream.jobs",
    "stream.batches", "trace.unattributed_jobs",
)


def bench_run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(context, metric values) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace",
         str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    context, result = (json.loads(x) for x in lines[-2:])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: incorrect result")
    return context["context"], {k: m["value"]
                                for k, m in result["metrics"].items()}


def check(workload: str) -> list[str]:
    problems = []
    _, plain = bench_run(workload, 1, 0)
    ctx_a, a = bench_run(workload, 1, 1)
    _, b = bench_run(workload, 1, 1)
    ctx_c, c = bench_run(workload, 2, 1)
    for name, other in (("repeat", b), ("seed 2", c)):
        for key in DETERMINISTIC:
            if a[key] != other[key]:
                problems.append(f"{workload} {name}: {key} "
                                f"{a[key]} != {other[key]}")
    if ctx_a["order"] == ctx_c["order"]:
        problems.append(f"{workload}: seed 2 ran the seed-1 order")
    if sorted(ctx_a["order"]) != sorted(ctx_c["order"]):
        problems.append(f"{workload}: seed 2 ran other queries")
    overhead = a["trace.total_s"] - plain["total_s"]
    print(f"{workload}: {'ok' if not problems else 'FAILED'}; trace "
          f"overhead {overhead:+.2f} s on total_s {plain['total_s']:.2f} s; "
          f"{json.dumps({k: a[k] for k in DETERMINISTIC})}")
    return problems


def main() -> int:
    names = sys.argv[1:] or list(load_spec()["workloads"])
    problems = [p for name in names for p in check(name)]
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
