"""Spark event-log reader: per-layer counters of one traced benchmark
process, attributed to the benchmark's job groups.

Every timed call in ``worker.py`` runs under ``setJobGroup("<query>/
<phase>")``. Jobs that escape the group are placed as follows:

* streaming micro-batch jobs run on the stream's own thread, under the
  stream's run id as job group. They carry the ``sql.streaming.queryId``
  property; the stream's ``QueryStartedEvent`` time falls inside the
  window of the call that started it, which names their group.
* any other job without a known group is placed by its submission time
  in the window of the call that was running.

A job placed nowhere counts in ``trace.unattributed_jobs``.
"""

from __future__ import annotations

import bisect
import datetime
import glob
import json
import os
from collections import defaultdict

STREAM_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$"
PY_ACCUMS = {
    "time to start Python workers": "py.start_ms",
    "time to initialize Python workers": "py.init_ms",
    "time to run Python workers": "py.run_ms",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_received",
}


def _epoch_ms(iso: str) -> int:
    return int(datetime.datetime.fromisoformat(
        iso.replace("Z", "+00:00")).timestamp() * 1000)


def _task_counters(ev: dict) -> dict[str, int]:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics", {})
    out = {
        "tasks": 1,
        "failed_tasks": int(ev["Task End Reason"]["Reason"] != "Success"),
        "cpu_ms": m.get("Executor CPU Time", 0) // 1_000_000,
        "gc_ms": m.get("JVM GC Time", 0),
        "deser_ms": m.get("Executor Deserialize Time", 0),
        "shuffle_read_bytes": (rd.get("Remote Bytes Read", 0)
                               + rd.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0),
        "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }
    for acc in ev["Task Info"].get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key and "Update" in acc:
            out[key] = out.get(key, 0) + int(acc["Update"])
    return out


def _input_rows(progress: dict) -> int:
    return sum(src.get("numInputRows") or 0
               for src in progress.get("sources", []))


def _is_pass(group: str | None, phase: str | None = None) -> bool:
    """True for the group of a call in the timed passes (a query phase,
    or an artifact build or hit; not set-up), optionally of one phase.
    Artifact builds are build-phase work: memo builds the queries would
    otherwise do in their own build."""
    if group is None or group.startswith("setup/"):
        return False
    return phase is None or group.endswith("/" + phase)


def read_events(log_dir: str):
    """Yield every event of every application logged under ``log_dir``
    (plain files, or Spark 4's ``eventlog_v2_*`` rolling directories)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*"))
                   + [p for p in glob.glob(os.path.join(log_dir, "*"))
                      if os.path.isfile(p)])
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


class Attribution:
    """Maps a job to the benchmark group ("<query>/<phase>") it ran for."""

    def __init__(self, windows: list[tuple[str, int, int]]) -> None:
        self.windows = sorted(windows, key=lambda w: w[1])
        self.starts = [w[1] for w in self.windows]
        self.groups = {w[0] for w in self.windows}
        self.stream_started: dict[str, int] = {}

    def at(self, epoch_ms: int) -> str | None:
        i = bisect.bisect_right(self.starts, epoch_ms) - 1
        if i >= 0 and epoch_ms <= self.windows[i][2]:
            return self.windows[i][0]
        return None

    def group(self, props: dict, submitted: int) -> str | None:
        group = props.get("spark.jobGroup.id")
        if group in self.groups:
            return group
        stream = props.get("sql.streaming.queryId")
        if stream in self.stream_started:
            return self.at(self.stream_started[stream])
        return self.at(submitted)


def summarize(log_dir: str, windows: list[tuple[str, int, int]]) -> dict:
    """Per-layer counters of the timed passes: build-phase jobs, exec-
    phase jobs, Python-worker accumulables and stream progress."""
    attr = Attribution(windows)
    job_group: dict[tuple[int, int], str | None] = {}
    stage_job: dict[tuple[int, int], tuple[int, int]] = {}
    per_group: dict[str, dict[str, int]] = defaultdict(
        lambda: defaultdict(int))
    stages_run: set[tuple[int, int]] = set()
    progress: list[dict] = []
    app = -1
    for ev in read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == STREAM_EVENT + "QueryStartedEvent":
            attr.stream_started[ev["id"]] = _epoch_ms(ev["timestamp"])
        elif kind == STREAM_EVENT + "QueryProgressEvent":
            progress.append(ev["progress"])
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = attr.group(props, ev["Submission Time"])
            job_group[(app, ev["Job ID"])] = group
            if group is not None:
                per_group[group]["jobs"] += 1
                if "sql.streaming.queryId" in props:
                    per_group[group]["stream_jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_job.setdefault((app, sid), (app, ev["Job ID"]))
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get((app, ev["Stage ID"]))
            group = job_group.get(job) if job else None
            if group is None:
                continue
            stages_run.add((app, ev["Stage ID"]))
            counters = per_group[group]
            for key, value in _task_counters(ev).items():
                counters[key] += value
    stage_group: dict[str, int] = defaultdict(int)
    for stage in stages_run:
        stage_group[job_group[stage_job[stage]]] += 1

    def total(phase: str | None, key: str) -> int:
        return sum(c.get(key, 0) for g, c in per_group.items()
                   if _is_pass(g, phase))

    def stages(phase: str) -> int:
        return sum(n for g, n in stage_group.items() if _is_pass(g, phase))

    out = {
        "plans.build_jobs": total("build", "jobs"),
        "plans.build_cpu_ms": total("build", "cpu_ms"),
        "sources.input_bytes": total(None, "input_bytes"),
        "sources.output_bytes": total(None, "output_bytes"),
        "exec.jobs": total("exec", "jobs"),
        "exec.stages": stages("exec"),
        "exec.tasks": total("exec", "tasks"),
        "exec.cpu_ms": total("exec", "cpu_ms"),
        "exec.gc_ms": total("exec", "gc_ms"),
        "exec.deser_ms": total("exec", "deser_ms"),
        "exec.shuffle_read_bytes": total("exec", "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total("exec", "shuffle_write_bytes"),
        "exec.spill_bytes": total("exec", "spill_bytes"),
        "exec.failed_tasks": total("exec", "failed_tasks"),
        "stream.jobs": total(None, "stream_jobs"),
        "trace.unattributed_jobs": sum(g is None for g in job_group.values()),
    }
    for key in PY_ACCUMS.values():
        out[key] = total(None, key)
    pass_streams = {sid for sid, t in attr.stream_started.items()
                    if _is_pass(attr.at(t))}
    batches = [p for p in progress if p["id"] in pass_streams]
    dur = defaultdict(int)
    for p in batches:
        for key, ms in p.get("durationMs", {}).items():
            dur[key] += ms
    out.update({
        "stream.batches": len(batches),
        "stream.useful_batch_ratio": (
            sum(_input_rows(p) > 0 for p in batches) / len(batches)
            if batches else 0.0),
        "stream.addBatch_ms": dur["addBatch"],
        "stream.queryPlanning_ms": dur["queryPlanning"],
        "stream.walCommit_ms": dur["walCommit"],
        "stream.trigger_ms": dur["triggerExecution"],
    })
    return out
