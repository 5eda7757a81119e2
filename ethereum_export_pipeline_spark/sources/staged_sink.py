"""Staged CSV export with an atomic manifest commit — the reference's
fleet export discipline (each activity writes its own file, the run is
only "done" when every range landed; reference export_all.sh + the S3
staging step) on Spark's native CSV writer plus a driver-side commit:

  * executors write through Spark's CSV writer into
    `_staging/<run_id>/` — NEVER visible to readers; Spark's own
    task-attempt commit settles retried and speculative attempts;
  * the driver counts the staged files' rows in one JVM-only job and
    checks the sum against the row count observed during the write,
    then renames every staged part into place and writes
    `_MANIFEST.json` (files + per-file and total row counts), so a
    reader that requires the manifest sees either the whole export or
    none of it;
  * any failure removes `_staging/` — a failed run leaves the prior
    export as it was.

The cells are RFC-4180: a quote inside a quoted cell is doubled
(`escape '"'`), so a reader needs the same option. A quoted cell may
hold a newline; the cross-check reads with `multiLine` so such a row
counts once. Note that a one-column row whose value is NULL is written
as an empty line, which a CSV reader skips: such an export fails the
cross-check and aborts instead of committing a wrong count.

This module targets a filesystem visible to driver and executors
(local mode here; on a cluster the same commit runs against shared
storage — object stores want the rename swapped for a copy-or-
multipart finalize, which is exactly where the driver commit sits).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, functions as F, types as T

MANIFEST = "_MANIFEST.json"
STAGING = "_staging"


def write_staged_csv(df: DataFrame, path: str, mode: str) -> None:
    """Export `df` as CSV files with a header under `path` and commit
    `_MANIFEST.json` (`files[{file, rows}]`, `total_rows`, `columns`).
    `mode` "overwrite" replaces the export; "append" adds this run's
    files to it. Part names carry a run-unique token, so appended runs
    never collide with a prior run's files."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_staged_csv: mode {mode!r} is not "
                         "'overwrite' or 'append'")
    run_id = uuid.uuid4().hex[:8]
    staging = os.path.join(path, STAGING)
    stage = os.path.join(staging, run_id)
    os.makedirs(path, exist_ok=True)
    placed: list[str] = []
    try:
        observed = Observation()
        (df.observe(observed, F.count(F.lit(1)).alias("rows"))
           .write.option("header", True).option("escape", '"').csv(stage))
        parts = sorted(f for f in os.listdir(stage)
                       if f.startswith("part-") and f.endswith(".csv"))
        rows = _rows_per_file(df, stage)
        staged, written = sum(rows.values()), observed.get["rows"]
        if staged != written:
            raise RuntimeError(f"write_staged_csv: staged files hold "
                               f"{staged} rows, the write produced {written}")
        files = read_manifest(path)["files"] if (
            mode == "append"
            and os.path.exists(os.path.join(path, MANIFEST))) else []
        for i, part in enumerate(parts):
            name = f"part-{run_id}-{i:05d}.csv"
            os.replace(os.path.join(stage, part), os.path.join(path, name))
            placed.append(name)
            files.append({"file": name, "rows": rows.get(part, 0)})
        files.sort(key=lambda d: d["file"])
        manifest = {"files": files,
                    "total_rows": sum(d["rows"] for d in files),
                    "columns": df.columns}
        # the manifest flip is the commit: until it lands the prior
        # manifest still lists only prior files, all still present
        tmp = os.path.join(path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(path, MANIFEST))
    except BaseException:
        for name in placed:
            os.remove(os.path.join(path, name))
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # reconcile the directory against the manifest: overwrite's prior
    # parts, and orphans of a run that crashed between renaming parts
    # in and writing its manifest, are CSVs no manifest lists — a plain
    # directory read (spark.read.csv(dest)) would count them. After
    # this, directory reads and manifest-keyed reads agree.
    listed = {d["file"] for d in files}
    for name in os.listdir(path):
        if name.endswith(".csv") and name not in listed:
            os.remove(os.path.join(path, name))


def _rows_per_file(df: DataFrame, stage: str) -> dict[str, int]:
    """Data rows per staged part file name, counted by Spark over the
    written bytes (`_SUCCESS` and `.crc` files are hidden from the
    reader); a header-only file is absent (0 rows)."""
    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in df.columns])
    return {r.file_name: r["count"] for r in
            df.sparkSession.read.schema(schema).option("header", True)
              .option("escape", '"').option("multiLine", True).csv(stage)
              .groupBy("_metadata.file_name").count().collect()}


def read_manifest(path: str) -> dict:
    """Load the export manifest; raises if the export never committed
    (the all-or-nothing read contract)."""
    with open(os.path.join(path, MANIFEST)) as f:
        return json.load(f)
