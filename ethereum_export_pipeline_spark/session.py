"""SparkSession factory.

Local-mode defaults follow the tuning notes in the public Spark docs:
shuffle partitions ~ cores (not 200), AQE on (runtime coalesce + skew
join), Arrow on for the Pandas-UDF slow path, UTC session timezone so
results compare cleanly against a DuckDB oracle (naive-UTC timestamps).

``spark.sql.legacy.parquet.nanosAsLong=true`` is kept for corpus
generations whose ``events.parquet`` carries TIMESTAMP(NANOS) (the
vanilla Spark 4 Parquet reader rejects those); with the flag that
column reads as a nanosecond-epoch BIGINT. Either way
`sources.tables.with_event_time` normalizes to `ts` + `ts_ns`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Correctness confs: `ensure_conf` forces these on every session,
#: including ones we did not create (e.g. one `__spark_entry__` is given).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # THE round-10/11 "heavy-Arrow py-path step" fix (SCALE.md has the
    # full bisect). Spark 4.1's JVM→Python Arrow writer calls
    # ArrowWriter.sizeInBytes() PER INPUT ROW to enforce this byte cap
    # (BatchedPythonArrowInput.writeSizedBatch; the check is skipped
    # only at the Int.MaxValue sentinel). sizeInBytes walks the root
    # StructVector's children through virtual calls that HotSpot
    # devirtualizes while only the primitive vector classes are
    # loaded; the FIRST Arrow batch carrying binary/string/array
    # columns loads more ValueVector subclasses, the devirtualization
    # is invalidated JVM-wide, and every later mapInPandas pays ~2×
    # (measured: a 64-row, few-KB type-diverse batch permanently
    # stepped a fixed 8M-row canary 0.76 → 1.72 s; with the sentinel
    # the same canary reads 0.57-0.65 s before AND after). At the
    # sentinel, batches are bounded by maxRecordsPerBatch (10000) ×
    # row width — fine for this engine's media blobs (≤ KBs); a
    # 100 TB deployment pushing ~10 MB binary rows through
    # mapInPandas must lower maxRecordsPerBatch (e.g. 64) or restore
    # the byte cap for those jobs, where wide rows amortize the
    # per-row check anyway.
    "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
}

#: Speed defaults: `ensure_conf` sets these (and a machine-sized
#: shuffle width) only on a session that has no value for them, so a
#: caller's choice survives every table load. Results are
#: partitioning- and AQE-independent by the exactness rules.
SPEED_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def local_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else every core: the one rule that sizes both
    the local master and the default shuffle width (at least 4)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def get_spark(app_name: str = "ethereum_export_pipeline_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cpus`` defaults to `local_cpus()`. On a real cluster the same
    confs apply, minus master/driver-memory, which the cluster manager
    owns.
    """
    if cpus is None:
        cpus = local_cpus()
    import tempfile
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle width ~ cores for local mode; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep managed tables (bucketed saveAsTable) out of the repo cwd
        .config("spark.sql.warehouse.dir",
                tempfile.mkdtemp(prefix="spark_graft_wh_"))
    )
    for k, v in {**SPEED_DEFAULTS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def isolated_session(spark: SparkSession) -> SparkSession:
    """A child session (same SparkContext, same cached data, SEPARATE
    runtime SQLConf) for work that must mutate session confs — every
    stream sets its own ``spark.sql.shuffle.partitions`` on the child
    it is built on, and upsert sinks flip ``partitionOverwriteMode``.
    Running those on a child keeps the mutation invisible to any query
    concurrently planning on the caller's session (set/restore on a
    SHARED session has a race window).
    The child starts from the caller's shuffle width and AQE keys (a
    bare new session would start from the SparkConf's), then gets the
    runtime confs `ensure_conf` guarantees."""
    child = spark.newSession()
    for k in ("spark.sql.shuffle.partitions", *SPEED_DEFAULTS):
        v = spark.conf.get(k, None)
        if v is not None:
            child.conf.set(k, v)
    return ensure_conf(child)


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally created session.

    The correctness driver hands us its own SparkSession; these confs
    are all runtime-settable so queries behave identically there.
    `RUNTIME_CONFS` are forced. `SPEED_DEFAULTS` and the shuffle width
    (sized to the machine: Spark's 200 default wastes scheduling
    overhead on local corpora; AQE coalesces further) are set only
    where the session has no value, so a width or AQE setting the
    caller chose is never overwritten.
    """
    defaults = dict(SPEED_DEFAULTS)
    defaults["spark.sql.shuffle.partitions"] = str(max(local_cpus(), 4))
    confs = {k: v for k, v in defaults.items()
             if spark.conf.get(k, None) is None}
    confs.update(RUNTIME_CONFS)
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark
