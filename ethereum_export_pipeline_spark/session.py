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

#: Runtime-settable confs that `ensure_conf` applies to sessions we did
#: not create (e.g. the correctness driver's session).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
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


def get_spark(app_name: str = "ethereum_export_pipeline_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the same confs apply, minus master/driver-memory, which the
    cluster manager owns.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
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
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def isolated_session(spark: SparkSession) -> SparkSession:
    """A child session (same SparkContext, same cached data, SEPARATE
    runtime SQLConf) for work that must mutate session confs — the
    streaming entry points clamp ``spark.sql.shuffle.partitions``
    around stateful query start and flip ``partitionOverwriteMode``
    for upsert sinks. Running those on a child keeps the mutation
    invisible to any query concurrently planning on the caller's
    session (set/restore on a SHARED session has a race window).
    The child gets the same runtime confs `ensure_conf` guarantees."""
    return ensure_conf(spark.newSession())


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an externally created session.

    The correctness driver hands us its own SparkSession; these confs
    are all runtime-settable so queries behave identically there.
    Shuffle width is sized to the machine (Spark's 200 default wastes
    scheduling overhead on local corpora; AQE coalesces further) —
    results are partitioning-independent by the exactness rules, so
    this only affects speed.
    """
    confs = dict(RUNTIME_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(max(os.cpu_count() or 4, 4))
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark
