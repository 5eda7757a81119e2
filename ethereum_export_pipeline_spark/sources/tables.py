"""Loaders for the driver-provided test corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

`events.parquet` has stored its `ts` column as Parquet
TIMESTAMP(NANOS) in some corpus generations (readable only with
``spark.sql.legacy.parquet.nanosAsLong=true``, surfacing as a
nanosecond-epoch BIGINT) and as TIMESTAMP(MICROS) in others
(surfacing as TIMESTAMP_NTZ). `with_event_time` normalizes either
form to the same two columns every query codes against:

  * ``ts``       — TIMESTAMP_NTZ at microsecond precision (what DuckDB
                   sees natively, so oracle comparison is exact), and
  * ``ts_ns``    — the nanosecond-epoch BIGINT (kept: cheap integer
                   window arithmetic at scale beats timestamp math).

At 100 TB these reads are partitioned parquet scans; filters/projections
push down (PushedFilters / ReadSchema in `.explain`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import ensure_conf

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def with_event_time(df: DataFrame) -> DataFrame:
    """Normalize an events frame to carry BOTH `ts` (TIMESTAMP_NTZ, µs)
    and `ts_ns` (nanosecond-epoch BIGINT), whatever form the parquet
    stored. Works on batch and streaming frames (pure projections)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read via nanosAsLong
        df = (
            df.withColumnRenamed("ts", "ts_ns")
              .withColumn(
                  "ts",
                  F.expr("cast(timestamp_micros(ts_ns div 1000) as timestamp_ntz)"))
        )
    elif ts_type in ("timestamp", "timestamp_ntz"):
        # µs-precision timestamp; session tz is UTC so the cast is exact
        df = df.withColumn(
            "ts_ns", F.expr("unix_micros(cast(ts as timestamp)) * 1000"))
        if ts_type == "timestamp":
            df = df.withColumn("ts", F.expr("cast(ts as timestamp_ntz)"))
    else:  # pragma: no cover - corpus contract violated
        raise TypeError(f"events.ts has unsupported type {ts_type!r}")
    order = ["event_id", "ts", "ts_ns", "user_id", "event_type",
             "value", "props"]
    cols = [c for c in order if c in df.columns]
    cols += [c for c in df.columns if c not in cols]
    return df.select(*cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        df = with_event_time(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views over the corpus; idempotent per (session, sf_dir) —
    repeated catalog queries skip the 10 parquet-footer reads."""
    marker = "spark_graft.registered_dir"
    try:
        if spark.conf.get(marker, "") == sf_dir:
            return
    except Exception:
        pass
    for n in TESTDATA_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    spark.conf.set(marker, sf_dir)
