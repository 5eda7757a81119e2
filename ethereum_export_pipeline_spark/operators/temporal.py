"""Temporal-table operators: SCD Type-2 history build.

The warehouse staple the reference's export DAG feeds into: turn an
append-only change/event log into an effective-dated dimension —
one row per (key, attribute-value RUN) carrying [valid_from,
valid_to) microsecond bounds, a version number, and a current flag
(Kimball's slowly-changing-dimension Type 2).

Everything is two window passes of integer arithmetic over the
key-partitioned log — the natural Spark shape: one shuffle on the
key, then lag/lead/row_number inside each partition, no joins and no
iteration. At 100 TB the log shuffles once; skewed keys (one entity
with millions of changes) are the only hazard and are the same
hazard any per-key window has — the sessionization salting notes in
`operators/skew.py` apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def scd2(log: DataFrame) -> DataFrame:
    """Collapse an ordered event log into SCD2 version rows of each
    user's `event_type`.

    Within each `user_id` (ordered by (ts_us, event_id) — `event_id`
    makes same-microsecond ordering deterministic), consecutive rows
    with the SAME event type merge into one version; each CHANGE
    opens a new version effective at its timestamp and closes the
    previous one at the same instant (half-open [from, to)
    intervals, adjacent versions share a boundary). The last version
    per user is open-ended: valid_to NULL, is_current 1.

    Returns (user_id, version, attr, valid_from_us, valid_to_us,
    is_current); NULL event types are legal and compared null-safely
    (NULL→NULL is not a change)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc())
    flagged = (
        log.select("user_id", "event_type", "ts_us", "event_id")
           .withColumn("_prev", F.lag("event_type").over(w))
           .withColumn("_first", F.row_number().over(w) == 1)
           # null-safe change test: row_number()==1 opens version 1
           # even when the first value is NULL
           .withColumn("_chg",
                       F.col("_first")
                       | ~F.col("event_type").eqNullSafe(F.col("_prev"))))
    changes = flagged.where(F.col("_chg"))
    wc = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc())
    return (
        changes
        .withColumn("version", F.row_number().over(wc).cast("long"))
        .withColumn("valid_to_us", F.lead("ts_us").over(wc).cast("long"))
        .select(F.col("user_id"),
                "version",
                F.col("event_type").alias("attr"),
                F.col("ts_us").cast("long").alias("valid_from_us"),
                "valid_to_us",
                F.when(F.col("valid_to_us").isNull(), F.lit(1))
                 .otherwise(F.lit(0)).cast("long").alias("is_current")))


def scd2_sql() -> str:
    """DuckDB twin of `scd2` over `events` — identical windows,
    identical null-safe change test (IS DISTINCT FROM)."""
    return """
WITH log AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
flagged AS (
  SELECT user_id, event_type, us, event_id,
         lag(event_type) OVER w AS _prev,
         row_number() OVER w = 1 AS _first
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
changes AS (
  SELECT * FROM flagged
  WHERE _first OR (event_type IS DISTINCT FROM _prev)
)
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       event_type AS attr,
       CAST(us AS BIGINT) AS valid_from_us,
       CAST(lead(us) OVER w AS BIGINT) AS valid_to_us,
       CAST(CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END
            AS BIGINT) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""
