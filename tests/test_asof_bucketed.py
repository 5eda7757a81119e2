"""Skew-safe bucketed as-of join: semantics identical to asof_join,
sort groups provably bounded on a deliberately skewed fixture."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from ethereum_export_pipeline_spark.operators.joins import (
    ASOF_BUCKET_US, asof_join, asof_join_bucketed)

#: the fixture's time unit: 100 units per ASOF_BUCKET_US bucket
UNIT = ASOF_BUCKET_US // 100


def _skewed(spark):
    """One hot key = 50% of rows, spread uniformly over time."""
    left = [Row(user_id=0, ts_us=i * 7 % 1000 * UNIT, lid=i)
            for i in range(1000)]
    left += [Row(user_id=1 + i % 20, ts_us=i * 13 % 1000 * UNIT, lid=1000 + i)
             for i in range(1000)]
    right = [Row(user_id=0, ts_us=i * 31 % 1000 * UNIT, v=i)
             for i in range(200)]
    right += [Row(user_id=1 + i % 20, ts_us=i * 17 % 1000 * UNIT, v=200 + i)
              for i in range(100)]
    # dedupe (key, time) on the right: asof_join requires uniqueness
    rdf = (spark.createDataFrame(right)
           .groupBy("user_id", "ts_us").agg(F.max("v").alias("v")))
    return spark.createDataFrame(left), rdf


def test_bucketed_asof_matches_plain(spark):
    l, r = _skewed(spark)
    plain = {row["lid"]: row["v_r"] for row in
             asof_join(l, r, ["v"]).collect()}
    bucketed = {row["lid"]: row["v_r"] for row in
                asof_join_bucketed(l, r, ["v"]).collect()}
    assert bucketed == plain and len(plain) == 2000


def test_bucketed_asof_boundary_carry(spark):
    # a right row in bucket 0 must fill left rows many buckets later,
    # across buckets with no right rows at all
    l = spark.createDataFrame([Row(user_id=7, ts_us=950 * UNIT, lid=1)])
    r = spark.createDataFrame([Row(user_id=7, ts_us=5 * UNIT, v=42)])
    got = asof_join_bucketed(l, r, ["v"]).collect()
    assert got[0]["v_r"] == 42
    # and a right row AFTER the left row never fills backwards
    r2 = spark.createDataFrame([Row(user_id=7, ts_us=960 * UNIT, v=9)])
    got2 = asof_join_bucketed(l, r2, ["v"]).collect()
    assert got2[0]["v_r"] is None


def test_bucketed_asof_bounds_hot_sort_group(spark):
    """THE skew claim, pinned: the plain path's window sorts one
    group holding the hot key's entire history (50% of the corpus);
    the bucketed path's largest sort group is that divided across the
    key's time buckets."""
    l, r = _skewed(spark)
    u = l.unionByName(r.withColumnRenamed("v", "lid"))
    plain_max = (u.groupBy("user_id").count()
                  .agg(F.max("count")).collect()[0][0])
    bucketed_max = (u.withColumn("b", F.floor(F.col("ts_us") / ASOF_BUCKET_US))
                     .groupBy("user_id", "b").count()
                     .agg(F.max("count")).collect()[0][0])
    assert plain_max >= 1200          # hot key owns half the corpus
    assert bucketed_max * 5 <= plain_max   # >=5x smaller sort groups
