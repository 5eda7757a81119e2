"""Skew (salting) and bucketing: result-equivalence + plan-shape
evidence for the 100 TB mitigation paths."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def skewed(spark):
    # key 0 holds 90% of rows; keys 1..10 share the rest
    return (spark.range(10_000)
                 .select(F.when(F.col("id") < 9_000, 0)
                          .otherwise((F.col("id") % 10) + 1).alias("k"),
                         F.col("id").alias("v")))


def test_salted_agg_matches_plain_agg(spark, skewed):
    from ethereum_export_pipeline_spark.operators.skew import salted_agg
    plain = {r.k: (r.n, r.s) for r in
             skewed.groupBy("k").agg(F.count("*").alias("n"),
                                     F.sum("v").alias("s")).collect()}
    # salted_agg groups on event_type, salted by event_id
    ev = skewed.select(F.col("k").alias("event_type"),
                       F.col("v").alias("event_id"), "v")
    salted = salted_agg(
        ev,
        partials=[(F.count(F.lit(1)), "pn"), (F.sum("v"), "ps")],
        finals=[(F.sum("pn"), "n"), (F.sum("ps"), "s")])
    got = {r.event_type: (r.n, r.s) for r in salted.collect()}
    assert got == plain


def test_salt_distributes_hot_key(spark, skewed):
    from ethereum_export_pipeline_spark.operators.skew import (
        N_SALTS, with_salt)
    hot = skewed.where("k = 0").withColumnRenamed("v", "event_id")
    n = with_salt(hot).select("__salt").distinct().count()
    assert n == N_SALTS  # the hot key really spreads across salts


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-located join: both sides bucketed on the key →
    SortMergeJoin with NO Exchange above either scan."""
    left = spark.range(10_000).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("a"))
    right = spark.range(5_000).select(F.col("id").alias("k"),
                                      (F.col("id") * 3).alias("b"))
    for name, df in [("bkt_left", left), ("bkt_right", right)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, "k").sortBy("k").mode("overwrite")
           .saveAsTable(name))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed both shuffles
        assert j.count() == 5_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_zorder_layout_skips_files_on_the_second_dimension(spark, tmp_path):
    """The reason Z-order exists: a layout sorted on x alone gives
    min/max file skipping on x and NONE on y (every file spans all of
    y); a layout range-partitioned and sorted on the Morton key
    (`z_value_expr`, x = l_partkey, y = l_suppkey) gives every file a
    compact rectangle, so a y-only predicate also prunes. Measured
    here directly from the written files' actual stats."""
    import glob
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.layout import (
        z_value_expr)
    n = 1 << 14  # a full 128x128 grid
    df = (spark.range(n)
               .select((F.col("id") % 128).alias("l_partkey"),
                       F.expr("id div 128").alias("l_suppkey"),
                       F.col("id").alias("v")))
    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    (df.withColumn("__z", z_value_expr())
       .repartitionByRange(16, "__z").sortWithinPartitions("__z")
       .drop("__z").write.mode("overwrite").parquet(zdir))
    (df.repartitionByRange(16, "l_partkey")
       .sortWithinPartitions("l_partkey")
       .write.mode("overwrite").parquet(ldir))

    def overlapping(d, dim, lo, hi):
        # file COUNT is a detail of repartitionByRange's sampling
        # (RDD-id-seeded → session-order dependent); the claim under
        # test is the FRACTION of files a predicate can skip
        files = sorted(glob.glob(f"{d}/part-*.parquet"))
        assert 8 <= len(files) <= 16
        keep = 0
        for f in files:
            mn, mx = (spark.read.parquet(f)
                      .agg(F.min(dim), F.max(dim)).collect()[0])
            keep += 1 if (mn <= hi and mx >= lo) else 0
        return keep, len(files)

    # y-band predicate (y in [64, 79], any x):
    z_y, zn = overlapping(zdir, "l_suppkey", 64, 79)
    lin_y, ln = overlapping(ldir, "l_suppkey", 64, 79)
    assert lin_y == ln          # x-sorted layout cannot skip on y
    assert z_y <= zn * 0.45     # Morton rectangles: most files skipped
    # and the curve still skips on x too (not as tight as a pure
    # x-sort, which is the documented trade)
    z_x, _ = overlapping(zdir, "l_partkey", 64, 79)
    assert z_x <= zn * 0.6
