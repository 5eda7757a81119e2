"""Physical-layout operators: Z-order (Morton) clustering for
multi-dimensional data skipping.

A parquet lake prunes with per-file min/max statistics. Sorting by ONE
column gives perfect skipping on that column and none on any other;
interleaving the bits of two columns into a Morton key and
range-partitioning by it gives every file a compact rectangle in
(x, y) space, so a box predicate on EITHER OR BOTH dimensions
intersects few files — the technique behind Delta/Iceberg's OPTIMIZE
ZORDER, expressed here with stock Spark primitives
(`repartitionByRange` + `sortWithinPartitions` + parquet stats).

The key is exact integer bit arithmetic (shifts, masks, adds) — the
same expression evaluates bit-identically in DuckDB, so the catalog
hash-checks it like any other projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..execution import checkpoint

Z_BITS = 16  # per-dimension bits; 2 dims × 16 bits fit easily in int64
Z_FILES = 16  # write_zordered's output file count
COMPACT_TARGET = 1 << 16  # 64 KiB target output files (fixture-scaled)
COMPACT_BUCKET = 1024  # file ids per prefix-sum bucket


def z_value_expr(x: str, y: str) -> Column:
    """Morton key of two non-negative integer columns: bit i of `x`
    lands at position 2i, bit i of `y` at 2i+1. Values are masked to
    `Z_BITS` bits (callers with wider domains should bucket/scale
    first). Pure codegen'd integer arithmetic — no UDF."""
    terms = " + ".join(
        f"shiftleft((CAST({x} AS BIGINT) >> {i}) & 1, {2 * i}) + "
        f"shiftleft((CAST({y} AS BIGINT) >> {i}) & 1, {2 * i + 1})"
        for i in range(Z_BITS))
    return F.expr(terms)


def z_value_sql() -> str:
    """DuckDB twin of `z_value_expr("l_partkey", "l_suppkey")` (same
    shifts, masks, adds)."""
    terms = " + ".join(
        f"(((CAST(l_partkey AS BIGINT) >> {i}) & 1) << {2 * i}) + "
        f"(((CAST(l_suppkey AS BIGINT) >> {i}) & 1) << {2 * i + 1})"
        for i in range(Z_BITS))
    return f"CAST({terms} AS BIGINT)"


def compaction_plan(files: DataFrame) -> DataFrame:
    """Small-file compaction planning as a distributed query — the
    OPTIMIZE/bin-packing step every long-lived 100 TB lake needs once
    ingestion has dribbled millions of under-sized files.

    Input: a file inventory (ordering key, size). Output: one row per
    planned output file (bin): (bin, n_files, total_bytes, first_file,
    last_file). Policy is ORDER-PRESERVING offset binning: walk files
    in key order and assign bin(f) = floor(bytes_before(f) /
    `COMPACT_TARGET`) — each bin covers one target-sized byte interval
    of the ordered stream, so bins hold ~target bytes (overshooting
    only by the tail of their boundary-straddling last file). Real
    compactors (Delta OPTIMIZE, Iceberg binpack) make the same
    order-preserving choice: key locality is what min/max data
    skipping relies on; first-fit-decreasing packs marginally tighter
    but scrambles key ranges and is inherently sequential. A file
    larger than `COMPACT_TARGET` lands alone — the bins its tail spans
    stay empty (files are never split).

    The prefix sum is computed DISTRIBUTED via the same two-level
    scheme as `text.pack_sequences` (per-bucket running sums in
    parallel + one tiny bucket-totals window broadcast back) — no
    global single-partition sort even at a hundred-million-file
    inventory."""
    from pyspark.sql import Window
    n = (files.where(F.col("file_id").isNotNull())
              .select(F.col("file_id").alias("f"),
                      F.col("bytes").cast("long").alias("sz"),
                      F.expr(f"CAST(file_id AS BIGINT) div {COMPACT_BUCKET}")
                       .alias("_bkt"))
              # explicit, though implied by the join: both consumers of
              # the bucket exchange (window, totals) then canonicalize
              # identically and AQE reuses ONE shuffle — without it the
              # join branch alone gets an inferred isnotnull(_bkt) and
              # the inventory is derived twice (pack_sequences:
              # the same discipline)
              .where(F.col("_bkt").isNotNull()))
    w_local = (Window.partitionBy("_bkt").orderBy("f")
                     .rowsBetween(Window.unboundedPreceding, -1))
    local = n.withColumn(
        "_before_local",
        F.coalesce(F.sum("sz").over(w_local), F.lit(0)).cast("long"))
    totals = local.groupBy("_bkt").agg(
        F.max(F.col("_before_local") + F.col("sz")).alias("_bkt_total"))
    w_bkt = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (totals.withColumn(
        "_bkt_before",
        F.coalesce(F.sum("_bkt_total").over(w_bkt), F.lit(0)).cast("long"))
        .select("_bkt", "_bkt_before"))
    binned = (local.join(F.broadcast(offsets), "_bkt")
                   .withColumn("_before",
                               (F.col("_bkt_before") + F.col("_before_local"))
                               .cast("long"))
                   .withColumn("bin",
                               F.expr(f"_before div {COMPACT_TARGET}")
                                .cast("long")))
    return (binned.groupBy("bin")
                  .agg(F.count(F.lit(1)).alias("n_files"),
                       F.sum("sz").alias("total_bytes"),
                       F.min("f").alias("first_file"),
                       F.max("f").alias("last_file"))
                  .select("bin",
                          F.col("n_files").cast("long").alias("n_files"),
                          F.col("total_bytes").cast("long").alias("total_bytes"),
                          "first_file", "last_file"))


def write_zordered(df: DataFrame, path: str) -> None:
    """Write `df` as parquet clustered on the Morton curve of its
    columns `x` and `y`: range-partition on the z-key into `Z_FILES`
    files (one compact curve segment — a small rectangle cover — per
    output file) and sort within partitions so row-group stats are
    tight too. Readers need no special support: plain min/max pruning
    on x and y now skips most files for box predicates on either
    dimension."""
    keyed = df.withColumn("__z", z_value_expr("x", "y"))
    (keyed.repartitionByRange(Z_FILES, "__z")
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(path))


def global_rank(df: DataFrame, order_cols: list[Column],
                rank_col: str = "global_rank") -> DataFrame:
    """EXACT global ranking at scale — the distributed form of
    ``row_number() OVER (ORDER BY …)``, which Spark plans as an
    `Exchange SinglePartition` + one task sorting the WORLD (the
    global-sort anti-pattern; fine for top-k via TakeOrdered, fatal
    for ranking a full 100 TB corpus, e.g. curriculum ordering or
    score-percentile assignment).

    Three-step two-level prefix sum (the `pack_sequences` /
    `compaction_plan` discipline applied to ranking):
      1. range-repartition on the order key — each partition owns a
         contiguous key range;
      2. rank WITHIN each partition in parallel (a window partitioned
         by `spark_partition_id()` never merges partitions);
      3. add per-partition offsets — a cumulative count over the
         n_partitions-row histogram, broadcast back.

    `order_cols` must be a TOTAL order (include an id tie-break) or
    ranks are nondeterministic. The ranks produced are independent of
    partition boundaries; the frame is eagerly checkpointed so the
    histogram and the ranking window see the SAME physical
    partitioning (re-evaluated range sampling is not contractually
    stable across subtree recomputations)."""
    from pyspark.sql import Window
    n = df.sparkSession.sparkContext.defaultParallelism
    keyed = checkpoint(df.repartitionByRange(n, *order_cols)
                         .withColumn("_pid", F.spark_partition_id()))
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    w_off = (Window.orderBy("_pid")
                   .rowsBetween(Window.unboundedPreceding, -1))
    offs = (keyed.groupBy("_pid")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .withColumn("_off", F.coalesce(F.sum("_n").over(w_off),
                                                F.lit(0))))
    return (keyed.withColumn("_rn", F.row_number().over(w_in))
                 .join(F.broadcast(offs.select("_pid", "_off")), "_pid")
                 .withColumn(rank_col,
                             (F.col("_off") + F.col("_rn")).cast("long"))
                 .drop("_pid", "_rn", "_off"))
