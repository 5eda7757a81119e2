"""Join operators Spark lacks as built-ins, composed from primitives.

`asof_join` — for each left row, attach the most recent right row (by
time) with the same key at or before the left row's time. Spark has no
ASOF JOIN; the classic shuffle-free-of-range-explosion technique is
union + partitioned window fill:

    union(left ∪ right, tagged) → window over (key) ordered by
    (time, right-first) → last_value(right payload, ignoreNulls)
    → keep left rows

One shuffle on the key, one sort inside each partition — the same
cost as a sort-merge join, with NO range fan-out (a naive
`l.time >= r.time` join is O(|L|·|R|) per key). Skewed keys behave
like any skewed window (AQE/salting applies).

This is the time-series/feature-attribution primitive a training-data
pipeline needs (attach the latest label/metadata snapshot to each
sample). Verified against DuckDB's native ASOF JOIN in the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_TAG = "__asof_is_right"
FUZZY_MAX_DIST = 2  # fuzzy_pairs keeps names within this many edits
FUZZY_MAX_BLOCK = 10_000  # fuzzy_pairs drops blocks larger than this
ASOF_BUCKET_US = 86_400_000_000  # asof_join_bucketed's time bucket: 1 day


def asof_join(left: DataFrame, right: DataFrame,
              payload: list[str]) -> DataFrame:
    """Left as-of-backward join on `user_id` / `ts_us`: every `left`
    row gains ``{p}_r`` columns from the latest `right` row with the
    same `user_id` and ``right.ts_us <= left.ts_us`` (NULL when none
    precedes). `right` must be unique per (user_id, ts_us).
    """
    key, time = "user_id", "ts_us"
    r = right.select(
        F.col(key), F.col(time),
        *[F.col(p).alias(f"{p}_r") for p in payload],
        F.lit(1).alias(_TAG))
    l = left.withColumn(_TAG, F.lit(0))
    u = l.unionByName(r, allowMissingColumns=True)

    # right rows sort BEFORE left rows at equal time → `<=` semantics
    w = (Window.partitionBy(key)
               .orderBy(F.col(time).asc(), F.col(_TAG).desc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = u.select(
        "*",
        *[F.last(F.when(F.col(_TAG) == 1, F.col(f"{p}_r")),
                 ignorenulls=True).over(w).alias(f"__fill_{p}")
          for p in payload])
    out = filled.where(F.col(_TAG) == 0).drop(_TAG)
    for p in payload:
        out = out.drop(f"{p}_r").withColumnRenamed(f"__fill_{p}", f"{p}_r")
    return out


def asof_join_bucketed(left: DataFrame, right: DataFrame,
                       payload: list[str]) -> DataFrame:
    """`asof_join` with HOT-KEY SKEW defused: identical semantics,
    but the window partitions on (key, time div `ASOF_BUCKET_US`)
    instead of (key) alone — a key holding 50% of the corpus becomes
    as many sort groups as time buckets it spans, so no single task
    ever sorts the hot key's whole history (the plain path's failure
    mode at scale: one reducer sorts |hot key| rows while the other
    999 executors idle).

    Two-level fill, the sequence-packing prefix-sum shape:

      1. in-bucket: the union-window fill inside each (key, bucket) —
         covers right rows in the SAME bucket at/before the left row;
      2. boundary carry: per (key, bucket), the latest right payload
         IN that bucket (one row per bucket — a frame |buckets| wide,
         not |rows|) cascades forward via a rows-(-∞, -1) window over
         the bucket sequence, then joins back ON THE SAME (key,
         bucket) the stage-1 window partitioned on (no new exchange
         of the big frame); the final value coalesces in-bucket over
         carried.

    Exchange: one shuffle of |L|+|R| on (key, bucket) + one
    |key×bucket|-sized carry frame — vs the plain path's one shuffle
    on (key) with an unbounded sort group. `ASOF_BUCKET_US` is sized so
    a hot key's densest bucket fits a task (time-uniform hot keys:
    span / cores; bursty: smaller)."""
    key, time = "user_id", "ts_us"
    r = right.select(
        F.col(key), F.col(time),
        *[F.col(p).alias(f"{p}_r") for p in payload],
        F.lit(1).alias(_TAG))
    l = left.withColumn(_TAG, F.lit(0))
    u = (l.unionByName(r, allowMissingColumns=True)
          .withColumn("__bkt", F.floor(F.col(time) / F.lit(ASOF_BUCKET_US))
                      .cast("long")))

    w_in = (Window.partitionBy(key, "__bkt")
                  .orderBy(F.col(time).asc(), F.col(_TAG).desc())
                  .rowsBetween(Window.unboundedPreceding,
                               Window.currentRow))
    filled = u.select(
        "*",
        *[F.last(F.when(F.col(_TAG) == 1, F.col(f"{p}_r")),
                 ignorenulls=True).over(w_in).alias(f"__in_{p}")
          for p in payload])

    # per-(key, bucket) last right payload: r is unique per (key,
    # time) here, so max_by on time is deterministic
    last_in_bucket = (
        u.where(F.col(_TAG) == 1)
         .groupBy(key, "__bkt")
         .agg(*[F.expr(f"max_by({p}_r, {time})")
                 .alias(f"__last_{p}") for p in payload]))
    universe = u.select(key, "__bkt").distinct()
    w_carry = (Window.partitionBy(key).orderBy(F.col("__bkt").asc())
                     .rowsBetween(Window.unboundedPreceding, -1))
    carry = (universe.join(last_in_bucket, [key, "__bkt"], "left")
             .select(key, "__bkt",
                     *[F.last(f"__last_{p}", ignorenulls=True)
                        .over(w_carry).alias(f"__carry_{p}")
                       for p in payload]))

    out = (filled.join(carry, [key, "__bkt"], "left")
                 .where(F.col(_TAG) == 0)
                 .drop(_TAG, "__bkt"))
    for p in payload:
        out = (out.withColumn(f"{p}_r",
                              F.coalesce(f"__in_{p}", f"__carry_{p}"))
                  .drop(f"__in_{p}", f"__carry_{p}"))
    return out


def fuzzy_pairs(df: DataFrame, block_col) -> DataFrame:
    """Record linkage by BLOCKING + edit distance — the entity-
    resolution staple (Fellegi–Sunter style candidate generation):
    pair up rows (`id`, `name`) whose names are within `FUZZY_MAX_DIST`
    Levenshtein edits, considering ONLY pairs that share a blocking
    key (`block_col`, any deterministic Column — first token, sorted
    character sketch, phonetic code …). Exact matches (distance 0)
    are excluded: that's `dedup_exact`'s job; linkage exists to find
    the NON-identical same-entity rows.

    Returns (id_a, id_b, name_a, name_b, dist) with id_a < id_b.

    Scale shape: the naive all-pairs comparison is O(n²) and dead at
    any scale; blocking makes candidate generation an EQUI-join on
    the block key, so pairs only materialize within blocks —
    quadratic in the largest block, not the table. That makes hot
    blocks the skew risk (the empty/default name!), so `FUZZY_MAX_BLOCK`
    drops blocks larger than the cap before the self-join — the same df-
    cut discipline as `dedup.DEFAULT_MAX_DF`. levenshtein runs post-join
    on the residual, JVM codegen (no UDF).

    Per-pair cost (optimization r11, guide §1.2 step 2 — measured,
    then REVERTED): the banded form (length pre-filter + Spark ≥3.5's
    ``levenshtein(l, r, threshold)``) was tried and measured SLOWER on
    short entity names — paired in-process A/B over the same 999 831
    candidate pairs: banded min 9.04 s vs unbounded min 6.73 s
    (+34%; OPTIMIZATION_r11.md, "What changed"). The O(min·threshold)
    band only pays when strings are long, and names stay short at any
    corpus scale, so the unbounded DP is kept; identical output rows
    were verified before reverting (count MATCH + oracle)."""
    base = (df.where(F.col("name").isNotNull())
              .select(F.col("id").alias("_id"),
                      F.col("name").alias("_name"),
                      block_col.alias("_blk"))
              .where(F.col("_blk").isNotNull()))
    small = (base.groupBy("_blk")
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .where(F.col("_c") <= FUZZY_MAX_BLOCK)
                 .select("_blk"))
    base = base.join(small, "_blk", "left_semi")
    a = base.select(F.col("_blk"), F.col("_id").alias("id_a"),
                    F.col("_name").alias("name_a"))
    b = base.select(F.col("_blk"), F.col("_id").alias("id_b"),
                    F.col("_name").alias("name_b"))
    return (a.join(b, "_blk")
             .where(F.col("id_a") < F.col("id_b"))
             .withColumn("dist",
                         F.levenshtein("name_a", "name_b").cast("long"))
             .where((F.col("dist") >= 1)
                    & (F.col("dist") <= FUZZY_MAX_DIST))
             .select("id_a", "id_b", "name_a", "name_b", "dist"))
