"""Chain-reorg resolution — the ingestion-correctness operator every
blockchain ETL needs and the reference sidesteps by exporting only
finalized ranges (its Data Pipeline schedules a partition day well
after the blocks settle): given a block table that may contain
ORPHANED fork blocks near the tip, mark which block at each height is
canonical.

Algorithm: fork choice by parent-walk from the tip. The tip is the
max-height block (ties: min hash — deterministic); walking `max_depth`
parent pointers yields the canonical suffix; every other block in that
height window is an orphan. Heights older than tip − max_depth are
ASSUMED FINAL and not judged — exactly the bounded-finality contract
real exporters run with (Ethereum reorg depth is single digits;
max_depth bounds both the state and the iteration count, where a
full-history walk would be O(chain length) rounds and is the wrong
tool — historical canonicity is what the finalized export already
stored).

Scale shape: one max-height aggregate (tip), then `max_depth`
iterations each joining a ONE-ROW frame (the current walk head,
broadcast) against the block table's hash key — with a hash-bucketed
or indexed block store each step is a point lookup; the final verdict
is one height-range filter + a broadcast semi join against the ≤
max_depth canonical hashes. No corpus-sized shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..execution import checkpoint


def resolve_reorgs(blocks: DataFrame, max_depth: int = 16,
                   height_col: str = "height", hash_col: str = "hash",
                   parent_col: str = "parent") -> DataFrame:
    """Canonical/orphan verdicts for the last `max_depth` heights.

    `blocks`: (height, hash, parent). Returns (height, block_hash,
    canonical) for every block with height > tip_height − max_depth,
    canonical ∈ {0,1}; exactly one canonical block per height in the
    window (the tip's ancestry)."""
    b = checkpoint(blocks.select(  # referenced every walk step
        F.col(height_col).alias("height"), F.col(hash_col).alias("bhash"),
        F.col(parent_col).alias("parent")))
    # Walk-step checkpoints are LAZY (optimization r11, guide §1.2
    # step 1): each head_i is referenced twice (the canon union AND
    # the next step's join), so WITHOUT a checkpoint the unrolled
    # lineage re-executes O(depth²) one-row joins — but the EAGER
    # form paid one blocking Spark job per step (~max_depth job
    # launches for ~1-row frames). eager=False keeps the plan-level
    # truncation (LogicalRDD, computed once, persisted) while the
    # whole walk fuses into the final action's single job. (With a
    # context checkpoint dir `execution.checkpoint` is reliable and
    # eager on every step instead.)
    tip = checkpoint(b.orderBy(F.col("height").desc(), F.col("bhash").asc())
                      .limit(1)
                      .select("height", "bhash", "parent"), eager=False)
    canon = tip.select("bhash")
    head = tip
    for _ in range(max_depth - 1):
        head = checkpoint(
            b.join(F.broadcast(head.select(F.col("parent").alias("_want"))),
                   F.col("bhash") == F.col("_want"))
             .select("height", "bhash", "parent"), eager=False)
        canon = canon.unionAll(head.select("bhash"))
    tip_h = tip.select(F.col("height").alias("tip_h"))
    chashes = (canon.select(F.col("bhash").alias("_chash"))
                    .withColumn("_c", F.lit(1)))
    return (b.crossJoin(F.broadcast(tip_h))
             .where(F.col("height") > F.col("tip_h") - max_depth)
             .join(F.broadcast(chashes),
                   F.col("bhash") == F.col("_chash"), "left")
             .select(F.col("height"),
                     F.col("bhash").alias("block_hash"),
                     F.when(F.col("_c").isNotNull(), 1).otherwise(0)
                      .cast("long").alias("canonical")))
