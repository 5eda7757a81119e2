"""Scan width and lineage durability — decided here once, for every
operator. No operator takes a parameter for either.

* `spread(df)` widens a narrow scan to the context's
  `defaultParallelism` before a compute-bound projection that a
  shuffle follows anyway: a one-file input is one scan task, which
  would serialize the heavy projection onto one core. An input whose
  file splits already give that width (the 100 TB case) is returned
  as is — no round-robin shuffle of the table.
* `checkpoint(df, eager)` truncates an iterative operator's lineage.
  Durability is the deployment's choice, made once in Spark's own
  setting (`spark.checkpoint.dir` / `SparkContext.setCheckpointDir`):
  with a checkpoint dir every truncation is a reliable, eager
  `df.checkpoint()` that survives executor loss; without one it is an
  executor-local `localCheckpoint`. The context's dir is read, never
  set.
* `cadenced(df, step)` is the loop form: lazy truncation each step
  (no extra Spark job), an eager barrier every `PERIOD` steps to bound
  the nested plan Catalyst must analyze.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: eager-barrier cadence of `cadenced`
PERIOD = 8


def spread(df: DataFrame) -> DataFrame:
    """`df` round-robined to `defaultParallelism` partitions when its
    scan is narrower; otherwise `df` itself. The partition count is
    inspected once, at plan-build time.

    Spread the lightest rows (before tokenizing, before media payloads
    are generated), and only where a shuffle follows anyway: map-only
    operators keep their zero-exchange plans."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage truncation: reliable and eager when the context has a
    checkpoint dir, `localCheckpoint(eager)` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def cadenced(df: DataFrame, step: int) -> DataFrame:
    """`checkpoint`, lazy except on every `PERIOD`-th step."""
    return checkpoint(df, eager=(step + 1) % PERIOD == 0)
