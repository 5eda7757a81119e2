"""Skew mitigation: salting a hot aggregation key.

AQE's skew-join splitting (on in `session.py`) handles most skew at
runtime by splitting oversized shuffle partitions. It cannot split a
skewed aggregation — one hot group key melts a single reducer.
`salted_agg` does a two-phase aggregate: group on (key, salt) with
map-side partials spreading the hot key over `N_SALTS` reducers, then
re-aggregate per key. Works for any algebraic aggregate (expressed as
partial → merge pairs).

Salting is deterministic (hash of a stable column), so results are
reproducible run to run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

N_SALTS = 16


def with_salt(df: DataFrame) -> DataFrame:
    """Deterministic salt in [0, N_SALTS) hashed from `event_id` (NOT
    rand(): task retries must recompute the same salt or lineage
    recovery double-counts). The salt source must VARY WITHIN a hot
    key, or the hot key still lands on one reducer; `event_id` is a
    row id."""
    return df.withColumn("__salt",
                         F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))


def salted_agg(df: DataFrame, partials: list[tuple[Column, str]],
               finals: list[tuple[Column, str]]) -> DataFrame:
    """Two-phase aggregate on the hot key `event_type`, salted by
    `event_id`: phase 1 groups (key, salt) computing `partials` (each
    (expr, alias)); phase 2 groups key merging with `finals` (each
    (expr over the partial aliases, alias))."""
    phase1 = (with_salt(df)
              .groupBy("event_type", "__salt")
              .agg(*[e.alias(a) for e, a in partials]))
    return phase1.groupBy("event_type").agg(
        *[e.alias(a) for e, a in finals])
