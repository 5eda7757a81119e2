"""Skew-mitigation utilities: salting for hot keys.

AQE's skew-join splitting (on in `session.py`) handles most skew at
runtime by splitting oversized shuffle partitions. These helpers cover
the two cases AQE can't:

  * **skewed aggregation** — one hot group key melts a single reducer.
    `salted_agg` does a two-phase aggregate: group on (key, salt) with
    map-side partials spreading the hot key over `n_salts` reducers,
    then re-aggregate per key. Works for any algebraic aggregate
    (expressed as partial → merge pairs).
  * **skewed broadcast-impossible join** — both sides big, one key hot.
    `salted_join` appends a salt to the big side and EXPLODES the
    other side `n_salts`-fold for the hot keys only, preserving exact
    join semantics while spreading each hot key over `n_salts` tasks.

Salting is deterministic (hash of a stable column), so results are
reproducible run to run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_SALTS = 16


def with_salt(df: DataFrame, salt_src: str | Column | None = None,
              n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Deterministic salt in [0, n_salts) (NOT rand(): task retries
    must recompute the same salt or lineage recovery double-counts).

    `salt_src` must VARY WITHIN a hot key (a row id, timestamp, …) or
    the hot key still lands on one reducer; None hashes the whole row.
    """
    if salt_src is None:
        c = F.xxhash64(*[F.col(x) for x in df.columns])
    else:
        c = F.xxhash64(F.col(salt_src) if isinstance(salt_src, str) else salt_src)
    return df.withColumn("__salt", F.pmod(c, F.lit(n_salts)))


def salted_agg(df: DataFrame, partials: list[tuple[Column, str]],
               finals: list[tuple[Column, str]]) -> DataFrame:
    """Two-phase aggregate on the hot key `event_type`, salted by
    `event_id`: phase 1 groups (key, salt) computing `partials` (each
    (expr, alias)); phase 2 groups key merging with `finals` (each
    (expr over the partial aliases, alias))."""
    phase1 = (with_salt(df, "event_id")
              .groupBy("event_type", "__salt")
              .agg(*[e.alias(a) for e, a in partials]))
    return phase1.groupBy("event_type").agg(
        *[e.alias(a) for e, a in finals])


def salted_join(big: DataFrame, small: DataFrame,
                hot_keys: DataFrame | None = None,
                n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Inner equi-join on column `k` with hot keys spread over
    `n_salts` tasks.

    `hot_keys` (one column `k`) marks the keys to salt; None salts
    everything (small side explodes n_salts-fold — only sensible when
    `small` is modest but above the broadcast threshold). The big side
    gets one salted copy of itself (salt varies per ROW — hashed from
    its column `v` as in `with_salt`); the small side replicates hot
    rows across all salts so every (k, salt) partition finds its match.
    """
    b = with_salt(big, "v", n_salts)
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    if hot_keys is not None:
        # non-hot keys collapse to salt 0 on both sides (a NULL salt
        # would never equi-join); hot keys use the full salt range
        hot = hot_keys.select(F.col("k")).distinct().withColumn("__hot", F.lit(1))
        s = (small.join(F.broadcast(hot), "k", "left")
                  .withColumn("__salts",
                              F.when(F.col("__hot").isNotNull(), salts)
                               .otherwise(F.array(F.lit(0))))
                  .drop("__hot"))
        hot_b = hot.select(F.col("k").alias("__hk"), "__hot")
        b = (b.join(F.broadcast(hot_b), b["k"] == F.col("__hk"), "left")
               .withColumn("__salt", F.when(F.col("__hot").isNotNull(),
                                            F.col("__salt")).otherwise(F.lit(0)))
               .drop("__hk", "__hot"))
    else:
        s = small.withColumn("__salts", salts)
    s = s.withColumn("__salt", F.explode("__salts")).drop("__salts")
    return b.join(s, ["k", "__salt"]).drop("__salt")
