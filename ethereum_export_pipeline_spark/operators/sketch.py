"""Mergeable cardinality sketches for corpus accounting.

At 100 TB, "how many distinct documents / URLs / users per source" is
a sketch question — exact COUNT(DISTINCT) shuffles every distinct key.
Spark ships HyperLogLog (`approx_count_distinct`), but the BUILT-IN's
output is engine-private (register bytes, bias tables), so it can
never be hash-compared against another engine. This module implements
four verifiable sketches from md5-derived integer arithmetic only, so
Spark and DuckDB produce BIT-IDENTICAL sketches and estimates:

  * K-MINIMUM-VALUES (Bar-Yossef et al., RANDOM'02): keep the k
    smallest key hashes; estimate (k−1)·H_MAX/h_(k); merge = k
    smallest of the union — plus pairwise-overlap algebra;
  * a deterministic Bloom filter (membership, no false negatives);
  * count-min (frequency, fixed d×w matrix, cell-wise merge);
  * a deterministic HYPERLOGLOG itself (`hll_sketch` below —
    integer registers, fixed-point harmonic sum; the built-in's
    algorithm, minus the engine-private encoding), with rolling-
    window register algebra (`hll_rolling_distinct`).

Scale shape: one hash-distinct agg (map-side partial combine), then a
per-group top-k window over ~k rows per group; merging ships k rows
per group, not the key universe. The merged (global) sketch is built
from the per-group sketches alone — the corpus is NOT rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import (MERSENNE31, affine_hash, affine_hash_sql, h32,
                         h32_sql, h60, h60_sql, hash_family, tokens)

#: h60 draws 15 hex chars = 60 bits; hashes are uniform on [0, 2^60).
H60_MAX = 1 << 60
#: KMV sketch size (hashes kept per group)
SKETCH_K = 32


def _estimate():
    """KMV estimator as ONE fixed float64 expression over exact ints
    (cross-engine deterministic per plans/base.py rules). Groups with
    fewer than `SKETCH_K` distinct keys are exact: the sketch IS the
    key set."""
    return F.when(
        F.col("n_kept") < SKETCH_K, F.col("n_kept").cast("double")
    ).otherwise(F.lit(float(SKETCH_K - 1)) * F.lit(float(H60_MAX))
                / F.col("kth_min").cast("double"))


def kmv_sketch(df: DataFrame) -> DataFrame:
    """Per-group KMV distinct-count sketch + the merged global sketch.

    Returns one row per group plus one `__ALL__` row:
    (group, n_kept, kth_min, est_distinct) where `n_kept` = |sketch|
    (= min(k, distinct keys)), `kth_min` = largest retained hash, and
    `est_distinct` the KMV estimate (exact when n_kept < k).

    The merged row is computed FROM the per-group sketches (k smallest
    of their union, distinct-ed first — the same key in two groups is
    one distinct key), demonstrating the property that makes sketches
    the 100 TB tool: partial results combine without revisiting data.
    """
    hashes = (df.where(F.col("text").isNotNull())
                .select(F.col("source").alias("grp"),
                        h60(F.col("text")).alias("h"))
                .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    kept = (hashes.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") <= SKETCH_K))
    per_group = (kept.groupBy("grp")
                     .agg(F.count(F.lit(1)).alias("n_kept"),
                          F.max("h").alias("kth_min")))
    # global window, but over the UNION OF SKETCHES — ≤ k rows per
    # group reach it, never the key universe
    merged_kept = (kept.select("h").distinct()
                       .withColumn("rk", F.row_number().over(
                           Window.orderBy("h")))
                       .where(F.col("rk") <= SKETCH_K))
    merged = (merged_kept.agg(F.count(F.lit(1)).alias("n_kept"),
                              F.max("h").alias("kth_min"))
                         .withColumn("grp", F.lit("__ALL__")))
    out = per_group.unionByName(merged.select("grp", "n_kept", "kth_min"))
    return out.select(
        F.col("grp").alias("source"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("kth_min").cast("long").alias("kth_min"),
        _estimate().alias("est_distinct"))


def kmv_sketch_sql() -> str:
    """DuckDB twin of `kmv_sketch` — identical hashes, order
    statistics, and the single estimator float expression."""
    est = (f"CASE WHEN n_kept < {SKETCH_K} THEN CAST(n_kept AS DOUBLE) "
           f"ELSE CAST({float(SKETCH_K - 1)} AS DOUBLE) * {float(H60_MAX)}"
           f" / CAST(kth_min AS DOUBLE) END")
    return f"""
WITH hashes AS (
  SELECT DISTINCT source AS grp, {h60_sql('text')} AS h
  FROM documents WHERE text IS NOT NULL
), kept AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
    FROM hashes) WHERE rk <= {SKETCH_K}
), per_group AS (
  SELECT grp, count(*) AS n_kept, max(h) AS kth_min FROM kept GROUP BY 1
), merged AS (
  SELECT '__ALL__' AS grp, count(*) AS n_kept, max(h) AS kth_min
  FROM (SELECT h FROM (
          SELECT h, row_number() OVER (ORDER BY h) AS rk
          FROM (SELECT DISTINCT h FROM kept)) WHERE rk <= {SKETCH_K})
)
SELECT grp AS source, CAST(n_kept AS BIGINT) AS n_kept,
       CAST(kth_min AS BIGINT) AS kth_min, {est} AS est_distinct
FROM (SELECT * FROM per_group UNION ALL SELECT * FROM merged)
"""


# ------------------------------------------------------- Bloom filter
# The second mergeable sketch: a deterministic Bloom filter over
# md5-derived positions. Spark builds runtime bloom filters itself
# (spark.sql.optimizer.runtime.bloomFilter.enabled) but — like HLL —
# its filter bytes are engine-private. This one is k affine hashes +
# per-limb bit_or, so DuckDB reproduces the filter AND every probe
# verdict bit-for-bit. Use: membership pre-filtering where the
# authoritative set is large enough that a broadcast semi join hurts —
# the filter is m bits regardless of set size, probes are map-side,
# and false positives only cost a wasted exact check (no false
# negatives, guaranteed by construction and pinned by the catalog's
# bloom ⊇ exact invariant).

BLOOM_M = 4096             # filter bits
BLOOM_K = 4                # hash functions
_LIMB_BITS = 32            # bits per limb row — masks stay positive int64
BLOOM_FAMILY = hash_family(BLOOM_K, seed=97)


def _positions(c):
    """array of BLOOM_K bit positions for a string column."""
    h = h32(c)
    return F.array(*[((h * F.lit(a) + F.lit(b)) % MERSENNE31) % BLOOM_M
                     for a, b in BLOOM_FAMILY])


def bloom_build(keys: DataFrame) -> DataFrame:
    """Build the filter as (limb, bits) rows — m/32 rows total, the
    relational form of the bit array. The build is one explode (k
    rows per key) + one tiny hash agg with map-side bit_or partials;
    the result broadcasts anywhere a probe runs."""
    pos = (keys.select(F.explode(_positions(F.col("shingle"))).alias("p"))
               .select(F.expr(f"p div {_LIMB_BITS}").alias("limb"),
                       F.expr(f"CAST(p % {_LIMB_BITS} AS INT)").alias("bit")))
    return (pos.groupBy("limb")
               .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))")
                     .alias("bits")))


def bloom_positions_sql() -> str:
    """DuckDB list of the same k positions of `shingle`."""
    h = h32_sql("shingle")
    return ("[" + ", ".join(
        f"({affine_hash_sql(h, a, b)}) % {BLOOM_M}"
        for a, b in BLOOM_FAMILY) + "]")


def bloom_bits(limbs: DataFrame) -> list[int]:
    """Collapse the (limb, bits) rows to a dense limb list — m/32
    ints, the whole filter. This is the plan-build step of the inline
    probe: collecting 128 longs is the point of a Bloom filter (the
    authoritative set may be billions of keys; its filter is ~512 B
    and becomes a plan LITERAL, like the IVF centroid matrix)."""
    rows = {r["limb"]: r["bits"] for r in limbs.collect()}
    return [int(rows.get(i, 0)) for i in range(BLOOM_M // _LIMB_BITS)]


def bloom_hit_expr(bits: list[int]):
    """MAP-SIDE probe: all-k-bits-set as one codegen'd boolean over
    the filter as a plan literal — zero joins, zero shuffle, the
    shape that makes bloom pre-filtering free at 100 TB (a
    relational probe — explode the k positions, join the limb rows,
    re-aggregate the verdicts per key — shuffled 768 MB at ×100 where
    this form shuffles nothing). The all-literal array constant-folds to
    ONE Literal per occurrence — no per-row allocation (the
    `ivf_cell_col` lesson). Returns a 0/1 long Column of `shingle`'s
    verdict."""
    return F.expr(f"CAST(({bloom_hit_pred('shingle', bits)}) AS BIGINT)")


def bloom_hit_pred(key_expr: str, bits: list[int]) -> str:
    """The raw boolean Spark-SQL TEXT of the bloom probe — usable
    inside higher-order-function lambdas (`filter(arr, s -> …)`)
    where a Column can't reach; `bloom_hit_expr` wraps it for
    column-level use."""
    arr = "array(" + ", ".join(f"{b}L" for b in bits) + ")"
    h = (f"(CAST(conv(substring(md5(CAST({key_expr} AS STRING)), 1, 8), "
         f"16, 10) AS BIGINT) % {MERSENNE31})")
    conds = []
    for a, b in BLOOM_FAMILY:
        p = f"(((({h}) * {a}L + {b}L) % {MERSENNE31}) % {BLOOM_M})"
        conds.append(
            f"((element_at({arr}, CAST({p} div {_LIMB_BITS} AS INT) + 1) & "
            f"shiftleft(CAST(1 AS BIGINT), CAST({p} % {_LIMB_BITS} AS INT)))"
            f" != 0)")
    return " AND ".join(conds)


# -------------------------------------------------- count-min sketch
# The third mergeable sketch: frequency estimation. At 100 TB "how
# often does each of these tokens / URLs / user agents occur" is a
# count-min question when the key universe is too wide to aggregate
# exactly — the sketch is a fixed D×W integer counter matrix however
# many distinct keys exist, and two sketches over two corpus slices
# merge by cell-wise addition (counts are linear). Like KMV and the
# Bloom filter, it is built from md5-affine hashes + integer sums
# ONLY, so a DuckDB oracle reproduces every cell and every estimate
# bit-for-bit (Cormode & Muthukrishnan, J.Algorithms'05).

CMS_D = 4                  # depth: hash rows (error probability 2^-D-ish)
CMS_W = 512                # width: counters per row (error ~ N/W)
CMS_FAMILY = hash_family(CMS_D, seed=29)
CMS_TOPK = 20


def cms_cells(key_hash):
    """array<long> of the D cell columns a key hashes to (one affine
    hash per row, reduced mod W)."""
    return F.array(*[
        affine_hash(key_hash, a, b) % CMS_W for a, b in CMS_FAMILY[:CMS_D]])


def cms_build(occ: DataFrame) -> DataFrame:
    """Build the D×W sketch from an occurrence frame (one row per key
    OCCURRENCE): returns (r, c, cnt) with at most d·w rows.

    Scale shape: ONE scan; posexplode fans each occurrence into its D
    cells and the (r, c) hash-agg map-side-combines into ≤ d·w partial
    cells per task BEFORE the exchange — the shuffle is bounded by
    d·w·n_tasks rows regardless of corpus size, and the result is
    d·w rows. That boundedness (plus cell-wise mergeability) is the
    whole point of the sketch at 100 TB."""
    return (occ.select(F.posexplode(cms_cells(h32(F.col("tok"))))
                        .alias("r", "c"))
               .groupBy("r", "c")
               .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_estimate(keys: DataFrame, sketch: DataFrame) -> DataFrame:
    """Point-query the sketch for each key in `keys`: estimate =
    min over rows r of sketch[r][h_r(key)] — an OVERESTIMATE of the
    true count by construction (hash collisions only ever add).
    Adds `cms_cnt` to `keys`. The ≤ d·w-row sketch broadcasts; probes
    are a map-side join + a d-row min per key."""
    cells = keys.select("tok",
                        F.posexplode(cms_cells(h32(F.col("tok"))))
                         .alias("r", "c"))
    return (cells.join(F.broadcast(sketch), ["r", "c"], "left")
                 .groupBy("tok")
                 .agg(F.min(F.coalesce("cnt", F.lit(0)))
                       .cast("long").alias("cms_cnt")))


def cms_heavy_hitters(df: DataFrame) -> DataFrame:
    """Heavy-hitter report: the corpus's exact top-k tokens next to
    their count-min estimates — (rank, tok, exact_cnt, cms_cnt,
    overcount). The catalog hash PINS the CMS guarantee on every row:
    cms_cnt >= exact_cnt always (overcount >= 0), with equality
    whenever no heavier key shares all D cells.

    (The exact counts are the fixture-sized ground truth the sketch
    is graded against; at 100 TB one keeps ONLY the d·w-cell sketch
    plus a candidate stream — the exact side of this report is the
    verification harness, not the production plan.)

    Scale shape: the exact top-k is a token hash-agg + TakeOrdered;
    the sketch build is the bounded exchange described in
    `cms_build`; the probe broadcasts the sketch. Three scans of the
    token stream in the graded report, ONE (the sketch build) in
    production."""
    from pyspark.sql import Window
    occ = (df.where(F.col("text").isNotNull())
             .select(F.explode(tokens("text")).alias("tok")))
    exact = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    top = (exact.orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
                .limit(CMS_TOPK))
    est = cms_estimate(top.select("tok"), cms_build(occ))
    wrk = Window.orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
    return (top.join(est, "tok")
               .withColumn("rank", F.row_number().over(wrk).cast("long"))
               .select("rank", "tok", "exact_cnt", "cms_cnt",
                       (F.col("cms_cnt") - F.col("exact_cnt"))
                        .alias("overcount")))


def cms_heavy_hitters_sql() -> str:
    """DuckDB twin of `cms_heavy_hitters`: identical affine cell
    hashes (UNION ALL per row r), identical min-over-rows estimate."""
    from ..functions import tokens_sql
    cell_selects = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS r, ({affine_hash_sql('h', a, b)}) % {CMS_W} AS c "
        "FROM hashed"
        for r, (a, b) in enumerate(CMS_FAMILY[:CMS_D]))
    probe_cells = "\n  UNION ALL\n".join(
        f"  SELECT tok, exact_cnt, {r} AS r, "
        f"({affine_hash_sql('h', a, b)}) % {CMS_W} AS c FROM top"
        for r, (a, b) in enumerate(CMS_FAMILY[:CMS_D]))
    return f"""
WITH occ AS (
  SELECT unnest({tokens_sql()}) AS tok
  FROM documents WHERE text IS NOT NULL
),
hashed AS (SELECT {h32_sql('tok')} AS h FROM occ),
cells AS (
{cell_selects}
),
sketch AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
           FROM cells GROUP BY r, c),
exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
          FROM occ GROUP BY tok),
top AS (
  SELECT tok, exact_cnt, {h32_sql('tok')} AS h
  FROM exact ORDER BY exact_cnt DESC, tok ASC LIMIT {CMS_TOPK}
),
probe AS (
{probe_cells}
),
est AS (
  SELECT p.tok, p.exact_cnt,
         CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_cnt
  FROM probe p LEFT JOIN sketch s USING (r, c)
  GROUP BY p.tok, p.exact_cnt
)
SELECT CAST(row_number() OVER (ORDER BY exact_cnt DESC, tok ASC) AS BIGINT)
         AS rank,
       tok, exact_cnt, cms_cnt, cms_cnt - exact_cnt AS overcount
FROM est
"""


# ------------------------------------------- count sketch (AMS, F2)
# The join-PLANNING sketch: |A ⋈ B| on a key equals the inner product
# of the two sides' key-frequency vectors, and the count sketch
# (Charikar-Chen-Farach-Colton, ICALP'02) estimates that inner
# product UNBIASEDLY from two fixed d×w signed-counter matrices
# (Alon-Matias-Szegedy, STOC'96 gives the variance bound:
# Var ≈ F2(A)·F2(B)/w per depth; the median over d odd depths
# concentrates it). At 100 TB this answers "how big would this join /
# this blocking key's candidate-pair set be" from two corpus-size-
# independent sketches — BEFORE paying the shuffle the join itself
# would cost. Unlike count-min (sums only ever add), signed counters
# cancel collisions in expectation, so the estimate is unbiased
# rather than one-sided. md5-affine hashes + integer sums only:
# DuckDB reproduces every cell bit-for-bit.

AMS_D = 5                  # odd: the median depth is an exact element
AMS_W = 8192               # per-depth std ≈ sqrt(F2(A)·F2(B)/w)
AMS_CELL_FAMILY = hash_family(AMS_D, seed=41)
AMS_SIGN_FAMILY = hash_family(AMS_D, seed=53)


def ams_sketch(df: DataFrame) -> DataFrame:
    """Build the d×w signed sketch from a key-occurrence frame (one
    row per key `k` OCCURRENCE, multiplicities included): returns
    (r, c, s) with at most d·w rows, where s = Σ sign(key) over the
    occurrences hashing to cell (r, c).

    Scale shape: ONE scan; posexplode fans each occurrence into its d
    (cell, sign) entries and the (r, c) hash-agg map-side-combines to
    ≤ d·w partials per task BEFORE the exchange — shuffle bounded by
    d·w·n_tasks rows regardless of corpus size. Signed counters are
    linear, so two slices' sketches merge by cell-wise addition.

    The md5-based `h32` is bound ONCE in a Project under the
    posexplode (optimization r11, guide §1.2 step 2): inlining the
    Column expression into all 2·d cell/sign slots evaluated md5
    10× per input row — the per-task cost that dominated the sketch
    build. A Project directly under a Generate is never collapsed
    (see dedup._sized_shingles' trap note), so `h` computes once."""
    hc = F.col("__h")
    entries = F.array(*[
        F.struct(
            (affine_hash(hc, ca, cb) % AMS_W).cast("long").alias("c"),
            (F.lit(1) - F.lit(2) * (affine_hash(hc, sa, sb) % 2))
            .cast("long").alias("s"))
        for (ca, cb), (sa, sb) in zip(AMS_CELL_FAMILY[:AMS_D],
                                      AMS_SIGN_FAMILY[:AMS_D])])
    return (df.select(h32(F.col("k")).alias("__h"))
              .select(F.posexplode(entries).alias("r", "e"))
              .select("r", "e.c", "e.s")
              .groupBy("r", "c")
              .agg(F.sum("s").cast("long").alias("s")))


def ams_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """The PRODUCTION path of the join-size estimator: one row
    (est_pairs) — median over depths of the signed-counter inner
    product of `a.o_orderkey` and `b.l_orderkey`, from the two bounded
    sketch builds alone. No audit, no
    key-wise shuffle of either input: this is everything a 100 TB
    deployment runs to size a join before committing to it."""
    dots = (ams_sketch(a.select(F.col("o_orderkey").alias("k")))
            .withColumnRenamed("s", "sa")
            .join(ams_sketch(b.select(F.col("l_orderkey").alias("k")))
                  .withColumnRenamed("s", "sb"),
                  ["r", "c"], "full")
            .groupBy("r")
            .agg(F.expr("CAST(sum(coalesce(sa, 0L) * coalesce(sb, 0L)) "
                        "AS BIGINT)").alias("dot")))
    return (dots
            .withColumn("_rk", F.expr("row_number() OVER (ORDER BY dot)"))
            .where(F.col("_rk") == (AMS_D + 1) // 2)
            .select(F.col("dot").alias("est_pairs")))


def ams_join_size(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimation report: ONE row
    (est_pairs, exact_pairs, abs_err_ppm) — the count-sketch estimate
    of |a ⋈ b| on o_orderkey = l_orderkey next to the exact answer.
    Estimate = median over depths r of Σ_c s_a[r][c]·s_b[r][c] (median
    of d odd depths = an exact middle element, deterministic both
    engines).

    (The exact side — per-key count aggs joined and Σ n_a·n_b, which
    sizes the join WITHOUT materializing it — is the fixture-scale
    verification harness; at 100 TB one keeps only the two d·w
    sketches and the estimate is the product of a d·w-row join.)

    Scale shape: two bounded sketch builds (see `ams_sketch`), a full
    outer join of two ≤ d·w-row frames (cells present on one side
    contribute 0), a d-row median. The exact twin shuffles each side
    once on the key — exactly the cost the estimator exists to
    predict, paid here only for the audit."""
    est = ams_inner_product(a, b)
    na = (a.groupBy(F.col("o_orderkey").alias("k"))
           .agg(F.count(F.lit(1)).cast("long").alias("na")))
    nb = (b.groupBy(F.col("l_orderkey").alias("k"))
           .agg(F.count(F.lit(1)).cast("long").alias("nb")))
    exact = (na.join(nb, "k")
               .agg(F.expr("CAST(coalesce(sum(na * nb), 0) AS BIGINT)")
                     .alias("exact_pairs")))
    return (est.crossJoin(F.broadcast(exact))
               .select("est_pairs", "exact_pairs",
                       F.expr("CASE WHEN exact_pairs = 0 THEN 0L ELSE "
                              "abs(est_pairs - exact_pairs) * 1000000L "
                              "div exact_pairs END").alias("abs_err_ppm")))


def _ams_cells_sql(src: str) -> str:
    """UNION ALL per depth over `src` (must expose h = h32(key)):
    the (r, c, s) occurrence entries."""
    return "\n  UNION ALL\n".join(
        f"  SELECT {r} AS r, ({affine_hash_sql('h', ca, cb)}) % {AMS_W} "
        f"AS c, 1 - 2 * (({affine_hash_sql('h', sa, sb)}) % 2) AS s FROM {src}"
        for r, ((ca, cb), (sa, sb))
        in enumerate(zip(AMS_CELL_FAMILY[:AMS_D], AMS_SIGN_FAMILY[:AMS_D])))


def ams_join_size_sql() -> str:
    """DuckDB twin of `ams_join_size` over orders.o_orderkey ⋈
    lineitem.l_orderkey: identical affine cell/sign hashes, identical
    median-of-depths element."""
    return f"""
WITH ha AS (SELECT {h32_sql('o_orderkey')} AS h FROM orders),
hb AS (SELECT {h32_sql('l_orderkey')} AS h FROM lineitem),
ca AS (
{_ams_cells_sql('ha')}
),
cb AS (
{_ams_cells_sql('hb')}
),
sa AS (SELECT r, c, CAST(sum(s) AS BIGINT) AS s FROM ca GROUP BY r, c),
sb AS (SELECT r, c, CAST(sum(s) AS BIGINT) AS s FROM cb GROUP BY r, c),
dots AS (
  SELECT r, CAST(sum(COALESCE(sa.s, 0) * COALESCE(sb.s, 0)) AS BIGINT)
           AS dot
  FROM sa FULL JOIN sb USING (r, c) GROUP BY r),
e AS (
  SELECT dot AS est_pairs FROM (
    SELECT dot, row_number() OVER (ORDER BY dot) AS rk FROM dots)
  WHERE rk = {(AMS_D + 1) // 2}),
x AS (
  SELECT CAST(COALESCE(sum(na.n * nb.n), 0) AS BIGINT) AS exact_pairs
  FROM (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1) na(k, n)
  JOIN (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1) nb(k, n) ON na.k = nb.k)
SELECT est_pairs, exact_pairs,
       CASE WHEN exact_pairs = 0 THEN 0 ELSE
            abs(est_pairs - exact_pairs) * 1000000 // exact_pairs END
         AS abs_err_ppm
FROM e, x
"""


# ------------------------------------------------ hyperloglog sketch
# The fourth mergeable sketch: HyperLogLog itself (Flajolet et al.,
# AofA'07) — but DETERMINISTIC and cross-engine-verifiable, which
# Spark's built-in `approx_count_distinct` (engine-private register
# bytes, bias tables) can never be. The module header's "HLL
# structurally cannot be verified" claim applies to the BUILT-IN; the
# algorithm is perfectly verifiable once its pieces are pinned:
#
#   * bucket  = h60(key) % m          (m = 2^HLL_P buckets)
#   * rho     = 1 + leading-zeros of the remaining 56-bit suffix,
#               computed as 57 - length(bin(suffix)) — `bin` (binary
#               string, no leading zeros) parses identically in Spark
#               SQL and DuckDB, so rho is engine-identical integer
#               arithmetic, no log2/float anywhere;
#   * register M_j = min(max rho over the bucket, HLL_RCAP)
#   * harmonic sum in EXACT fixed point: sum_fp = Σ_j 2^(RCAP - M_j)
#     (a BIGINT ≤ m·2^RCAP — the float Σ2^-M_j scaled by 2^RCAP), so
#     the raw estimate α·m²·2^RCAP / sum_fp is ONE double division
#     over an exact integer (plans/base.py discipline).
#
# The graded report emits the RAW estimator plus the exact distinct
# count per group (the verification harness, exactly like
# cms_heavy_hitters' exact side); production keeps only the m
# registers. Small-range/large-range bias corrections are deliberately
# OMITTED (linear counting needs ln(), which has no cross-engine
# bit-exactness contract) and documented: use KMV when the regime is
# small, HLL when registers are the right wire format (m fixed bytes,
# max-mergeable — the merged row below is built from per-group
# registers alone, no rescan).

HLL_P = 4                       # 2^4 = 16 buckets
HLL_M = 1 << HLL_P
HLL_WINDOW_DAYS = 7             # rolling distinct: trailing 7 days
HLL_RCAP = 40                   # register cap: keeps 2^(RCAP-M) exact
HLL_ALPHA = 0.673               # standard alpha for m=16
#: the estimator numerator α·m²·2^RCAP, ONE Python float so both
#: engines embed the identical literal
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_RCAP)


def _hll_rho(suffix):
    """rho(suffix) = 1 + leading zeros of the 56-bit hash suffix
    (h60 div m, uniform on [0, 2^56)): 57 - length(bin(suffix)),
    with the all-zero suffix pinned to 57. `suffix` must be an
    integer-division column (`h div m` — never float division, which
    drops mantissa bits past 2^53)."""
    return F.when(suffix == 0, F.lit(57)).otherwise(
        F.lit(57) - F.length(F.bin(suffix))).cast("long")


def hll_sketch(df: DataFrame) -> DataFrame:
    """Per-group HLL register table + raw estimate + exact distinct,
    plus the `__ALL__` row whose registers are the BUCKET-WISE
    MAX of the per-group registers (HLL's merge — no rescan).

    Input `df` is an OCCURRENCE frame (group_col, key_col); duplicate
    occurrences are welcome (distinct-ed on the hash internally).
    Returns (group, n_zero, sum_fp, est_hll, exact_distinct) — n_zero
    = empty buckets (the small-range-regime indicator), sum_fp the
    exact fixed-point harmonic sum, est_hll the raw HLL estimate.

    Scale shape: one hash-distinct agg, then a (grp, bucket) max-agg
    — map-side combined to ≤ m cells per task; everything after runs
    on m rows per group. Merging ships m registers per group, never
    keys. The exact column is ONE extra count-distinct agg for the
    graded comparison; production drops it."""
    hashes = (df.where(F.col("tok").isNotNull()
                       & F.col("source").isNotNull())
                .select(F.col("source").alias("grp"),
                        h60(F.col("tok")).alias("h"))
                .distinct())
    rhos = hashes.select(
        "grp", (F.col("h") % HLL_M).cast("long").alias("bucket"),
        _hll_rho(F.expr(f"h div {HLL_M}")).alias("rho"))
    regs = (rhos.groupBy("grp", "bucket")
                .agg(F.least(F.max("rho"), F.lit(HLL_RCAP))
                      .cast("long").alias("reg")))
    merged_regs = (regs.groupBy("bucket")
                       .agg(F.max("reg").alias("reg"))
                       .withColumn("grp", F.lit("__ALL__"))
                       .select("grp", "bucket", "reg"))
    all_regs = regs.unionByName(merged_regs)
    # empty buckets (register 0) contribute 2^RCAP each: m·2^RCAP
    # minus the filled buckets' would-be-zero terms, all exact ints
    summed = (all_regs.groupBy("grp")
              .agg(F.count(F.lit(1)).cast("long").alias("n_filled"),
                   F.expr(f"CAST(sum(shiftleft(CAST(1 AS BIGINT), "
                          f"CAST({HLL_RCAP} - reg AS INT))) AS BIGINT)")
                    .alias("filled_fp")))
    sum_fp = (F.lit(HLL_M) - F.col("n_filled")).cast("long") \
        * F.lit(1 << HLL_RCAP).cast("long") + F.col("filled_fp")
    est = F.lit(HLL_NUM) / sum_fp.cast("double")
    exact_g = hashes.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    exact_all = (hashes.select("h").distinct()
                 .agg(F.count(F.lit(1)).cast("long")
                       .alias("exact_distinct"))
                 .withColumn("grp", F.lit("__ALL__")))
    exact = exact_g.unionByName(exact_all.select("grp", "exact_distinct"))
    return (summed.join(exact, "grp")
                  .select(F.col("grp").alias("source"),
                          (F.lit(HLL_M) - F.col("n_filled"))
                          .cast("long").alias("n_zero"),
                          sum_fp.alias("sum_fp"),
                          est.alias("est_hll"),
                          "exact_distinct"))


def hll_sketch_sql() -> str:
    """DuckDB twin of `hll_sketch` over the per-token occurrences of
    `documents.text`, grouped by `source`."""
    from ..functions import tokens_sql
    occ_cte = ("SELECT source AS grp, "
               f"unnest({tokens_sql()}) AS k "
               "FROM documents WHERE text IS NOT NULL "
               "AND source IS NOT NULL")
    rcap, m = HLL_RCAP, HLL_M
    return f"""
WITH occ AS ({occ_cte}),
hashes AS (SELECT DISTINCT grp, {h60_sql('k')} AS h FROM occ),
rhos AS (
  SELECT grp, h % {m} AS bucket,
         CASE WHEN h // {m} = 0 THEN 57
              ELSE 57 - length(bin(h // {m})) END AS rho
  FROM hashes
),
regs AS (
  SELECT grp, bucket, least(max(rho), {rcap}) AS reg
  FROM rhos GROUP BY 1, 2
),
all_regs AS (
  SELECT * FROM regs
  UNION ALL
  SELECT '__ALL__' AS grp, bucket, max(reg) AS reg
  FROM regs GROUP BY 2
),
summed AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_filled,
         CAST(sum(({1 << rcap}::BIGINT) >> CAST(reg AS INT)) AS BIGINT)
           AS filled_fp
  FROM all_regs GROUP BY 1
),
exact AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS exact_distinct FROM hashes
  GROUP BY 1
  UNION ALL
  SELECT '__ALL__', CAST(count(DISTINCT h) AS BIGINT) FROM hashes
)
SELECT s.grp AS source,
       CAST({m} - n_filled AS BIGINT) AS n_zero,
       CAST(({m} - n_filled) * ({1 << rcap}::BIGINT) + filled_fp
            AS BIGINT) AS sum_fp,
       {HLL_NUM!r} / CAST(({m} - n_filled) * ({1 << rcap}::BIGINT)
                          + filled_fp AS DOUBLE) AS est_hll,
       exact_distinct
FROM summed s JOIN exact e USING (grp)
"""


def kmv_pair_overlap(df: DataFrame) -> DataFrame:
    """Pairwise set-INTERSECTION estimates between groups from their
    KMV sketches alone — the sketch-algebra capability that makes
    sketches a corpus-accounting tool rather than a single statistic
    (Beyer et al., SIGMOD'07 multi-set KMV): "how many distinct
    documents do sources A and B share" for every pair, WITHOUT
    rescanning the corpus per pair (the exact answer is a quadratic
    family of distinct-intersection queries; the sketches answer all
    of them from k rows per group).

    For a pair (a, b): the union sketch is the k smallest distinct
    hashes of kept_a ∪ kept_b; ρ = (members of the union sketch
    present in BOTH sides) / |union sketch| estimates the Jaccard,
    and est_inter = ρ · est_union. Returns per pair:
    (grp_a, grp_b, n_union_kept, kth_min, n_both, est_union,
    est_inter) — counts exact BIGINTs, the two estimates each ONE
    fixed float64 expression over them (cross-engine bit-identical).

    Scale shape: the per-group kept sets are k rows each (built by
    one corpus hash-distinct + per-group top-k window — `kmv_sketch`'s
    exchange); everything pairwise happens on groups·k rows. 20
    sources × k=32 = 640 rows feeding 190 pair estimates."""
    from pyspark.sql import Window
    hashes = (df.where(F.col("text").isNotNull()
                       & F.col("source").isNotNull())
                .select(F.col("source").alias("grp"),
                        h60(F.col("text")).alias("h"))
                .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    kept = (hashes.withColumn("rk", F.row_number().over(w))
                  .where(F.col("rk") <= SKETCH_K).select("grp", "h"))
    groups = kept.select("grp").distinct()
    pairs = (groups.select(F.col("grp").alias("grp_a"))
             .join(groups.select(F.col("grp").alias("grp_b")),
                   F.col("grp_a") < F.col("grp_b")))
    ka = kept.select(F.col("grp").alias("grp_a"), "h",
                     F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    kb = kept.select(F.col("grp").alias("grp_b"), "h",
                     F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    cols = ("grp_a", "grp_b", "h", "in_a", "in_b")
    # select() both branches: unionAll is positional and each join
    # moves its key column first — unchecked, the b-branch lands with
    # grp_b in the grp_a slot (reversed pairs)
    u = (pairs.join(ka, "grp_a").select(*cols)
              .unionAll(pairs.join(kb, "grp_b").select(*cols))
              .groupBy("grp_a", "grp_b", "h")
              .agg(F.max("in_a").alias("in_a"),
                   F.max("in_b").alias("in_b")))
    wu = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    sk = (u.withColumn("rk", F.row_number().over(wu))
           .where(F.col("rk") <= SKETCH_K))
    agg = (sk.groupBy("grp_a", "grp_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_union_kept"),
                  F.max("h").alias("kth_min"),
                  F.expr("CAST(sum(in_a * in_b) AS BIGINT)")
                   .alias("n_both")))
    est_u = F.when(
        F.col("n_union_kept") < SKETCH_K,
        F.col("n_union_kept").cast("double")
    ).otherwise(F.lit(float(SKETCH_K - 1)) * F.lit(float(H60_MAX))
                / F.col("kth_min").cast("double"))
    return (agg.withColumn("est_union", est_u)
               .withColumn("est_inter",
                           F.col("n_both").cast("double")
                           / F.col("n_union_kept").cast("double")
                           * F.col("est_union"))
               .select("grp_a", "grp_b", "n_union_kept", "kth_min",
                       "n_both", "est_union", "est_inter"))


def kmv_pair_overlap_sql() -> str:
    """DuckDB twin of `kmv_pair_overlap` — identical order statistics
    and the same two fixed float expressions."""
    est_u = (f"CASE WHEN n_union_kept < {SKETCH_K} "
             f"THEN CAST(n_union_kept AS DOUBLE) "
             f"ELSE CAST({float(SKETCH_K - 1)} AS DOUBLE) * {float(H60_MAX)}"
             f" / CAST(kth_min AS DOUBLE) END")
    return f"""
WITH hashes AS (
  SELECT DISTINCT source AS grp, {h60_sql('text')} AS h
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
),
kept AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
    FROM hashes) WHERE rk <= {SKETCH_K}
),
gs AS (SELECT DISTINCT grp FROM kept),
pairs AS (SELECT a.grp AS grp_a, b.grp AS grp_b
          FROM gs a JOIN gs b ON a.grp < b.grp),
u AS (
  SELECT grp_a, grp_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.grp_a, p.grp_b, ka.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN kept ka ON ka.grp = p.grp_a
    UNION ALL
    SELECT p.grp_a, p.grp_b, kb.h, 0, 1
    FROM pairs p JOIN kept kb ON kb.grp = p.grp_b)
  GROUP BY 1, 2, 3
),
sk AS (
  SELECT * FROM (
    SELECT grp_a, grp_b, h, in_a, in_b,
           row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rk
    FROM u) WHERE rk <= {SKETCH_K}
),
agg AS (
  SELECT grp_a, grp_b, CAST(count(*) AS BIGINT) AS n_union_kept,
         CAST(max(h) AS BIGINT) AS kth_min,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM sk GROUP BY 1, 2
)
SELECT grp_a, grp_b, n_union_kept, kth_min, n_both,
       {est_u} AS est_union,
       CAST(n_both AS DOUBLE) / CAST(n_union_kept AS DOUBLE)
         * ({est_u}) AS est_inter
FROM agg
"""


def hll_rolling_distinct(df: DataFrame) -> DataFrame:
    """ROLLING-WINDOW distinct counting via HLL register algebra — the
    "7-day active users" query, the capability that makes the register
    form worth keeping: exact sliding distinct needs a full rescan of
    the trailing window PER DAY (distinct doesn't decompose), while
    HLL registers merge by max, so each day's answer is a RANGE-frame
    window max over m register rows per day.

    Per (day, bucket): register = capped max rho of that day's keys;
    densified to every (day × bucket) cell so day d's windowed
    register sees buckets its own day never filled; windowed register
    = max over days [d−window+1, d] (RANGE frame on the integer day);
    sum_fp = Σ_buckets 2^(RCAP − wreg) — the register-0 (empty) term
    falls out of the same expression. The graded report carries the
    exact trailing distinct beside it (fixture-scale verification
    harness — the per-day rescan IS the thing production drops).

    Returns (day, n_zero, sum_fp, est_hll, exact_distinct).

    Scale shape: one hash-distinct on (day, key), one (day, bucket)
    max-agg (map-side combined), then everything runs on days×m
    register rows; the exact column is the only corpus-revisiting
    part and is explicitly the harness."""
    from pyspark.sql import Window
    hashes = (df.where(F.col("user_id").isNotNull()
                       & F.col("day").isNotNull())
                .select(F.col("day").cast("long").alias("day"),
                        h60(F.col("user_id")).alias("h"))
                .distinct())
    rhos = hashes.select(
        "day", (F.col("h") % HLL_M).cast("long").alias("bucket"),
        _hll_rho(F.expr(f"h div {HLL_M}")).alias("rho"))
    regs = (rhos.groupBy("day", "bucket")
                .agg(F.least(F.max("rho"), F.lit(HLL_RCAP))
                      .cast("long").alias("reg")))
    days = hashes.select("day").distinct()
    spine = days.crossJoin(
        F.broadcast(regs.sparkSession.range(HLL_M)
                        .select(F.col("id").alias("bucket"))))
    dense = (spine.join(regs, ["day", "bucket"], "left")
                  .withColumn("reg", F.coalesce("reg", F.lit(0))
                               .cast("long")))
    w = (Window.partitionBy("bucket").orderBy("day")
               .rangeBetween(-(HLL_WINDOW_DAYS - 1), 0))
    windowed = dense.withColumn("wreg", F.max("reg").over(w))
    summed = (windowed.groupBy("day")
              .agg(F.expr(f"CAST(sum(CASE WHEN wreg = 0 THEN 1 ELSE 0 "
                          f"END) AS BIGINT)").alias("n_zero"),
                   F.expr(f"CAST(sum(shiftleft(CAST(1 AS BIGINT), "
                          f"CAST({HLL_RCAP} - wreg AS INT))) AS BIGINT)")
                    .alias("sum_fp")))
    # exact trailing distinct: the verification harness (quadratic in
    # window width — precisely what the registers exist to avoid)
    d2 = hashes.select(F.col("day").alias("d2"), "h")
    exact = (days.join(d2, (F.col("d2") <= F.col("day"))
                       & (F.col("d2") > F.col("day") - HLL_WINDOW_DAYS))
                 .groupBy("day")
                 .agg(F.count_distinct("h").cast("long")
                       .alias("exact_distinct")))
    est = F.lit(HLL_NUM) / F.col("sum_fp").cast("double")
    return (summed.join(exact, "day")
                  .select("day", "n_zero", "sum_fp",
                          est.alias("est_hll"), "exact_distinct"))


def hll_rolling_distinct_sql() -> str:
    """DuckDB twin of `hll_rolling_distinct` (default: events days
    from epoch_us(ts))."""
    rcap, m = HLL_RCAP, HLL_M
    return f"""
WITH hashes AS (
  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         {h60_sql('user_id')} AS h
  FROM events
  WHERE user_id IS NOT NULL
),
rhos AS (
  SELECT day, h % {m} AS bucket,
         CASE WHEN h // {m} = 0 THEN 57
              ELSE 57 - length(bin(h // {m})) END AS rho
  FROM hashes
),
regs AS (
  SELECT day, bucket, least(max(rho), {rcap}) AS reg
  FROM rhos GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM hashes),
spine AS (SELECT day, b AS bucket FROM days, UNNEST(range({m})) u(b)),
dense AS (
  SELECT s.day, s.bucket, COALESCE(r.reg, 0) AS reg
  FROM spine s LEFT JOIN regs r ON r.day = s.day AND r.bucket = s.bucket
),
windowed AS (
  SELECT day, bucket,
         max(reg) OVER (PARTITION BY bucket ORDER BY day
                        RANGE BETWEEN {HLL_WINDOW_DAYS - 1} PRECEDING
                        AND CURRENT ROW) AS wreg
  FROM dense
),
summed AS (
  SELECT day,
         CAST(sum(CASE WHEN wreg = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero,
         CAST(sum(({1 << rcap}::BIGINT) >> CAST(wreg AS INT)) AS BIGINT)
           AS sum_fp
  FROM windowed GROUP BY 1
),
exact AS (
  SELECT d.day, CAST(count(DISTINCT h.h) AS BIGINT) AS exact_distinct
  FROM days d JOIN hashes h
    ON h.day <= d.day AND h.day > d.day - {HLL_WINDOW_DAYS}
  GROUP BY 1
)
SELECT s.day, n_zero, sum_fp,
       {HLL_NUM!r} / CAST(sum_fp AS DOUBLE) AS est_hll,
       exact_distinct
FROM summed s JOIN exact e ON e.day = s.day
"""
