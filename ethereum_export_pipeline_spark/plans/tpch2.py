"""Second tranche of TPC-H-shaped SQL-feature queries: the decorrelation
patterns (scalar-per-key and global-scalar subqueries), outer-join
aggregation, conditional aggregation, IN-subquery-over-HAVING, and a
5-way dimension join. Together with plans.analytics this covers the
join/subquery surface a consumer of the exported tables actually uses.

Every entry follows plans.base's cross-engine typing rules. The two
"compare against an average" queries (q17/q22) avoid mid-plan doubles
entirely by cross-multiplying the inequality into exact int64 terms:
``qty < 0.2 * sum/cnt``  →  ``qty * 5 * cnt < sum``. That keeps the
whole plan in codegen'd integer arithmetic and makes the oracle hash
exact by construction.

Scale notes: the per-key aggregate in q17 is a map-side-combined hash
agg reused via a self-join on the (already shuffled) key; q22's global
scalar is a 1-row broadcast cross join — no driver collect; q7/q13/q18
broadcast every dimension side (nation/customer/orders-keys) and keep
the fact-table scan single-pass with pushed filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .base import Query, cents, qty, revenue_e4


# ----------------------------------------------------------------- Q13

def _cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — LEFT OUTER join with an extra ON-clause filter
    on the inner side, then a two-level aggregation (orders per
    customer → customers per order-count). The filter lives in the
    join so customers with only urgent orders still appear with 0.

    Scale: orders is pre-filtered before the join (filter pushes to the
    scan); both group-bys are hash aggs on already-shuffled keys."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") != "1-URGENT")
              .select("o_custkey", "o_orderkey"))
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist")))


_CUST_ORDER_DIST_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# ----------------------------------------------------------------- Q14

def _promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional aggregation: the share of one
    month's revenue coming from PROMO parts. One broadcast join
    (part is the dim), one hash agg, one final division.

    The ratio is the only double: ``100.0 * promo_e4 / total_e4`` over
    two exact int64 sums — one fixed expression tree, bit-identical in
    both engines."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
                 & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    g = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .agg(
               F.expr(f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {revenue_e4()} ELSE 0 END) AS BIGINT)").alias("promo_e4"),
               F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)").alias("total_e4"),
           ))
    return g.select(
        "promo_e4", "total_e4",
        (F.lit(100.0) * F.col("promo_e4") / F.col("total_e4")).alias("promo_pct"),
    )


_PROMO_EFFECT_SQL = f"""
SELECT promo_e4, total_e4, 100.0 * promo_e4 / total_e4 AS promo_pct
FROM (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {revenue_e4()} ELSE 0 END) AS BIGINT) AS promo_e4,
         CAST(sum({revenue_e4()}) AS BIGINT) AS total_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
)
"""


# ----------------------------------------------------------------- Q17

def _small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (``l_quantity <
    0.2 * avg(l_quantity) per part``) decorrelated into a per-key
    aggregate + equi-join, the standard Catalyst rewrite done
    explicitly. The inequality is cross-multiplied to exact integers:
    ``qty < 0.2 * sum/cnt  ⇔  qty * 5 * cnt < sum``.

    Scale: both sides shuffle once on l_partkey (the agg's shuffle is
    reused by AQE for the join); the brand filter prunes the probe
    side before the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == "Brand#23").select("p_partkey"))
    per_part = (li.groupBy("l_partkey")
                  .agg(F.count(F.lit(1)).alias("cnt"),
                       F.expr(f"CAST(sum({qty()}) AS BIGINT)").alias("sum_qty"))
                  .select(F.col("l_partkey").alias("pk"), "cnt", "sum_qty"))
    probe = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
               .select("l_partkey", "l_quantity", "l_extendedprice"))
    small = (probe.join(per_part, probe.l_partkey == per_part.pk)
                  .where(F.expr(f"{qty()} * 5 * cnt < sum_qty")))
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.expr(f"CAST(coalesce(sum({cents('l_extendedprice')}), 0) AS BIGINT)").alias("rev_cents"),
    ).select("n_small", "rev_cents",
             (F.col("rev_cents") / F.lit(700.0)).alias("avg_yearly"))


_SMALL_QTY_REVENUE_SQL = f"""
SELECT n_small, rev_cents, rev_cents / 700.0 AS avg_yearly
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_small,
         CAST(coalesce(sum({cents('l_extendedprice')}), 0) AS BIGINT) AS rev_cents
  FROM lineitem
  JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') p
    ON l_partkey = p.p_partkey
  JOIN (
    SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum({qty()}) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY 1
  ) ON l_partkey = pk
  WHERE {qty()} * 5 * cnt < sum_qty
)
"""


# ----------------------------------------------------------------- Q18

def _large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — IN-subquery over a HAVING aggregate (orders
    whose total quantity exceeds a threshold), then join back to
    orders and customer for the report.

    Scale: the HAVING agg shrinks lineitem to a small key set, which
    then BROADCASTS into orders — the classic semi-join-by-aggregate;
    customer is a broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(F.expr(f"CAST(sum({qty()}) AS BIGINT)").alias("total_qty"))
             .where(F.col("total_qty") > 150))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
                  .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
                  .select(
                      "c_name", "o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                      F.expr(cents("o_totalprice")).alias("totalprice_cents"),
                      "total_qty"))


_LARGE_ORDERS_SQL = f"""
SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {cents('o_totalprice')} AS totalprice_cents, total_qty
FROM orders
JOIN (
  SELECT l_orderkey, CAST(sum({qty()}) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1 HAVING total_qty > 150
) ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ----------------------------------------------------------------- Q22

def _idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global scalar subquery (corpus-wide average
    balance) + NOT EXISTS anti-join (no orders since 2000), grouped
    per nation. The average comparison is cross-multiplied to exact
    int64 (``bal > sum/cnt  ⇔  bal * cnt > sum``), and the 1-row
    aggregate reaches every row via a broadcast cross join — no
    collect.

    Scale: anti-join side is just recent o_custkey (column-pruned,
    filter-pushed scan); at 100 TB the distinct-key set broadcasts or
    AQE falls back to a shuffled anti-join."""
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey",
                    F.expr(cents("c_acctbal")).alias("bal_cents")))
    avg1 = (cust.where(F.col("bal_cents") > 0)
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.expr("CAST(sum(bal_cents) AS BIGINT)").alias("sum_cents")))
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
              .select("o_custkey"))
    rich = (cust.crossJoin(F.broadcast(avg1))
                .where(F.col("bal_cents") * F.col("cnt") > F.col("sum_cents"))
                .join(orders, cust.c_custkey == orders.o_custkey, "left_anti"))
    return (rich.groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
                .agg(F.count(F.lit(1)).alias("numcust"),
                     F.expr("CAST(sum(bal_cents) AS BIGINT)").alias("total_cents")))


_IDLE_BALANCES_SQL = f"""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(bal_cents) AS BIGINT) AS total_cents
FROM (
  SELECT c_custkey, c_nationkey, {cents('c_acctbal')} AS bal_cents
  FROM customer
) c
CROSS JOIN (
  SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(sum({cents('c_acctbal')}) AS BIGINT) AS sum_cents
  FROM customer WHERE {cents('c_acctbal')} > 0
)
WHERE bal_cents * cnt > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


# ------------------------------------------------------------------ Q7

def _volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — 5-way join (lineitem → supplier → orders →
    customer, nation twice) with a symmetric OR pair-filter and a
    per-year rollup of revenue between two trading nations.

    Scale: nation/supplier/customer are broadcast dims; the only
    shuffle is lineitem↔orders on orderkey, then the 3-column hash
    agg. The OR filter evaluates post-join on broadcast columns —
    cheap, codegen'd."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")) | \
           ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    j = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
           .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
           .where(pair))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
             .agg(F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)").alias("revenue_e4")))


_VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum({revenue_e4()}) AS BIGINT) AS revenue_e4
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY 1, 2, 3
"""


# ----------------------------------------------------------------- Q15

def _top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — argmax over an aggregate (the reference view
    + max(total_revenue) pattern): per-supplier revenue for a quarter,
    then keep the supplier(s) equal to the global max. Ties are exact
    (int64 revenue), so both engines keep the same row set.

    Scale: one shuffle for the per-supplier agg; the global max is a
    1-row broadcast cross join back onto the agg (exchange reused by
    AQE), and supplier is a broadcast dim."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                 & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))))
    rev = (li.groupBy("l_suppkey")
             .agg(F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)").alias("total_rev_e4")))
    mx = rev.agg(F.max("total_rev_e4").alias("max_rev_e4"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(mx))
               .where(F.col("total_rev_e4") == F.col("max_rev_e4"))
               .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
               .select("s_suppkey", "s_name", "total_rev_e4"))


_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({revenue_e4()}) AS BIGINT) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_rev_e4
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
"""


# ------------------------------------------------------------------ Q2

def _min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — argmin-per-group correlated subquery kept as a
    set (ALL tied minimum rows survive, exact-integer ties), then a
    multi-dimension lookup join. The corpus has no partsupp table, so
    lineitem plays the part↔supplier cost relation (min extended price
    per part), which makes the argmin side the 100 TB fact table —
    the harder version of the shape.

    Scale: one shuffle of the fact on l_partkey feeds BOTH the min
    aggregate and the self-join back (same key → the exchange is
    reused); every dimension (part/supplier/nation) broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        F.expr(cents("l_extendedprice")).alias("cost_cents"))
    mins = li.groupBy("l_partkey").agg(F.min("cost_cents").alias("min_cost"))
    best = (li.join(mins, "l_partkey")
              .where(F.col("cost_cents") == F.col("min_cost"))
              .select("l_partkey", "l_suppkey", "min_cost").distinct())
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_size") <= 10).select("p_partkey", "p_name"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    return (best.join(F.broadcast(part),
                      best.l_partkey == part.p_partkey)
                .join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
                .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
                .select("p_name", "s_name",
                        F.col("n_name").alias("nation"),
                        F.col("min_cost").alias("cost_cents")))


_MIN_COST_SUPPLIER_SQL = f"""
WITH li AS (SELECT l_partkey, l_suppkey,
                   {cents('l_extendedprice')} AS cost_cents FROM lineitem),
mins AS (SELECT l_partkey, min(cost_cents) AS min_cost FROM li GROUP BY 1),
best AS (SELECT DISTINCT li.l_partkey, li.l_suppkey, min_cost
         FROM li JOIN mins USING (l_partkey) WHERE cost_cents = min_cost)
SELECT p_name, s_name, n_name AS nation, min_cost AS cost_cents
FROM best
JOIN part ON l_partkey = p_partkey AND p_size <= 10
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
"""


# ----------------------------------------------------------------- Q20

def _dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — a nested aggregate threshold (supplier ships
    more than a fifth of a part's total volume — the corpus spreads
    parts evenly across suppliers, so 1/5 is the discriminating
    threshold where TPC-H's 1/2 selects nothing) driving a supplier
    filter. The fraction is cross-multiplied into exact integers
    (5·sp_qty > tot_qty) so the whole plan stays in int64 codegen.

    Scale: both aggregates scan lineitem once each on different keys;
    the (part, supplier) aggregate joins the per-part total on
    l_partkey — the finer aggregate is already partitioned by a
    superset key, so only the coarser side reshuffles. The supplier
    dimension broadcasts into the final count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.expr(qty()).alias("q"))
    sp = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("q").alias("sp_qty"))
    tot = li.groupBy("l_partkey").agg(F.sum("q").alias("tot_qty"))
    dom = (sp.join(tot, "l_partkey")
             .where(F.col("sp_qty") * 5 > F.col("tot_qty")))
    counts = dom.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_parts_dominated"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (counts.join(F.broadcast(supp),
                        counts.l_suppkey == supp.s_suppkey)
                  .select("s_suppkey", "s_name", "n_parts_dominated"))


_DOMINANT_SUPPLIERS_SQL = f"""
WITH li AS (SELECT l_partkey, l_suppkey, {qty()} AS q
            FROM lineitem),
sp AS (SELECT l_partkey, l_suppkey, CAST(sum(q) AS BIGINT) AS sp_qty
       FROM li GROUP BY 1, 2),
tot AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tot_qty
        FROM li GROUP BY 1)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_parts_dominated
FROM sp JOIN tot USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE sp_qty * 5 > tot_qty
GROUP BY 1, 2
"""


# ----------------------------------------------------------------- Q21

def _sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the correlated NOT EXISTS over the same fact
    with an inequality residual: orders where a supplier is the ONLY
    supplier, expressed as a LEFT ANTI self-join on the order key with
    `a.supp <> b.supp` as the residual (never a nested loop: the anti
    join shuffles both sides on l_orderkey).

    Scale: the distinct (order, supplier) projection collapses the
    fact first (map-side combine), the anti self-join reuses one
    exchange per side on the same key, and the supplier dimension
    broadcasts into the final per-supplier count."""
    os_pairs = (load_table(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_suppkey").distinct())
    a, b = os_pairs.alias("a"), os_pairs.alias("b")
    sole = a.join(
        b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
           & (F.col("a.l_suppkey") != F.col("b.l_suppkey")), "left_anti")
    counts = sole.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_sole_orders"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (counts.join(F.broadcast(supp),
                        counts.l_suppkey == supp.s_suppkey)
                  .select("s_suppkey", "s_name", "n_sole_orders"))


_SOLE_SUPPLIER_ORDERS_SQL = """
WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_sole_orders
FROM os a JOIN supplier ON a.l_suppkey = s_suppkey
WHERE NOT EXISTS (SELECT 1 FROM os b
                  WHERE b.l_orderkey = a.l_orderkey
                    AND b.l_suppkey <> a.l_suppkey)
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ Q6

def _forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the pure scan-filter-aggregate: a one-year
    shipdate slice, a discount band, a quantity cap, one global sum.
    No joins; the whole query is pushed filters + a codegen'd partial
    agg. The discount band compares EXACT CENTS (round(disc·100)
    BETWEEN 5 AND 7) so both engines bucket the same float rows.

    Scale: this is the pattern the columnar format exists for — at
    100 TB it reads three columns of the pruned date partitions and
    nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.expr(f"{cents('l_discount')} BETWEEN 5 AND 7")
        & (F.col("l_quantity") < 24))
    g = f.agg(
        F.expr(f"CAST(sum({cents('l_extendedprice')} * {cents('l_discount')}) "
               f"AS BIGINT)").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_rows"))
    return g.select("revenue_e4", "n_rows",
                    (F.col("revenue_e4") / F.lit(10_000.0)).alias("revenue"))


_FORECAST_REVENUE_SQL = f"""
SELECT revenue_e4, n_rows, revenue_e4 / 10000.0 AS revenue
FROM (
  SELECT CAST(sum({cents('l_extendedprice')} * {cents('l_discount')})
              AS BIGINT) AS revenue_e4,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
    AND {cents('l_discount')} BETWEEN 5 AND 7
    AND l_quantity < 24
)
"""


# ------------------------------------------------------------------ Q8

def _market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: of the revenue ASIA
    customers generated per order-year, the fraction supplied by
    NATION_3. Two independent nation lookups (customer side restricted
    to the region, supplier side tagging the target nation) hang off
    one fact scan.

    Scale: all four dimension sides broadcast; lineitem shuffles once
    to join orders on orderkey; numerator/denominator are one
    conditional hash agg — share is the single terminal double."""
    nation = load_table(spark, sf_dir, "nation")
    region = (load_table(spark, sf_dir, "region")
              .where(F.col("r_name") == "ASIA"))
    cust_nat = (nation.join(F.broadcast(region),
                            nation.n_regionkey == region.r_regionkey)
                      .select(F.col("n_nationkey").alias("cn_key")))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(cust_nat),
                  F.col("c_nationkey") == F.col("cn_key"))
            .select("c_custkey"))
    supp_nat = nation.select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation"))
    supp = (load_table(spark, sf_dir, "supplier")
            .join(F.broadcast(supp_nat),
                  F.col("s_nationkey") == F.col("sn_key"))
            .select("s_suppkey", "supp_nation"))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey",
                      F.year("o_orderdate").alias("o_year")))
    li = load_table(spark, sf_dir, "lineitem")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")))
    g = (j.groupBy("o_year")
          .agg(F.expr(f"CAST(sum(CASE WHEN supp_nation = 'NATION_3' "
                      f"THEN {revenue_e4()} ELSE 0 END) AS BIGINT)")
                .alias("nation_e4"),
               F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)")
                .alias("total_e4")))
    return g.select(F.col("o_year").cast("int").alias("o_year"),
                    "nation_e4", "total_e4",
                    (F.col("nation_e4") / F.col("total_e4"))
                    .alias("mkt_share"))


_MARKET_SHARE_SQL = f"""
SELECT CAST(o_year AS INTEGER) AS o_year, nation_e4, total_e4,
       nation_e4 / total_e4 AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                       THEN {revenue_e4()} ELSE 0 END) AS BIGINT)
           AS nation_e4,
         CAST(sum({revenue_e4()}) AS BIGINT) AS total_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  GROUP BY 1
)
"""


# ----------------------------------------------------------------- Q10

def _returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue ranking: customers whose
    lineitems were RETURNED ('R') in a quarter's orders, ranked by lost
    revenue, top 20 (ties broken by custkey so the LIMIT is
    deterministic in both engines).

    Scale: orders pre-filtered to the quarter before joining the fact;
    customer/nation broadcast; one hash agg on custkey; the global
    top-20 is a TakeOrdered, not a full sort."""
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate")
                      >= F.lit("1996-01-01").cast("timestamp_ntz"))
                     & (F.col("o_orderdate")
                        < F.lit("1996-04-01").cast("timestamp_ntz")))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R"))
    cust = load_table(spark, sf_dir, "customer")
    nation = (load_table(spark, sf_dir, "nation")
              .select("n_nationkey", "n_name"))
    g = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .groupBy("o_custkey")
           .agg(F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)")
                 .alias("revenue_e4")))
    j = (g.join(F.broadcast(cust),
                g.o_custkey == cust.c_custkey)
          .join(F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.select("c_custkey", "c_name", "n_name",
                     F.expr(f"{cents('c_acctbal')}").alias("acctbal_cents"),
                     "revenue_e4",
                     (F.col("revenue_e4") / F.lit(10_000.0))
                     .alias("revenue"))
             .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey").asc())
             .limit(20))


_RETURNED_ITEMS_SQL = f"""
SELECT c_custkey, c_name, n_name, {cents('c_acctbal')} AS acctbal_cents,
       revenue_e4, revenue_e4 / 10000.0 AS revenue
FROM (
  SELECT o_custkey, CAST(sum({revenue_e4()}) AS BIGINT) AS revenue_e4
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY o_custkey
)
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue_e4 DESC, c_custkey ASC
LIMIT 20
"""


# ----------------------------------------------------------------- Q19

def _bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — disjunctive bracket predicates: three
    brand/quantity/size brackets OR-ed together across the fact-dim
    join. The per-bracket conjuncts stay in one predicate so Catalyst
    can push the common part (the join key) and evaluate the OR once
    post-join.

    Scale: part broadcasts; the OR collapses into one codegen'd
    predicate — no union-of-three-scans blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    brackets = (
        "(p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 "
        " AND p_size BETWEEN 1 AND 5) OR "
        "(p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 "
        " AND p_size BETWEEN 1 AND 10) OR "
        "(p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 "
        " AND p_size BETWEEN 1 AND 15)")
    g = j.where(F.expr(brackets)).agg(
        F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)").alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_rows"))
    return g.select("revenue_e4", "n_rows",
                    (F.col("revenue_e4") / F.lit(10_000.0)).alias("revenue"))


_BRACKET_REVENUE_SQL = f"""
SELECT revenue_e4, n_rows, revenue_e4 / 10000.0 AS revenue
FROM (
  SELECT CAST(sum({revenue_e4()}) AS BIGINT) AS revenue_e4,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
         AND p_size BETWEEN 1 AND 5)
     OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
         AND p_size BETWEEN 1 AND 10)
     OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
         AND p_size BETWEEN 1 AND 15)
)
"""


QUERIES: dict[str, Query] = {
    "q13_cust_order_dist": Query(_cust_order_dist, _CUST_ORDER_DIST_SQL,
                                 "outer-join two-level count distribution"),
    "q14_promo_effect": Query(_promo_effect, _PROMO_EFFECT_SQL,
                              "conditional-aggregation revenue share"),
    "q17_small_qty": Query(_small_qty_revenue, _SMALL_QTY_REVENUE_SQL,
                           "decorrelated per-key scalar subquery"),
    "q18_large_orders": Query(_large_orders, _LARGE_ORDERS_SQL,
                              "IN-subquery over HAVING aggregate"),
    "q22_idle_balances": Query(_idle_balances, _IDLE_BALANCES_SQL,
                               "global scalar subquery + anti-join"),
    "q7_volume_shipping": Query(_volume_shipping, _VOLUME_SHIPPING_SQL,
                                "5-way join, symmetric OR pair filter"),
    "q15_top_supplier": Query(_top_supplier, _TOP_SUPPLIER_SQL,
                              "argmax over aggregate, exact-int ties"),
    "q2_min_cost_supplier": Query(_min_cost_supplier,
                                  _MIN_COST_SUPPLIER_SQL,
                                  "argmin-per-group set w/ ties, "
                                  "multi-dim broadcast lookup"),
    "q20_dominant_suppliers": Query(_dominant_suppliers,
                                    _DOMINANT_SUPPLIERS_SQL,
                                    "nested aggregate threshold, "
                                    "cross-multiplied exact ints"),
    "q21_sole_supplier": Query(_sole_supplier_orders,
                               _SOLE_SUPPLIER_ORDERS_SQL,
                               "correlated NOT EXISTS as anti "
                               "self-join w/ inequality residual"),
    "q6_forecast_revenue": Query(_forecast_revenue, _FORECAST_REVENUE_SQL,
                                 "pure scan-filter-agg (columnar "
                                 "pushdown showcase)"),
    "q8_market_share": Query(_market_share, _MARKET_SHARE_SQL,
                             "two-nation-lookup market share per year"),
    "q10_returned_items": Query(_returned_items, _RETURNED_ITEMS_SQL,
                                "returned-revenue ranking, "
                                "deterministic top-20"),
    "q19_bracket_revenue": Query(_bracket_revenue, _BRACKET_REVENUE_SQL,
                                 "disjunctive bracket predicates "
                                 "(OR of conjunct brackets)"),
}
