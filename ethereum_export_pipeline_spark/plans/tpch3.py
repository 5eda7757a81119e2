"""Third tranche of TPC-H-shaped SQL-feature queries — the three
full-semantics shapes (Q5/Q9/Q16) whose plans.analytics counterparts
are simplified variants (q5_region_revenue lacks the same-nation
customer/supplier constraint; q9_like_filter lacks the cost term and
nation-year grouping; q16_not_exists lacks the distinct-pair relation,
the attribute triple, and the count-distinct). With these, every
TPC-H query shape (1-22) has a catalog entry. Where the fixture lacks
a TPC-H column (partsupp, s_comment) the shape is preserved over an
available stand-in, noted per query.

Every entry follows plans.base's cross-engine typing rules: money as
exact int64 1e-4-dollar units (revenue_e4), comparisons against
fractions cross-multiplied into integer terms, dates emitted as
strftime'd strings, and no mid-plan doubles anywhere.

Scale notes (shared): customer/supplier/part/nation/region are
dimension tables (≤ ~1% of lineitem) and are explicitly broadcast —
every query here is a single pass over the lineitem/orders facts with
filters pushed into the parquet scan; the only wide exchanges are the
final hash aggregations on low-cardinality grouping keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from .base import Query, cents, qty, revenue_e4


# ------------------------------------------------------------------ Q5

def _local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way snowflake join (customer, orders,
    lineitem, supplier, nation, region) with the "local" constraint
    that the customer and supplier share a nation, revenue per nation
    within one region-year.

    Scale: supplier/nation/region collapse into one broadcast dim
    keyed by s_suppkey carrying (s_nationkey, n_name); customer is a
    second broadcast keyed by c_custkey. The fact path is one
    orders⋈lineitem shuffle; the c_nationkey = s_nationkey residual
    applies post-broadcast without widening anything."""
    region = (load_table(spark, sf_dir, "region")
              .where(F.col("r_name") == "ASIA").select("r_regionkey"))
    nation = load_table(spark, sf_dir, "nation")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    local_sup = (sup.join(F.broadcast(nation),
                          sup.s_nationkey == nation.n_nationkey)
                 .join(F.broadcast(region),
                       nation.n_regionkey == region.r_regionkey)
                 .select("s_suppkey", "s_nationkey", "n_name"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                     & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"))
    joined = (orders.join(li, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(local_sup),
                    (li.l_suppkey == local_sup.s_suppkey)
                    & (cust.c_nationkey == local_sup.s_nationkey)))
    return (joined.groupBy("n_name")
            .agg(F.expr(f"CAST(sum({revenue_e4()}) AS BIGINT)").alias("revenue_e4"))
            .orderBy(F.desc("revenue_e4"), F.asc("n_name")))


_LOCAL_SUPPLIER_SQL = f"""
SELECT n_name, CAST(sum({revenue_e4()}) AS BIGINT) AS revenue_e4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue_e4 DESC, n_name ASC
"""


# ------------------------------------------------------------------ Q9

def _product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit per (nation, year) for parts matching a
    name substring. The fixture lacks partsupp.ps_supplycost, so unit
    cost is stood in by p_retailprice (same join tree: part-filtered
    lineitem ⋈ supplier ⋈ nation ⋈ orders, 4-way). Profit stays in
    exact 1e-4-dollar int64: rev_e4 − cents(retail)·100·qty.

    Scale: part (name-filtered) and supplier⋈nation are broadcasts;
    the orders join brings only (o_orderkey, year). One fact scan, one
    shuffle into a 25×7-group hash agg."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice"))
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
           .select("s_suppkey", "n_name"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("bigint").alias("o_year"))
    li = load_table(spark, sf_dir, "lineitem")
    profit = (f"({revenue_e4()} - {cents('p_retailprice')} * 100 * "
              f"{qty()})")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"), "o_year")
            .agg(F.expr(f"CAST(sum({profit}) AS BIGINT)").alias("profit_e4"))
            .orderBy("nation", F.desc("o_year")))


_PRODUCT_PROFIT_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({revenue_e4()} - {cents('p_retailprice')} * 100 * {qty()}) AS BIGINT) AS profit_e4
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""


# ----------------------------------------------------------------- Q16

def _supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-pair relation ⋈ filtered dim, NOT IN
    blacklist subquery, count(DISTINCT supplier) per part attribute
    triple. The fixture lacks partsupp (distinct (l_partkey,
    l_suppkey) from lineitem stands in) and s_comment (the complaint
    blacklist becomes s_acctbal < 0).

    Scale: the NOT IN is a broadcast LEFT ANTI (blacklist is tiny);
    part is a broadcast dim; the distinct and the count-distinct both
    shuffle on the same l_partkey-led keys so AQE coalesces them."""
    ps = (load_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    bad = (load_table(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    part = (load_table(spark, sf_dir, "part")
            .where((F.col("p_brand") != "Brand#5")
                   & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type",
                     F.col("p_size").cast("bigint").alias("p_size"))
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"))


_SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


QUERIES: dict[str, Query] = {
    "q5_local_supplier": Query(
        _local_supplier_volume, _LOCAL_SUPPLIER_SQL,
        "TPC-H Q5: 6-way snowflake, same-nation customer/supplier"),
    "q9_product_profit": Query(
        _product_profit, _PRODUCT_PROFIT_SQL,
        "TPC-H Q9: profit per nation-year for name-matched parts"),
    "q16_supplier_counts": Query(
        _supplier_part_counts, _SUPPLIER_PART_COUNTS_SQL,
        "TPC-H Q16: count-distinct suppliers per part triple, NOT IN blacklist"),
}
