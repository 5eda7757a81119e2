"""Reference-parity operators (SURVEY §2) exercised over the driver
corpus, each with a DuckDB oracle.

The reference's own tables (blocks/transactions/…) are not in the
oracle's view set, so each operator is exercised on the TPC-H-ish
corpus with the SAME plan shape it has in the engine: the semi-join
driving receipts export (J1) is the semi-join driving `eth_semi_join`
here, the `%08d` volume-balanced range layout (O1/O9/A2) buckets
`o_orderkey` instead of block numbers, and so on. The Ethereum-schema
versions of these operators are unit-tested against generated chain
fixtures in tests/ (same code paths).

Reference citations per query are in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..artifacts import artifact
from ..operators.checks import PROFILE_INT, PROFILE_STR
from ..operators.layout import COMPACT_TARGET
from ..operators.reorg import REORG_DEPTH
from ..partitioning import KEY_TIERS, range_cols, volume_balanced_plan
from ..sources.tables import load_table, register_views
from ..util import local_df, scratch_dir
from .base import Query, cents

KEY_PLAN = volume_balanced_plan(2 ** 24 - 1)


def _bucket_start_sql(key: str) -> str:
    """Raw (unpadded) range-start expression for `KEY_TIERS` — parses
    identically in Spark SQL and DuckDB. Mirrors
    partitioning.range_cols' piecewise tier expression."""
    arms = []
    lo = 0
    for bound, width in KEY_TIERS:
        start = f"(CAST(floor(({key} - {lo}) / {width}.0) AS BIGINT) * {width} + {lo})"
        arms.append(f"WHEN {key} >= {lo} AND {key} < {bound} THEN {start}")
        lo = bound
    return "CASE " + " ".join(arms) + " END"


def _bucket_sql(key: str) -> tuple[str, str]:
    """(start_expr, end_expr) — the padded range-bucket expressions
    (DuckDB)."""
    arms_e = []
    lo = 0
    for bound, width in KEY_TIERS:
        start = f"(CAST(floor(({key} - {lo}) / {width}.0) AS BIGINT) * {width} + {lo})"
        arms_e.append(f"WHEN {key} >= {lo} AND {key} < {bound} THEN {start} + {width - 1}")
        lo = bound
    s = _bucket_start_sql(key)
    e = "CASE " + " ".join(arms_e) + " END"
    pad = "lpad(CAST({x} AS VARCHAR), 8, '0')"
    return pad.format(x=s), pad.format(x=e)


# ---------------------------------------------------------------- P1-P3

def _typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApplyMapping parity (P1–P3 + F1 scalars): select, rename, and
    per-column cast — the Glue `ApplyMapping` shape
    (reference convert_blocks_to_parquet.py:26-46) over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").cast("long").alias("line_no"),
        F.expr(cents("l_extendedprice")).alias("price_cents"),
        F.expr(cents("l_discount")).alias("discount_pct"),
        F.expr(cents("l_tax")).alias("tax_pct"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


_TYPED_PROJECTION_SQL = f"""
SELECT l_orderkey AS order_id,
       CAST(l_linenumber AS BIGINT) AS line_no,
       {cents('l_extendedprice')} AS price_cents,
       {cents('l_discount')} AS discount_pct,
       {cents('l_tax')} AS tax_pct,
       concat_ws('/', l_returnflag, l_linestatus) AS flag,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
"""


# ------------------------------------------------------------ O1/O9/A2

def _partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_to_batches + %08d + per-range grouping (O1/O9/A2,
    reference utils.py:1-5, config.py:32-33): assign each order to its
    volume-balanced range, aggregate per range."""
    o = load_table(spark, sf_dir, "orders")
    start, end = range_cols("o_orderkey", KEY_PLAN)
    return (
        o.select("o_orderkey", "o_totalprice", start, end)
         .groupBy("start_block", "end_block")
         .agg(F.count(F.lit(1)).alias("n_orders"),
              F.expr(f"CAST(sum({cents('o_totalprice')}) AS BIGINT)")
               .alias("total_cents"))
    )


def _partition_plan_sql() -> str:
    s, e = _bucket_sql("o_orderkey")
    return f"""
SELECT {s} AS start_block, {e} AS end_block,
       count(*) AS n_orders,
       CAST(sum({cents('o_totalprice')}) AS BIGINT) AS total_cents
FROM orders GROUP BY 1, 2
"""


def _incremental_todo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 bookmark/manifest parity, oracle-twinned (reference Glue
    job-bookmark semantics, convert_blocks_to_parquet.py:21,67): a
    simulated prior run committed every ODD-indexed plan range; THIS
    run derives the remaining work through the REAL manifest
    machinery — `incremental.commit_ranges` writes the manifest
    parquet, `processed_ranges` reads it back, `filter_unprocessed`
    anti-filters the static plan — and reports per-TODO-range order
    counts + value. The oracle gets the static plan as an inlined
    VALUES fixture (the _DIRTY_NAME discipline: the fixture is part
    of the query, identical in both engines) and recomputes the
    filter declaratively, so the manifest round-trip itself is what
    gets hash-graded."""
    from ..incremental import (commit_ranges, filter_unprocessed,
                               processed_ranges)
    from ..partitioning import pad8
    import os
    mpath = os.path.join(scratch_dir("manifest_"), "manifest.parquet")
    committed = [se for i, se in enumerate(KEY_PLAN) if i % 2 == 1]
    commit_ranges(spark, mpath, "orders", committed)
    todo = filter_unprocessed(
        KEY_PLAN, processed_ranges(spark, mpath, "orders"))
    todo_df = local_df(
        spark, [(pad8(s), pad8(e)) for s, e in todo],
        "start_block string, end_block string")
    return (_partition_plan(spark, sf_dir)
            .join(F.broadcast(todo_df), ["start_block", "end_block"]))


def _incremental_todo_sql() -> str:
    rows = ", ".join(f"({s}, {i})" for i, (s, _e) in enumerate(KEY_PLAN))
    return f"""
WITH plan_fixture(s, idx) AS (VALUES {rows})
SELECT pp.* FROM ({_partition_plan_sql()}) pp
JOIN plan_fixture ON CAST(pp.start_block AS BIGINT) = plan_fixture.s
WHERE plan_fixture.idx % 2 = 0
"""


# ------------------------------------------------------------- P4 + A1

def _extract_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_csv_column + `sort|uniq` (P4/A1, config.py:56): project
    one column, distinct. Catalyst picks a map-side-combining hash agg
    — strictly better than the reference's global sort(1)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(F.col("l_suppkey").alias("supp_key")).distinct()


# ------------------------------------------------------------------ J1

def _semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx_hashes → receipts keyed-fetch parity (J1, config.py:40-42):
    fetch lineitem rows whose order key is in the urgent-order key set
    — a broadcast left-semi join against the deduped keys."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    keys = (o.where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey").distinct())
    return (
        li.join(F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi")
          .select("l_orderkey", F.col("l_linenumber").cast("long").alias("line_no"),
                  F.expr(cents("l_extendedprice")).alias("price_cents"))
    )


_SEMI_JOIN_SQL = f"""
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
       {cents('l_extendedprice')} AS price_cents
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


# -------------------------------------------------------------- J2 / P7

def _anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complement of the keyed fetch (anti join) — customers with
    no urgent order. The reference's pipe drops keys with no fetch
    result implicitly; the anti join is the queryable form."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o.select("o_custkey").distinct(),
               c.c_custkey == F.col("o_custkey"), "left_anti")
         .select("c_custkey", "c_name", F.col("c_mktsegment").alias("segment"))
    )


_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment AS segment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


# -------------------------------------------------------------- J3 / S4

def _keyed_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract → distinct → fetch (J3/S4, config.py:56-58): the
    token-metadata pipe — distinct part keys from high-quantity line
    items drive a broadcast semi-join fetch of part metadata."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    keys = (li.where(F.col("l_quantity") >= 48)
              .select("l_partkey").distinct())
    return (
        p.join(F.broadcast(keys), p.p_partkey == keys.l_partkey, "left_semi")
         .select("p_partkey", "p_brand",
                 F.expr(cents("p_retailprice")).alias("price_cents"))
    )


_KEYED_FETCH_SQL = f"""
SELECT p_partkey, p_brand, {cents('p_retailprice')} AS price_cents
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
"""


# ------------------------------------------------------------- P6 / P7

def _null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key filtering (P7, config.py:46-48): derive a nullable key
    (nullif), drop null rows, group over survivors — the
    contract_address IS NOT NULL gate in the contracts pipe."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("final_status", F.expr("nullif(o_orderstatus, 'O')"))
         .where(F.col("final_status").isNotNull())
         .groupBy("final_status")
         .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_NULL_FILTER_SQL = """
SELECT final_status, count(*) AS n_orders
FROM (SELECT nullif(o_orderstatus, 'O') AS final_status FROM orders)
WHERE final_status IS NOT NULL
GROUP BY 1
"""


# ------------------------------------------------------------- S6 / S7

def _csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with declared schema (S6/S7, config.py:37-58):
    write a table as headered CSV, read it back with an explicit
    StructType (never inferred — SURVEY §2.1), return the rows."""
    n = load_table(spark, sf_dir, "nation")
    out = scratch_dir("spark_graft_csv_")
    n.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ])
    return (spark.read.option("header", True).schema(schema).csv(out)
                 .select("n_nationkey", "n_name", "n_regionkey"))


_CSV_ROUNDTRIP_SQL = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def _jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source with declared schema — the reference
    family's other entity file format (ethereum-etl exports both
    `--output-format csv` and `json`; the repo's S6/S7 covers CSV, this
    covers newline-delimited JSON). Money is converted to exact cents
    BEFORE the write so the roundtrip hash never depends on double
    serialization; the read uses an explicit StructType, never
    inference (SURVEY §2.1)."""
    s = load_table(spark, sf_dir, "supplier")
    out = scratch_dir("spark_graft_jsonl_")
    (s.select("s_suppkey", "s_name", "s_nationkey",
              F.expr("CAST(round(s_acctbal * 100) AS BIGINT)")
               .alias("acctbal_cents"))
      .write.mode("overwrite").json(out))
    schema = T.StructType([
        T.StructField("s_suppkey", T.IntegerType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("acctbal_cents", T.LongType()),
    ])
    return (spark.read.schema(schema).json(out)
                 .select("s_suppkey", "s_name", "s_nationkey",
                         "acctbal_cents"))


_JSONL_ROUNDTRIP_SQL = """
SELECT s_suppkey, s_name, s_nationkey,
       CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM supplier
"""


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source with declared schema — the Hive-ecosystem
    columnar format, completing the format matrix (CSV/JSONL/Parquet/
    ORC) a warehouse-facing export pipeline is asked for. Same
    discipline as the other roundtrips: exact-cents money, explicit
    StructType on read."""
    r = load_table(spark, sf_dir, "region")
    out = scratch_dir("spark_graft_orc_")
    r.select("r_regionkey", "r_name").write.mode("overwrite").orc(out)
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ])
    return spark.read.schema(schema).orc(out).select("r_regionkey", "r_name")


_ORC_ROUNDTRIP_SQL = "SELECT r_regionkey, r_name FROM region"


def _xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source with declared schema — Spark 4's built-in
    StAX XML source (no external jar), the feed/config format B2B
    ingestion still lands, extending the format matrix to
    CSV/JSONL/Parquet/ORC/XML. Same discipline as the other
    roundtrips: money converted to exact cents BEFORE the write so
    the hash never depends on double serialization, explicit
    StructType + rowTag on read, never inference."""
    p = load_table(spark, sf_dir, "part")
    out = scratch_dir("spark_graft_xml_")
    (p.select("p_partkey", "p_brand", "p_size",
              F.expr(cents("p_retailprice")).alias("price_cents"))
      .write.mode("overwrite").format("xml").option("rowTag", "part")
      .save(out))
    schema = T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("price_cents", T.LongType()),
    ])
    # Spark's XML source reads an empty-string element back as NULL;
    # DuckDB's twin keeps the raw string — coalesce the read-back to
    # '' so both engines agree on the degenerate case (current
    # fixtures have no empty p_brand, but the hash must not depend on
    # that staying true across corpus generations).
    return (spark.read.schema(schema).format("xml")
                 .option("rowTag", "part").load(out)
                 .select("p_partkey",
                         F.coalesce("p_brand", F.lit("")).alias("p_brand"),
                         "p_size", "price_cents"))


_XML_ROUNDTRIP_SQL = f"""
SELECT p_partkey, coalesce(p_brand, '') AS p_brand, p_size,
       {cents('p_retailprice')} AS price_cents
FROM part
"""


# ------------------------------------------------------- S10 + S9 + A2

def _parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Parquet sink + pruned read-back (S10,
    convert_blocks_to_parquet.py:63-67): write lineitem Hive-partitioned
    by its %08d range cols, read back with a range predicate (partition
    pruning), aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    start, end = range_cols("l_orderkey", KEY_PLAN)
    out = scratch_dir("spark_graft_pq_") + "/lineitem"
    (li.select("l_orderkey", "l_extendedprice", start, end)
       # co-locate each Hive partition's rows before the write: without
       # this every one of the N shuffle partitions opens a file in
       # every Hive dir (N×P small files — the classic sink mistake)
       .repartition("start_block", "end_block")
       .write.mode("overwrite")
       .option("maxRecordsPerFile", 5_000_000)
       .partitionBy("start_block", "end_block").parquet(out))
    from ..sources.csv_source import read_table_parquet
    back = read_table_parquet(spark, out.rsplit("/", 1)[0], "lineitem")
    return (
        back.where(F.col("start_block") <= "00065535")   # lexicographic == numeric
            .groupBy("start_block", "end_block")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.expr(f"CAST(sum({cents('l_extendedprice')}) AS BIGINT)")
                  .alias("price_cents"))
    )


def _parquet_partitioned_sql() -> str:
    s, e = _bucket_sql("l_orderkey")
    return f"""
SELECT start_block, end_block, count(*) AS n_rows,
       CAST(sum({cents('l_extendedprice')}) AS BIGINT) AS price_cents
FROM (SELECT {s} AS start_block, {e} AS end_block, l_extendedprice FROM lineitem)
WHERE start_block <= '00065535'
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ P6

def _drop_null_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DropNullFields parity (P6, convert_blocks_to_parquet.py:58):
    columns that are entirely NULL are dropped after one aggregate
    pass. The all-null column is synthesized (the corpus has none)."""
    from ..operators.nulls import drop_null_fields
    e = load_table(spark, sf_dir, "events")
    with_dead = (e.select("event_id", "user_id", "event_type")
                   .withColumn("dead_str", F.lit(None).cast("string"))
                   .withColumn("dead_num", F.lit(None).cast("bigint")))
    out = drop_null_fields(with_dead)
    assert set(out.columns) == {"event_id", "user_id", "event_type"}
    return out


_DROP_NULL_FIELDS_SQL = "SELECT event_id, user_id, event_type FROM events"


# ------------------------------------------------------------------ S9

_SQL_SURFACE = """
SELECT n_name AS nation, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/SQL scan surface (S9, convert_blocks_to_parquet.py:20-21
    `from_catalog`): register the corpus in the session catalog and run
    the query as SQL text — the exact same text the oracle runs."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_SURFACE)


# ------------------------------------------------------------------ J4

RANGE_JOIN_N = 49  # 0..65535 plus 48 × 4096-wide ranges → covers sf0.1

def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-aligned range join (J4,
    templates/export_pipeline_template.py:147-153). A naive BETWEEN
    join is a nested loop (O(rows × ranges)); because the ranges ARE
    the partition plan, we derive each row's range start with the
    plan's floor arithmetic and equi-join on it — a broadcast hash
    join with BETWEEN kept as a residual guard. This is the join shape
    that survives 100 TB: the fact side never expands, the dim is
    broadcast, and the key derivation is codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    ranges = local_df(spark, KEY_PLAN[:RANGE_JOIN_N], "lo long, hi long")
    keyed = o.withColumn(
        "lo", F.expr(_bucket_start_sql("o_orderkey")).cast("long"))
    return (
        keyed.join(F.broadcast(ranges), "lo")
             .where(F.col("o_orderkey").between(F.col("lo"), F.col("hi")))
             .groupBy("lo", "hi")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.expr(f"CAST(sum({cents('o_totalprice')}) AS BIGINT)")
                   .alias("total_cents"))
    )


def _range_join_sql() -> str:
    values = ", ".join(f"({lo}, {hi})" for lo, hi in KEY_PLAN[:RANGE_JOIN_N])
    return f"""
SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       count(*) AS n_orders,
       CAST(sum({cents('o_totalprice')}) AS BIGINT) AS total_cents
FROM (VALUES {values}) r(lo, hi)
JOIN orders ON o_orderkey BETWEEN lo AND hi
GROUP BY 1, 2
"""


# ------------------------------------------------------------------ S5

def _hex64(expr: str) -> str:
    """'0x' + 64-hex-char left-zero-padded encoding of a BIGINT —
    identical text in Spark SQL and DuckDB (hex() is uppercase,
    no leading zeros, in both)."""
    return f"concat('0x', lpad(lower(hex({expr})), 64, '0'))"


def _token_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — event-topic-filtered log scan + Transfer decode (reference
    config.py:51-53), exercised end-to-end on a logs-shaped frame
    synthesized IN the query from the driver corpus: 'click' events
    become well-formed ERC-20 Transfer logs, 'error' events get a
    non-Transfer topic0 (exercises the signature filter), everything
    else gets a 1-topic log (exercises the 3-topic arity filter).
    The oracle computes the expected output directly from `events`,
    so the hash check proves decode ∘ encode = identity: topic
    filtering, address extraction (last 20 bytes of a padded topic),
    and the 2×64-bit-limb uint256 value decode."""
    from ..operators.logs import TRANSFER_SIG, token_transfers_from_logs
    not_transfer = TRANSFER_SIG[:-1] + ("0" if TRANSFER_SIG[-1] != "0" else "1")
    e = load_table(spark, sf_dir, "events")
    logs = e.select(
        F.expr("concat('0x', lpad(lower(hex(user_id % 97)), 40, '0'))")
         .alias("address"),
        F.expr(f"""CASE
            WHEN event_type = 'click' THEN array('{TRANSFER_SIG}',
                 {_hex64('user_id')}, {_hex64('user_id * 7 + 3')})
            WHEN event_type = 'error' THEN array('{not_transfer}',
                 {_hex64('user_id')}, {_hex64('user_id * 7 + 3')})
            ELSE array('{TRANSFER_SIG}') END""").alias("topics"),
        F.expr(_hex64(cents("value"))).alias("data"),
        F.expr(_hex64("event_id")).alias("transaction_hash"),
        F.col("event_id").alias("log_index"),
        F.expr("event_id div 100").alias("block_number"),
    )
    out = token_transfers_from_logs(logs)
    # decimal(38,0) → BIGINT for the output contract (the corpus values
    # are cents < 2^63; decimal outputs are banned cross-engine)
    return out.select("token_address", "from_address", "to_address",
                      F.col("value").cast("long").alias("value_wei"),
                      "transaction_hash", "log_index", "block_number")


_TOKEN_TRANSFERS_SQL = f"""
SELECT concat('0x', lpad(lower(hex(user_id % 97)), 40, '0')) AS token_address,
       concat('0x', lpad(lower(hex(user_id)), 40, '0')) AS from_address,
       concat('0x', lpad(lower(hex(user_id * 7 + 3)), 40, '0')) AS to_address,
       {cents('value')} AS value_wei,
       {_hex64('event_id')} AS transaction_hash,
       event_id AS log_index,
       event_id // 100 AS block_number
FROM events WHERE event_type = 'click'
"""


# ------------------------------------------------------------------ P5

def _resolve_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — ResolveChoice parity (Glue's choice-type resolution,
    reference convert_blocks_to_parquet.py:47-57 context): a headered
    CSV round trip in which one column's values conflict with the
    declared INT type for some rows. PERMISSIVE parse surfaces the
    conflicting rows in `_corrupt_record` (the bad field parses NULL,
    the clean fields survive) and the resolution projects a typed
    column + an is_corrupt flag + a defaulted fallback — the
    `cast`/`make_cols` choices of ResolveChoice as one plan."""
    n = load_table(spark, sf_dir, "nation")
    raw = n.select(
        "n_nationkey", "n_name",
        F.expr("CASE WHEN n_nationkey % 7 = 3 "
               "THEN concat('r', CAST(n_regionkey AS STRING)) "
               "ELSE CAST(n_regionkey AS STRING) END").alias("region_raw"))
    out = scratch_dir("spark_graft_choice_")
    raw.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("region_raw", T.IntegerType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    back = (spark.read.option("header", True)
                 .option("mode", "PERMISSIVE")
                 .option("columnNameOfCorruptRecord", "_corrupt_record")
                 .schema(schema).csv(out))
    return back.select(
        F.col("n_nationkey").cast("long").alias("nation_key"),
        "n_name",
        F.col("region_raw").cast("long").alias("region_key"),
        F.col("_corrupt_record").isNotNull().cast("long").alias("is_corrupt"),
        F.coalesce(F.col("region_raw").cast("long"), F.lit(-1))
         .alias("region_resolved"),
    )


_RESOLVE_CHOICE_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS nation_key, n_name,
       TRY_CAST(region_raw AS BIGINT) AS region_key,
       CAST(CASE WHEN TRY_CAST(region_raw AS BIGINT) IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_corrupt,
       coalesce(TRY_CAST(region_raw AS BIGINT), -1) AS region_resolved
FROM (SELECT n_nationkey, n_name,
             CASE WHEN n_nationkey % 7 = 3
                  THEN 'r' || CAST(n_regionkey AS VARCHAR)
                  ELSE CAST(n_regionkey AS VARCHAR) END AS region_raw
      FROM nation)
"""


# ----------------------------------------------------- quality audit

def _quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-promotion data-quality audit (operators/checks.py): the
    gate a pipeline runs before publishing an export — per-row rules
    in ONE scan (conditional sums), key uniqueness, and
    referential-integrity orphan counts, unioned into a
    (rule, n_violations) report. The reference's implicit contracts
    (non-null keys driving dependent exports, config.py:40,46,56)
    made explicit and countable."""
    from ..operators.checks import (audit, check_ref, check_rules,
                                    check_unique)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    return audit([
        check_rules(o, {
            "orders_key_not_null": "o_orderkey IS NOT NULL",
            "orders_price_nonneg": "o_totalprice >= 0",
            "orders_date_in_range":
                "o_orderdate >= CAST('1990-01-01' AS TIMESTAMP_NTZ) AND "
                "o_orderdate < CAST('2010-01-01' AS TIMESTAMP_NTZ)",
            "orders_priority_known":
                "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',"
                "'4-NOT SPECIFIED','5-LOW')",
        }),
        check_unique(o),
        check_ref(li, o, "l_orderkey", "o_orderkey"),
        check_ref(o, c, "o_custkey", "c_custkey"),
    ])


_QUALITY_AUDIT_SQL = """
SELECT 'orders_key_not_null' AS rule,
       CAST(sum(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS n_violations FROM orders
UNION ALL
SELECT 'orders_price_nonneg',
       CAST(sum(CASE WHEN o_totalprice >= 0 THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_date_in_range',
       CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
                      AND o_orderdate < TIMESTAMP '2010-01-01'
                     THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_priority_known',
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH',
                     '3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                     THEN 0 ELSE 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique_o_orderkey',
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
            + sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'ref_l_orderkey', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_orderkey IS NOT NULL
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderkey IS NOT NULL)
UNION ALL
SELECT 'ref_o_custkey', CAST(count(*) AS BIGINT)
FROM orders WHERE o_custkey IS NOT NULL
  AND o_custkey NOT IN (SELECT c_custkey FROM customer
                        WHERE c_custkey IS NOT NULL)
"""


# ---------------------------------------------------- z-order layout

def _zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Morton clustering key (operators/layout.py) as a graded
    projection: exact integer bit-interleave of (l_partkey,
    l_suppkey) — the key `write_zordered` range-partitions on so box
    predicates on either dimension prune files. Pure codegen'd shifts
    and masks, hash-identical in DuckDB."""
    from ..operators.layout import z_value_expr
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_partkey",
                     "l_suppkey",
                     z_value_expr("l_partkey", "l_suppkey")
                     .alias("z_key"))


def _zorder_key_sql() -> str:
    from ..operators.layout import z_value_sql
    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       {z_value_sql()} AS z_key
FROM lineitem
"""


# ------------------------------------------------------ compaction plan

COMPACT_GROUP = 100       # orderkeys per synthetic input file


def _compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the maintenance job behind the
    reference's %08d part layout once incremental exports accumulate):
    a deterministic file inventory — one synthetic file per
    `COMPACT_GROUP` consecutive orderkeys, each row contributing a
    deterministic varied width — bin-packed into `COMPACT_TARGET`-byte
    outputs by
    `operators.layout.compaction_plan`'s order-preserving distributed
    prefix sum. Every column exact integers."""
    from ..operators.layout import compaction_plan
    li = load_table(spark, sf_dir, "lineitem")
    inv = (li.groupBy(F.expr(f"l_orderkey div {COMPACT_GROUP}")
                       .cast("long").alias("file_id"))
             .agg(F.expr("CAST(sum(48 + l_partkey % 64 + l_suppkey % 32) "
                         "AS BIGINT)").alias("bytes")))
    return compaction_plan(inv)


_COMPACTION_PLAN_SQL = f"""
WITH inv AS (
  SELECT l_orderkey // {COMPACT_GROUP} AS f,
         CAST(sum(48 + l_partkey % 64 + l_suppkey % 32) AS BIGINT) AS sz
  FROM lineitem GROUP BY 1
), pre AS (
  SELECT f, sz,
         COALESCE(sum(sz) OVER (ORDER BY f
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM inv
)
SELECT CAST(before // {COMPACT_TARGET} AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(sz) AS BIGINT) AS total_bytes,
       CAST(min(f) AS BIGINT) AS first_file,
       CAST(max(f) AS BIGINT) AS last_file
FROM pre GROUP BY 1
"""


# -------------------------------------------------------- table profile

def _table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profiling of lineitem (exact-typed columns:
    four BIGINTs + two VARCHARs) — `operators/checks.profile_table`;
    the statistics pass behind schema docs and drift alarms."""
    from ..operators.checks import profile_table
    return profile_table(load_table(spark, sf_dir, "lineitem"))


_TABLE_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value FROM lineitem"""
    for c in PROFILE_INT + PROFILE_STR)


# --------------------------------------------------- gap audit

def _gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-completeness audit — the operational check a range-
    partitioned exporter lives by (the reference schedules 131
    activities and a silently-failed one leaves a HOLE in the block
    space): find every gap in the exported key space as (gap_start,
    gap_end, n_missing) runs. Orderkeys stand in for block numbers —
    TPC-H orderkeys are deliberately sparse, so the fixture has real
    gaps to find.

    Shape: distinct keys → lag over the global order → runs where the
    step exceeds 1. The global-order window sorts DISTINCT keys only;
    at 10^10 keys swap in `repartitionByRange` + per-partition lag
    with a boundary fix-up (the equidepth_histogram trade,
    documented). Output bounded by the number of GAPS, not keys.

    The fixture's key space is contiguous, so "failed activities" are
    injected deterministically (every 97th key missing — the
    eth_resolve_choice discipline: the corruption is part of the
    query, identical in both engines)."""
    from pyspark.sql import Window
    o = load_table(spark, sf_dir, "orders")
    keys = (o.where(F.expr("o_orderkey % 97 != 0"))
             .select(F.col("o_orderkey").alias("k")).distinct())
    w = Window.orderBy("k")
    return (keys.withColumn("prev", F.lag("k").over(w))
                .where(F.col("prev").isNotNull()
                       & (F.col("k") - F.col("prev") > 1))
                .select((F.col("prev") + 1).alias("gap_start"),
                        (F.col("k") - 1).alias("gap_end"),
                        (F.col("k") - F.col("prev") - 1)
                         .alias("n_missing")))


_GAP_AUDIT_SQL = """
SELECT prev + 1 AS gap_start, k - 1 AS gap_end,
       k - prev - 1 AS n_missing
FROM (
  SELECT k, lag(k) OVER (ORDER BY k) AS prev
  FROM (SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderkey % 97 != 0)
)
WHERE prev IS NOT NULL AND k - prev > 1
"""


# --------------------------------------------------- reorg resolution

REORG_H = 1000       # synthetic chain tip height


def _reorg_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-reorg resolution (operators/reorg.resolve_reorgs): a
    synthetic block table with an uncle fork at every height ≡ 3
    (mod 7) — hash md5('b'||h) / uncle md5('u'||h), parent
    md5('b'||h−1), deterministic in both engines — resolved by a
    REAL parent-walk from the tip over the last REORG_DEPTH heights.
    The oracle states the known ground truth (main chain canonical,
    uncles orphaned), so the walk is verified against the answer it
    must reconstruct."""
    from ..operators.reorg import resolve_reorgs
    hs = (load_table(spark, sf_dir, "region").limit(1)
          .select(F.explode(F.sequence(F.lit(0), F.lit(REORG_H)))
                   .alias("h")))
    main = hs.select(
        F.col("h").alias("height"),
        F.md5(F.concat(F.lit("b"), F.col("h").cast("string")))
         .alias("hash"),
        F.md5(F.concat(F.lit("b"), (F.col("h") - 1).cast("string")))
         .alias("parent"))
    uncles = (hs.where((F.col("h") % 7 == 3) & (F.col("h") > 0))
                .select(
        F.col("h").alias("height"),
        F.md5(F.concat(F.lit("u"), F.col("h").cast("string")))
         .alias("hash"),
        F.md5(F.concat(F.lit("b"), (F.col("h") - 1).cast("string")))
         .alias("parent")))
    return resolve_reorgs(main.unionAll(uncles))


_REORG_RESOLVE_SQL = f"""
WITH hs AS (SELECT unnest(range(0, {REORG_H + 1})) AS h)
SELECT CAST(h AS BIGINT) AS height,
       md5('b' || CAST(h AS VARCHAR)) AS block_hash,
       CAST(1 AS BIGINT) AS canonical
FROM hs WHERE h > {REORG_H - REORG_DEPTH}
UNION ALL
SELECT CAST(h AS BIGINT), md5('u' || CAST(h AS VARCHAR)),
       CAST(0 AS BIGINT)
FROM hs WHERE h % 7 = 3 AND h > {REORG_H - REORG_DEPTH}
"""


def _schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution graded END-TO-END: write two parquet
    generations of the documents corpus to a scratch table — gen 1
    with the ORIGINAL narrow schema (no n_chars), gen 2 with the
    original columns PLUS a new derived `quality_tier` — read the
    whole table back with mergeSchema, and report per-generation row
    and null counts over the unified schema. Old rows must surface
    NULL for columns added later (and narrow rows NULL for dropped
    ones); the oracle recomputes the same arithmetic from the source
    corpus, so a mis-merged schema or lost column flips the hash.

    This is how a 100 TB lake actually evolves: producers roll
    forward one partition at a time, readers always see the merged
    width. Scale shape: mergeSchema costs one footer read per FILE at
    planning (production pins the merged schema in a catalog after
    one such audit); the audit itself is one scan + a 2-group agg."""
    import os
    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(scratch_dir("spark_graft_schevo_"), "corpus")
    (docs.where("doc_id % 2 = 0")
         .select("doc_id", "text", "lang", "source")
         .write.parquet(os.path.join(root, "gen=1")))
    (docs.where("doc_id % 2 = 1")
         .withColumn("quality_tier",
                     F.expr("n_chars div 1000").cast("long"))
         .write.parquet(os.path.join(root, "gen=2")))
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    # a literal 2-row generation spine: an empty generation (possible
    # only on a degenerate all-one-parity corpus) must still report a
    # zero row, exactly as the oracle's per-branch UNION ALL does
    gens = local_df(spark, [(1,), (2,)], "gen BIGINT")
    stats = (merged.groupBy(F.col("gen").cast("bigint").alias("gen"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  F.expr("CAST(sum(CASE WHEN n_chars IS NULL THEN 1 "
                         "ELSE 0 END) AS BIGINT)").alias("null_n_chars"),
                  F.expr("CAST(sum(CASE WHEN quality_tier IS NULL THEN 1 "
                         "ELSE 0 END) AS BIGINT)")
                   .alias("null_quality_tier")))
    return (gens.join(stats, "gen", "left")
            .select("gen",
                    F.coalesce("n_rows", F.lit(0)).cast("long")
                     .alias("n_rows"),
                    F.coalesce("null_n_chars", F.lit(0)).cast("long")
                     .alias("null_n_chars"),
                    F.coalesce("null_quality_tier", F.lit(0))
                     .cast("long").alias("null_quality_tier"))
            .withColumn("n_merged_cols",
                        F.lit(_SCHEVO_MERGED_COLS).cast("long"))
            .orderBy("gen"))


#: the merged read-back width, single-sourced for plan AND oracle:
#: documents' 5 columns + the added quality_tier + the gen partition
#: column. Pinned (not len(merged.columns)) so a schema drift in a
#: future corpus generation FAILS the hash loudly instead of both
#: sides silently agreeing on an unexpected width.
_SCHEVO_MERGED_COLS = 7

_SCHEMA_EVOLUTION_SQL = f"""
SELECT CAST(1 AS BIGINT) AS gen,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS null_n_chars,
       CAST(count(*) AS BIGINT) AS null_quality_tier,
       CAST({_SCHEVO_MERGED_COLS} AS BIGINT) AS n_merged_cols
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT CAST(2 AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST({_SCHEVO_MERGED_COLS} AS BIGINT)
FROM documents WHERE doc_id % 2 = 1
ORDER BY gen
"""


# ------------------------------------------------- S8 staged CSV sink

def _staged_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — the two-phase staged export graded END-TO-END (reference
    export_all.sh + the S3 staging step; SURVEY §2.1): write customer
    through the `ethereum_staged_csv` Python Data Source (executors
    land parts into `_staging/`, the driver renames them in and
    commits `_MANIFEST.json` LAST), verify the committed state
    locally (manifest totals consistent, directory == manifest file
    list, no staging residue), then READ THE EXPORT BACK through the
    manifest's own file list with a declared schema. The oracle
    selects the same rows straight from the source table, so a lost
    part, a double-committed attempt, or a mis-quoted CSV cell flips
    the hash."""
    import os
    from ..sources.staged_sink import (MANIFEST, StagedCsvDataSource,
                                       read_manifest)

    def _register(sess):
        try:
            sess.dataSource.register(StagedCsvDataSource)
        except Exception as ex:  # registry is context-global (see
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(ex):  # datasource.register)
                raise

    def _write(sess):
        c = load_table(sess, sf_dir, "customer")
        (c.select("c_custkey", "c_name", "c_nationkey",
                  F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
                   .alias("acctbal_cents"))
          .write.format("ethereum_staged_csv").mode("overwrite").save(out))

    out = scratch_dir("spark_graft_staged_")
    _register(spark)
    try:
        _write(spark)
    except Exception as ex:
        # ALREADY_EXISTS above can mean a POISONED inherited registry
        # entry (the documented Spark 4.1 trap: a child created after
        # a parent registration re-registers as ALREADY_EXISTS yet
        # resolves as NOT_FOUND). Mirror streaming._chain_session:
        # rerun on a session that owns a live registration.
        if "DATA_SOURCE_NOT_FOUND" not in str(ex):
            raise
        from ..session import isolated_session
        child = isolated_session(spark)
        _register(child)
        _write(child)
    m = read_manifest(out)
    if m["total_rows"] != sum(f["rows"] for f in m["files"]):
        raise AssertionError(f"manifest total inconsistent: {m}")
    on_disk = {f for f in os.listdir(out) if f.endswith(".csv")}
    listed = {f["file"] for f in m["files"]}
    if on_disk != listed or os.path.isdir(os.path.join(out, "_staging")):
        raise AssertionError(
            f"committed directory != manifest: {on_disk ^ listed}")
    schema = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.LongType()),
        T.StructField("acctbal_cents", T.LongType()),
    ])
    paths = [os.path.join(out, f["file"]) for f in m["files"]]
    return (spark.read.option("header", True).schema(schema).csv(paths)
                 .select("c_custkey", "c_name", "c_nationkey",
                         "acctbal_cents"))


_STAGED_SINK_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM customer
"""


# ------------------------------------- full-precision wei (256-bit)

#: shared synthesis expressions — IDENTICAL text in Spark SQL and
#: DuckDB, so both engines derive the same four 32-bit components
#: (a,b,c,d) of a synthetic uint256 = a·2^192 + b·2^128 + c·2^64 + d
#: from the events corpus. Rows with event_id % 5 = 0 stay SMALL
#: (< 2^32: inside decimal(38,0) range) so the dual-column contract —
#: dec38 for compatible values, limbs always — is exercised both ways.
_WEI_SMALL = "event_id % 5 = 0"
_WEI_A = (f"CASE WHEN {_WEI_SMALL} THEN 0 "
          "ELSE (user_id % 4294967295) + 1 END")
# (e*2654435761) mod 2^32 via split multiplier 40503·2^16 + 31153:
# every intermediate < 2^48, so Spark (non-ANSI, silently wrapping)
# and DuckDB (raises on int64 overflow) compute the SAME value for
# any event_id — the naive product overflows at event_id ≥ ~3.47e9
_WEI_B = (f"CASE WHEN {_WEI_SMALL} THEN 0 "
          "ELSE ((event_id % 4294967296) * 40503 % 65536 * 65536"
          " + (event_id % 4294967296) * 31153) % 4294967296 END")
_WEI_C = (f"CASE WHEN {_WEI_SMALL} THEN 0 "
          "ELSE (user_id * 7 + 3) % 4294967296 END")
_WEI_D = ("greatest(coalesce(CAST(round(value * 100) AS BIGINT), 0), 0)"
          " % 4294967296")
_2_32_LIT = "4294967296"


def _wei_limbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-precision uint256 wei aggregation — SURVEY hard part (a),
    the value range the reference's decimal(38,0) cast documents away
    (convert_blocks_to_parquet.py:38-39). Graded as an
    encode→decode→aggregate roundtrip: synthetic 64-hex uint256
    values (mostly ≥ 2^192, far beyond decimal(38,0)) are built from
    the events corpus, decoded into eight exact 32-bit limbs
    (`operators.logs.hex_uint256_limb32_exprs`) ALONGSIDE the lossy
    `hex_uint_expr` dec38 column, summed per bucket as plain BIGINT
    hash aggs, and carry-normalized back into one canonical 256-bit
    total per bucket (hex string). The oracle recomputes everything
    from the integer components directly, so the hash check proves
    decode ∘ encode = identity at full width, exact aggregation past
    the 38-digit ceiling, and that dec38 saturates to NULL exactly on
    the rows the limbs still carry.

    Scale shape: pure map-side projection (hex → 8 ints) + one
    hash agg with map-side combine — 8 int64 sums instead of one
    unrepresentable 256-bit sum; the carry chain runs on the
    n_buckets-row result. No UDFs, no shuffle beyond the agg."""
    from ..operators.logs import hex_uint256_limb32_exprs, hex_uint_expr
    e = load_table(spark, sf_dir, "events")
    enc = e.selectExpr(
        "user_id",
        f"{_WEI_A} AS a", f"{_WEI_B} AS b", f"{_WEI_C} AS c",
        f"{_WEI_D} AS d")
    hexed = enc.selectExpr(
        "user_id % 8 AS bucket",
        "concat('0x', lpad(lower(hex(a)), 16, '0'),"
        " lpad(lower(hex(b)), 16, '0'), lpad(lower(hex(c)), 16, '0'),"
        " lpad(lower(hex(d)), 16, '0')) AS value_hex")
    limbs = hex_uint256_limb32_exprs()
    decoded = hexed.selectExpr(
        "bucket",
        *[f"{w} AS w{i}" for i, w in enumerate(limbs)],
        f"{hex_uint_expr('value_hex')} AS value_dec38")
    return _carry_limbs(_limb_bucket_agg(decoded))


def _limb_bucket_agg(decoded: DataFrame) -> DataFrame:
    """Per-bucket limb aggregation shared by eth_wei_limbs /
    eth_dual_precision: input (bucket, w0..w7, value_dec38) →
    n_rows, n_saturated (dec38 NULLed, limbs still carrying),
    sum_dec38_small (the dec38-compatible subtotal as exact BIGINT),
    and the eight per-limb BIGINT sums — one hash agg, map-side
    combined."""
    return decoded.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("CAST(sum(CASE WHEN value_dec38 IS NULL THEN 1 ELSE 0 "
               "END) AS BIGINT)").alias("n_saturated"),
        F.expr("CAST(sum(CASE WHEN value_dec38 IS NULL THEN 0 ELSE "
               "CAST(value_dec38 AS BIGINT) END) AS BIGINT)")
         .alias("sum_dec38_small"),
        *[F.expr(f"CAST(sum(w{i}) AS BIGINT)").alias(f"s{i}")
          for i in range(8)])


def _carry_limbs(agg: DataFrame) -> DataFrame:
    """Carry-normalize the 8 per-limb BIGINT sums into canonical
    32-bit limbs (l1..l7 < 2^32; l0 absorbs the final carry) plus the
    0x-hex rendering — a fixed chain of int64 div/mod on the
    n_buckets-row aggregate."""
    cur = agg.selectExpr("*", "CAST(0 AS BIGINT) AS k8")
    for i in range(7, 0, -1):
        cur = cur.selectExpr(
            "*",
            f"(s{i} + k{i + 1}) % {_2_32_LIT} AS l{i}",
            f"(s{i} + k{i + 1}) div {_2_32_LIT} AS k{i}")
    cur = cur.selectExpr("*", "(s0 + k1) AS l0")
    hex_total = ("concat('0x', lower(hex(l0)), " +
                 ", ".join(f"lpad(lower(hex(l{i})), 8, '0')"
                           for i in range(1, 8)) + ") AS wei_total_hex")
    return (cur.selectExpr("bucket", "n_rows", "n_saturated",
                           "sum_dec38_small",
                           *[f"l{i}" for i in range(8)], hex_total)
               .orderBy("bucket"))


def _carries_sql() -> tuple[str, str]:
    """(carry-chain CTEs, hex-total expression) — the DuckDB twin of
    `_carry_limbs`, shared by the wei-limbs / dual-precision
    oracles."""
    carries = "\n".join(
        f"c{i} AS (SELECT *, (s{i} + k{i + 1}) % {_2_32_LIT} AS l{i}, "
        f"(s{i} + k{i + 1}) // {_2_32_LIT} AS k{i} FROM c{i + 1}),"
        for i in range(7, 0, -1))
    hex_total = ("'0x' || lower(hex(l0)) || " +
                 " || ".join(f"lpad(lower(hex(l{i})), 8, '0')"
                             for i in range(1, 8)))
    return carries, hex_total


def _wei_limbs_sql() -> str:
    # the oracle recomputes the limb sums directly from (a,b,c,d):
    # uint256 = a·2^192 + b·2^128 + c·2^64 + d means the 32-bit limb
    # vector is [0, a, 0, b, 0, c, 0, d] (each component < 2^32), and
    # dec38 saturates exactly on the non-small rows (value ≥ 2^192)
    carries, hex_total = _carries_sql()
    return f"""
WITH src AS (
  SELECT user_id % 8 AS bucket,
         CASE WHEN {_WEI_SMALL} THEN 1 ELSE 0 END AS small,
         {_WEI_A} AS a, {_WEI_B} AS b, {_WEI_C} AS c, {_WEI_D} AS d
  FROM events),
c8 AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(1 - small) AS BIGINT) AS n_saturated,
         CAST(sum(CASE WHEN small = 1 THEN d ELSE 0 END) AS BIGINT)
           AS sum_dec38_small,
         CAST(0 AS BIGINT) AS s0, CAST(sum(a) AS BIGINT) AS s1,
         CAST(0 AS BIGINT) AS s2, CAST(sum(b) AS BIGINT) AS s3,
         CAST(0 AS BIGINT) AS s4, CAST(sum(c) AS BIGINT) AS s5,
         CAST(0 AS BIGINT) AS s6, CAST(sum(d) AS BIGINT) AS s7,
         CAST(0 AS BIGINT) AS k8
  FROM src GROUP BY 1),
{carries}
c0 AS (SELECT *, (s0 + k1) AS l0 FROM c1)
SELECT bucket, n_rows, n_saturated, sum_dec38_small,
       l0, l1, l2, l3, l4, l5, l6, l7,
       {hex_total} AS wei_total_hex
FROM c0 ORDER BY bucket
"""


# ------------------------------- dual-precision wei CSV projection

# synthetic DECIMAL-string wei (the form the reference's CSVs carry,
# convert_blocks_to_parquet.py:38-39): small rows stay < 2^32 (inside
# decimal(38,0)); big rows are 39-DIGIT values 10^38 + h·10^18 + l —
# past the dec38 ceiling, yet (by construction) under 2^127 so the
# DuckDB oracle can recompute them independently in HUGEINT. h and l
# are < 10^9, so every Spark-side intermediate is exact int64 and the
# string concat '1' || lpad(h, 20) || lpad(l, 18) IS the decimal
# rendering of that value.
_DP_H = "user_id % 1000000000"
_DP_L = "event_id % 1000000000"
_DP_VALUE_STR = (
    f"CASE WHEN {_WEI_SMALL} THEN CAST({_WEI_D} AS STRING) "
    f"ELSE concat('1', lpad(CAST({_DP_H} AS STRING), 20, '0'),"
    f" lpad(CAST({_DP_L} AS STRING), 18, '0')) END")


@artifact("dualprec_csv", owns=lambda out: (out, ()))
def _dualprec_csv(spark: SparkSession, sf_dir: str) -> str:
    """Scratch CSV landing of the synthesized dual-precision wei
    strings, memoized per (session, corpus) like the llm.py artifact
    frames: the MANY-PART write (defaultParallelism files, so the
    interpreted decode fold downstream never funnels through one
    task) is INPUT SYNTHESIS — the production pipeline's CSVs already
    exist on S3 — so repeated graded/bench runs must not re-pay or
    re-measure it. bench.py charges the first touch to
    `artifact:dualprec_csv`."""
    e = load_table(spark, sf_dir, "events")
    src = e.selectExpr("user_id", f"{_DP_VALUE_STR} AS value_wei")
    out = scratch_dir("spark_graft_dualprec_")
    width = spark.sparkContext.defaultParallelism
    src.repartition(width).write.mode("overwrite") \
       .option("header", True).csv(out)
    return out


def _dual_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-precision wei projection graded END-TO-END (SURVEY hard
    part (a), projection path — `schemas.apply_mapping_dual_precision`;
    the aggregate path is `eth_wei_limbs`): synthesize decimal-string
    wei from events (a fifth small, the rest 39-digit — past
    decimal(38,0)), round-trip through a scratch CSV so the mapping
    runs on the reference's actual input form (untyped CSV strings,
    convert_blocks_to_parquet.py:26-46), project with the dual
    mapping — `value_wei` as the reference-compatible dec38 (39-digit
    rows NULL, the documented compromise) ALONGSIDE
    `value_wei_limbs`, eight exact 32-bit limbs decoded from the
    SOURCE STRING by a runtime fold
    (`operators.logs.dec_uint256_limb32_expr`) — then aggregate both
    columns per bucket and carry-normalize. The oracle recomputes the
    values in HUGEINT straight from the integer components, so the
    hash proves the decimal→limb decode is exact at full width, that
    dec38 NULLs exactly on the 39-digit rows, and that the two
    precisions agree where both exist.

    Scale shape: one Catalyst projection (try_cast + codegen'd
    aggregate-fold, no UDFs) + one hash agg with map-side combine;
    the CSV scratch round-trip exists for input-form fidelity and is
    a straight columnar write/scan."""
    from ..schemas import WEI, ColumnMapping, apply_mapping_dual_precision
    raw = spark.read.option("header", True).csv(_dualprec_csv(spark, sf_dir))
    proj = apply_mapping_dual_precision(
        raw, [ColumnMapping("user_id", "user_id", T.LongType()),
              ColumnMapping("value_wei", "value_wei", WEI)])
    decoded = proj.selectExpr(
        "user_id % 8 AS bucket",
        *[f"element_at(value_wei_limbs, {i + 1}) AS w{i}"
          for i in range(8)],
        "value_wei AS value_dec38")
    return _carry_limbs(_limb_bucket_agg(decoded))


def _dual_precision_sql() -> str:
    # independent recomputation: the oracle never sees the string —
    # it rebuilds v = 10^38 + h·10^18 + l (or the small d) in HUGEINT
    # and splits limbs by HUGEINT div/mod. v < 2^127 by construction,
    # so limbs 0-3 (bits ≥ 128) are identically zero; per-limb sums
    # then carry-normalize exactly like the Spark side.
    carries, hex_total = _carries_sql()
    big = ("CAST('100000000000000000000000000000000000000' AS HUGEINT)"
           f" + CAST({_DP_H} AS HUGEINT) * 1000000000000000000"
           f" + CAST({_DP_L} AS HUGEINT)")
    return f"""
WITH src AS (
  SELECT user_id % 8 AS bucket,
         CASE WHEN {_WEI_SMALL} THEN 1 ELSE 0 END AS small,
         CASE WHEN {_WEI_SMALL} THEN CAST({_WEI_D} AS HUGEINT)
              ELSE {big} END AS v,
         CASE WHEN {_WEI_SMALL} THEN {_WEI_D} ELSE 0 END AS dsm
  FROM events),
c8 AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(1 - small) AS BIGINT) AS n_saturated,
         CAST(sum(dsm) AS BIGINT) AS sum_dec38_small,
         CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
         CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3,
         CAST(sum(CAST((v // 79228162514264337593543950336)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s4,
         CAST(sum(CAST((v // 18446744073709551616)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s5,
         CAST(sum(CAST((v // 4294967296)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s6,
         CAST(sum(CAST(v % 4294967296 AS BIGINT)) AS BIGINT) AS s7,
         CAST(0 AS BIGINT) AS k8
  FROM src GROUP BY 1),
{carries}
c0 AS (SELECT *, (s0 + k1) AS l0 FROM c1)
SELECT bucket, n_rows, n_saturated, sum_dec38_small,
       l0, l1, l2, l3, l4, l5, l6, l7,
       {hex_total} AS wei_total_hex
FROM c0 ORDER BY bucket
"""


# ------------------------- dual-precision through the export DAG (J1)

#: the keyed-fetch predicate: "tx hashes of interest" ≙ users with a
#: large purchase — ~45% of the user domain at every fixture scale
_DE_KEY_PRED = "event_type = 'purchase' AND value > 150"


def _dual_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-precision projection THROUGH the export DAG's J1 edge
    (SURVEY hard part (a) closing the loop `eth_dual_precision`
    opened): the CSV→`apply_mapping_dual_precision` projection feeds
    the tx_hashes→receipts keyed fetch (J1, config.py:40-42 — here
    the key set is users with a large purchase, derived
    extract→distinct like P4/A1), with BOTH precisions — the
    reference-compatible decimal(38,0) AND the exact
    `value_wei_limbs` array — carried through the broadcast semi
    join, then bucket-aggregated and carry-normalized. The graded
    hash proves the limb columns survive a DAG edge intact: the
    oracle recomputes every value in HUGEINT from the integer
    components of the FILTERED subset, so a join that dropped,
    reordered, or re-decoded the limbs would flap it.

    Scale shape: identical to `eth_dual_precision` plus one
    broadcast left-semi join (key side is distinct user ids — tiny
    vs the fact side at any scale); still zero UDFs, one hash agg."""
    from ..schemas import WEI, ColumnMapping, apply_mapping_dual_precision
    raw = spark.read.option("header", True).csv(_dualprec_csv(spark, sf_dir))
    proj = apply_mapping_dual_precision(
        raw, [ColumnMapping("user_id", "user_id", T.LongType()),
              ColumnMapping("value_wei", "value_wei", WEI)])
    keys = (load_table(spark, sf_dir, "events")
            .where(F.expr(_DE_KEY_PRED))
            .select("user_id").distinct())
    fetched = proj.join(F.broadcast(keys), "user_id", "left_semi")
    decoded = fetched.selectExpr(
        "user_id % 8 AS bucket",
        *[f"element_at(value_wei_limbs, {i + 1}) AS w{i}"
          for i in range(8)],
        "value_wei AS value_dec38")
    return _carry_limbs(_limb_bucket_agg(decoded))


def _dual_export_sql() -> str:
    # the dual-precision oracle restricted to the keyed-fetch subset:
    # same HUGEINT recomputation, plus the semi-join predicate
    carries, hex_total = _carries_sql()
    big = ("CAST('100000000000000000000000000000000000000' AS HUGEINT)"
           f" + CAST({_DP_H} AS HUGEINT) * 1000000000000000000"
           f" + CAST({_DP_L} AS HUGEINT)")
    return f"""
WITH src AS (
  SELECT user_id % 8 AS bucket,
         CASE WHEN {_WEI_SMALL} THEN 1 ELSE 0 END AS small,
         CASE WHEN {_WEI_SMALL} THEN CAST({_WEI_D} AS HUGEINT)
              ELSE {big} END AS v,
         CASE WHEN {_WEI_SMALL} THEN {_WEI_D} ELSE 0 END AS dsm
  FROM events
  WHERE user_id IN (SELECT DISTINCT user_id FROM events
                    WHERE {_DE_KEY_PRED})),
c8 AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(1 - small) AS BIGINT) AS n_saturated,
         CAST(sum(dsm) AS BIGINT) AS sum_dec38_small,
         CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS s1,
         CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS s3,
         CAST(sum(CAST((v // 79228162514264337593543950336)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s4,
         CAST(sum(CAST((v // 18446744073709551616)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s5,
         CAST(sum(CAST((v // 4294967296)
                       % 4294967296 AS BIGINT)) AS BIGINT) AS s6,
         CAST(sum(CAST(v % 4294967296 AS BIGINT)) AS BIGINT) AS s7,
         CAST(0 AS BIGINT) AS k8
  FROM src GROUP BY 1),
{carries}
c0 AS (SELECT *, (s0 + k1) AS l0 FROM c1)
SELECT bucket, n_rows, n_saturated, sum_dec38_small,
       l0, l1, l2, l3, l4, l5, l6, l7,
       {hex_total} AS wei_total_hex
FROM c0 ORDER BY bucket
"""


# --------------------------------------------- zone map / data skipping

ZONE_W = 1024                   # zone width over the o_orderkey domain
ZONE_KEY_LO, ZONE_KEY_HI = 3_000, 7_000   # the probe's key-range predicate


def _zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / data-skipping index (SURVEY §4: the reference's ONLY
    scan optimization is pruning `%08d` block-range partitions by
    block number, config.py:3-14 + templates/export_pipeline_template.py:17-33
    — this is that idea as first-class metadata): ONE scan computes
    per-zone statistics (row count, key min/max, date min/max, exact
    total cents), then the pruning decision for a key-range probe is
    a metadata-only CASE over the zone stats — max_key < lo OR
    min_key > hi ⇒ the whole zone is skippable without touching data.

    Scale shape: the stats build is a map-side-combine hash agg whose
    output is |zones| rows (~100k rows of a few ints at 100 TB — a
    driver-browsable index); every subsequent range probe reads the
    INDEX, not the table. This is exactly what Parquet row-group
    min/max and Delta/Iceberg file stats automate — materialized here
    as a queryable table so probes and their savings are auditable."""
    o = load_table(spark, sf_dir, "orders")
    z = (o.withColumn("zone_id",
                      F.expr(f"o_orderkey div {ZONE_W}").cast("long"))
          .groupBy("zone_id")
          .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
               F.min("o_orderkey").cast("long").alias("min_key"),
               F.max("o_orderkey").cast("long").alias("max_key"),
               F.date_format(F.min("o_orderdate"), "yyyy-MM-dd")
                .alias("min_date"),
               F.date_format(F.max("o_orderdate"), "yyyy-MM-dd")
                .alias("max_date"),
               F.sum(F.expr(cents("o_totalprice"))).cast("long")
                .alias("total_cents")))
    return (z.withColumn(
                "pruned",
                F.expr(f"CAST(max_key < {ZONE_KEY_LO} OR "
                       f"min_key > {ZONE_KEY_HI} AS INT)").cast("long"))
             .withColumn("rows_skipped",
                         F.expr("CASE WHEN pruned = 1 THEN n_rows "
                                "ELSE CAST(0 AS BIGINT) END"))
             .select("zone_id", "n_rows", "min_key", "max_key",
                     "min_date", "max_date", "total_cents",
                     "pruned", "rows_skipped")
             .orderBy("zone_id"))


_ZONE_MAP_SQL = f"""
WITH z AS (
  SELECT o_orderkey // {ZONE_W} AS zone_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(o_orderkey) AS BIGINT) AS min_key,
         CAST(max(o_orderkey) AS BIGINT) AS max_key,
         strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
         strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
         CAST(sum({cents('o_totalprice')}) AS BIGINT) AS total_cents
  FROM orders GROUP BY 1)
SELECT zone_id, n_rows, min_key, max_key, min_date, max_date,
       total_cents,
       CAST(max_key < {ZONE_KEY_LO} OR min_key > {ZONE_KEY_HI}
            AS BIGINT) AS pruned,
       CASE WHEN max_key < {ZONE_KEY_LO} OR min_key > {ZONE_KEY_HI}
            THEN n_rows ELSE CAST(0 AS BIGINT) END AS rows_skipped
FROM z ORDER BY zone_id
"""


# --------------------------------------------- bucketed co-located join

BUCKETS = 8

@artifact("bucketed_tables", owns=lambda t: (t[2], t[:2]))
def _bucketed_tables(spark: SparkSession,
                     sf_dir: str) -> tuple[str, str, str]:
    """Bucketed orders/lineitem catalog tables and their scratch base
    path, memoized per (session, corpus) like `_dualprec_csv`: the
    hash-bucketed ingest is the ONE-TIME cost the bucketing design
    exists to amortize, so repeated graded/bench runs must not re-pay
    (or re-measure) it inside the join's timing. bench.py charges the
    first touch to `artifact:bucketed_tables`; the graded row then
    times only the exchange-free join."""
    import hashlib as _hl
    # the tag carries the applicationId too: were it sf_dir-only,
    # reclaiming a stale prior-application entry for the same corpus
    # would DROP the identically-named tables the current
    # application's still-memoized entry points to
    app = spark.sparkContext.applicationId
    tag = _hl.md5(f"{app}|{sf_dir}".encode()).hexdigest()[:8]
    ot, lt = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    base = scratch_dir("spark_graft_bkt_")
    (load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{base}/orders").saveAsTable(ot))
    (load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice",
                "l_discount")
        .write.mode("overwrite").format("parquet")
        .bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{base}/lineitem").saveAsTable(lt))
    return ot, lt, base


def _bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (SURVEY §4: the reference co-locates
    work by writing BOTH sides of every dependent export in the same
    `%08d` block-range layout so downstream joins never reshuffle —
    config.py:37-58's aligned per-range files; Spark-natively that is
    `bucketBy`): both sides are written ONCE hash-bucketed on the
    join key, and every subsequent join of the two tables plans as a
    SortMergeJoin with NO shuffle exchange on either side (pinned by
    tests/test_round8_ops.py with broadcast disabled).

    Scale shape: at 100 TB re-bucketing is paid once at ingest;
    every later join/agg on the bucket key is exchange-free — the
    single biggest shuffle a fact-fact join would otherwise pay.
    The returned frame aggregates the joined result so the graded
    output is small and exact."""
    ot, lt, _ = _bucketed_tables(spark, sf_dir)
    j = (spark.table(ot)
              .join(spark.table(lt),
                    F.col("o_orderkey") == F.col("l_orderkey")))
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                  F.sum(F.expr("CAST(round(l_quantity) AS BIGINT)"))
                   .cast("long").alias("sum_qty"),
                  F.sum(F.expr(
                      f"{cents('l_extendedprice')} * "
                      f"(100 - {cents('l_discount')})"))
                   .cast("long").alias("revenue_e4"))
             .orderBy("o_orderpriority"))


_BUCKETED_JOIN_SQL = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum({cents('l_extendedprice')}
                * (100 - {cents('l_discount')})) AS BIGINT) AS revenue_e4
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1 ORDER BY 1
"""


QUERIES: dict[str, Query] = {
    "eth_staged_sink": Query(_staged_sink, _STAGED_SINK_SQL,
                             "S8 two-phase staged CSV export: "
                             "manifest-committed write, verified "
                             "read-back through the manifest"),
    "eth_wei_limbs": Query(_wei_limbs, _wei_limbs_sql(),
                           "full-precision uint256 wei: 8x32-bit limb "
                           "decode + exact carry-normalized sums past "
                           "the decimal(38,0) ceiling"),
    "eth_dual_precision": Query(_dual_precision, _dual_precision_sql(),
                                "dual-precision wei CSV projection: "
                                "dec38 + exact string-decoded limbs "
                                "side by side, 39-digit rows past "
                                "the dec38 ceiling"),
    "eth_dual_export": Query(_dual_export, _dual_export_sql(),
                             "dual-precision through the export DAG: "
                             "limb columns carried intact across the "
                             "J1 keyed-fetch semi join, HUGEINT-"
                             "verified on the fetched subset"),
    "eth_schema_evolution": Query(_schema_evolution,
                                  _SCHEMA_EVOLUTION_SQL,
                                  "two-generation parquet schema "
                                  "evolution: mergeSchema read-back "
                                  "audit (null surfacing, merged "
                                  "width)"),
    "eth_gap_audit": Query(_gap_audit, _GAP_AUDIT_SQL,
                           "export-completeness audit: gap runs in "
                           "the exported key space"),
    "eth_reorg_resolve": Query(_reorg_resolve, _REORG_RESOLVE_SQL,
                               "chain-reorg resolution: parent-walk "
                               "fork choice over the last 16 heights "
                               "vs ground-truth canonical/orphan"),
    "eth_typed_projection": Query(_typed_projection, _TYPED_PROJECTION_SQL,
                                  "P1-P3 ApplyMapping typed projection"),
    "eth_partition_plan": Query(_partition_plan, _partition_plan_sql(),
                                "O1/O9/A2 volume-balanced %08d ranges"),
    "eth_incremental_todo": Query(_incremental_todo,
                                  _incremental_todo_sql(),
                                  "O6 bookmark manifest: remaining "
                                  "work after a partial prior run "
                                  "(real commit/read/filter path)"),
    "eth_extract_distinct": Query(
        _extract_distinct,
        "SELECT DISTINCT l_suppkey AS supp_key FROM lineitem",
        "P4/A1 extract column + sort|uniq distinct"),
    "eth_semi_join": Query(_semi_join, _SEMI_JOIN_SQL,
                           "J1 keyed-fetch broadcast semi join"),
    "eth_anti_join": Query(_anti_join, _ANTI_JOIN_SQL,
                           "anti join (complement of keyed fetch)"),
    "eth_keyed_fetch": Query(_keyed_fetch, _KEYED_FETCH_SQL,
                             "J3/S4 extract→distinct→fetch pipe"),
    "eth_null_filter": Query(_null_filter, _NULL_FILTER_SQL,
                             "P7 null-key gate"),
    "eth_drop_null_fields": Query(_drop_null_fields, _DROP_NULL_FIELDS_SQL,
                                  "P6 DropNullFields"),
    "eth_csv_roundtrip": Query(_csv_roundtrip, _CSV_ROUNDTRIP_SQL,
                               "S6/S7 CSV sink+source, declared schema"),
    "eth_jsonl_roundtrip": Query(_jsonl_roundtrip, _JSONL_ROUNDTRIP_SQL,
                                 "S6/S7 JSONL sink+source, declared "
                                 "schema (ethereum-etl's json format)"),
    "eth_orc_roundtrip": Query(_orc_roundtrip, _ORC_ROUNDTRIP_SQL,
                               "ORC sink+source, declared schema"),
    "eth_parquet_partitioned": Query(_parquet_partitioned,
                                     _parquet_partitioned_sql(),
                                     "S10 partitioned parquet sink + pruned read"),
    "eth_sql_surface": Query(_sql_surface, _SQL_SURFACE,
                             "S9 catalog SQL surface"),
    "eth_range_join": Query(_range_join, _range_join_sql(),
                            "J4 partition-aligned range join"),
    "eth_token_transfers": Query(_token_transfers, _TOKEN_TRANSFERS_SQL,
                                 "S5 topic-filtered Transfer log decode "
                                 "(encode→decode roundtrip vs direct oracle)"),
    "eth_resolve_choice": Query(_resolve_choice, _RESOLVE_CHOICE_SQL,
                                "P5 ResolveChoice: PERMISSIVE CSV parse + "
                                "typed resolution of conflicting rows"),
    "eth_zorder_key": Query(_zorder_key, _zorder_key_sql(),
                            "Z-order (Morton) clustering key: exact "
                            "bit-interleave for 2-dim data skipping"),
    "eth_quality_audit": Query(_quality_audit, _QUALITY_AUDIT_SQL,
                               "data-quality audit: one-scan rule "
                               "checks + uniqueness + referential "
                               "orphan counts"),
    "eth_compaction_plan": Query(_compaction_plan, _COMPACTION_PLAN_SQL,
                                 "small-file compaction planning: "
                                 "order-preserving bin packing via "
                                 "distributed prefix sum"),
    "eth_table_profile": Query(_table_profile, _TABLE_PROFILE_SQL,
                               "one-scan column profiling: n_nonnull/"
                               "ndv/min/max per column, melted"),
    "eth_zone_map": Query(_zone_map, _ZONE_MAP_SQL,
                          "zone-map data-skipping index: per-zone "
                          "min/max stats + metadata-only pruning "
                          "decision for a key-range probe"),
    "eth_bucketed_join": Query(_bucketed_join, _BUCKETED_JOIN_SQL,
                               "bucketed co-located fact-fact join: "
                               "bucketBy both sides once, every later "
                               "join is exchange-free (plan-pinned)"),
    "eth_xml_roundtrip": Query(_xml_roundtrip, _XML_ROUNDTRIP_SQL,
                               "S6/S7 format matrix, XML cell: "
                               "built-in StAX source, declared "
                               "schema + rowTag, exact-cents money"),
}
