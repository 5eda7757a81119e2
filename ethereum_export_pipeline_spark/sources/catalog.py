"""Catalog registration — operator S9 (SURVEY §2.1).

The reference's Glue jobs read tables by catalog name
(`create_dynamic_frame.from_catalog(database="ethereumetl",
table_name="blocks")`, convert_blocks_to_parquet.py:20-21). The Spark
equivalent is a catalog database of external tables over the data
locations, after which every query — including plain `spark.sql` text
— resolves `ethereumetl.blocks` etc.

Two layouts are supported:
  * `register_fixture_tables` — one parquet file/dir per table (the
    chain-fixture layout used in tests).
  * `register_converted_tables` — stage-2 output of
    operators.convert: Hive-partitioned by (start_block, end_block);
    registration declares the partition columns and recovers the
    partitions so range predicates prune at the metastore level.

Both issue plain `CREATE TABLE ... USING parquet LOCATION` DDL, which
works against the in-memory catalog in tests and a real Hive
metastore in production unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..schemas import TABLES, table_schema

DATABASE = "ethereumetl"


def _ddl_columns(name: str) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in table_schema(name))


def ensure_database(spark: SparkSession, database: str = DATABASE) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")


def register_fixture_tables(spark: SparkSession, root: str,
                            database: str = DATABASE) -> None:
    """Register one external parquet table per fixture file."""
    ensure_database(spark, database)
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {database}.{t}")
        spark.sql(
            f"CREATE TABLE {database}.{t} ({_ddl_columns(t)}) "
            f"USING parquet LOCATION '{root.rstrip('/')}/{t}.parquet'")


def register_converted_tables(spark: SparkSession, root: str,
                              database: str = DATABASE,
                              tables: tuple[str, ...] = TABLES) -> None:
    """Register stage-2 Hive-partitioned tables and recover their
    partitions (`start_block=%08d/end_block=%08d` dirs → metastore
    partition entries, so pruning happens before file listing)."""
    ensure_database(spark, database)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {database}.{t}")
        spark.sql(
            f"CREATE TABLE {database}.{t} "
            f"({_ddl_columns(t)}, start_block string, end_block string) "
            f"USING parquet PARTITIONED BY (start_block, end_block) "
            f"LOCATION '{root.rstrip('/')}/{t}'")
        spark.sql(f"MSCK REPAIR TABLE {database}.{t}")


def drop_database(spark: SparkSession, database: str = DATABASE) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {database} CASCADE")
