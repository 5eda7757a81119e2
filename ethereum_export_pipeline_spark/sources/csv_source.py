"""Stage-1 CSV source/sink (reference operators S6/S7, SURVEY §2.1).

The reference's export stage emits headered CSVs named
``{table}_{%08d start}_{%08d end}.csv`` (config.py:37,42-43,48,53,58),
one per block-range partition, under Hive-style range directories.
Stage 2 reads them back with a declared schema — never inferred — and
types them (apply_mapping).

Spark-first notes:
  * reading a whole table = one multi-path `spark.read.csv` — the
    union-all across 131 partition files is free (file-source listing),
    and Hive dir names yield `start_block`/`end_block` partition
    columns that prune on range predicates.
  * schema is always passed explicitly (`csv_schema`): inference is a
    full extra pass over 100 TB and nondeterministic under dirty rows.
  * PERMISSIVE mode + `columnNameOfCorruptRecord` is our analogue of
    Glue's ResolveChoice: bad rows surface in `_corrupt_record` instead
    of failing the scan (convert step then try_casts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..partitioning import partition_path
from ..schemas import csv_schema


def read_table_csv(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read every partition CSV of `table` under `root` as one DataFrame.

    `root/{table}/start_block=*/end_block=*/*.csv` — Spark derives the
    two partition columns from the directory names (string-typed, as
    the reference's zero-padded layout intends).
    """
    schema = csv_schema(table)
    reader = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
    )
    df = reader.csv(f"{root.rstrip('/')}/{table}/")
    # Spark's partition-dir inference may have read `start_block=00000000`
    # as the integer 0; re-pad so the zero-padded string layout
    # (lexicographic == numeric, config.py:32-33) survives the round trip.
    from ..partitioning import pad8_col
    for c in ("start_block", "end_block"):
        if c in df.columns:
            df = df.withColumn(c, pad8_col(F.col(c).cast("long")))
    return df


def read_table_parquet(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read a converted (stage-2) table. Spark re-infers the Hive
    partition values (`start_block=00000000`) as int; re-pad them so the
    declared string schema (and lexicographic-==-numeric ordering)
    holds on the query surface too."""
    df = spark.read.parquet(f"{root.rstrip('/')}/{table}")
    from ..partitioning import pad8_col
    for c in ("start_block", "end_block"):
        if c in df.columns:
            df = df.withColumn(c, pad8_col(F.col(c).cast("long")))
    return df


def write_partition_csv(df: DataFrame, root: str, table: str,
                        start: int, end: int) -> str:
    """Write one partition's rows as headered CSV under the reference's
    layout. Returns the directory written.

    (The reference writes exactly one file per range via a single
    worker, `-w 1` at config.py:36; we `coalesce(1)` for layout parity
    in fixtures — large-scale writes should instead leave Spark's file
    count alone and rely on the directory as the unit.)
    """
    path = partition_path(table, start, end, root)
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    return path
