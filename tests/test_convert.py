"""E3 parity: CSV → typed projection → partitioned Parquet round-trip,
golden-schema assertions (decimal(38,0) survival — the regression the
reference itself hit, SURVEY §1.3), Hive layout naming, DropNullFields."""

import decimal
import os

from pyspark.sql import functions as F

from ethereum_export_pipeline_spark.operators.convert import convert_to_parquet
from ethereum_export_pipeline_spark.operators.nulls import drop_null_fields, null_profile
from ethereum_export_pipeline_spark.partitioning import default_export_plan, range_cols
from ethereum_export_pipeline_spark.schemas import table_schema
from ethereum_export_pipeline_spark.sources.csv_source import (
    read_table_csv, write_partition_csv,
)


def _stage_csvs(spark, eth_fixture_dir, tmp_path, table, key="block_number"):
    """Fixture parquet → range-partitioned stage-1 CSVs (what the
    reference's export stage would have produced)."""
    df = spark.read.parquet(os.path.join(eth_fixture_dir, f"{table}.parquet"))
    csv_root = str(tmp_path / "csv")
    for start, end in [(0, 19), (20, 39)]:
        part = df.where(F.col(key).between(start, end))
        write_partition_csv(part, csv_root, table, start, end)
    return csv_root, df


def test_csv_parquet_roundtrip_blocks(spark, eth_fixture_dir, tmp_path):
    csv_root, src = _stage_csvs(spark, eth_fixture_dir, tmp_path, "blocks", key="number")

    raw = read_table_csv(spark, csv_root, "blocks")
    assert raw.count() == src.count()

    out_root = str(tmp_path / "pq")
    convert_to_parquet(spark, csv_root, "blocks", out_root)

    back = spark.read.parquet(f"{out_root}/blocks")
    # golden schema: every declared column lands with its declared type
    want = {f.name: f.dataType for f in table_schema("blocks")}
    got = {f.name: f.dataType for f in back.schema}
    for name, dtype in want.items():
        assert got[name] == dtype, (name, dtype, got[name])
    # decimal(38,0) wei values > 2^63 survive the round trip exactly
    top = back.agg(F.max("total_difficulty").alias("m")).collect()[0]["m"]
    src_top = src.agg(F.max("total_difficulty").alias("m")).collect()[0]["m"]
    assert decimal.Decimal(top) == decimal.Decimal(src_top) > 2 ** 64

    # Hive layout: %08d-padded range dirs
    dirs = sorted(os.listdir(f"{out_root}/blocks"))
    assert "start_block=00000000" in dirs and "start_block=00000020" in dirs


def test_partition_pruning_on_range_layout(spark, eth_fixture_dir, tmp_path):
    csv_root, _ = _stage_csvs(spark, eth_fixture_dir, tmp_path, "blocks", key="number")
    out_root = str(tmp_path / "pq")
    convert_to_parquet(spark, csv_root, "blocks", out_root)
    back = spark.read.parquet(f"{out_root}/blocks")
    pruned = back.where(F.col("start_block") == "00000000")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 20
    # partition filter must appear in the scan (pruning, not post-filter)
    assert "PartitionFilters" in plan


def test_drop_null_fields(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, None)], "id long, dead string, half string")
    prof = null_profile(df)
    assert prof == {"id": 2, "dead": 0, "half": 1}
    assert drop_null_fields(df).columns == ["id", "half"]


def test_range_cols_with_convert(spark, eth_fixture_dir, tmp_path):
    """blocks fixture → derive plan range cols from `number` (the
    volume-balanced bucketing, O1+O9) and write partitioned."""
    df = spark.read.parquet(os.path.join(eth_fixture_dir, "blocks.parquet"))
    s, e = range_cols("number", [(0, 19), (20, 39)])
    out = str(tmp_path / "ranged")
    df.select("number", s, e).write.partitionBy("start_block", "end_block").parquet(out)
    names = sorted(d for d in os.listdir(out) if d.startswith("start_block"))
    assert names == ["start_block=00000000", "start_block=00000020"]


def test_schema_evolution_merge_across_ranges(spark, tmp_path):
    """Chain exports evolve (new fields appear at a fork height); the
    converted table must read ranges written under BOTH schemas:
    mergeSchema unifies, old ranges surface NULL for new fields, and
    filters still push down on the shared columns."""
    import pyspark.sql.functions as F
    root = str(tmp_path / "evolving")
    (spark.range(0, 100)
          .select(F.col("id").alias("number"),
                  F.concat(F.lit("0x"), F.col("id")).alias("hash"))
          .write.parquet(f"{root}/range=0"))
    (spark.range(100, 200)
          .select(F.col("id").alias("number"),
                  F.concat(F.lit("0x"), F.col("id")).alias("hash"),
                  (F.col("id") * 21_000).alias("gas_used"))  # new field
          .write.parquet(f"{root}/range=1"))
    df = spark.read.option("mergeSchema", "true").parquet(root)
    assert set(df.columns) == {"number", "hash", "gas_used", "range"}
    assert df.count() == 200
    # old ranges: NULL for the new field; new ranges: real values
    assert df.where("number < 100 AND gas_used IS NULL").count() == 100
    assert df.where("number >= 100 AND gas_used = number * 21000").count() == 100
    # shared-column filters still prune partitions
    assert df.where("range = 0").count() == 100


def test_delete_ids_rewrites_only_affected_partitions(spark, tmp_path):
    import os, glob
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.retention import delete_ids
    corpus = str(tmp_path / "corpus")
    (spark.range(300)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
                   .alias("source"),
                  F.concat(F.lit("text-"), F.col("id")).alias("text"))
          .write.partitionBy("source").parquet(corpus))

    untouched = sorted(glob.glob(f"{corpus}/source=s2/*.parquet"))
    mtimes_before = {f: os.path.getmtime(f) for f in untouched}

    # victims live only in s0 (ids ≡ 0 mod 3) — s1/s2 must not rewrite
    ids = spark.createDataFrame([(0,), (3,), (99,)], "doc_id long")
    res = delete_ids(spark, corpus, ids)
    assert res == {"partitions_rewritten": ["s0"], "rows_deleted": 3}

    back = spark.read.parquet(corpus)
    assert back.count() == 297
    assert back.where("doc_id IN (0, 3, 99)").count() == 0
    assert back.where("source = 's1'").count() == 100  # intact
    # byte-identical untouched partitions: same files, same mtimes
    assert {f: os.path.getmtime(f)
            for f in sorted(glob.glob(f"{corpus}/source=s2/*.parquet"))} \
        == mtimes_before

    # no victims anywhere → no rewrite at all
    res2 = delete_ids(spark, corpus,
                      spark.createDataFrame([(10_000,)], "doc_id long"))
    assert res2 == {"partitions_rewritten": [], "rows_deleted": 0}


def test_delete_ids_removes_fully_victimized_partition(spark, tmp_path):
    import os
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.retention import delete_ids
    corpus = str(tmp_path / "corpus_full")
    (spark.range(30)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
                   .alias("source"))
          .write.partitionBy("source").parquet(corpus))
    # every doc in s0 (ids ≡ 0 mod 3) is a victim → the whole
    # partition directory must disappear, not survive untouched
    ids = spark.createDataFrame([(i,) for i in range(0, 30, 3)],
                                "doc_id long")
    res = delete_ids(spark, corpus, ids)
    assert res == {"partitions_rewritten": ["s0"], "rows_deleted": 10}
    assert not os.path.isdir(f"{corpus}/source=s0")
    back = spark.read.parquet(corpus)
    assert back.count() == 20
    assert back.where("doc_id % 3 = 0").count() == 0


def test_delete_ids_null_and_escaped_partition_values(spark, tmp_path):
    """Victims in a NULL partition (isin never matches NULL) and in a
    partition whose value Spark percent-escapes on disk (`a:b` →
    `a%3Ab`) must really be deleted, and their directories removed when
    emptied — the compliance operator must not claim success on rows
    that survive."""
    import os
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.retention import delete_ids
    corpus = str(tmp_path / "corpus_null")
    (spark.range(30)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 3 == 0, F.lit(None))
                   .when(F.col("id") % 3 == 1, F.lit("a:b"))
                   .otherwise(F.lit("plain")).alias("source"))
          .write.partitionBy("source").parquet(corpus))
    assert os.path.isdir(f"{corpus}/source=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(f"{corpus}/source=a%3Ab")

    # every NULL-partition doc and every a:b doc is a victim; 'plain'
    # is untouched
    victims = [i for i in range(30) if i % 3 != 2]
    ids = spark.createDataFrame([(i,) for i in victims], "doc_id long")
    res = delete_ids(spark, corpus, ids)
    assert res["rows_deleted"] == 20
    assert res["partitions_rewritten"] == ["a:b", None]  # NULL sorts last
    # both emptied directories are gone — resolved via real escaping
    assert not os.path.isdir(f"{corpus}/source=__HIVE_DEFAULT_PARTITION__")
    assert not os.path.isdir(f"{corpus}/source=a%3Ab")
    back = spark.read.parquet(corpus)
    assert back.count() == 10
    assert back.where("source IS NULL OR source = 'a:b'").count() == 0


def test_snapshot_diff_statuses(spark):
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.retention import (
        snapshot_diff)
    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "new")],
        "doc_id long, text string")
    prev = spark.createDataFrame(
        [(1, "a"), (2, "OLD"), (3, None), (9, "gone")],
        "doc_id long, text string")
    got = {r.doc_id: r.status for r in snapshot_diff(cur, prev).collect()}
    assert got == {1: "unchanged", 2: "changed",
                   3: "unchanged",          # NULL on both sides
                   4: "added", 9: "removed"}


def test_quality_checks_known_violations(spark):
    from ethereum_export_pipeline_spark.operators.checks import (
        audit, check_ref, check_rules, check_unique)
    df = spark.createDataFrame(
        [(1, 10, "ok"), (2, -5, "ok"), (2, 3, None), (None, 7, "ok")],
        "o_orderkey long, v long, s string")
    got = {r.rule: r.n_violations for r in audit([
        check_rules(df, {"v_nonneg": "v >= 0",
                         "s_not_null": "s IS NOT NULL",
                         "k_small": "o_orderkey < 100"}),  # NULL → violation
        check_unique(df),
    ]).collect()}
    assert got == {"v_nonneg": 1, "s_not_null": 1,
                   "k_small": 1,            # unknown is not a pass
                   "unique_o_orderkey": 2}  # one dup pair + one NULL
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    [orph] = check_ref(df, parent, "o_orderkey", "k").collect()
    assert (orph.rule, orph.n_violations) == ("ref_o_orderkey", 0)
    parent2 = spark.createDataFrame([(1,)], "k long")
    assert check_ref(df, parent2, "o_orderkey",
                     "k").collect()[0].n_violations == 2


def test_profile_table_known_stats(spark):
    """One-scan profiling: exact nonnull/ndv/min/max per column,
    NULLs excluded from all four statistics."""
    from ethereum_export_pipeline_spark.operators.checks import (
        PROFILE_INT, PROFILE_STR, profile_table)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (None, "b"), (7, "a")],
        "l_orderkey long, l_returnflag string")
    for c in PROFILE_INT + PROFILE_STR:       # the other lineitem columns
        if c not in df.columns:
            df = df.withColumn(c, F.lit(0 if c in PROFILE_INT else "x"))
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert set(out) == set(PROFILE_INT + PROFILE_STR)
    k, s = out["l_orderkey"], out["l_returnflag"]
    assert (k["n_nonnull"], k["n_distinct"],
            k["min_value"], k["max_value"]) == (4, 3, "1", "7")
    assert (s["n_nonnull"], s["n_distinct"],
            s["min_value"], s["max_value"]) == (4, 2, "a", "b")
