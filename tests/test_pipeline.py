"""E2 export-DAG parity: extract→fetch semi-join pipes (J1–J3),
null-key filter (P7), distinct-before-fetch (A1) — row-count semantics
per SURVEY §2.3/§5 (every tx hash fetched exactly once, etc.)."""

from pyspark.sql import functions as F

from ethereum_export_pipeline_spark.operators.pipeline import (
    distinct_keys, extract_column, run_export_dag,
)
from ethereum_export_pipeline_spark.sources.chain import FixtureChain


def test_export_dag_row_semantics(spark, eth_fixture_dir):
    chain = FixtureChain(spark, eth_fixture_dir)
    res = run_export_dag(chain, 0, 39)

    n_tx = res.transactions.count()
    assert res.blocks.count() == 40
    assert n_tx == 200

    # J1: every transaction hash fetched exactly once
    assert res.receipts.count() == n_tx
    assert res.receipts.select("transaction_hash").distinct().count() == n_tx

    # P7+J2: contracts fetched only for non-null creation addresses
    n_created = res.receipts.filter(F.col("contract_address").isNotNull()).count()
    assert res.contracts.count() == n_created

    # A1+J3: token set is the distinct transfer token addresses
    n_tokens = res.token_transfers.select("token_address").distinct().count()
    assert res.tokens.count() == n_tokens
    assert n_tokens < res.token_transfers.count() / 10  # distinct reduces


def test_range_scan_prunes(spark, eth_fixture_dir):
    chain = FixtureChain(spark, eth_fixture_dir)
    blocks, txs = chain.export_blocks_and_transactions(0, 9)
    assert blocks.count() == 10
    assert txs.count() == 50
    # the range predicate reaches the parquet scan
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "number" in plan


def test_semi_join_is_broadcast(spark, eth_fixture_dir):
    chain = FixtureChain(spark, eth_fixture_dir)
    _, txs = chain.export_blocks_and_transactions(0, 39)
    receipts, _ = chain.export_receipts_and_logs(extract_column(txs, "hash"))
    plan = receipts._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_distinct_keys(spark, eth_fixture_dir):
    chain = FixtureChain(spark, eth_fixture_dir)
    tt = chain.export_token_transfers(0, 39)
    dk = distinct_keys(tt)
    assert dk.columns == ["token_address"]
    assert dk.count() == tt.select("token_address").distinct().count()
