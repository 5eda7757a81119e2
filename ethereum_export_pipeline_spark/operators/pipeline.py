"""The export DAG (E2, SURVEY §3) as DataFrame lineage.

The reference runs, per block-range partition (config.py:35-59):

    export_blocks_and_transactions ─┐
                                    ├→ extract(hash) → export_receipts_and_logs
                                    │        → filter(contract_address not null)
                                    │        → extract → export_contracts
    export_token_transfers ────────→ extract(token_address) | sort | uniq
                                             → export_tokens

Each arrow in the reference is a process boundary with S3-staged CSV
as the exchange format — its "shuffle" is files on S3, with 5 retries
and cascade-rerun (templates/export_pipeline_template.py:49,136). In
Spark the whole DAG is one lazy lineage: exchanges become in-memory /
shuffle, retries are task re-attempts, cascade-rerun is lineage
recomputation — all free.

Operator parity:
  P4  extract_csv_column      → `select(col)`            (config.py:40,46,56)
  P7  implicit null filter    → `filter(isNotNull)`      (config.py:46-48)
  A1  `sort | uniq`           → `distinct()`             (config.py:56)
  J1–J3 extract→fetch pipes   → broadcast left-semi joins
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..sources.chain import FixtureChain


def extract_column(df: DataFrame, column: str) -> DataFrame:
    """P4 — single-column projection (extract_csv_column parity)."""
    return df.select(F.col(column).alias(column))


def distinct_keys(df: DataFrame) -> DataFrame:
    """A1 — `sort | uniq` of `token_address` as a hash-aggregate
    distinct. Catalyst picks hash-agg over sort-dedup; at scale this
    is a map-side-combining shuffle on the key — strictly better than
    the reference's full global sort(1)."""
    return df.select("token_address").distinct()


@dataclass
class ExportResult:
    blocks: DataFrame
    transactions: DataFrame
    token_transfers: DataFrame
    receipts: DataFrame | None = None
    logs: DataFrame | None = None
    contracts: DataFrame | None = None
    tokens: DataFrame | None = None
    tables: dict[str, DataFrame] = field(default_factory=dict)


def run_export_dag(chain: FixtureChain, start: int, end: int,
                   export_receipts_and_logs: bool = True,
                   export_contracts: bool = True,
                   export_tokens: bool = True) -> ExportResult:
    """Build the full E2 lineage for one block range. Nothing executes
    until a sink action. The feature flags correspond to the
    reference's config.py:18-22 switches (which ship receipts/contracts
    off by default; here they default on so the full DAG is exercised)."""
    blocks, txs = chain.export_blocks_and_transactions(start, end)
    transfers = chain.export_token_transfers(start, end)
    res = ExportResult(blocks=blocks, transactions=txs, token_transfers=transfers)

    if export_receipts_and_logs:
        tx_hashes = extract_column(txs, "hash")                      # P4
        res.receipts, res.logs = chain.export_receipts_and_logs(tx_hashes)  # J1
        if export_contracts:
            addrs = extract_column(
                res.receipts.filter(F.col("contract_address").isNotNull()),  # P7
                "contract_address")
            res.contracts = chain.export_contracts(addrs)            # J2

    if export_tokens:
        token_addrs = distinct_keys(transfers)                       # A1
        res.tokens = chain.export_tokens(token_addrs)                # J3

    res.tables = {k: v for k, v in {
        "blocks": res.blocks, "transactions": res.transactions,
        "token_transfers": res.token_transfers, "receipts": res.receipts,
        "logs": res.logs, "contracts": res.contracts, "tokens": res.tokens,
    }.items() if v is not None}
    return res


def export_range_to_csv(chain: FixtureChain, csv_root: str,
                        start: int, end: int, **flags) -> dict[str, str]:
    """One reference 'activity' (O2): run the export DAG for a range
    and land every produced table as a `%08d`-named partition CSV.
    Returns table → written path."""
    from ..sources.csv_source import write_partition_csv
    res = run_export_dag(chain, start, end, **flags)
    return {name: write_partition_csv(df, csv_root, name, start, end)
            for name, df in res.tables.items()}


def run_full_export(spark, chain_root: str, csv_root: str,
                    plan: list[tuple[int, int]] | None = None,
                    manifest_path: str | None = None,
                    **flags) -> list[tuple[int, int]]:
    """The reference's whole pipeline as one call (E1+E2): the
    volume-balanced range plan (config.py:10-14 by default) drives one
    export DAG per range; with `manifest_path` set, ranges already
    committed are skipped (Data Pipeline ondemand-rerun / bookmark
    parity). Returns the ranges processed THIS run.

    On a cluster the per-range jobs parallelize exactly like the
    reference's 131 activities: each range's lineage is independent,
    so submit them from a thread pool or one-job-per-range scheduler;
    the manifest keeps concurrent schedulers from double-processing."""
    from ..incremental import run_incremental
    from ..partitioning import default_export_plan
    from ..sources.chain import FixtureChain
    chain = FixtureChain(spark, chain_root)
    plan = plan if plan is not None else default_export_plan()

    def process(s: int, e: int) -> None:
        export_range_to_csv(chain, csv_root, s, e, **flags)

    if manifest_path is not None:
        return run_incremental(spark, manifest_path, "export", plan, process)
    for s, e in plan:
        process(s, e)
    return list(plan)
