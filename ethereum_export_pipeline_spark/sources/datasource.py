"""Registered Python data source for chain ingestion (operator S1's
scale path, SURVEY §2.1).

The reference exports from an Ethereum node over IPC
(config.py:24-29, `export_blocks_and_transactions -s -e -p $IPC_PATH`),
one OS process per block range. The Spark-4-native equivalent is the
Python Data Source API: `spark.dataSource.register(ChainDataSource)`
then

    spark.readStream.format("ethereum_chain")
         .option("start", 0).option("head", 4_999_999)
         .option("batch_size", 100_000).load()

Offsets are block numbers. Each micro-batch's block range is split
into one InputPartition per `batch_size` blocks (the reference's `-w`
parallelism maps to Spark task slots), and each partition's read
fetches its own range — against a real node that is the batched
JSON-RPC loop; here it synthesizes deterministic fixture blocks so the
partitioning/laziness/schema behavior is real and testable offline.
The partition count, ranged fetch, and zero-copy Arrow hand-off are
exactly what a production RPC-backed source needs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

from ..partitioning import split_to_batches
from ..schemas import table_schema


class ChainRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


def _block_hash(number: int) -> str:
    h = hashlib.md5(f"block:{number}".encode()).hexdigest()
    return "0x" + h + h[:32]


def _fake_block(number: int) -> dict:
    """Deterministic synthetic block — the stand-in for one JSON-RPC
    `eth_getBlockByNumber` result (no node in this environment)."""
    h = hashlib.md5(f"block:{number}".encode()).hexdigest()
    return {
        "number": number,
        "hash": _block_hash(number),
        "parent_hash": "0x" + "0" * 64 if number == 0 else _block_hash(number - 1),
        "nonce": "0x" + h[:16],
        "sha3_uncles": None,
        "logs_bloom": None,
        "transactions_root": None,
        "state_root": None,
        "miner": "0x" + h[:40],
        "difficulty": None,
        "total_difficulty": None,
        "size": 500 + (number % 1000),
        "extra_data": None,
        "gas_limit": 8_000_000,
        "gas_used": number % 8_000_000,
        "timestamp": 1_438_269_973 + 15 * number,
        "transaction_count": number % 200,
    }


class ChainDataSource(DataSource):
    """`ethereum_chain` — blocks for a range, one partition per batch."""

    @classmethod
    def name(cls) -> str:
        return "ethereum_chain"

    def schema(self) -> StructType:
        return table_schema("blocks")

    def streamReader(self, schema: StructType) -> "ChainStreamReader":
        return ChainStreamReader(schema, self.options)


class ChainStreamReader(DataSourceStreamReader):
    """Chain-tailing stream: offsets are block numbers, each micro-batch
    covers (last_committed, head] split into range partitions — the
    streaming form of the reference's "rerun the pipeline for new block
    ranges" (ondemand scheduling, SURVEY O6). Against a real node,
    `latestOffset` polls the RPC head; here the head is an option so
    tests are deterministic."""

    def __init__(self, schema: StructType, options: dict):
        self.names = [f.name for f in schema.fields]
        self.options = options
        self.batch_size = int(options.get("batch_size", 100))

    def initialOffset(self) -> dict:
        return {"block": int(self.options.get("start", 0))}

    def latestOffset(self) -> dict:  # exclusive upper bound
        return {"block": int(self.options.get("head", 999)) + 1}

    def partitions(self, start: dict, end: dict) -> list[ChainRange]:
        return [ChainRange(s, e) for s, e in
                split_to_batches(start["block"], end["block"] - 1,
                                 self.batch_size)]

    def read(self, partition: ChainRange):
        for n in range(partition.start, partition.end + 1):
            b = _fake_block(n)
            yield tuple(b.get(c) for c in self.names)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint
