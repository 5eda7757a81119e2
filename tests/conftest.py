"""Shared fixtures: one session-scoped SparkSession + a tiny Ethereum
fixture chain generated to FIXTURES.md invariants (decimal(38,0) wei
with values > 2^63, ~95%-null contract_address, low-cardinality token
addresses so distinct meaningfully reduces)."""

from __future__ import annotations

import decimal
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="session")
def spark():
    from ethereum_export_pipeline_spark.session import get_spark
    s = get_spark("tests", cpus=4)
    yield s
    s.stop()


def _hex(rng: random.Random, n: int) -> str:
    return "0x" + "".join(rng.choice("0123456789abcdef") for _ in range(n))


N_BLOCKS = 40
TXS_PER_BLOCK = 5
WEI = pa.decimal128(38, 0)


@pytest.fixture(scope="session")
def eth_fixture_dir(tmp_path_factory):
    """Write the 7 Ethereum tables as parquet under one dir."""
    rng = random.Random(42)
    root = tmp_path_factory.mktemp("ethchain")

    block_hashes = [_hex(rng, 64) for _ in range(N_BLOCKS)]
    big = decimal.Decimal(2) ** 64  # forces >int64 wei values

    blocks = {
        "number": list(range(N_BLOCKS)),
        "hash": block_hashes,
        "parent_hash": ["0x" + "0" * 64] + block_hashes[:-1],
        "nonce": [_hex(rng, 16) for _ in range(N_BLOCKS)],
        "sha3_uncles": [_hex(rng, 64) for _ in range(N_BLOCKS)],
        "logs_bloom": [_hex(rng, 32) for _ in range(N_BLOCKS)],
        "transactions_root": [_hex(rng, 64) for _ in range(N_BLOCKS)],
        "state_root": [_hex(rng, 64) for _ in range(N_BLOCKS)],
        "miner": [_hex(rng, 40) for _ in range(N_BLOCKS)],
        "difficulty": [big + i for i in range(N_BLOCKS)],
        "total_difficulty": [big * (i + 1) for i in range(N_BLOCKS)],
        "size": [rng.randrange(500, 50_000) for _ in range(N_BLOCKS)],
        "extra_data": [_hex(rng, 8) for _ in range(N_BLOCKS)],
        "gas_limit": [8_000_000] * N_BLOCKS,
        "gas_used": [rng.randrange(0, 8_000_000) for _ in range(N_BLOCKS)],
        "timestamp": [1_438_269_973 + 15 * i for i in range(N_BLOCKS)],
        "transaction_count": [TXS_PER_BLOCK] * N_BLOCKS,
    }

    n_tx = N_BLOCKS * TXS_PER_BLOCK
    tx_hashes = [_hex(rng, 64) for _ in range(n_tx)]
    tx_block = [i // TXS_PER_BLOCK for i in range(n_tx)]
    transactions = {
        "hash": tx_hashes,
        "nonce": [rng.randrange(0, 1000) for _ in range(n_tx)],
        "block_hash": [block_hashes[b] for b in tx_block],
        "block_number": tx_block,
        "transaction_index": [i % TXS_PER_BLOCK for i in range(n_tx)],
        "from_address": [_hex(rng, 40) for _ in range(n_tx)],
        # ~5% contract creations → null to_address (FIXTURES.md)
        "to_address": [None if rng.random() < 0.05 else _hex(rng, 40)
                       for _ in range(n_tx)],
        "value": [big + rng.randrange(10 ** 6) for _ in range(n_tx)],
        "gas": [21_000] * n_tx,
        "gas_price": [rng.randrange(10 ** 9, 10 ** 11) for _ in range(n_tx)],
        "input": [_hex(rng, rng.choice([0, 8, 136])) for _ in range(n_tx)],
    }

    # receipts: 1:1 with transactions; contract_address ~95% null
    created = [None if rng.random() < 0.95 else _hex(rng, 40) for _ in range(n_tx)]
    receipts = {
        "transaction_hash": tx_hashes,
        "transaction_index": transactions["transaction_index"],
        "block_number": tx_block,
        "cumulative_gas_used": [21_000 * (i % TXS_PER_BLOCK + 1) for i in range(n_tx)],
        "gas_used": [21_000] * n_tx,
        "contract_address": created,
        "status": [rng.choice([0, 1, 1, 1]) for _ in range(n_tx)],
    }

    # ~30% of logs are well-formed ERC-20 Transfer events (topic0 =
    # the public Transfer signature, 2 indexed address topics, a
    # uint256 value in data) so the S5 topic-filtered decode has real
    # rows to find; the rest are arbitrary events.
    from ethereum_export_pipeline_spark.operators.logs import TRANSFER_SIG

    def _one_log(i: int) -> tuple[str, str]:
        if rng.random() < 0.3:
            topics = ",".join([
                TRANSFER_SIG,
                "0x" + "0" * 24 + _hex(rng, 40)[2:],
                "0x" + "0" * 24 + _hex(rng, 40)[2:],
            ])
            data = "0x" + format(rng.randrange(10 ** 24), "064x")
        else:
            topics = ",".join(_hex(rng, 64)
                              for _ in range(rng.randrange(1, 4)))
            data = _hex(rng, 64)
        return topics, data

    log_td = [_one_log(i) for i in range(2 * n_tx)]
    logs = {
        "transaction_hash": [tx_hashes[i % n_tx] for i in range(2 * n_tx)],
        "log_index": [i % 4 for i in range(2 * n_tx)],
        "address": [_hex(rng, 40) for _ in range(2 * n_tx)],
        "data": [d for _, d in log_td],
        "topics": [t for t, _ in log_td],
        "block_number": [tx_block[i % n_tx] for i in range(2 * n_tx)],
    }

    contracts = {
        "address": [a for a in created if a],
        "bytecode": [_hex(rng, 32) for a in created if a],
        "is_erc20": [rng.random() < 0.5 for a in created if a],
        "is_erc721": [rng.random() < 0.2 for a in created if a],
        "block_number": [tx_block[i] for i, a in enumerate(created) if a],
    }

    # token transfers reference a SMALL token set (~1% of transfer count)
    n_tt = 300
    token_set = [_hex(rng, 40) for _ in range(max(3, n_tt // 100))]
    token_transfers = {
        "token_address": [rng.choice(token_set) for _ in range(n_tt)],
        "from_address": [_hex(rng, 40) for _ in range(n_tt)],
        "to_address": [_hex(rng, 40) for _ in range(n_tt)],
        "value": [big + rng.randrange(10 ** 9) for _ in range(n_tt)],
        "transaction_hash": [rng.choice(tx_hashes) for _ in range(n_tt)],
        "log_index": [rng.randrange(0, 10) for _ in range(n_tt)],
        "block_number": [rng.randrange(0, N_BLOCKS) for _ in range(n_tt)],
    }

    tokens = {
        "address": token_set,
        "symbol": [f"TK{i}" for i in range(len(token_set))],
        "name": [f"Token {i}" for i in range(len(token_set))],
        "decimals": [18] * len(token_set),
        "total_supply": [big * 1000 for _ in token_set],
    }

    wei_cols = {"difficulty", "total_difficulty", "value", "total_supply"}
    for name, data in [("blocks", blocks), ("transactions", transactions),
                       ("receipts", receipts), ("logs", logs),
                       ("contracts", contracts),
                       ("token_transfers", token_transfers), ("tokens", tokens)]:
        arrays, fields = [], []
        for col, vals in data.items():
            if col in wei_cols:
                arr = pa.array([decimal.Decimal(v) if v is not None else None
                                for v in vals], type=WEI)
            else:
                arr = pa.array(vals)
                if pa.types.is_integer(arr.type):
                    arr = arr.cast(pa.int64())
            arrays.append(arr)
            fields.append(pa.field(col, arr.type))
        pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                       root / f"{name}.parquet")
    return str(root)


@pytest.fixture
def scratch_eviction(spark, tmp_path):
    """Check the registry's eviction rule on one scratch-owning
    artifact: `check(name, get, fake)` where `get` is the artifact
    getter and `fake(path)` a stand-in value owning `path`. Evicting
    an entry whose application is dead reclaims its path at once;
    evicting one owned by the LIVE application must not (a lazy frame
    built earlier in this session may still scan it) -- it parks,
    survives the live application's sweeps, and is reclaimed once a
    different application touches the registry. Returns the freshly
    built value so the caller can check it works."""
    import os

    from __spark_entry__ import SMOKE_SF_DIR as sf
    from ethereum_export_pipeline_spark import artifacts

    app = spark.sparkContext.applicationId
    saved_orph = list(artifacts._ORPHANS)
    restore = []

    def check(name, get, fake):
        memo = artifacts._MEMOS[name]
        restore.append((memo, dict(memo)))
        dead_dir, live_dir = tmp_path / f"{name}_dead", tmp_path / name
        dead_dir.mkdir()
        live_dir.mkdir()
        memo.clear()
        artifacts._ORPHANS.clear()
        memo[("dead-app", "/c0")] = fake(str(dead_dir))
        memo[(app, "/c1")] = fake(str(live_dir))
        for i in range(2, artifacts.MAX_ENTRIES):
            memo[("dead-app", f"/c{i}")] = fake("/nonexistent")
        get(spark, sf)                          # evicts the dead entry
        assert not dead_dir.exists(), name
        assert artifacts._ORPHANS == []
        memo.pop((app, os.path.abspath(sf)))
        memo[("dead-app", "/filler")] = fake("/nonexistent")
        value = get(spark, sf)                  # evicts the live entry
        assert live_dir.is_dir(), f"{name}: same-app eviction reclaimed"
        orphans = list(artifacts._ORPHANS)
        assert [o[:2] for o in orphans] == [(app, str(live_dir))]
        artifacts._sweep(spark, app)
        assert live_dir.is_dir()
        artifacts._sweep(spark, "a-later-app")
        assert not live_dir.exists()
        assert artifacts._ORPHANS == []
        return value, orphans[0]

    yield check
    for memo, saved in restore:
        memo.clear()
        memo.update(saved)
    artifacts._ORPHANS[:] = saved_orph


@pytest.fixture
def reliable_checkpoint_dir(spark, tmp_path):
    """The SparkContext checkpoint dir set for one test, so
    `execution.checkpoint` truncates lineage reliably; yields the dir.
    The dir is global context state: teardown clears it, or it would
    make every later test's iterative operators reliable too."""
    sc = spark.sparkContext
    d = str(tmp_path / "reliable_ckpt")
    sc.setCheckpointDir(d)
    yield d
    unset = spark._jvm.scala.Option.empty()
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(unset)
