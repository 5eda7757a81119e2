"""Event-log decoding: token transfers from raw logs (operator S5).

The reference's `export_token_transfers` (config.py:51-53) is an
event-topic-filtered log scan: keep logs whose topic0 is the ERC-20
Transfer event signature, then decode (token, from, to, value) from
the topics/data fields. Here that is a pure Catalyst pipeline:

    logs → parse_topics → filter(topic0 == TRANSFER_SIG ∧ 3 topics)
         → project(address, topic1→from, topic2→to, data→value)

Scale shape: narrow filter + projection over the logs scan — the
topic0 equality pushes down to parquet, no shuffle, no UDF.

Value decoding: log data is a 0x-prefixed 64-hex-char uint256.
`conv()` is only exact to 64 bits, so the value is assembled from two
exact 64-bit limbs (hi·2^64 + lo) with try_multiply/try_add — exact
for every value < 2^128 (≈3.4e38; ETH total supply is ~2^87), NULL
beyond, which is strictly safer than the reference's decimal(38,0)
cast-from-string (same 38-digit ceiling, but we can't silently wrap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..schemas import parse_topics

#: keccak256("Transfer(address,address,uint256)") — the public ERC-20
#: event signature (also ERC-721 Transfer).
TRANSFER_SIG = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

_2_64 = "18446744073709551616"  # 2^64 as a decimal literal


def topic_address(topic: Column) -> Column:
    """A 32-byte-padded topic ('0x' + 64 hex) → the 20-byte address it
    right-aligns ('0x' + last 40 hex chars)."""
    return F.concat(F.lit("0x"), F.substring(topic, 27, 40))


def _hex64_guard(col: str) -> tuple[str, str]:
    """(padded-64-hex expr, validity guard) for a 0x-hex uint256
    column. The guard checks the STRIPPED input — Spark's lpad
    TRUNCATES over-long strings to the target length (verified:
    lpad('fffff',3,'0') = 'fff'), and conv() quietly returns 0 on
    non-hex garbage, so a guard on the padded form would wave
    through both corruptions with a silently wrong value. NULL
    beats a wrong number."""
    s = f"regexp_replace({col}, '^0x', '')"
    guard = f"(length({s}) <= 64 AND {s} rlike '^[0-9a-fA-F]*$')"
    return f"lpad({s}, 64, '0')", guard


def hex_uint_expr(col: str) -> str:
    """SQL text: 0x-hex uint256 in `col` → decimal(38,0) wei, exact
    below 2^128; NULL at/above 2^128, on any 38-digit overflow
    (try_multiply/try_add), and for malformed data (over-long or
    non-hex — see `_hex64_guard`)."""
    h, guard = _hex64_guard(col)
    hi = f"CAST(conv(substring({h}, 33, 16), 16, 10) AS DECIMAL(38,0))"
    lo = f"CAST(conv(substring({h}, 49, 16), 16, 10) AS DECIMAL(38,0))"
    return (
        f"CASE WHEN NOT {guard} THEN CAST(NULL AS DECIMAL(38,0)) "
        f"WHEN substring({h}, 1, 32) <> repeat('0', 32) THEN CAST(NULL AS DECIMAL(38,0)) "
        f"ELSE CAST(try_add(try_multiply({hi}, CAST({_2_64} AS DECIMAL(38,0))), {lo}) AS DECIMAL(38,0)) END"
    )


def hex_uint256_limb32_exprs() -> list[str]:
    """SQL texts: 0x-hex uint256 in `value_hex` → eight exact 32-bit limbs
    (big-endian: index 0 most significant) as BIGINT.

    This is the FULL-PRECISION path the reference gives up on — its
    documented compromise casts the 78-digit wei string to
    decimal(38,0) (reference convert_blocks_to_parquet.py:38-39,
    SURVEY hard part (a)) and `hex_uint_expr` above faithfully NULLs
    at/above 2^128. Limbs lose NOTHING: any uint256 is exact, each
    limb is < 2^32 so per-limb BIGINT sums stay exact for up to 2^31
    rows, and the sums carry-normalize back into one canonical number
    (see plans/eth.py `eth_wei_limbs`). Aggregation over limbs is a
    plain map-side-combinable hash agg — the whale-wallet wei total
    without bigint UDFs.

    Malformed inputs — longer than 32 bytes or non-hex — decode as
    NULL limbs (`_hex64_guard`: the check runs on the STRIPPED input
    because lpad truncates and conv swallows garbage)."""
    h, guard = _hex64_guard("value_hex")
    return [f"CASE WHEN {guard} THEN "
            f"CAST(conv(substring({h}, {1 + 8 * i}, 8), 16, 10) AS BIGINT) "
            f"ELSE CAST(NULL AS BIGINT) END"
            for i in range(8)]


def dec_uint256_limb32_expr(col: str) -> str:
    """SQL text: DECIMAL-string uint256 in `col` (the form wei takes
    in the reference's CSVs — up to 78 digits) → array<bigint> of
    eight exact 32-bit limbs, big-endian, NULL for non-digit /
    over-long / ≥ 2^256 input.

    Base conversion runs as a RUNTIME fold, not an unrolled plan:
    the padded 80-digit string splits into ten 8-digit chunks and
    `aggregate` folds state' = state·10⁸ + chunk over a 9-slot state
    array [l0..l7, overflow]. Per step every product stays under
    2^59 (limb < 2^32 times 10⁸ < 2^27, plus a carry < 2^27), so the
    whole conversion is exact int64 arithmetic; the carry chain
    inside one step is a fixed depth-8 expression, and chunk count
    never multiplies plan size (a 10-round unrolled projection chain
    was the rejected alternative). The overflow slot accumulates
    bits carried past limb 0 — any uint > 2^256 (possible at 78
    digits) yields NULL, never a silently wrapped value."""
    s = f"CAST({col} AS STRING)"
    ok = f"({s} rlike '^[0-9]{{1,78}}$')"
    pad = f"lpad({s}, 80, '0')"
    chunks = (f"transform(sequence(0, 9), r -> "
              f"CAST(substring({pad}, r * 8 + 1, 8) AS BIGINT))")
    M, B = 100_000_000, 1 << 32
    # carry entering limb j from below (j=8 means the incoming chunk)
    carry = {8: "ch"}
    raw = {}
    for j in range(7, -1, -1):
        raw[j] = f"(element_at(st, {j + 1}) * {M} + {carry[j + 1]})"
        carry[j] = f"({raw[j]} div {B})"
    new_state = ", ".join(
        [f"{raw[j]} % {B}" for j in range(8)]
        + [f"element_at(st, 9) + {carry[0]}"])
    folded = (f"aggregate({chunks}, "
              f"array_repeat(CAST(0 AS BIGINT), 9), "
              f"(st, ch) -> array({new_state}))")
    return (f"CASE WHEN {ok} THEN "
            f"CASE WHEN element_at({folded}, 9) = 0 "
            f"THEN slice({folded}, 1, 8) END END")


def token_transfers_from_logs(logs: DataFrame) -> DataFrame:
    """S5 — decode ERC-20 Transfer events out of raw logs
    (reference config.py:51-53 semantics). Accepts `topics` either as
    the CSV comma-joined string or already as array<string>."""
    df = logs
    if dict(df.dtypes).get("topics") == "string":
        df = parse_topics(df)
    t = F.col("topics")
    return (
        df.where((F.element_at(t, 1) == TRANSFER_SIG) & (F.size(t) == 3))
          .select(
              F.col("address").alias("token_address"),
              topic_address(F.element_at(t, 2)).alias("from_address"),
              topic_address(F.element_at(t, 3)).alias("to_address"),
              F.expr(hex_uint_expr("data")).alias("value"),
              F.col("transaction_hash"),
              F.col("log_index"),
              F.col("block_number"),
          )
    )
