"""Cross-engine deterministic scalar functions.

Every hash-based extension operator (minhash, simhash, LSH,
fingerprinting) must be verifiable against a DuckDB oracle, so hashes
are defined ONLY in terms of functions both engines implement
identically: md5 (identical hex), substring, hex-string→int, integer
modular arithmetic. Each helper here has two forms that MUST stay in
lockstep:

  * a PySpark Column builder (used by the engine), and
  * a SQL-fragment builder (used to assemble the DuckDB oracle).

MERSENNE31 = 2^31 - 1 keeps every product of two hashed values under
2^62, i.e. inside int64 — no overflow on either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime

# ---------------------------------------------------------------- h32

def h32(c: Column) -> Column:
    """32-bit-ish deterministic hash of a string: first 8 hex chars of
    md5 as an integer, reduced mod 2^31-1. JVM-side (md5+conv), no UDF."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
        .cast("long") % MERSENNE31
    )


def h32_sql(expr: str) -> str:
    """DuckDB fragment equivalent of `h32`."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {MERSENNE31})"


# ---------------------------------------------------------------- h60

def h60(c: Column) -> Column:
    """60-bit deterministic hash (first 15 hex chars of md5) — used for
    exact-dedup grouping keys and simhash bit sources."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15))::BIGINT)"


# ------------------------------------------------- universal hashing

def affine_hash(h: Column, a: int, b: int) -> Column:
    """(a*h + b) mod p — one member of a universal hash family over
    already-reduced h32 values. a,b < 2^31 ⇒ products < 2^62: safe."""
    return (h * F.lit(a) + F.lit(b)) % MERSENNE31


def affine_hash_sql(hexpr: str, a: int, b: int) -> str:
    return f"((({hexpr}) * {a} + {b}) % {MERSENNE31})"


def hash_family(k: int, seed: int = 13) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs via a fixed LCG — NOT random at
    runtime (reproducibility across engines and rounds)."""
    pairs = []
    x = seed
    for _ in range(k):
        x = (x * 1_103_515_245 + 12_345) % MERSENNE31
        a = x or 1
        x = (x * 1_103_515_245 + 12_345) % MERSENNE31
        b = x
        pairs.append((a, b))
    return pairs


# ------------------------------------------------------ tokenization
# Tokens: lowercase, split on non-alphanumeric runs, drop empties.
# Expressed with regexp both engines share ([a-z0-9]+ extraction).

TOKEN_RE = "[a-z0-9]+"


def tokens(col_name: str) -> Column:
    """array<string> of lowercase word tokens of a named string column."""
    return F.expr(f"regexp_extract_all(lower({col_name}), '{TOKEN_RE}', 0)")


def tokens_sql() -> str:
    """DuckDB twin of `tokens("text")`."""
    return f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
