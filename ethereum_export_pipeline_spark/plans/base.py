"""Query-catalog plumbing: the (Spark plan, DuckDB oracle) pair type
and the cross-engine expression helpers every plan module shares.

Cross-engine determinism rules (every output column follows these —
violating any of them makes the driver's value-hash flap):

  * exact integers (BIGINT) for anything summed. Money becomes cents
    via ``CAST(round(x * 100) AS BIGINT)`` — verified to agree
    per-row between Spark and DuckDB over the whole corpus (round() is
    half-away-from-zero in both; the cast then sees an integral
    double). Sums of int64 are exact and order-insensitive.
  * DOUBLE only as the LAST step, produced by one fixed expression
    tree over exact integers (single divisions / products): IEEE 754
    ops are deterministic given identical inputs and identical
    association, so both engines emit bit-identical float64.
  * NO decimal outputs: engines agree on the value but not the
    trailing-zero string form (Spark `103580.80` vs DuckDB
    `103580.8`), which a string-level hash would see as different.
  * strings for labels; timestamps leave as strftime'd strings or
    epoch integers, never raw timestamp columns.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One catalog entry: a Spark plan builder + its DuckDB oracle.

    ``sql`` is None for genuinely non-SQL-expressible ops (the driver
    then records a weaker rows-only check). It may also be a ZERO-ARG
    CALLABLE returning the SQL text — for oracles whose literals come
    from a lazily-trained plan artifact (the IVF/PQ quantizers), so
    importing the catalog never does I/O; resolve via ``sql_text()``."""
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None | Callable[[], str]
    doc: str = ""

    def sql_text(self) -> str | None:
        return self.sql() if callable(self.sql) else self.sql


# ---------------------------------------------------- shared fragments
# These expression TEXTS parse identically in Spark SQL and DuckDB.

def cents(col: str) -> str:
    """Exact money: dollars-double → integer cents (engine-identical)."""
    return f"CAST(round({col} * 100) AS BIGINT)"


def qty() -> str:
    """Integral-valued `l_quantity` → exact BIGINT."""
    return "CAST(round(l_quantity) AS BIGINT)"


def revenue_e4() -> str:
    """price·(1-disc) in units of 10^-4 dollars, exact int64:
    cents · (100 - disc_pct). Sum then divide once for a double."""
    return f"({cents('l_extendedprice')} * (100 - {cents('l_discount')}))"
