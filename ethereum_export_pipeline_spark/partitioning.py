"""Block-range partition plan: volume-balanced ranges + %08d naming.

Parity targets in the reference:
  * ``split_to_batches``   — /root/reference/ethereumetl/utils.py:1-5
    (inclusive bounds, ragged last batch).
  * the volume-balanced default plan — /root/reference/config.py:3-14:
    blocks 0..999,999 in ONE range, 1M..4M in 100k-wide ranges,
    4M..5M in 10k-wide ranges (1 + 30 + 100 = 131 partitions), chosen
    so each partition holds roughly equal data volume (later blocks
    carry more transactions).
  * zero-padded 8-digit names — config.py:32-33 (`printf "%08d"`) and
    templates/export_pipeline_template.py:18-19 (`str.rjust(8,'0')`):
    lexicographic order == numeric order, so path listing and string
    range-compares are correct.

At 100 TB this plan is the partition-pruning backbone: data lands
Hive-partitioned by (start_block, end_block) and any query with a
block_number predicate prunes to the touched ranges before a single
byte is read.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, functions as F

PAD = 8


def split_to_batches(start: int, end: int, batch_size: int) -> Iterator[tuple[int, int]]:
    """Inclusive [start, end] → fixed-width inclusive (lo, hi) batches;
    the last batch is ragged (semantics of reference utils.py:1-5)."""
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    lo = start
    while lo <= end:
        hi = min(lo + batch_size - 1, end)
        yield (lo, hi)
        lo = hi + 1


def default_export_plan() -> list[tuple[int, int]]:
    """The reference's 131-range volume-balanced plan (config.py:10-14)."""
    plan: list[tuple[int, int]] = [(0, 999_999)]
    plan += list(split_to_batches(1_000_000, 3_999_999, 100_000))
    plan += list(split_to_batches(4_000_000, 4_999_999, 10_000))
    return plan


#: (tier_upper_bound_exclusive, batch_width) of the volume-balanced
#: plan over the o_orderkey domain — the same ragged-tier semantics as
#: the reference's block plan (config.py:3-14, whose tiers would be
#: [(1_000_000, 1_000_000), (4_000_000, 100_000), (5_000_000, 10_000)]):
#: one wide leading range, then fixed-width tails.
KEY_TIERS = [(65_536, 65_536), (2 ** 24, 4_096)]


def volume_balanced_plan(end: int) -> list[tuple[int, int]]:
    """`KEY_TIERS` as inclusive (lo, hi) ranges over [0, end]; past the
    last tier the last width repeats."""
    plan: list[tuple[int, int]] = []
    lo = 0
    for bound, width in KEY_TIERS:
        hi = min(bound, end + 1)
        if lo < hi:
            plan += list(split_to_batches(lo, hi - 1, width))
        lo = hi
        if lo > end:
            break
    if lo <= end:
        plan += list(split_to_batches(lo, end, KEY_TIERS[-1][1]))
    return plan


def pad8(n: int) -> str:
    """%08d zero-padding (config.py:33)."""
    return str(n).rjust(PAD, "0")


def pad8_col(c: Column | str) -> Column:
    """Column-level %08d zero-pad — `lpad` stays in codegen."""
    return F.lpad(F.col(c) if isinstance(c, str) else c, PAD, "0")


def partition_path(table: str, start: int, end: int, root: str) -> str:
    """Hive-style path `{root}/{table}/start_block=%08d/end_block=%08d`
    (templates/export_pipeline_template.py:17-24 layout)."""
    return f"{root.rstrip('/')}/{table}/start_block={pad8(start)}/end_block={pad8(end)}"


def range_cols(number: Column | str, plan: list[tuple[int, int]]) -> tuple[Column, Column]:
    """(start_block, end_block) padded-string columns assigning each row's
    block number to its plan range — pure Catalyst expressions, no UDF.

    Implemented as a `width_bucket`-style piecewise expression over the
    plan tiers rather than a per-range CASE chain: for the 131-range
    default plan a 131-arm CASE would defeat codegen, so we exploit the
    tier structure (constant width within a tier).

    For arbitrary ragged plans falls back to a CASE chain (still
    codegen-able for small plans).
    """
    n = F.col(number) if isinstance(number, str) else number

    def tier_expr(lo: int, width: int) -> tuple[Column, Column]:
        start = (F.floor((n - F.lit(lo)) / F.lit(width)) * width + lo).cast("long")
        return start, (start + width - 1).cast("long")

    # Detect the tier structure: runs of equal width.
    tiers: list[tuple[int, int, int]] = []  # (tier_lo, tier_hi, width)
    for s, e in plan:
        w = e - s + 1
        if tiers and tiers[-1][2] == w and tiers[-1][1] + 1 == s:
            tiers[-1] = (tiers[-1][0], e, w)
        else:
            tiers.append((s, e, w))

    start_expr: Column = F.lit(None).cast("long")
    end_expr: Column = F.lit(None).cast("long")
    for lo, hi, width in reversed(tiers):
        s_col, e_col = tier_expr(lo, width)
        cond = (n >= lo) & (n <= hi)
        start_expr = F.when(cond, s_col).otherwise(start_expr)
        end_expr = F.when(cond, F.least(e_col, F.lit(hi))).otherwise(end_expr)

    return pad8_col(start_expr).alias("start_block"), pad8_col(end_expr).alias("end_block")
