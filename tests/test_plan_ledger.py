"""Plan-shape ledger: every artifact build and every catalog query
still plans to the node counts committed in `plans/shapes.tsv`.

A change that moves a plan regenerates the ledger in the same diff
(`python tools/plan_audit.py > plans/shapes.tsv`), so the moved
counters are part of what review sees. Tier-1 checks the `artifact:*`
rows and the graded window (the first 50 catalog rows, ~1.5 min of
building and planning); `pytest -m ledger` checks every row (~3 min).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402
import plan_audit  # noqa: E402

WINDOW = 50


def _ledger() -> dict[str, list[str]]:
    with open(plan_audit.LEDGER) as fh:
        rows = [line.rstrip("\n").split("\t") for line in fh]
    assert rows[0] == plan_audit.HEADER
    return {r[0]: r for r in rows[1:]}


def _assert_matches_ledger(spark, names: list[str]) -> None:
    want = _ledger()
    got = plan_audit.shape_rows(spark, entry.SMOKE_SF_DIR, names)
    moved = [f"{row[0]}: ledger {want.get(row[0])} != plan {row}"
             for row in got if want.get(row[0]) != row]
    assert not moved, (
        f"{len(moved)} plans moved; if intended, regenerate the ledger "
        "with `python tools/plan_audit.py > plans/shapes.tsv`:\n"
        + "\n".join(moved))


def test_ledger_lists_the_catalog():
    """The artifact builders in registry order, then the catalog."""
    assert list(_ledger()) == plan_audit.row_names()


def test_graded_window_matches_ledger(spark):
    _assert_matches_ledger(spark, [*bench._artifact_builders(),
                                   *list(entry.queries())[:WINDOW]])


@pytest.mark.ledger
def test_catalog_matches_ledger(spark):
    _assert_matches_ledger(spark, list(_ledger()))
