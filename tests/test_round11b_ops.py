"""Round-11 late-addition operator tests: the rate-limit scheduler's
max-plus closed form against the sequential recurrence it replaces
(plus its single-exchange plan), dictionary pseudonymization's
referential-integrity contract (same term -> same surrogate
everywhere, zero shuffle), and the AMS count-sketch join-size
estimator (accuracy on a skewed synthetic join, cell-wise sketch
mergeability, and the empty-side edge where the exact audit is 0).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------ rate-limit scheduler

def test_rate_limit_schedule_matches_recurrence(spark):
    """The closed form sched_i = i*D + runmax(ts_j - j*D) must equal
    the sequential recurrence sched_i = max(ts_i, sched_{i-1} + D)
    on every key of the real fixture."""
    from ethereum_export_pipeline_spark.plans.analytics import (
        RATE_LIMIT_GAP_US, _rate_limit_schedule)
    rows = _rate_limit_schedule(spark, SF).collect()
    assert rows
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    for key, evs in by_key.items():
        evs.sort(key=lambda r: (r.ts_us, r.event_id))
        prev = None
        for r in evs:
            want = r.ts_us if prev is None else max(
                r.ts_us, prev + RATE_LIMIT_GAP_US)
            assert r.sched_us == want, (key, r.event_id)
            assert r.wait_us == r.sched_us - r.ts_us
            prev = r.sched_us


def test_rate_limit_schedule_single_exchange(spark):
    """Both window passes (row_number and the running max) share one
    (key, ts, id) sort: exactly ONE shuffle, on the key."""
    from ethereum_export_pipeline_spark.plans.analytics import (
        _rate_limit_schedule)
    plan = _plan(_rate_limit_schedule(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


# ------------------------------------------ pseudonymization

def test_pseudonymize_referential_integrity(spark):
    """Same dictionary term -> same surrogate in every document (the
    property that distinguishes pseudonymization from pii_scrub's
    fixed-tag redaction); non-dictionary tokens pass through."""
    from ethereum_export_pipeline_spark.operators.text import (
        pseudonymize_terms)
    # PSEUDONYM_TERMS holds "customer" and "supplier"
    df = spark.createDataFrame(
        [(1, "customer met supplier"), (2, "supplier met carol"),
         (3, "no names")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in pseudonymize_terms(df).collect()}
    tok = {t: "<ENT_" + hashlib.md5(t.encode()).hexdigest()[:10] + ">"
           for t in ("customer", "supplier")}
    assert out[1].clean_text == f"{tok['customer']} met {tok['supplier']}"
    assert out[2].clean_text == f"{tok['supplier']} met carol"
    assert out[3].clean_text == "no names"
    assert (out[1].n_hits, out[1].n_entities) == (2, 2)
    assert (out[2].n_hits, out[2].n_entities) == (1, 1)
    assert (out[3].n_hits, out[3].n_entities) == (0, 0)
    # referential integrity across docs: supplier's surrogate is identical
    assert tok["supplier"] in out[1].clean_text
    assert tok["supplier"] in out[2].clean_text


def test_pseudonymize_counts_multiplicity(spark):
    """n_hits counts OCCURRENCES, n_entities distinct terms; empty
    text yields an empty clean_text, not NULL (cross-engine rule)."""
    from ethereum_export_pipeline_spark.operators.text import (
        pseudonymize_terms)
    df = spark.createDataFrame(
        [(1, "supplier supplier supplier customer"), (2, "")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in pseudonymize_terms(df).collect()}
    assert (out[1].n_hits, out[1].n_entities) == (4, 2)
    assert out[2].clean_text == ""


def test_pseudonymize_zero_shuffle(spark):
    """Map-only: no Exchange anywhere in the physical plan."""
    from ethereum_export_pipeline_spark.operators.text import (
        pseudonymize_terms)
    df = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in _plan(pseudonymize_terms(df))


# ------------------------------------------ AMS join-size sketch

def test_ams_join_size_accuracy_on_skew(spark):
    """Deterministic hashes -> a stable estimate; on a skewed join
    (multiplicities 1..40 one side, 1..8 the other) the median-of-5
    count-sketch estimate lands within 10% of the exact inner
    product."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        ams_join_size)
    a = spark.range(1, 201).select(
        F.explode(F.expr("array_repeat(id, CAST(id % 40 + 1 AS INT))"))
         .alias("o_orderkey"))
    b = spark.range(100, 301).select(
        F.explode(F.expr("array_repeat(id, CAST(id % 8 + 1 AS INT))"))
         .alias("l_orderkey"))
    row = ams_join_size(a, b).collect()[0]
    exact = sum((k % 40 + 1) * (k % 8 + 1) for k in range(100, 201))
    assert row.exact_pairs == exact
    assert row.abs_err_ppm <= 100_000, row
    assert row.abs_err_ppm == (abs(row.est_pairs - exact)
                               * 1_000_000 // exact)


def test_ams_sketch_merges_cellwise(spark):
    """Signed counters are linear: sketch(A union B) equals the
    cell-wise sum of sketch(A) and sketch(B) — the mergeability that
    makes the sketch per-slice buildable at 100 TB."""
    from ethereum_export_pipeline_spark.operators.sketch import ams_sketch
    a = spark.range(0, 500).select(F.col("id").alias("k"))
    b = spark.range(300, 900).select(F.col("id").alias("k"))
    whole = {(r.r, r.c): r.s
             for r in ams_sketch(a.union(b)).collect()}
    merged: dict[tuple, int] = {}
    for part in (a, b):
        for r in ams_sketch(part).collect():
            merged[(r.r, r.c)] = merged.get((r.r, r.c), 0) + r.s
    merged = {k: v for k, v in merged.items() if v != 0}
    whole = {k: v for k, v in whole.items() if v != 0}
    assert whole == merged


def test_ams_join_size_empty_side(spark):
    """An empty probe side: exact audit is 0, the report row still
    materializes with abs_err_ppm pinned to 0 (no divide-by-zero on
    either engine)."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        ams_join_size)
    a = spark.range(1, 100).select(F.col("id").alias("o_orderkey"))
    b = a.where(F.lit(False)).withColumnRenamed("o_orderkey", "l_orderkey")
    row = ams_join_size(a, b).collect()[0]
    assert row.exact_pairs == 0
    assert row.abs_err_ppm == 0
