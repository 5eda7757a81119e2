"""Physical-plan-shape assertions for the query catalog: the plans
that make these queries survive a 100× scale-up are pinned here so a
refactor can't silently regress them (filter pushdown, broadcast
joins, exchange reuse, no nested-loop range joins)."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, execute: bool = False) -> str:
    if execute:
        df.collect()  # AQE: final plan (codegen, reuse) appears post-run
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def catalog():
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    return ALL_QUERIES


def test_q1_filter_pushed_to_scan(spark, catalog):
    plan = plan_of(catalog["q1_pricing_summary"].fn(spark, SF_DIR), execute=True)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "*(" in plan  # whole-stage-codegen'd stages


def test_q1_column_pruning(spark, catalog):
    plan = plan_of(catalog["q1_pricing_summary"].fn(spark, SF_DIR))
    # only the 7 referenced columns reach the scan, not all 11
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in readschema and "l_partkey" not in readschema
    assert "l_quantity" in readschema


def test_semi_join_is_broadcast(spark, catalog):
    plan = plan_of(catalog["eth_semi_join"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_star_join_broadcasts_dims(spark, catalog):
    plan = plan_of(catalog["q5_region_revenue"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_range_join_is_hash_not_nested_loop(spark, catalog):
    plan = plan_of(catalog["eth_range_join"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_reuses_shingle_exchange(spark, catalog):
    # the inverted-index self-join must reuse one shingle subtree, not
    # compute the explode+distinct once per branch
    plan = plan_of(catalog["doc_ngram_pairs"].fn(spark, SF_DIR), execute=True)
    assert "ReusedExchange" in plan


def test_no_python_udfs_in_sql_queries(spark, catalog):
    # everything except the declared mapInPandas path stays JVM-side
    for name, q in catalog.items():
        if q.sql is None or name.startswith("stream"):
            continue
        plan = plan_of(q.fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_keyed_fetch_falls_back_to_shuffle_semi_join(spark, catalog):
    # SCALE.md claim: when the key set can't broadcast, the semi join
    # degrades to a shuffle join, not a failure or a nested loop
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from ethereum_export_pipeline_spark.sources.tables import load_table
        import pyspark.sql.functions as F
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").select("o_orderkey").distinct()
        j = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        plan = plan_of(j)
        assert "LeftSemi" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_q7_broadcasts_all_dims(spark, catalog):
    # 5-way join: supplier/customer/nation×2 broadcast; the only
    # shuffle join permitted is lineitem↔orders on orderkey
    plan = plan_of(catalog["q7_volume_shipping"].fn(spark, SF_DIR), execute=True)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q13_outer_join_pushes_priority_filter(spark, catalog):
    # the ON-clause filter on orders must reach the orders scan, and
    # the join must stay LeftOuter (customers with zero orders survive)
    plan = plan_of(catalog["q13_cust_order_dist"].fn(spark, SF_DIR))
    assert "LeftOuter" in plan
    assert any("PushedFilters" in l and "o_orderpriority" in l
               for l in plan.splitlines())


def test_q17_no_cartesian_and_single_small_result(spark, catalog):
    plan = plan_of(catalog["q17_small_qty"].fn(spark, SF_DIR), execute=True)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q22_scalar_is_broadcast_not_collect(spark, catalog):
    # the 1-row global aggregate reaches rows via BroadcastNestedLoopJoin
    # (a 1-row cross join is the ONE place that's the right plan);
    # the recent-orders anti join must be hash, and the o_orderdate
    # filter must reach the orders scan
    plan = plan_of(catalog["q22_idle_balances"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert any("PushedFilters" in l and "o_orderdate" in l
               for l in plan.splitlines())


def test_token_transfers_is_shuffle_free(spark, catalog):
    # S5 decode is filter + projection over the scan: no exchange, no
    # join — the shape that keeps a 100 TB log scan embarrassingly
    # parallel
    plan = plan_of(catalog["eth_token_transfers"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pii_scrub_is_shuffle_free(spark, catalog):
    plan = plan_of(catalog["doc_pii_scrub"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_reuses_bucket_exchange_single_scan(spark, catalog):
    # the two-level prefix sum must read the corpus ONCE: bucket totals
    # ride the same bucket exchange as the per-bucket window
    plan = plan_of(catalog["doc_pack"].fn(spark, SF_DIR), execute=True)
    final = plan.split("Initial Plan")[0]
    assert "ReusedExchange" in final or "ShuffleQueryStage" in final
    assert final.count("FileScan parquet") == 1


def test_tfidf_single_tokenize_scan(spark, catalog):
    # df comes from a window over the tf frame, not a join-back that
    # would re-scan and re-tokenize the corpus; the only other scan is
    # the 1-row n_docs count, pruned to the text column
    plan = plan_of(catalog["doc_tfidf"].fn(spark, SF_DIR), execute=True)
    final = plan.split("Initial Plan")[0]
    assert final.count("regexp_extract_all") <= 1
    assert final.count("FileScan parquet") == 2


def test_q21_anti_self_join_is_hash_not_nested_loop(spark, catalog):
    # inequality residual rides a HASH anti join keyed on l_orderkey —
    # a pure-inequality condition would degrade to BroadcastNestedLoop
    plan = plan_of(catalog["q21_sole_supplier"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_q2_argmin_join_no_nested_loop(spark, catalog):
    plan = plan_of(catalog["q2_min_cost_supplier"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_single_corpus_aggregate(spark, catalog):
    # one broadcast join (bench shingles) + one per-doc aggregate —
    # the corpus side must NOT be scanned/aggregated twice
    plan = plan_of(catalog["doc_decontaminate"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_filters_push_to_scan(spark, catalog):
    # the pure scan-filter-agg: date + quantity predicates reach the
    # parquet scan, the plan stays fully codegen'd, and no join appears
    plan = plan_of(catalog["q6_forecast_revenue"].fn(spark, SF_DIR))
    # the filter list is truncated in toString, so pin its head — the
    # date and quantity predicates must reach the parquet scan
    assert ("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), "
            "GreaterThanOrEqual(l_shipdate" in plan)
    assert "l_quantity" in plan.split("ReadSchema")[0]
    assert "Join" not in plan


def test_q8_broadcasts_every_dimension(spark, catalog):
    # the fact table must reach the aggregate through broadcast joins
    # only — no shuffle of lineitem against a dimension side
    plan = plan_of(catalog["q8_market_share"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q10_top20_is_take_ordered(spark, catalog):
    # the global top-20 must be a TakeOrderedAndProject (per-partition
    # heaps + driver merge), never a full global sort of the output
    plan = plan_of(catalog["q10_returned_items"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q19_or_brackets_single_scan(spark, catalog):
    # OR-of-brackets must evaluate as ONE predicate over one joined
    # stream — not a union of three scans
    plan = plan_of(catalog["q19_bracket_revenue"].fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 2  # lineitem + part, once each
    assert "Union" not in plan


def test_compaction_plan_single_scan_reuses_bucket_exchange(spark, catalog):
    # same discipline as doc_pack: bucket totals ride the per-bucket
    # window's exchange — the inventory is scanned once
    plan = plan_of(catalog["eth_compaction_plan"].fn(spark, SF_DIR),
                   execute=True)
    final = plan.split("Initial Plan")[0]
    assert "ReusedExchange" in final or "ShuffleQueryStage" in final
    assert final.count("FileScan parquet") == 1


def test_token_drift_single_scan_broadcast_totals(spark, catalog):
    # both sides' counts are conditional sums in ONE token aggregate
    # (no per-side scans); the 1-row totals enter as a broadcast
    plan = plan_of(catalog["doc_token_drift"].fn(spark, SF_DIR),
                   execute=True)
    final = plan.split("Initial Plan")[0]
    assert final.count("FileScan parquet") == 1
    assert "BroadcastExchange" in final


def test_bloom_probe_is_inline_literal(spark, catalog):
    # the filter enters the plan as a LITERAL limb array probed
    # map-side: one corpus scan, the exact-verdict broadcast join,
    # and NO join or exchange for the bloom verdict itself (the
    # relational probe shuffled 768 MB at ×100 — SCALE.md)
    plan = plan_of(catalog["doc_bloom_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan          # exact verdict join
    assert plan.count("FileScan parquet") == 1  # corpus scanned once
    # bloom verdict = projection: exactly the joins the exact check
    # needs, none added by the probe
    assert plan.count("Join") == plan.count("BroadcastHashJoin")


def test_kmv_sketch_merged_rides_kept_exchange(spark, catalog):
    # the merged sketch is built FROM the per-group sketch rows: its
    # branch must reuse the kept-rows exchange, not rescan the corpus
    plan = plan_of(catalog["doc_distinct_sketch"].fn(spark, SF_DIR),
                   execute=True)
    final = plan.split("Initial Plan")[0]
    assert "ReusedExchange" in final or "ShuffleQueryStage" in final


def test_fuzzy_match_is_equi_join_on_block_key(spark, catalog):
    # blocking makes candidate generation an equi-join; the Levenshtein
    # residual must NOT degrade the join to a nested loop / cartesian.
    # The catalog entry serves a memoized localCheckpoint (its plan is
    # a Scan ExistingRDD), so pin the shape on the UNDERLYING pair
    # computation — the plan the checkpoint materializes.
    from pyspark.sql import functions as F
    from ethereum_export_pipeline_spark.operators.joins import fuzzy_pairs
    from ethereum_export_pipeline_spark.plans.analytics import (
        _BLOCK, _dirty_parts)
    plan = plan_of(fuzzy_pairs(_dirty_parts(spark, SF_DIR), F.expr(_BLOCK)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan.lower()


def test_semdedup_cells_joins_on_cell_key(spark, catalog):
    plan = plan_of(catalog["emb_semdedup_cells"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_semi_join_and_pushdown(spark, catalog):
    plan = plan_of(catalog["doc_substring_spans"].fn(spark, SF_DIR),
                   execute=True)
    assert "LeftSemi" in plan                     # postings × dup keys
    assert "CartesianProduct" not in plan
    # text never shuffles: the exchange carries only limbs + (id, pos)
    assert "PythonUDF" not in plan


def test_heavy_hitters_sketch_probe_is_broadcast(spark, catalog):
    plan = plan_of(catalog["doc_heavy_hitters"].fn(spark, SF_DIR),
                   execute=True)
    assert "BroadcastHashJoin" in plan            # ≤ d·w-row sketch side


def test_phrase_search_is_map_only(spark, catalog):
    """The zero-shuffle claim, pinned: phrase search is scan →
    project → filter, no Exchange anywhere."""
    plan = plan_of(catalog["doc_phrase_search"].fn(spark, SF_DIR))
    assert "Exchange" not in plan


def test_scene_cuts_no_shuffle(spark, catalog):
    """Video demux + decode + SAD is one Arrow projection chain — no
    Exchange of PAYLOAD bytes. The only allowed exchange is the
    scan-width spread of the pre-payload (id, text) source (a
    RoundRobinPartitioning BELOW the media generator, optimization
    r11); everything above the first MapInPandas must stay
    exchange-free, so heavy media bytes still never shuffle."""
    plan = plan_of(catalog["mm_scene_cuts"].fn(spark, SF_DIR))
    above_generator = plan.split("MapInPandas", 1)[0]
    assert "Exchange" not in above_generator, above_generator
    for line in plan.splitlines():
        if "Exchange" in line and "RoundRobinPartitioning" not in line:
            raise AssertionError(f"non-spread Exchange in plan: {line}")


def test_salted_agg_is_two_phase(spark, catalog):
    """Phase 1 groups (key, salt), phase 2 merges per key — two
    hash-partitioned exchanges, partials map-side combined."""
    plan = plan_of(catalog["q_salted_agg"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") >= 2
    assert "__salt" in plan


def test_global_rank_no_single_partition_corpus_sort(spark, catalog):
    """The distributed ranker must never funnel the CORPUS through the
    naive global window's Exchange SinglePartition. The only allowed
    single-partition subtree is the n_partitions-row histogram (the
    cumulative-offset window): every SinglePartition exchange must sit
    directly above the _pid count aggregate, and the corpus-side rank
    window must partition by _pid over the range exchange."""
    plan = plan_of(catalog["doc_global_rank"].fn(spark, SF_DIR))
    # the range exchange is materialized INSIDE the eager checkpoint
    # (lineage shows as Scan ExistingRDD); _pid's presence in that scan
    # is the checkpointed range partitioning's footprint
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    chunks = plan.split("Exchange SinglePartition")
    for after in chunks[1:]:
        # the subtree fed into the exchange is the tiny _pid histogram
        first_agg = after[:400]
        assert "HashAggregate(keys=[_pid" in first_agg, first_agg
    assert "Window [row_number()" in plan and "windowspecdefinition(_pid" in plan


def test_blocklist_tag_is_map_only(spark, catalog):
    """The content-policy gate must run at scan rate: no Exchange of
    any kind in the plan (one projection + filter over the scan), and
    the tokenize appears ONCE (let-bound, not inlined per phrase)."""
    plan = plan_of(catalog["doc_blocklist_tag"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert plan.count("regexp_extract_all") == 1
    assert "Generate explode" in plan   # the filter-fused form


def test_sketch_percentiles_exchanges_histogram_only(spark, catalog):
    """Percentiles without sorting raw values: the raw cents column
    must collapse to (group, bucket) counts BEFORE any exchange —
    every hash-agg keyed on the bucketed histogram, no sort of the
    corpus, no single-partition funnel."""
    plan = plan_of(catalog["q_sketch_percentiles"].fn(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    # partial (map-side) agg below the first exchange
    first_ex = plan.index("Exchange")
    assert "HashAggregate" in plan[first_ex:]
    below = plan[first_ex:]
    assert "partial_count" in below or "count(1)" in below


def test_vocab_coverage_single_tokenize_and_broadcast_vocab(spark, catalog):
    """ONE tokenize scan serves both the vocabulary and the per-doc
    coverage: the shared (doc, term) agg's exchange is REUSED by the
    vocab side at runtime (AQE), and the V-row vocab re-attaches via
    broadcast."""
    plan = plan_of(catalog["doc_vocab_coverage"].fn(spark, SF_DIR),
                   execute=True)
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_curriculum_rank_is_distributed(spark, catalog):
    """Curriculum ordering must inherit global_rank's shape: the only
    SinglePartition subtree is the _pid histogram; the corpus ranks
    under a _pid-partitioned window over the checkpointed range
    exchange; N attaches by broadcast, not a corpus-wide sort."""
    plan = plan_of(catalog["doc_curriculum"].fn(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    for after in plan.split("Exchange SinglePartition")[1:]:
        first_agg = after[:400]
        assert ("HashAggregate(keys=[_pid" in first_agg
                or "HashAggregate(keys=[], functions=[partial_count"
                in first_agg), first_agg
    assert "windowspecdefinition(_pid" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N attach


def test_cluster_split_no_cartesian(spark, catalog):
    """The leakage split is CC + one corpus-side left equi-join + a
    pure-projection hash bucket — no cartesian product anywhere."""
    plan = plan_of(catalog["doc_cluster_split"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_score_calibration_no_global_sort(spark, catalog):
    """The calibration window partitions by SOURCE — a corpus-wide
    SinglePartition sort must never appear."""
    plan = plan_of(catalog["doc_score_calibration"].fn(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(source" in plan
