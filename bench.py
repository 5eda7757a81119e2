"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {slowest-10 name: sec}, "families": {prefix: sec}, "sf": ...}.

The driver captures only the tail of stdout (2,000 chars — every
BENCH_r*.json carries exactly tail==2000), so the emitted line is
kept compact: total + per-family subtotals + a `queries` map holding
the previous round's line keys (always — zero phantom drops in the
driver's diff) plus as many of this run's slowest rows as fit the
window. The FULL per-query timing map is written to BENCH_FULL.json
next to this file.

Each query is timed as plan-build + full execution (noop sink: full
execution of every column, zero driver transfer). The headline set
covers every operator family: scan/agg, joins, windows, events,
dedup, similarity, multimodal, streaming.

Load gate (round-11): the host shares its kernel with co-tenants, and
round 10 proved elevated /proc/loadavg — not the engine — drove every
apparent tail regression. Before creating the session, the harness
polls ambient load1 for up to $SPARK_GRAFT_LOAD_WAIT seconds (300) to
drop under $SPARK_GRAFT_LOAD_GATE (2.0); if it never does, the run
proceeds (the driver needs its one JSON line) but both the line and
the sidecar carry ``"discard": true`` — the mechanical form of
CLAUDE.md's "DISCARD elevated-load runs" rule.

I/O gate (round-11, second incident): a later same-round rerun at
ambient load1 0.07 came back 1.5-1.6× SLOWER across the board — the
volume's sustained write path was throttled to 4 MB/s (measured;
reads and CPU canaries unaffected), so every shuffle/sink/checkpoint
write crawled while load1 and both calibrations looked healthy. The
throttle is a token bucket (single bursts of 64-256 MB measured
300+ MB/s on a refilled bucket; steady state 4-7 MB/s), so the gate
probe measures STEADY STATE: min fsync batch rate over ~512 MB (see
`_io_write_mbps`), required ≥ $SPARK_GRAFT_IO_GATE MB/s (50) inside
the same wait loop; `io_write_mbps_begin`/`_end` land in both
outputs so a mid-run throttle is attributable afterwards.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_window_topn",
    "q_window_running",
    "q_rollup",
    "q_grouping_sets",
    "q_percentiles",
    "q_asof_join",
    "q7_volume_shipping",
    "q13_cust_order_dist",
    "q17_small_qty",
    "q18_large_orders",
    "q2_min_cost_supplier",
    "q21_sole_supplier",
    "q6_forecast_revenue",
    "q8_market_share",
    "q10_returned_items",
    "q19_bracket_revenue",
    "q5_local_supplier",
    "q9_product_profit",
    "q16_supplier_counts",
    "q_events_tumbling",
    "q_events_sessions",
    "q_events_json",
    "q_events_funnel",
    "q_events_retention",
    "emb_label_centroids",
    "emb_knn_graph",
    "emb_kmeans_assign",
    "emb_pca_scores",
    "emb_mmr_rerank",
    "doc_collocations",
    "doc_mixture_weights",
    "doc_rake_keywords",
    "doc_trigram_fluency",
    "q_skew_profile",
    "q_mad_outliers",
    "q_bitmap_coactivity",
    "stream_ooo_census",
    "q_hierarchy_rollup",
    "q_seasonality",
    "q_cohort_ltv",
    "emb_ivf_recall",
    "emb_pq_recall",
    "stream_pattern_match",
    "doc_script_census",
    "q_abtest_readout",
    "eth_incremental_todo",
    "eth_typed_projection",
    "eth_partition_plan",
    "eth_semi_join",
    "eth_parquet_partitioned",
    "eth_range_join",
    "eth_token_transfers",
    "eth_zorder_key",
    "eth_quality_audit",
    "eth_compaction_plan",
    "eth_table_profile",
    "eth_reorg_resolve",
    "eth_gap_audit",
    "eth_schema_evolution",
    "q_scd2_versions",
    "q_scd2_asof",
    "q_interval_overlap",
    "doc_dedup_exact",
    "doc_ngram_pairs",
    "doc_minhash_pairs",
    "doc_minhash_quality",
    "doc_simhash_pairs",
    "doc_dedup_clusters",
    "doc_dedup_canonical",
    "doc_language_id",
    "doc_quality",
    "doc_fingerprint",
    "doc_filter_funnel",
    "doc_pii_scrub",
    "doc_repetition",
    "doc_chunk",
    "doc_tfidf",
    "doc_bm25",
    "doc_pack",
    "doc_mix_sample",
    "doc_training_manifest",
    "doc_decontaminate",
    "doc_bloom_decontaminate",
    "doc_delete_ids",
    "doc_snapshot_diff",
    "doc_apply_changes",
    "doc_token_drift",
    "doc_trade_pagerank",
    "doc_link_authority",
    "doc_distinct_sketch",
    "doc_source_overlap",
    "doc_dup_triangles",
    "doc_dup_kcore",
    "doc_dup_lpa",
    "doc_containment",
    "doc_novelty",
    "doc_substring_spans",
    "doc_heavy_hitters",
    "doc_bigram_fluency",
    "doc_weighted_sample",
    "doc_reservoir_sample",
    "doc_length_histogram",
    "doc_length_quantile_bins",
    "doc_length_outliers",
    "q_fuzzy_match",
    "emb_semdedup_cells",
    "stream_session_window",
    "stream_cusum_alerts",
    "stream_interval_join_outer",
    "doc_bpe_merges",
    "doc_bpe_encode",
    "emb_ann_recall",
    "q_activity_streaks",
    "q_rfm_segments",
    "q_trimmed_mean",
    "mm_phash_dedup",
    "mm_audio_dedup",
    "doc_rarity",
    "doc_sentence_dedup",
    "doc_length_stats",
    "emb_bruteforce_topk",
    "emb_lsh_topk",
    "emb_ivf_topk",
    "emb_ivfpq_topk",
    "emb_jl_rerank",
    "emb_neardup_pairs",
    "emb_neardup_multiband",
    "emb_semantic_dedup",
    "mm_binary_stats",
    "mm_extract_features",
    "mm_resize",
    "mm_frame_sample",
    "stream_tumbling_counts",
    "stream_sessions",
    "stream_dedup",
    "stream_hopping_counts",
    "stream_interval_join",
    "stream_chain_scan",
    "stream_static_enrich",
    # round-5 additions
    "doc_classifier_score",
    "doc_dsir_weights",
    "emb_knn_linkpred",
    "mm_image_neardup",
    "stream_decontaminate",
    "stream_crawl_gate",
    "q_entity_resolution",
    "q_basket_pairs",
    "q_k_anonymity",
    "q_trend_slopes",
    "q_decayed_activity",
    "doc_incremental_neardup",
    "q_asof_skew_bucketed",
    "doc_winnow_census",
    "mm_audio_resample",
    "doc_hll_distinct",
    "doc_phrase_search",
    "doc_hybrid_rrf",
    "doc_textrank",
    "q_attribution",
    "emb_density_sample",
    "mm_scene_cuts",
    "q_salted_agg",
    "stream_trending",
    "q_rolling_distinct",
    "q_gap_fill",
    "doc_dup_source_matrix",
    "emb_cell_outliers",
    "doc_global_rank",
    "q_l_diversity",
    "doc_blocklist_tag",
    "emb_hard_negatives",
    "emb_semantic_decontaminate",
    "emb_cluster_labels",
    "doc_vocab_coverage",
    "q_sketch_percentiles",
    "q_t_closeness",
    "doc_cluster_split",
    "doc_curriculum",
    "emb_snapshot_drift",
    "stream_histogram",
    "doc_gate_agreement",
    "doc_score_calibration",
    "doc_fertility",
    "mm_audio_vad",
    "q_props_keys",
    "q_event_transitions",
    # round-7 additions
    "eth_staged_sink",
    "eth_wei_limbs",
    "doc_heaps_law",
    "doc_url_dedup",
    "emb_range_search",
    "mm_video_neardup",
    "q_benford_audit",
    "emb_ivfpq_packed",
    "doc_html_strip",
    "mm_scene_summary",
    "doc_url_text_agreement",
    "emb_mrl_recall",
    "mm_patch_stats",
    "doc_dedup_savings",
    # round-8 additions
    "eth_dual_precision",
    "mm_png_stats",
    "emb_sq8_recall",
    "emb_hamming_topk",
    "eth_zone_map",
    "eth_bucketed_join",
    "q_changepoint",
    "eth_xml_roundtrip",
    "doc_ssjoin_prefix",
    # round-9 additions
    "eth_dual_export",
    "mm_jpeg_stats",
    "doc_neardup_recall",
    # round-10 additions
    "doc_crawl_manifest",
    # round-11 additions
    "q_rate_limit_schedule",
    "q_join_size_estimate",
    "doc_pseudonymize",
]

# Stateful streaming queries run LAST: round-10 measured an
# applyInPandasWithState residue that ~doubles the mapInPandas
# round-trip for the REST of the session (JVM-side — survives a
# Python-worker restart, invisible to the pure-JVM canary; see
# SCALE.md).
# With streams interleaved, every Arrow-heavy row scheduled after the
# first stream paid that tax and read as mysterious drift. Relative
# order within each group is preserved; the canary trace brackets the
# boundary.
HEADLINE = ([q for q in HEADLINE if not q.startswith("stream_")]
            + [q for q in HEADLINE if q.startswith("stream_")])


def _load1() -> float:
    """Host 1-min load average (shared kernel: includes co-tenant
    load this container can't see in its own process list) —
    round-10 diagnosis: the py canary is a single-wave max over 32
    workers, so ONE descheduled worker doubles the reading; recording
    load beside each canary makes external-contention inflation
    attributable instead of mysterious."""
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _io_write_mbps(mb_batch: int = 64, batches: int = 8,
                   budget_s: float = 20.0) -> float:
    """STEADY-STATE fsync'd write throughput (MB/s) to the volume
    Spark shuffles and spills on: the MIN over `batches` sequential
    `mb_batch`-MB fsync batches. Round-11 second incident: a
    host-level WRITE throttle cut sustained writes to 4 MB/s while
    load1 read 0.07 and both CPU calibrations were near-nominal —
    shuffle-heavy and sink-heavy queries ran 2-9× slower with nothing
    else to show for it. Reads stayed fast (page cache), and the
    throttle is a TOKEN BUCKET: a single 64-256 MB burst measured
    300+ MB/s on a refilled bucket while the very next sustained
    batches crawled at 4-7 MB/s — so a one-shot probe gate-passes a
    host the bench will crawl on. Writing ~512 MB (the empirically
    drained bucket) and taking the min batch rate sees through the
    burst; the time budget keeps a hard-throttled probe from
    stalling the gate loop (by then the min already tells the
    story). Healthy disk: ~2 s total."""
    import tempfile
    buf = os.urandom(1 << 20)
    fd, path = tempfile.mkstemp(prefix="spark_graft_ioprobe_")
    worst = float("inf")
    t_start = time.time()
    try:
        with os.fdopen(fd, "wb") as fh:
            for _ in range(batches):
                t0 = time.time()
                for _ in range(mb_batch):
                    fh.write(buf)
                fh.flush()
                os.fsync(fh.fileno())
                worst = min(worst,
                            mb_batch / max(time.time() - t0, 1e-9))
                if time.time() - t_start > budget_s:
                    break
    finally:
        try:
            os.remove(path)
        except OSError:
            pass
    return round(worst, 1)


def _await_healthy_host(gate: float, io_gate: float,
                        wait_s: float) -> tuple[float, float, bool]:
    """The discard rule, made mechanical (round-10 verdict: the rule
    lived only in CLAUDE.md and the r10 sidecar itself violated it),
    now over BOTH host resources a co-tenant can exhaust: CPU
    (ambient load1 <= `gate`) and durable write bandwidth
    (>= `io_gate` MB/s — see `_io_write_mbps`). Poll every 10 s for
    up to `wait_s` seconds; return (load1, io_mbps, both_ok).
    Callers who start anyway on an unhealthy host must stamp their
    output ``"discard": true`` — a refusal would break the grading
    driver, which needs one JSON line unconditionally, so the stamp
    IS the refusal."""
    deadline = time.time() + wait_s
    ld, io = _load1(), -1.0
    while time.time() < deadline:
        if ld <= gate:
            io = _io_write_mbps()
            if io >= io_gate:
                return ld, io, True
            print(f"# volume throttled: fsync write {io:.0f} MB/s <"
                  f" gate {io_gate:.0f} — waiting (gate via"
                  f" $SPARK_GRAFT_IO_GATE)", file=sys.stderr)
        else:
            print(f"# host busy: ambient load1 {ld:.1f} > gate"
                  f" {gate:.1f} — waiting for idle (up to"
                  f" {wait_s:.0f}s total; gate via"
                  f" $SPARK_GRAFT_LOAD_GATE, wait via"
                  f" $SPARK_GRAFT_LOAD_WAIT)", file=sys.stderr)
        time.sleep(10)
        ld = _load1()
    if io < 0:
        io = _io_write_mbps()
    return ld, io, ld <= gate and io >= io_gate


def _artifact_builders():
    """The memoized shared artifacts, timed as NAMED pseudo-queries
    before the main loop: the IVF/PQ quantizers plus every artifact in
    the `artifacts` registry (pair graph → 11 consumers, CC labels,
    k-means cells, kNN graph, fuzzy pairs, BPE merges, ...). Without
    this, the first consumer in HEADLINE order silently pays the
    build — round-6's doc_minhash_quality "+48% regression" was
    exactly that first-touch cost migrating between queries as
    HEADLINE grew. Charging the build to `artifact:*` rows makes
    per-query timings attributable and round-over-round comparable."""
    from ethereum_export_pipeline_spark import artifacts
    from ethereum_export_pipeline_spark.plans import llm
    return {"artifact:quantizers": lambda spark, sf: llm.get_quantizers(),
            **artifacts.builders()}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # pre-flight load gate, BEFORE the session exists (so the reading
    # is ambient co-tenant load, not our own JVM starting up)
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    io_gate = float(os.environ.get("SPARK_GRAFT_IO_GATE", "50"))
    wait_s = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    load_ambient, io_begin, gate_ok = _await_healthy_host(gate, io_gate,
                                                          wait_s)
    if not gate_ok:
        print(f"# HEALTH GATE FAILED: ambient load1 {load_ambient:.1f}"
              f" (gate {gate:.1f}) / fsync write {io_begin:.0f} MB/s"
              f" (gate {io_gate:.0f}) after {wait_s:.0f}s — running"
              f" anyway but stamping the output 'discard': true."
              f" Re-run on a healthy host for a comparison-grade"
              f" number.", file=sys.stderr)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from ethereum_export_pipeline_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("bench")
    qs = e.queries()

    # warm the JVM, file listings and page cache once, outside the
    # timed region — the bench measures query execution, not the OS
    # cache state left by whatever ran before
    from ethereum_export_pipeline_spark.sources.tables import (
        TESTDATA_TABLES, load_table)
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).count()
    qs["q1_pricing_summary"](spark, sf_dir).collect()

    def consume(df) -> None:
        # noop sink: full execution of every column, zero driver
        # transfer — measures the engine, not py4j serialization
        df.write.mode("overwrite").format("noop").save()

    # min-of-2 per query: the first run compiles the query's
    # whole-stage-codegen classes (a separate corpus-wide warm pass
    # became a third full execution once HEADLINE passed 130 queries
    # — the min already measures the warm run), the second measures
    # warm throughput; min damps scheduler/GC noise, JMH-style.
    # Sub-2.5 s queries get a THIRD pass: at that duration one GC
    # pause or scheduler hiccup is a double-digit-percent swing, and
    # two samples still let it through (round 6/7 both logged a
    # no-code-change ±40% flap on such a query); the extra pass costs
    # seconds in aggregate and makes short-query timings
    # round-over-round comparable.
    # Machine-speed canary: a FIXED pure-JVM workload (no I/O, no
    # shuffle, no Python workers) timed min-of-3 before the headline
    # loop. This round's cross-round comparison found a uniform
    # median-1.28× inflation across 194 code-untouched queries — host
    # speed, not the engine. Read headline deltas against this field:
    # if calibration moved too, the host moved.
    calib = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 400_000_000, 1, 32) \
             .selectExpr("sum(xxhash64(id) % 1000000)").collect()
        calib = min(calib, time.time() - t0)
    calib = round(calib, 3)
    print(f"# calibration (pure-JVM canary): {calib:.3f}s", file=sys.stderr)

    # Python-worker canary: the SAME fixed-work idea routed through
    # mapInPandas (Arrow batch transfer + pandas compute in Python
    # workers, the r8 verdict's unexplained-drift path: JVM canary
    # fast yet Arrow-heavy families +40%). Two fixed canaries make
    # host-vs-engine attribution separable per path: if only
    # py_calibration moved, the Python workers/GIL/fork side of the
    # host moved; if both moved, the whole host did.
    # Cold-start attribution (optimization r12, VERDICT item 4): the
    # canaries run BEFORE the artifact builds, so the Python worker
    # pool spawn, first Arrow batches and first-shuffle JIT land on
    # the canaries' own warm-up passes (min-of-3 reports the warm
    # reading) instead of inflating the FIRST timed artifact row —
    # r11's artifact:ssjoin_pairs read 13-22 s in-bench vs a 3.6-5 s
    # warm probe purely because it built second in a cold session.
    def _py_canary(pdfs):
        for pdf in pdfs:
            yield pdf.assign(v=(pdf["id"] * 2654435761 % 1000003))
    py_calib = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 8_000_000, 1, 32) \
             .mapInPandas(_py_canary, "id long, v long") \
             .selectExpr("sum(v)").collect()
        py_calib = min(py_calib, time.time() - t0)
    py_calib = round(py_calib, 3)
    load_begin = _load1()
    print(f"# calibration (mapInPandas canary): {py_calib:.3f}s "
          f"(host load {load_begin:.1f})", file=sys.stderr)

    # Fixed synthetic warmup (optimization r12, VERDICT item 4): the
    # artifact rows run ONCE each (a memoized build has no second
    # sample for min-of-N to absorb first-touch costs), so the first
    # heavy SQL job in the session was absorbing the JVM's whole
    # codegen/JIT ramp — measured on a calm host: the ssjoin build's
    # trivial members checkpoint reads 12.3 s as the session's first
    # SQL job vs 1.2 s warm, and the full build 31 s cold vs ~6-9 s
    # warm, AFTER both canaries (they exercise none of the join/
    # window/generate/object-agg codegen paths). This warmup is fixed
    # synthetic work over spark.range — independent of the corpus, so
    # it precomputes nothing — touching the paths the artifact builds
    # compile: broadcast + shuffle joins, window + sort, posexplode,
    # collect_list/array_sort/array_intersect object aggregation, and
    # an eager localCheckpoint.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F
    _wdf = spark.range(0, 200_000, 1, 32).selectExpr(
        "id % 997 AS g", "id",
        "sequence(0, CAST(id % 7 AS INT)) AS arr")
    _ex = (_wdf.select("g", "id", _F.posexplode("arr").alias("p", "x"))
               .localCheckpoint(eager=True))
    _agg = _ex.groupBy("g").agg(
        _F.array_sort(_F.collect_list("x")).alias("xs"),
        _F.count(_F.lit(1)).alias("n"))
    _j = (_ex.join(_agg, "g")
             .withColumn("r", _F.row_number().over(
                 _W.partitionBy("g").orderBy("id")))
             .where("r <= 3")
             .select("g", _F.size(_F.array_intersect(
                 "xs", _F.array(_F.col("x").cast("int")))).alias("s")))
    (_j.join(_F.broadcast(_agg.select("g", "n")), "g")
       .groupBy().sum("s", "n").collect())

    # shared-artifact builds, timed under their own names (the
    # memo getters materialize via eager localCheckpoint, so the
    # consumers below measure incremental work only)
    timings_art: dict[str, float] = {}
    art_total = 0.0
    for name, builder in _artifact_builders().items():
        t0 = time.time()
        builder(spark, sf_dir)
        timings_art[name] = round(time.time() - t0, 3)
        art_total += timings_art[name]
        print(f"# {name}: {timings_art[name]:.3f}s", file=sys.stderr)

    # canary TRACE every TRACE_EVERY queries (jvm 1-shot + py
    # min-of-2): the round-10 controlled repro showed 120 back-to-back
    # mapInPandas queries do NOT age the path (worker aging was
    # refuted; ambient host load moved the canaries), so whatever
    # inflates the end canary comes from the host or specific catalog
    # families — the trace localizes which 25-query span does it.
    TRACE_EVERY = 25

    def _canary_pair() -> tuple[float, float]:
        t0 = time.time()
        spark.range(0, 400_000_000, 1, 32) \
             .selectExpr("sum(xxhash64(id) % 1000000)").collect()
        jvm = round(time.time() - t0, 3)
        py = float("inf")
        for _ in range(2):
            t0 = time.time()
            spark.range(0, 8_000_000, 1, 32) \
                 .mapInPandas(_py_canary, "id long, v long") \
                 .selectExpr("sum(v)").collect()
            py = min(py, time.time() - t0)
        return jvm, round(py, 3)

    canary_trace: list[dict] = []

    timings: dict[str, float] = {}
    total = 0.0
    for i, name in enumerate(HEADLINE):
        if i % TRACE_EVERY == 0:
            jvm_t, py_t = _canary_pair()
            ld = _load1()
            # small steady-state write probe (128 MB, capped 6 s):
            # a co-tenant disk burst mid-run shows up HERE, not in
            # load1 or the CPU canaries (round-11 second incident)
            io_t = _io_write_mbps(mb_batch=32, batches=4, budget_s=6.0)
            canary_trace.append({"i": i, "jvm": jvm_t, "py": py_t,
                                 "load1": ld, "io_mbps": io_t})
            print(f"# canary@{i}: jvm {jvm_t:.3f}s py {py_t:.3f}s "
                  f"load {ld:.1f} write {io_t:.0f} MB/s", file=sys.stderr)
        best = float("inf")
        runs = 0
        while runs < 2 or (runs < 3 and best < 2.5):
            t0 = time.time()
            consume(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
            runs += 1
        timings[name] = round(best, 3)
        total += best
        print(f"# {name}: {best:.3f}s", file=sys.stderr)

    # END-of-run canaries: three same-day round-9 runs measured
    # totals of 260.6 / 297.7 / 327.5 s while the PRE-loop canaries
    # stayed flat (~0.21 / ~0.70 s) — so whatever moves the host
    # moves it DURING the ~20-minute loop, invisible to a canary
    # that only runs up front. The same two fixed workloads timed
    # again after the loop bound the intra-run drift: if the end
    # canaries read like the start ones, per-query noise is local
    # flaps; if they read slower, the whole tail of the run was.
    calib_end = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 400_000_000, 1, 32) \
             .selectExpr("sum(xxhash64(id) % 1000000)").collect()
        calib_end = min(calib_end, time.time() - t0)
    calib_end = round(calib_end, 3)
    py_calib_end = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 8_000_000, 1, 32) \
             .mapInPandas(_py_canary, "id long, v long") \
             .selectExpr("sum(v)").collect()
        py_calib_end = min(py_calib_end, time.time() - t0)
    py_calib_end = round(py_calib_end, 3)
    load_end = _load1()
    io_end = _io_write_mbps()
    print(f"# calibration at end: jvm {calib_end:.3f}s / "
          f"py {py_calib_end:.3f}s (host load {load_end:.1f},"
          f" write {io_end:.0f} MB/s)",
          file=sys.stderr)

    # A run is comparison-grade only if the host stayed healthy
    # THROUGHOUT: round-11's run E passed the pre-run gate at
    # 410 MB/s and finished at 4.5 MB/s (co-tenant burst mid-run,
    # +70% total). The end probe and the per-25-query trace probes
    # extend the discard stamp over the whole run, not just its
    # first second.
    io_trace_min = min((p["io_mbps"] for p in canary_trace
                        if "io_mbps" in p), default=io_end)
    discard_reasons = []
    if not gate_ok:
        discard_reasons.append(
            f"pre-run gate: load1 {load_ambient:.1f} or io"
            f" {io_begin:.0f} MB/s")
    if io_end < io_gate:
        discard_reasons.append(f"io_end {io_end:.0f} < {io_gate:.0f}")
    if io_trace_min < io_gate:
        discard_reasons.append(
            f"io_trace_min {io_trace_min:.0f} < {io_gate:.0f}")
    # CPU contamination mid-run (optimization r11): a co-tenant CPU
    # burst after the pre-gate passes leaves io healthy but steps the
    # pure-JVM canary (fixed work, no I/O, no Python) — a run this
    # session passed every io gate with 'discard': false while its
    # jvm canary walked 0.33 → 0.80 s under ambient load 14. The
    # fixed workload's only degrees of freedom are host CPU and GC;
    # a > 2.5× spread across one run is contention, not noise
    # (healthy runs hold ~1.4×). RELATIVE on purpose: the driver
    # re-runs the bench at lower $SPARK_GRAFT_CPUS, which scales
    # every reading together and leaves the ratio alone.
    jvm_samples = ([calib, calib_end]
                   + [p["jvm"] for p in canary_trace if "jvm" in p])
    jvm_min, jvm_max = min(jvm_samples), max(jvm_samples)
    if jvm_min > 0 and jvm_max / jvm_min > 2.5:
        discard_reasons.append(
            f"jvm canary spread {jvm_max:.2f}/{jvm_min:.2f}"
            f" = {jvm_max / jvm_min:.1f}x > 2.5x (CPU contention"
            f" mid-run)")
    discard = bool(discard_reasons)
    if discard:
        print(f"# DISCARD: {'; '.join(discard_reasons)} — not"
              f" comparison-grade; re-run on a healthy host.",
              file=sys.stderr)

    # Full per-query map → sidecar (the stdout line must stay under
    # the driver's ~2,000-char capture window; 116 queries don't fit).
    # Artifact builds are part of `value` (they're real work the
    # queries used to pay inline) but are listed under their own keys.
    total += art_total
    timings.update(timings_art)
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json")
    with open(sidecar, "w") as f:
        json.dump({
            "metric": "headline_queries_total",
            "value": round(total, 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "n_queries": sum(not k.startswith("artifact:") for k in timings),
            "n_artifacts": len(timings_art),
            "calibration_sec": calib,
            "py_calibration_sec": py_calib,
            "calibration_end_sec": calib_end,
            "py_calibration_end_sec": py_calib_end,
            "canary_trace": canary_trace,
            "load1_ambient": load_ambient,
            "load_gate": gate,
            "io_gate_mbps": io_gate,
            "io_write_mbps_begin": io_begin,
            "io_write_mbps_end": io_end,
            "discard": discard,
            "discard_reasons": discard_reasons,
            "load1_begin": load_begin,
            "load1_end": load_end,
        }, f, indent=1, sort_keys=True)

    import re
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = re.match(r"[a-z]+", name).group(0)  # q7_x → q, mm_y → mm
        families[fam] = round(families.get(fam, 0.0) + sec, 2)

    # The driver's round-over-round PERF comparison diffs THIS line's
    # `queries` map against the previous round's line (it does not
    # read BENCH_FULL.json), and its stdout capture window is 2,000
    # chars (BENCH_r{09,10,11}.json each carry exactly tail==2000) —
    # so the full ~230-row map cannot fit: a longer line would be
    # truncated at the HEAD and become unparseable. r11's top-10-only
    # map reduced PERF_r11 to a 4-row comparison with 6 phantom
    # "dropped" rows (VERDICT item 1). Two mechanical rules fix that
    # within the window (optimization r12):
    #   * every key the driver saw in the PREVIOUS round's line is
    #     ALWAYS present → zero phantom drops, n_common == |prev|;
    #   * the remaining budget is packed with this run's slowest rows
    #     (deterministic order), maximizing next round's n_common.
    _PREV_LINE_KEYS = (
        "artifact:minhash_pair_graph", "mm_resize", "artifact:bpe_merges",
        "artifact:kmeans_cells", "doc_crawl_manifest",
        "artifact:ssjoin_pairs", "artifact:fuzzy_pairs",
        "artifact:emb_neardup_pairs", "artifact:knn_graph",
        "doc_bigram_fluency",
    )

    def _line(qmap: dict[str, float]) -> str:
        return json.dumps({
            "metric": "headline_queries_total",
            "value": round(total, 3),
            "unit": "sec",
            "queries": qmap,         # pinned + slowest; full map in sidecar
            "families": families,    # per-prefix subtotals over all queries
            "n_queries": sum(not k.startswith("artifact:") for k in timings),
            "full_map": "BENCH_FULL.json",
            "calibration_sec": calib,
            "py_calibration_sec": py_calib,
            "calibration_end_sec": calib_end,
            "py_calibration_end_sec": py_calib_end,
            "load1_begin": load_begin,
            "load1_end": load_end,
            "load1_ambient": load_ambient,
            "io_write_mbps_begin": io_begin,
            "io_write_mbps_end": io_end,
            "discard": discard,
            "sf": sf,
        })

    by_slowest = [k for k, _ in sorted(timings.items(),
                                       key=lambda kv: (-kv[1], kv[0]))]
    sel = ([k for k in _PREV_LINE_KEYS if k in timings]
           + [k for k in by_slowest[:10] if k not in _PREV_LINE_KEYS])
    # pack next-slowest rows while the line stays clear of the 2,000-
    # char capture window (budget 1780: leaves >200 chars of slack for
    # any post-line shutdown noise the capture would otherwise charge
    # against the line's head)
    for k in by_slowest:
        if k in sel:
            continue
        if len(_line({k2: timings[k2] for k2 in sel + [k]})) > 1780:
            break
        sel.append(k)
    qmap = {k: timings[k] for k in
            sorted(sel, key=lambda k: (-timings[k], k))}
    line = _line(qmap)
    assert len(line) < 1800, f"bench line too long: {len(line)} chars"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
