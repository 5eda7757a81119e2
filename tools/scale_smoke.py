"""Scale smoke: amplify the sf0.1 corpus N× into /tmp (fresh ids, so
dedup/join cardinalities grow honestly) and run the heaviest operators
— the empirical check behind SCALE.md's extrapolations. Prints one
JSON line with row counts, per-op seconds, and per-op shuffle bytes
(read from the Spark event log, attributed by job group).

Usage: python tools/scale_smoke.py [amplify=10] [op,op,...]
(second arg filters which ops run — e.g. at 100x run the dedup family
alone so the heavy amplified-lineitem write is skipped)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

SF_DIR = "/root/testdata/sf0.1"


def read_group_bytes(event_dir: str) -> dict[str, dict[str, int]]:
    """Attribute shuffle/input bytes per job group from a finalized
    Spark event log (v2 rolling directory or v1 single file). Shared
    with tests/test_scale_envelopes.py, which pins the ×10 envelopes
    this tool's measurements established."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, int]] = {}
    paths = [p for p in glob.glob(f"{event_dir}/**", recursive=True)
             if os.path.isfile(p)]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(ev, dict):
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "other")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"), "other")
                    m = ev.get("Task Metrics") or {}
                    g = per_group.setdefault(
                        grp, {"shuffle_read": 0, "shuffle_write": 0,
                              "input_read": 0})
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    g["input_read"] += inp.get("Bytes Read", 0)
    return per_group


def amplified_text_variants(amplify: int):
    """One text variant per copy with pairwise-DISJOINT vocabulary:
    within a 26-copy group, a Caesar shift of the letters; across
    groups, a per-group token suffix (regexp appended to every token).
    Copies therefore share no shingles with each other OR with other
    groups, so document density (near-dup structure, shingle df
    profile) matches the original corpus — the honest way to amplify
    for dedup ops. (A naive suffix perturbation makes every copy a
    near-dup of its original: candidate pairs grow N², which is
    output, not overhead.)"""
    from pyspark.sql import functions as F
    alpha = "abcdefghijklmnopqrstuvwxyz"
    variants = []
    for c in range(amplify):
        shift, group = c % 26, c // 26
        v = F.translate("text", alpha, alpha[shift:] + alpha[:shift])
        if group > 0:
            v = F.regexp_replace(v, "([a-z0-9]+)", f"$1zq{group}")
        variants.append(v)
    return F.array(*variants)


def main() -> int:
    from pyspark.sql import SparkSession, functions as F

    AMPLIFY = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    sys.path.insert(0, ".")
    from ethereum_export_pipeline_spark.operators import dedup, text
    from ethereum_export_pipeline_spark.session import RUNTIME_CONFS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    event_dir = tempfile.mkdtemp(prefix="spark_graft_evlog_")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale_smoke")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", event_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.warehouse.dir",
                tempfile.mkdtemp(prefix="spark_graft_wh_"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext

    # SMOKE_KEEP_DIR: reuse one amplified corpus across per-op runs
    # (a ×100 amplification costs minutes; per-op invocations then
    # measure only the op). The marker file gates half-written dirs.
    keep = os.environ.get("SMOKE_KEEP_DIR")
    out = keep or tempfile.mkdtemp(prefix="spark_graft_scale_")
    reuse = keep and os.path.exists(f"{out}/_amplified_{AMPLIFY}")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    copies = spark.range(AMPLIFY).select(F.col("id").alias("copy"))
    if not reuse:
        big_docs = (docs.crossJoin(copies)
                        .select((F.col("doc_id") + F.col("copy") * n_docs).alias("doc_id"),
                                F.element_at(amplified_text_variants(AMPLIFY),
                                             F.col("copy").cast("int") + 1).alias("text")))
        big_docs.write.mode("overwrite").parquet(f"{out}/documents")
        if keep:
            open(f"{out}/_amplified_{AMPLIFY}", "w").close()
    big_docs = spark.read.parquet(f"{out}/documents")

    JOIN_OPS = {"plain_join", "bucketed_join", "bucket_write"}
    n_li = 0
    big_li = None
    if ONLY is None or ({"q1_agg", "ams_est"} | JOIN_OPS) & ONLY:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        n_li = li.count()
        big_li = (li.crossJoin(copies)
                    .withColumn("l_orderkey",
                                F.col("l_orderkey") + F.col("copy") * 200_000)
                    .drop("copy"))
        big_li.write.mode("overwrite").parquet(f"{out}/lineitem")
        big_li = spark.read.parquet(f"{out}/lineitem")

    big_orders = None
    if ONLY is None or "ams_est" in ONLY:
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        big_orders = (o.crossJoin(copies)
                        .withColumn("o_orderkey",
                                    F.col("o_orderkey")
                                    + F.col("copy") * 200_000)
                        .drop("copy"))
        big_orders.write.mode("overwrite").parquet(f"{out}/orders")
        big_orders = spark.read.parquet(f"{out}/orders")

    timings: dict[str, float] = {}

    def bench(label, thunk):
        if ONLY is not None and label not in ONLY:
            return
        sc.setJobGroup(label, label)
        t0 = time.time()
        thunk().write.mode("overwrite").format("noop").save()
        timings[label] = round(time.time() - t0, 2)
        sc.setJobGroup("other", "other")

    def dedup_pipeline():
        """pairs → clusters → canonical, end-to-end: the operator
        family whose iterative behavior the smoke exists to measure."""
        pairs = dedup.minhash_lsh_pairs(big_docs)
        clusters = dedup.connected_components(pairs)
        return dedup.keep_canonical(big_docs, clusters).select("doc_id")

    bench("q1_agg", lambda: big_li.groupBy("l_returnflag", "l_linestatus")
          .agg(F.count(F.lit(1)).alias("n"),
               F.expr("CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)")
                .alias("cents")))

    def ams_est():
        # the production path of q_join_size_estimate: both inputs
        # grow ×AMPLIFY but the sketch exchange stays ≤ d·w cells per
        # task — shuffle bytes should be ~flat across scales
        from ethereum_export_pipeline_spark.operators import sketch
        return sketch.ams_inner_product(big_orders, big_li,
                                        "o_orderkey", "l_orderkey")

    bench("ams_est", ams_est)

    def pseudonymize():
        # map-only release transform: scan-rate, zero shuffle
        from ethereum_export_pipeline_spark.plans.llm import PSEUDONYM_TERMS
        return text.pseudonymize_terms(big_docs, PSEUDONYM_TERMS)

    bench("pseudonymize", pseudonymize)

    # bucketed vs plain fact-fact join (the eth_bucketed_join claim,
    # measured): the plain join exchanges BOTH amplified sides on the
    # join key; the bucketed join reads co-located buckets and its
    # only exchange is the 5-key rollup. bucket_write is the one-time
    # ingest cost the plain path re-pays on every query.
    if ONLY is None or (ONLY & JOIN_OPS):
        big_o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
                      .crossJoin(copies)
                      .withColumn("o_orderkey",
                                  F.col("o_orderkey") + F.col("copy") * 200_000)
                      .drop("copy")
                      .select("o_orderkey", "o_orderpriority"))
        big_o.write.mode("overwrite").parquet(f"{out}/orders")
        big_o = spark.read.parquet(f"{out}/orders")
        li_cols = big_li.select("l_orderkey", "l_extendedprice")
        bk = max(8, cpus)

        def _prio_agg(j):
            return (j.groupBy("o_orderpriority")
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.expr("CAST(sum(CAST(round(l_extendedprice*100) "
                                 "AS BIGINT)) AS BIGINT)").alias("cents")))

        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            if ONLY is None or "bucket_write" in ONLY or \
                    "bucketed_join" in ONLY:
                sc.setJobGroup("bucket_write", "bucket_write")
                t0 = time.time()
                (big_o.write.mode("overwrite").format("parquet")
                      .bucketBy(bk, "o_orderkey").sortBy("o_orderkey")
                      .option("path", f"{out}/bkt_orders")
                      .saveAsTable("smoke_bkt_orders"))
                (li_cols.write.mode("overwrite").format("parquet")
                        .bucketBy(bk, "l_orderkey").sortBy("l_orderkey")
                        .option("path", f"{out}/bkt_lineitem")
                        .saveAsTable("smoke_bkt_lineitem"))
                timings["bucket_write"] = round(time.time() - t0, 2)
                sc.setJobGroup("other", "other")
            bench("bucketed_join",
                  lambda: _prio_agg(spark.table("smoke_bkt_orders").join(
                      spark.table("smoke_bkt_lineitem"),
                      F.col("o_orderkey") == F.col("l_orderkey"))))
            bench("plain_join",
                  lambda: _prio_agg(big_o.join(
                      li_cols,
                      F.col("o_orderkey") == F.col("l_orderkey"))))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    bench("dedup_exact", lambda: dedup.dedup_exact(big_docs))
    bench("ngram_pairs", lambda: dedup.ngram_jaccard_pairs(big_docs))
    bench("ssjoin_prefix", lambda: dedup.ssjoin_prefix_pairs(big_docs))
    bench("minhash_pairs", lambda: dedup.minhash_lsh_pairs(big_docs))
    bench("simhash_pairs", lambda: dedup.simhash_pairs(big_docs))
    bench("dedup_pipeline_pairs_clusters_canonical", dedup_pipeline)
    bench("quality", lambda: text.quality_score(big_docs))
    bench("tfidf", lambda: text.tfidf_top_terms(big_docs))
    bench("pack", lambda: text.pack_sequences(big_docs))
    bench("decontaminate", lambda: dedup.decontaminate(big_docs))
    bench("token_rarity", lambda: text.token_rarity(big_docs))

    def snapshot_diff():
        """Corpus diff at scale: previous = current with 1/7 dropped,
        1/11 perturbed — the hash-projected full-outer join."""
        from ethereum_export_pipeline_spark.operators.retention import (
            snapshot_diff as diff)
        prev = (big_docs.where("doc_id % 7 != 0")
                .select("doc_id",
                        F.expr("CASE WHEN doc_id % 11 = 0 "
                               "THEN concat(text, '!') ELSE text END")
                        .alias("text")))
        return diff(big_docs, prev)

    bench("snapshot_diff", snapshot_diff)

    # ---- ANN / embedding tier over amplified embeddings: per-copy
    # dimension ROTATION — norms (and so self-similarity structure) are
    # preserved while cross-copy cosines decorrelate, keeping near-dup
    # density comparable to the original corpus at any amplification.
    from ethereum_export_pipeline_spark.operators import similarity

    EMB_OPS = {"semantic_dedup", "lsh_topk", "ivf_topk", "ivfpq_topk",
               "neardup_multiband", "density_sample", "hard_negatives",
               "semantic_decon", "pca_scores", "mmr_rerank",
               "ivf_topk_bulk", "ivfpq_topk_bulk", "ivfpq_packed_bulk",
               "hamming_topk", "sq8_recall"}
    big_emb = None
    if ONLY is None or (ONLY & EMB_OPS):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n_emb = emb.count()
        dim = similarity.EMB_DIM
        rot = F.expr(
            f"concat(slice(embedding, (copy % {dim}) + 1, "
            f"{dim} - (copy % {dim})), "
            f"slice(embedding, 1, copy % {dim}))")
        # write WELL-SPLIT (the 100 TB layout): otherwise the 1-file
        # crossJoin lineage yields a 1-partition scan and the ANN ops'
        # scan-width spreading repartition would pollute the shuffle
        # measurement with a fixture artifact
        (emb.crossJoin(copies)
            .select((F.col("vec_id") + F.col("copy") * n_emb)
                    .alias("vec_id"),
                    rot.cast("array<float>").alias("embedding"))
            .repartition(cpus)
            .write.mode("overwrite").parquet(f"{out}/embeddings"))
        big_emb = spark.read.parquet(f"{out}/embeddings")

    def semantic_dedup():
        from ethereum_export_pipeline_spark.operators import dedup as dd
        pairs = similarity.embedding_neardup_pairs(big_emb, n_bands=2)
        clusters = dd.connected_components(pairs, src="id_a", dst="id_b",
                                           id_out="vec_id")
        return dd.keep_canonical(big_emb.select("vec_id"), clusters,
                                 id_col="vec_id")

    bench("semantic_dedup", semantic_dedup)

    # the four graded ANN paths at the graded configs (plans/llm.py):
    # 2-band LSH top-k, IVF(nprobe=1), IVF-PQ (ADC over m=8 codes),
    # 3-band OR-amplified near-dup. ivf vs ivfpq shuffle_write is the
    # direct measurement of the PQ payload-compression claim (the
    # candidate side ships ~8B codes instead of 256B quantized vectors)
    from ethereum_export_pipeline_spark.plans.llm import get_quantizers
    bench("lsh_topk",
          lambda: similarity.lsh_topk(big_emb, n_bands=2))
    bench("ivf_topk",
          lambda: similarity.ivf_topk(big_emb, get_quantizers()[0]))
    bench("ivfpq_topk",
          lambda: similarity.ivfpq_topk(big_emb, *get_quantizers()))
    bench("neardup_multiband",
          lambda: similarity.embedding_neardup_pairs(big_emb, n_bands=3))

    # round-8 serving tiers: binary codes with a BULK (~1%) query set
    # — the whole exchange is 16 B of code per melted band row — and
    # the SQ8 recall harness (bounded 10-query sample vs the growing
    # corpus; the candidate side is the production encode scan)
    bench("hamming_topk",
          lambda: similarity.hamming_topk(big_emb, k=5,
                                          query_pred="vec_id % 97 = 0"))
    bench("sq8_recall",
          lambda: similarity.sq8_recall_report(big_emb, k=5))

    # the PQ payload-compression claim, measured directly: with a
    # BULK query set and broadcast disabled, the cell join exchanges
    # both sides — the candidate side ships 64 × 8 B quantized vectors
    # under IVF but only m=8 small-int codes under IVF-PQ. The
    # ivf_bulk − ivfpq_bulk shuffle_write delta is that compression
    # (the equal-in-both window shuffle of scored pairs rides on top).
    def bench_no_broadcast(label, thunk):
        if ONLY is not None and label not in ONLY:
            return
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bench(label, thunk)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # exact PageRank over an amplified trade graph: supplier/customer
    # key spaces offset per copy so nodes AND edges scale ×N (plain
    # copies would collapse in the distinct)
    def trade_pagerank():
        from ethereum_export_pipeline_spark.operators.graph import (
            pagerank_exact)
        li = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
                   .select("l_orderkey", "l_suppkey"))
        o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
                  .select("o_orderkey", "o_custkey"))
        li2 = (li.crossJoin(copies)
                 .select((F.col("l_orderkey") + F.col("copy") * 200_000)
                         .alias("ok"),
                         (F.col("l_suppkey") + F.col("copy") * 1_000)
                         .alias("sk")))
        o2 = (o.crossJoin(copies)
               .select((F.col("o_orderkey") + F.col("copy") * 200_000)
                       .alias("okk"),
                       (F.col("o_custkey") + F.col("copy") * 2_000)
                       .alias("ck")))
        pairs = (li2.join(o2, F.col("ok") == F.col("okk"))
                    .select(F.concat(F.lit("S"), F.col("sk")).alias("s"),
                            F.concat(F.lit("C"), F.col("ck")).alias("c"))
                    .distinct())
        # 1→2 explode, not union: a union evaluates the join twice
        edges = (pairs.select(F.explode(F.array(
                     F.struct(F.col("s").alias("src"),
                              F.col("c").alias("dst")),
                     F.struct(F.col("c").alias("src"),
                              F.col("s").alias("dst")))).alias("e"))
                      .select("e.src", "e.dst"))
        return pagerank_exact(edges, iters=5)

    bench("trade_pagerank", trade_pagerank)

    # round-4 additions: sketches, dup-graph triangles, compaction,
    # SCD2. All over the same density-preserving amplified inputs.
    from ethereum_export_pipeline_spark.operators import sketch as sk
    from ethereum_export_pipeline_spark.operators.graph import triangle_counts
    from ethereum_export_pipeline_spark.operators.layout import compaction_plan
    from ethereum_export_pipeline_spark.operators.temporal import scd2

    bench("kmv_sketch",
          lambda: sk.kmv_sketch(
              big_docs.withColumn("source",
                                  F.expr("CAST(doc_id % 20 AS STRING)")),
              group_col="source", key_col="text", k=32))

    bench("dup_triangles",
          lambda: triangle_counts(
              dedup.minhash_lsh_pairs(big_docs)
                   .select(F.col("doc_a").alias("src"),
                           F.col("doc_b").alias("dst"))))

    def bloom_decon():
        # the inline (literal-filter) probe — the 100 TB path; the
        # relational bloom_probe twin measured 187 s / 768 MB shuffle
        # at ×100 re-aggregating per-position verdicts
        sh = dedup.shingles(big_docs)
        is_bench = (F.col("doc_id") % 97) == 0
        bench_sh = (sh.where(is_bench).select("shingle").distinct()
                      .localCheckpoint(eager=True))
        bits = sk.bloom_bits(sk.bloom_build(bench_sh, key_col="shingle"))
        return (sh.where(~is_bench).select("doc_id", "shingle")
                  .withColumn("bloom_hit",
                              sk.bloom_hit_expr("shingle", bits))
                  .groupBy("doc_id")
                  .agg(F.sum("bloom_hit").alias("n_bloom_hits")))

    bench("bloom_decontaminate", bloom_decon)

    bench("compaction_plan",
          lambda: compaction_plan(
              big_docs.select(F.expr("doc_id div 50").alias("file_id"),
                              F.length("text").alias("bytes"))
                      .groupBy("file_id")
                      .agg(F.expr("CAST(sum(bytes) AS BIGINT)")
                            .alias("bytes")),
              target_bytes=1 << 20))

    def scd2_scaled():
        from ethereum_export_pipeline_spark.sources.tables import (
            with_event_time)
        ev = with_event_time(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        n_users = 20_000
        ev2 = (ev.crossJoin(copies)
                 .select((F.col("user_id") + F.col("copy") * n_users)
                         .alias("user_id"),
                         "event_type",
                         F.expr("ts_ns div 1000").alias("ts_us"),
                         "event_id"))
        return scd2(ev2)

    bench("scd2", scd2_scaled)

    bench("token_drift", lambda: text.token_drift(big_docs))

    def apply_changes_scaled():
        from ethereum_export_pipeline_spark.operators.retention import (
            apply_changes)
        changes = (big_docs.where("doc_id % 5 = 0")
                   .select("doc_id",
                           F.expr("concat(text, ' [rev2]')").alias("text"),
                           F.lit("U").alias("op"), F.lit(2).alias("seq"))
                   .unionByName(
                       big_docs.where("doc_id % 7 = 3")
                       .select("doc_id",
                               F.lit(None).cast("string").alias("text"),
                               F.lit("D").alias("op"),
                               F.lit(3).alias("seq"))))
        return apply_changes(big_docs, changes)

    bench("apply_changes", apply_changes_scaled)

    bench("bm25", lambda: text.bm25_topk(big_docs))

    # round-4 late additions: exact substring spans (one posting per
    # corpus char — the heaviest text op by design), CMS heavy
    # hitters, bigram fluency, k-core peel over the dup graph
    bench("substring_spans",
          lambda: dedup.substring_dup_spans(big_docs))
    bench("heavy_hitters", lambda: sk.cms_heavy_hitters(big_docs))
    bench("bigram_fluency", lambda: text.bigram_fluency(big_docs))

    def dup_kcore():
        from ethereum_export_pipeline_spark.operators.graph import kcore_peel
        pairs = dedup.minhash_lsh_pairs(big_docs)
        return kcore_peel(pairs.select(F.col("doc_a").alias("src"),
                                       F.col("doc_b").alias("dst")),
                          k=2, rounds=4)

    bench("dup_kcore", dup_kcore)

    def dup_lpa():
        from ethereum_export_pipeline_spark.operators.graph import (
            lpa_communities)
        pairs = dedup.minhash_lsh_pairs(big_docs)
        return lpa_communities(pairs.select(F.col("doc_a").alias("src"),
                                            F.col("doc_b").alias("dst")),
                               rounds=4)

    # round-7 additions: pointer-jumping closure on a DEEP forest
    # (depth 64 ⇒ 6 doubling rounds reach everything; closure output
    # is ~31.5 rows/node by construction — bounded, not the chain-
    # length-squared blowup a single deep chain would produce), and
    # the custom stateful streaming ops under user-count amplification
    # (each copy shifts user_id, so state-store keys grow ×AMPLIFY
    # while the per-key series stays the original's).
    def ancestor_closure_deep():
        from ethereum_export_pipeline_spark.operators.graph import (
            ancestor_closure)
        n = 10_000 * AMPLIFY
        parents = (spark.range(n)
                   .where("id % 64 != 0")
                   .selectExpr("id AS child", "id - 1 AS parent"))
        return ancestor_closure(parents, rounds=6)

    bench("ancestor_closure", ancestor_closure_deep)

    # round-8: the closure-free rollup over the SAME deep forest —
    # the exchange should be O(|V|) rows (each node shuffled once as
    # a sender + 2|V|/round for the depth phase), vs the closure's
    # Σ depth(n) ≈ 31.5·|V| rows above
    def hierarchy_agg_deep():
        from ethereum_export_pipeline_spark.operators.graph import (
            hierarchy_aggregates)
        n = 10_000 * AMPLIFY
        parents = (spark.range(n)
                   .where("id % 64 != 0")
                   .selectExpr("id AS child", "id - 1 AS parent"))
        vals = spark.range(n).selectExpr("id AS node", "id % 97 AS val")
        return hierarchy_aggregates(parents, vals, rounds=6)

    bench("hierarchy_aggregates", hierarchy_agg_deep)

    # round-7 operator families over the amplified corpus: the
    # decode-heavy Arrow mapInPandas paths (video near-dup, patch
    # tokenization), the pure-regexp map (HTML strip), and the
    # tokenize + first-bucket agg (Heaps growth, inlined over the
    # amplified frame — same plan as plans/llm._heaps_law).
    def video_neardup():
        from ethereum_export_pipeline_spark.operators.multimodal import (
            documents_as_video_media, video_neardup_pairs)
        return video_neardup_pairs(documents_as_video_media(big_docs))

    bench("video_neardup", video_neardup)

    def patch_stats():
        from ethereum_export_pipeline_spark.operators.multimodal import (
            documents_as_ppm_media, patch_grid_stats)
        return patch_grid_stats(documents_as_ppm_media(big_docs))

    bench("patch_stats", patch_stats)

    def html_strip():
        from ethereum_export_pipeline_spark.plans.llm import (
            _html_strip_sql, _html_wrap_sql)
        rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
        d = (big_docs.where("text IS NOT NULL")
             .selectExpr("doc_id", "text",
                         f"{_html_wrap_sql('STRING')} AS html"))
        d = d.selectExpr("doc_id % 20 AS grp", "text", "html",
                         f"{_html_strip_sql('html', rr)} AS stripped")
        return (d.groupBy("grp")
                 .agg(F.count(F.lit(1)).alias("n_docs"),
                      F.expr("CAST(sum(CASE WHEN stripped = trim(text) "
                             "THEN 1 ELSE 0 END) AS BIGINT)").alias("ok"),
                      F.expr("CAST(sum(length(stripped)) AS BIGINT)")
                       .alias("chars")))

    bench("html_strip", html_strip)

    # the r10 composed flagship end-to-end: _crawl_manifest takes a
    # CORPUS DIR, so amplify into one (doc_id/source/text — source
    # re-attached from the original docs by id-mod) outside the timed
    # region, marker-gated like the main amplified corpus
    if ONLY is None or "crawl_manifest" in ONLY:
        crawl_sf = f"{out}/crawl_sf"
        if not (keep and os.path.exists(f"{crawl_sf}/_crawl_{AMPLIFY}")):
            (big_docs.withColumn("src_doc", F.col("doc_id") % n_docs)
                     .join(docs.selectExpr("doc_id AS src_doc", "source"),
                           "src_doc")
                     .select("doc_id", "source", "text")
                     .write.mode("overwrite")
                     .parquet(f"{crawl_sf}/documents.parquet"))
            if keep:
                open(f"{crawl_sf}/_crawl_{AMPLIFY}", "w").close()

        def crawl_manifest():
            from ethereum_export_pipeline_spark.plans.llm import (
                _crawl_manifest)
            return _crawl_manifest(spark, crawl_sf)

        bench("crawl_manifest", crawl_manifest)

    def scene_summary():
        from ethereum_export_pipeline_spark.plans.llm import (
            _scene_summary_frame)
        return _scene_summary_frame(big_docs)

    bench("scene_summary", scene_summary)

    def url_text_agreement():
        from ethereum_export_pipeline_spark.plans.llm import (
            _url_text_agreement_frame)
        return _url_text_agreement_frame(big_docs)

    bench("url_text_agreement", url_text_agreement)

    def heaps_law():
        docs = big_docs.where("text IS NOT NULL").select("doc_id", "text")
        bounds = (docs.agg(F.min("doc_id").alias("mn"),
                           F.max("doc_id").alias("mx"))
                  .localCheckpoint(eager=True))
        bucket = F.expr("least(9, ((doc_id - mn) * 10) div (mx - mn + 1))")
        db = (docs.crossJoin(F.broadcast(bounds))
                  .withColumn("bucket", bucket).select("bucket", "text"))
        tb = (db.selectExpr(
                  "bucket",
                  "explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
                  " AS term")
                .groupBy("bucket", "term")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
                .localCheckpoint(eager=True))
        tokb = tb.groupBy("bucket").agg(
            F.expr("CAST(sum(cnt) AS BIGINT)").alias("n_tokens"))
        newb = (tb.groupBy("term").agg(F.min("bucket").alias("bucket"))
                  .groupBy("bucket")
                  .agg(F.count(F.lit(1)).cast("long").alias("new_terms")))
        return tokb.join(newb, "bucket", "left")

    bench("heaps_law", heaps_law)

    stream_ops = {"stream_cusum", "stream_cep", "rate_limit"}
    if ONLY is None or (ONLY & stream_ops):
        ev_src = spark.read.parquet(f"{SF_DIR}/events.parquet")
        n_users = ev_src.selectExpr("max(user_id) + 1 AS m").first()["m"]
        big_ev = (ev_src.crossJoin(copies)
                  .withColumn("user_id",
                              F.col("user_id") + F.col("copy") * n_users)
                  .withColumn("event_id",
                              F.col("event_id") * AMPLIFY + F.col("copy"))
                  .drop("copy"))
        big_ev.write.mode("overwrite").parquet(f"{out}/events")

        def stream_cusum():
            from ethereum_export_pipeline_spark.streaming.sessions import (
                stream_cusum_alerts)
            return stream_cusum_alerts(spark, f"{out}/events")

        def stream_cep():
            from ethereum_export_pipeline_spark.streaming.sessions import (
                stream_pattern_match)
            return stream_pattern_match(spark, f"{out}/events")

        bench("stream_cusum", stream_cusum)
        bench("stream_cep", stream_cep)

        def rate_limit():
            # keys grow ×AMPLIFY (user_id shifted per copy), per-key
            # group size constant — the claimed parallelization axis
            from ethereum_export_pipeline_spark.plans.analytics import (
                rate_limit_frame)
            from ethereum_export_pipeline_spark.sources.tables import (
                with_event_time)
            ev = (with_event_time(spark.read.parquet(f"{out}/events"))
                  .where(F.col("user_id").isNotNull())
                  .select("event_id", "user_id",
                          F.expr("ts_ns div 1000").alias("ts_us")))
            return rate_limit_frame(ev)

        bench("rate_limit", rate_limit)

    bench("dup_lpa", dup_lpa)

    def phash_dedup():
        # decode 500k REAL images through Arrow mapInPandas — the
        # Python-path throughput measurement for the multimodal tier
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_ppm_media(big_docs)
        return multimodal.ahash_dup_groups(media)

    bench("phash_dedup", phash_dedup)

    # the rest of the now-REAL mm tier: per-byte decode cost measured,
    # not argued — all Arrow mapInPandas projections, no shuffle
    def mm_resize():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_ppm_media(big_docs)
        resized = multimodal.resize_media(media, 64, 64)
        return multimodal.extract_features(
            resized.select("media_id", "payload"))

    bench("mm_resize", mm_resize)

    def mm_frame_sample():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_video_media(big_docs)
        return multimodal.sample_frames(media, n_frames=2)

    bench("mm_frame_sample", mm_frame_sample)

    def mm_audio_dedup():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_wav_media(big_docs)
        return multimodal.audio_fingerprint_groups(media)

    bench("mm_audio_dedup", mm_audio_dedup)

    def mm_audio_vad():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_wav_media(big_docs)
        return multimodal.audio_silence_runs(media)

    bench("mm_audio_vad", mm_audio_vad)

    def mm_image_neardup():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_ppm_media(big_docs)
        return multimodal.ahash_neardup_pairs(media)

    bench("mm_image_neardup", mm_image_neardup)

    # round-5 map-only text scorers: the "pure map at 100 TB" claim
    bench("classifier_score", lambda: text.classifier_score(big_docs))

    def dsir():
        scores = text.dsir_bucket_scores(big_docs, "doc_id % 2 = 0")
        return text.dsir_weights(big_docs, scores)

    bench("dsir_weights", dsir)

    # deliberately-skewed as-of: ONE key owns 50% of both sides —
    # the plain path sorts that key in a single task; the bucketed
    # path spreads it over its time buckets. Run both, same data.
    def skewed_asof_frames():
        n = 250_000 * (AMPLIFY // 10 or 1)
        ids = spark.range(n)
        hot = F.expr("CASE WHEN id % 2 = 0 THEN 0 ELSE id % 500 END")
        left = ids.select(hot.alias("k"),
                          F.expr("id * 37 % 10000000").alias("t"),
                          F.col("id").alias("lid"))
        right = (ids.where("id % 5 = 0")
                 .select(hot.alias("k"),
                         F.expr("id * 53 % 10000000").alias("t"))
                 .groupBy("k", "t")
                 .agg(F.expr("CAST(count(*) AS BIGINT)").alias("v")))
        return left, right

    from ethereum_export_pipeline_spark.operators import joins

    def asof_skew_plain():
        l, r = skewed_asof_frames()
        return joins.asof_join(l, r, "k", "t", ["v"])

    def asof_skew_bucketed():
        l, r = skewed_asof_frames()
        return joins.asof_join_bucketed(l, r, "k", "t", ["v"],
                                        bucket_width=100_000)

    bench("asof_skew_plain", asof_skew_plain)
    bench("asof_skew_bucketed", asof_skew_bucketed)

    # BPE training: the "state is vocabulary-sized" claim measured —
    # corpus grows 100x, the per-round work shouldn't
    bench("bpe_train", lambda: text.bpe_train(big_docs, rounds=6))

    # asymmetric containment: same sized-shingle lineage as
    # ngram_pairs, thresholded on max directional containment
    bench("containment", lambda: dedup.containment_pairs(big_docs))

    # late round-5 additions: the vocabulary-iteration claim
    # (textrank), the m-register exchange bound (hll), the
    # stay-in-the-scan claim (phrase), the all-frames decode cost
    # (scene cuts), and the knn-dominated sampling pass (density)
    bench("textrank", lambda: text.textrank_keywords(big_docs))

    def hll_sketch():
        from ethereum_export_pipeline_spark.operators import sketch as sk
        from ethereum_export_pipeline_spark.functions import tokens
        occ = (big_docs.where(F.col("text").isNotNull())
               .select((F.col("doc_id") % 20).cast("string").alias("source"),
                       F.explode(tokens("text")).alias("tok")))
        return sk.hll_sketch(occ)

    bench("hll_sketch", hll_sketch)
    bench("phrase_hits",
          lambda: text.phrase_hits(big_docs, ["hash", "join"]))

    def scene_cuts():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_video_media(big_docs,
                                                    scene_at_half=True)
        return multimodal.scene_cuts(media)

    bench("scene_cuts", scene_cuts)
    bench("density_sample",
          lambda: similarity.density_sample(big_emb, n_bands=3))

    def global_rank():
        from ethereum_export_pipeline_spark.operators.layout import (
            global_rank as gr)
        return gr(big_docs.select("doc_id",
                                  F.length("text").alias("n")),
                  [F.col("n").desc(), F.col("doc_id").asc()])

    bench("global_rank", global_rank)

    # winnow: O(corpus chars) CPU inside the scan, ~n/8 selected
    # fingerprints as rows — claimed ~1/8 of substring_spans' wire
    bench("winnow_census",
          lambda: dedup.winnow_shared_census(big_docs))

    def incremental_neardup():
        # daily-ingest shape: 1% of the corpus as the new batch vs
        # the other 99% as the seen side
        new = big_docs.where("doc_id % 100 = 0")
        seen = big_docs.where("doc_id % 100 != 0")
        return dedup.incremental_neardup(new, seen)

    bench("incremental_neardup", incremental_neardup)

    # map-only gate: cost = the scan + K contains() per doc; phrases
    # survive only in the unshifted copy so the output stays small
    bench("blocklist_tag",
          lambda: text.blocklist_hits(
              big_docs, ["table hash", "customer join", "slow key",
                         "merge group", "quantum leap"]))

    def hard_negatives():
        # amplified vectors carry no label column; vec_id % 10
        # mirrors the fixture's 10-label universe
        labeled = big_emb.withColumn(
            "label", (F.col("vec_id") % 10).cast("int"))
        return similarity.hard_negatives(labeled, n_bands=3)

    bench("hard_negatives", hard_negatives)

    bench("semantic_decon",
          lambda: similarity.semantic_decontaminate(
              big_emb, threshold=0.15, n_bands=3))

    # one tokenize scan, (doc, term) agg exchange (tfidf's class),
    # V-row broadcast back
    bench("vocab_coverage", lambda: text.vocab_coverage(big_docs))

    def leakage_split():
        # the dedup pipeline's exchanges + one corpus-side left join
        pairs = dedup.minhash_lsh_pairs(big_docs)
        cc = dedup.connected_components(pairs)
        return text.leakage_split(big_docs, cc)

    bench("leakage_split", leakage_split)

    def score_calibration():
        # per-source rank window: one source-key exchange, no global
        # sort (amplified docs carry no source column; derive a
        # 20-source partition from the id — same key cardinality class)
        from pyspark.sql import Window
        q = text.quality_score(big_docs).select("doc_id", "quality_score")
        src = big_docs.select(
            "doc_id",
            F.concat(F.lit("src"), (F.col("doc_id") % 20))
             .alias("source"))
        j = q.join(src, "doc_id")
        w = Window.partitionBy("source").orderBy(
            F.col("quality_score").desc(), F.col("doc_id").asc())
        wn = Window.partitionBy("source")
        return (j.withColumn("src_rank",
                             F.row_number().over(w).cast("long"))
                 .withColumn("_n", F.count(F.lit(1)).over(wn).cast("long"))
                 .select("doc_id", "source", "src_rank",
                         F.expr("src_rank * 1000000 div _n")
                          .alias("pct_ppm")))

    bench("score_calibration", score_calibration)

    def gate_agreement():
        # two map-only projections, one id join, 4-counter global agg
        # (threshold imported so the smoke measures the SHIPPED gate)
        from ethereum_export_pipeline_spark.plans.llm import (
            FUNNEL_MIN_QUALITY)
        clf = (text.classifier_score(big_docs)
               .select("doc_id", (F.col("verdict") == "keep").alias("c")))
        qg = (text.quality_score(big_docs)
              .select("doc_id",
                      (F.col("quality_score") >= FUNNEL_MIN_QUALITY)
                       .alias("q")))
        return clf.join(qg, "doc_id").agg(
            F.sum(F.when(F.col("c") & F.col("q"), 1).otherwise(0))
             .cast("long").alias("n11"),
            F.sum(F.when(F.col("c") & ~F.col("q"), 1).otherwise(0))
             .cast("long").alias("n10"),
            F.sum(F.when(~F.col("c") & F.col("q"), 1).otherwise(0))
             .cast("long").alias("n01"),
            F.sum(F.when(~F.col("c") & ~F.col("q"), 1).otherwise(0))
             .cast("long").alias("n00"))

    bench("gate_agreement", gate_agreement)

    # round-6 additions: RAKE (island window + vocab-bounded aggs),
    # trigram LM (the 4-window bigram shape, one tier deeper), PCA
    # projection (zero-shuffle literal transform), MMR (|Q|·pool²
    # bounded state — should be ~flat in corpus size)
    bench("rake_keywords", lambda: text.rake_keywords(big_docs))
    bench("trigram_fluency", lambda: text.trigram_fluency(big_docs))

    def pca_scores():
        from ethereum_export_pipeline_spark.plans.llm import get_pca
        return similarity.pca_scores(big_emb, *get_pca())

    bench("pca_scores", pca_scores)
    bench("mmr_rerank", lambda: similarity.mmr_rerank(big_emb))

    BULK_PRED = "vec_id < 200"
    bench_no_broadcast(
        "ivf_topk_bulk",
        lambda: similarity.ivf_topk(big_emb, get_quantizers()[0],
                                    query_pred=BULK_PRED))
    bench_no_broadcast(
        "ivfpq_topk_bulk",
        lambda: similarity.ivfpq_topk(big_emb, *get_quantizers(),
                                      query_pred=BULK_PRED))
    # the packed variant: candidate payload is ONE BIGINT instead of
    # the m-int code array — the shuffle_write delta vs ivfpq_bulk is
    # the array-serialization overhead the packing removes
    bench_no_broadcast(
        "ivfpq_packed_bulk",
        lambda: similarity.ivfpq_packed_topk(big_emb, *get_quantizers(),
                                             query_pred=BULK_PRED))

    # round-9 additions: the round-8 graded queries not yet amplified
    # (changepoint under series-count amplification, the zone-map
    # stats build + index-only probe, the XML write+scan cell) plus
    # the JPEG decode path (per-image CPU inside the scan, like PNG).
    def changepoint_scaled():
        # amplify the SERIES count (event_type × copy): per-series
        # state stays the original day count, series grow ×N — the
        # claimed parallelization axis
        from pyspark.sql import Window
        from ethereum_export_pipeline_spark.plans.analytics import (
            _CHANGEPOINT_GAIN)
        from ethereum_export_pipeline_spark.sources.tables import (
            with_event_time)
        ev = with_event_time(spark.read.parquet(f"{SF_DIR}/events.parquet"))
        big = (ev.crossJoin(copies)
               .select(F.concat("event_type", F.lit("_"), "copy")
                        .alias("event_type"),
                       F.expr("ts_ns div 1000 div 86400000000")
                        .alias("day"),
                       F.expr("CAST(round(value * 100) AS BIGINT)")
                        .alias("c")))
        daily = (big.groupBy("event_type", "day")
                    .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("v")))
        wo = (Window.partitionBy("event_type").orderBy("day")
                    .rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))
        wa = Window.partitionBy("event_type")
        pre = (daily
               .withColumn("t", F.row_number().over(
                   Window.partitionBy("event_type").orderBy("day"))
                   .cast("long"))
               .withColumn("st", F.sum("v").over(wo).cast("long"))
               .withColumn("sn", F.sum("v").over(wa).cast("long"))
               .withColumn("n", F.count(F.lit(1)).over(wa).cast("long")))
        cand = (pre.where("t < n")
                   .withColumn("gain", F.expr(_CHANGEPOINT_GAIN)))
        wr = (Window.partitionBy("event_type")
                    .orderBy(F.col("gain").desc(), F.col("t").asc()))
        return (cand.withColumn("rn", F.row_number().over(wr))
                    .where("rn = 1")
                    .select("event_type", "n", "t", "gain"))

    bench("changepoint", changepoint_scaled)

    ZONE_OPS = {"zone_map_build", "zone_map_probe"}
    if ONLY is None or (ONLY & ZONE_OPS):
        from ethereum_export_pipeline_spark.plans.eth import ZONE_W
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        big_o2 = (o.crossJoin(copies)
                  .select((F.col("o_orderkey") + F.col("copy") * 200_000)
                          .alias("o_orderkey"),
                          F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
                          .alias("cents")))

        def zone_build():
            return (big_o2
                    .withColumn("zone_id",
                                F.expr(f"o_orderkey div {ZONE_W}")
                                .cast("long"))
                    .groupBy("zone_id")
                    .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                         F.min("o_orderkey").cast("long").alias("min_key"),
                         F.max("o_orderkey").cast("long").alias("max_key"),
                         F.expr("CAST(sum(cents) AS BIGINT)")
                          .alias("total_cents")))

        sc.setJobGroup("zone_map_build", "zone_map_build")
        t0 = time.time()
        zone_build().write.mode("overwrite").parquet(f"{out}/zones")
        timings["zone_map_build"] = round(time.time() - t0, 2)
        zones = spark.read.parquet(f"{out}/zones")

        def zone_probe():
            # the data-skipping claim at scale: the key-range probe
            # reads the |zones|-row INDEX, never the orders table
            lo, hi = 3_000, 7_000
            return (zones.where(~((F.col("max_key") < lo)
                                  | (F.col("min_key") > hi)))
                         .agg(F.expr("CAST(sum(n_rows) AS BIGINT)")
                               .alias("rows_scanned"),
                              F.expr("CAST(sum(total_cents) AS BIGINT)")
                               .alias("cents_touched")))

        bench("zone_map_probe", zone_probe)

    def xml_roundtrip_scaled():
        p = spark.read.parquet(f"{SF_DIR}/part.parquet")
        big_p = (p.crossJoin(copies)
                 .select((F.col("p_partkey") + F.col("copy") * 100_000)
                         .alias("p_partkey"),
                         "p_brand", "p_size"))
        big_p.write.mode("overwrite").format("xml") \
             .option("rowTag", "part").save(f"{out}/xml")
        from pyspark.sql import types as TT
        schema = TT.StructType([
            TT.StructField("p_partkey", TT.LongType()),
            TT.StructField("p_brand", TT.StringType()),
            TT.StructField("p_size", TT.IntegerType()),
        ])
        return (spark.read.schema(schema).format("xml")
                .option("rowTag", "part").load(f"{out}/xml")
                .groupBy("p_brand")
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.expr("CAST(sum(p_size) AS BIGINT)").alias("sz")))

    bench("xml_roundtrip", xml_roundtrip_scaled)

    def jpeg_stats_scaled():
        from ethereum_export_pipeline_spark.operators import multimodal
        media = multimodal.documents_as_jpeg_media(big_docs)
        return multimodal.extract_features(media)

    bench("jpeg_stats", jpeg_stats_scaled)

    # round-10: the LSH-recall audit at scale — composes the exact
    # PPJoin tier (reference set) with the banded-MinHash graph
    # (system under audit); cost = the sum of its two amplified
    # inputs, both linear (the graded plan, inlined over big_docs)
    def neardup_recall_scaled():
        exact = dedup.ssjoin_prefix_pairs(big_docs)
        lsh = (dedup.minhash_lsh_pairs(big_docs)
               .select("doc_a", "doc_b", F.lit(1).alias("found")))
        j = (exact.join(lsh, ["doc_a", "doc_b"], "left")
                  .select(F.expr("least(9, CAST(floor(jaccard * 10) "
                                 "AS INT))").alias("band"),
                          F.coalesce("found", F.lit(0)).alias("found")))
        return (j.groupBy("band")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_exact"),
                      F.expr("CAST(sum(found) AS BIGINT)").alias("n_found"))
                 .withColumn("recall_ppm",
                             F.expr("n_found * 1000000 div n_exact"))
                 .orderBy("band"))

    bench("neardup_recall", neardup_recall_scaled)

    spark.stop()  # flush + finalize the event log

    per_group = read_group_bytes(event_dir)

    print(json.dumps({
        "amplify": AMPLIFY,
        "docs": n_docs * AMPLIFY,
        "lineitem": n_li * AMPLIFY,
        "secs": timings,
        "bytes": {k: per_group.get(k, {}) for k in timings},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
