"""Known-answer tests for the round-4 operator additions: KMV
cardinality sketch, triangle counting, compaction planning, SCD2."""

from __future__ import annotations

from pyspark.sql import functions as F


# ------------------------------------------------------------- KMV sketch

def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct keys are counted EXACTLY
    (the sketch is the key set), including after merging."""
    from ethereum_export_pipeline_spark.operators.sketch import kmv_sketch
    rows = ([("a", f"k{i}") for i in range(5)]
            + [("a", "k0")]              # duplicate: distinct = 5
            + [("b", f"k{i}") for i in range(3, 10)])  # distinct = 7
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in kmv_sketch(df).collect()}
    assert out["a"]["n_kept"] == 5 and out["a"]["est_distinct"] == 5.0
    assert out["b"]["n_kept"] == 7 and out["b"]["est_distinct"] == 7.0
    # union of the two key sets = k0..k9 → merged exact = 10
    assert out["__ALL__"]["n_kept"] == 10
    assert out["__ALL__"]["est_distinct"] == 10.0


def test_kmv_estimates_within_tolerance(spark):
    """For n >> k the estimate lands within the sketch's expected
    relative error envelope (σ ≈ 1/√(k−2); allow 4σ)."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        SKETCH_K, kmv_sketch)
    k, n = SKETCH_K, 5000
    df = spark.createDataFrame([("g", f"key-{i}") for i in range(n)],
                               "source string, text string")
    row = {r["source"]: r for r in kmv_sketch(df).collect()}
    est = row["g"]["est_distinct"]
    assert row["g"]["n_kept"] == k
    assert abs(est - n) / n < 4 / (k - 2) ** 0.5, est
    # the merged row over one group is the same sketch
    assert row["__ALL__"]["est_distinct"] == est


def test_kmv_merge_equals_sketch_of_union(spark):
    """Sketch mergeability: merging per-group sketches must give the
    SAME sketch as hashing the union directly — the property that
    lets 1000 executors combine partials without a rescan."""
    from ethereum_export_pipeline_spark.operators.sketch import kmv_sketch
    rows = ([("a", f"x{i}") for i in range(200)]
            + [("b", f"x{i}") for i in range(100, 300)])  # overlap 100..199
    df = spark.createDataFrame(rows, "source string, text string")
    merged = {r["source"]: r for r in kmv_sketch(df).collect()}
    direct = {r["source"]: r for r in
              kmv_sketch(df.withColumn("source", F.lit("u"))).collect()}
    assert merged["__ALL__"]["kth_min"] == direct["u"]["kth_min"]
    assert merged["__ALL__"]["est_distinct"] == direct["u"]["est_distinct"]


# -------------------------------------------------------------- triangles

def test_triangle_counts_known_graph(spark):
    """K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant
    chain 4-5-6 (no triangles, but nodes must still report 0)."""
    from ethereum_export_pipeline_spark.operators.graph import triangle_counts
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}


def test_triangle_counts_direction_and_dup_insensitive(spark):
    """Reversed/duplicate edges and self-loops must not change counts."""
    from ethereum_export_pipeline_spark.operators.graph import triangle_counts
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)],
        "src long, dst long")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


# -------------------------------------------------------------- compaction

def test_compaction_plan_order_and_conservation(spark):
    """Offset binning: key order preserved (bins are contiguous key
    ranges), every file in exactly one bin, bytes conserved, and an
    oversized file leaves the bins its tail spans empty."""
    from ethereum_export_pipeline_spark.operators.layout import (
        COMPACT_TARGET, compaction_plan)
    t = COMPACT_TARGET
    files = [(i, t // 8) for i in range(8)]       # one target of small files
    files.append((8, 5 * t // 2))                 # oversized: 2.5 targets
    files += [(9 + i, t // 4) for i in range(6)]  # 1.5 targets of tail
    df = spark.createDataFrame(files, "file_id long, bytes long")
    plan = compaction_plan(df).orderBy("bin").collect()
    assert sum(r["n_files"] for r in plan) == len(files)
    assert sum(r["total_bytes"] for r in plan) == 5 * t
    # bins cover disjoint, increasing key ranges
    for prev, cur in zip(plan, plan[1:]):
        assert prev["last_file"] < cur["first_file"]
    # the oversized file starts at offset t → bin 1, alone; its tail
    # spans bins 2 and 3 which therefore don't exist; next file starts
    # at offset 3.5t → bin 3 exists for the tail files
    by_bin = {r["bin"]: r for r in plan}
    assert by_bin[1]["n_files"] == 1 and by_bin[1]["total_bytes"] == 5 * t // 2
    assert 2 not in by_bin
    assert by_bin[3]["first_file"] == 9


def test_compaction_plan_two_level_prefix_sum_crosses_buckets(spark):
    """The distributed prefix sum must be globally correct across
    bucket boundaries (ids 128 apart span 4 COMPACT_BUCKETs)."""
    from ethereum_export_pipeline_spark.operators.layout import (
        COMPACT_BUCKET, COMPACT_TARGET, compaction_plan)
    step = COMPACT_BUCKET // 8
    df = spark.createDataFrame(
        [(i * step, COMPACT_TARGET // 8) for i in range(32)],
        "file_id long, bytes long")
    plan = compaction_plan(df).orderBy("bin").collect()
    # 32 eighth-target files → exactly 4 bins of 8 files each
    assert [r["n_files"] for r in plan] == [8, 8, 8, 8]
    assert [r["first_file"] for r in plan] == [0, 8 * step, 16 * step,
                                               24 * step]


# ------------------------------------------------------------------ SCD2

def test_scd2_runs_versions_and_current_flag(spark):
    """Consecutive same values collapse into one version; changes
    close the prior version at the change instant (half-open); the
    last version is open/current; A→B→A yields three versions."""
    from ethereum_export_pipeline_spark.operators.temporal import scd2
    log = [(1, "A", 100, 1), (1, "A", 200, 2), (1, "B", 300, 3),
           (1, "A", 400, 4), (2, "X", 50, 5)]
    df = spark.createDataFrame(
        log, "user_id long, event_type string, ts_us long, event_id long")
    out = sorted(scd2(df).collect(), key=lambda r: (r["user_id"], r["version"]))
    u1 = [r for r in out if r["user_id"] == 1]
    assert [(r["attr"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
            for r in u1] == [("A", 100, 300, 0), ("B", 300, 400, 0),
                             ("A", 400, None, 1)]
    u2 = [r for r in out if r["user_id"] == 2]
    assert [(r["version"], r["is_current"]) for r in u2] == [(1, 1)]


def test_scd2_null_attr_and_tiebreak(spark):
    """NULL→NULL is not a change (null-safe compare); same-timestamp
    rows order deterministically by the sequence column."""
    from ethereum_export_pipeline_spark.operators.temporal import scd2
    log = [(1, None, 100, 1), (1, None, 200, 2), (1, "A", 300, 3),
           (3, "P", 500, 10), (3, "Q", 500, 11)]
    df = spark.createDataFrame(
        log, "user_id long, event_type string, ts_us long, event_id long")
    out = sorted(scd2(df).collect(), key=lambda r: (r["user_id"], r["version"]))
    u1 = [(r["attr"], r["valid_from_us"]) for r in out if r["user_id"] == 1]
    assert u1 == [(None, 100), ("A", 300)]
    u3 = [(r["attr"], r["version"]) for r in out if r["user_id"] == 3]
    assert u3 == [("P", 1), ("Q", 2)]  # event_id breaks the ts tie


# ---------------------------------------------------------- Bloom filter

def test_bloom_no_false_negatives_and_rejects_most(spark):
    """Every built-in key must probe positive (no false negatives);
    foreign keys mostly probe negative (fp rate ~(1-e^{-kn/m})^k ≈
    small at 200 keys / 4096 bits / 4 hashes)."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        bloom_build, bloom_probe)
    members = spark.createDataFrame([(f"in-{i}",) for i in range(200)],
                                    "key string")
    limbs = bloom_build(members.withColumnRenamed("key", "shingle"))
    hits = bloom_probe(members, limbs).collect()
    assert all(r["bloom_hit"] == 1 for r in hits) and len(hits) == 200
    outsiders = spark.createDataFrame([(f"out-{i}",) for i in range(500)],
                                      "key string")
    fp = sum(r["bloom_hit"] for r in bloom_probe(outsiders, limbs).collect())
    assert fp < 50, f"false-positive rate implausibly high: {fp}/500"


def test_bloom_limb_table_is_bounded(spark):
    """The filter's relational size is m/32 rows regardless of how
    many keys were inserted — the property that makes it shippable
    where a broadcast set is not."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        BLOOM_M, bloom_build)
    big = spark.createDataFrame([(f"k{i}",) for i in range(5000)],
                                "shingle string")
    assert bloom_build(big).count() <= BLOOM_M // 32


# ------------------------------------------------------------ token drift

def test_token_drift_identical_and_disjoint(spark):
    """Identical slices → zero drift on every token; fully disjoint
    vocabularies → each token's drift equals its own side frequency
    (and Σ drift_ppb / 2 ≈ 1e9, the maximum total variation)."""
    from ethereum_export_pipeline_spark.operators.text import token_drift
    same = spark.createDataFrame(
        [(i, "alpha beta beta") for i in range(10)],
        "doc_id long, text string")
    rows = token_drift(same).collect()
    assert rows and all(r["drift_ppb"] == 0 for r in rows)
    disjoint = spark.createDataFrame(
        [(0, "aa aa bb"), (2, "aa bb cc"), (1, "xx yy"), (3, "zz zz")],
        "doc_id long, text string")
    out = {r["tok"]: r for r in token_drift(disjoint).collect()}
    assert out["aa"]["cnt_b"] == 0 and out["xx"]["cnt_a"] == 0
    tv2 = sum(r["drift_ppb"] for r in out.values())
    assert abs(tv2 - 2 * 10**9) <= 4  # truncating div: ≤1 ulp per token


# ------------------------------------------------------------- CDC merge

def test_apply_changes_precedence_and_actions(spark):
    """Latest seq wins; delete wins at higher seq but LOSES to a
    later update; upsert convention for absent keys; untouched keys
    pass through as 'kept' even with NULL payloads."""
    from ethereum_export_pipeline_spark.operators.retention import (
        apply_changes)
    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, None), (4, "four")],
        "doc_id long, text string")
    changes = spark.createDataFrame(
        [(1, "one-v1", "U", 1), (1, "one-v2", "U", 2),   # latest wins
         (2, None, "D", 9),                              # delete
         (4, None, "D", 1), (4, "four-v2", "U", 2),      # U outlives D
         (9, "nine", "U", 1)],                           # upsert-insert
        "doc_id long, text string, op string, seq long")
    out = {r["doc_id"]: r for r in apply_changes(base, changes).collect()}
    assert 2 not in out
    assert out[1]["text"] == "one-v2" and out[1]["action"] == "updated"
    assert out[3]["text"] is None and out[3]["action"] == "kept"
    assert out[4]["text"] == "four-v2" and out[4]["action"] == "updated"
    assert out[9]["text"] == "nine" and out[9]["action"] == "inserted"
    assert len(out) == 4


# ----------------------------------------------------------------- BM25

def test_bm25_saturation_and_length_normalization(spark):
    """tf monotonicity with saturation (more tf → higher score,
    diminishing) and b>0 length penalty (same tf, longer doc →
    lower score); ranking follows score with doc_id tiebreak."""
    from ethereum_export_pipeline_spark.operators.text import bm25_topk
    docs = [(1, "hot hot hot"),          # tf=3, dl=3
            (2, "hot hot hot pad pad pad pad pad pad"),  # tf=3, dl=9
            (3, "hot"),                  # tf=1
            (4, "cold cold"),            # no query term
            (5, "aa ab"), (6, "aa ab")]  # aa, ab: df=2
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_topk(df).collect()}
    # the BM25_QTERMS=3 top-df query terms are hot (df=3), aa and ab
    assert 4 not in out
    assert out[1]["score"] > out[2]["score"] > 0   # length normalization
    assert out[1]["score"] > out[3]["score"]       # tf monotone
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


# --------------------------------------------------------- JL rerank

def test_jl_rerank_scores_exact_and_recall(spark):
    """Stage-2 cosines are EXACT (identical to brute force for the
    same pair); recall@k vs the exact baseline is high because the
    40-candidate stage-1 net is wide relative to k=5; p_rank is a
    valid stage-1 position (within the candidate budget)."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        brute_force_topk, jl_rerank_topk, JL_CAND)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in brute_force_topk(emb).collect()}
    rr = jl_rerank_topk(emb).collect()
    got = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in rr}
    assert all(1 <= r["p_rank"] <= JL_CAND for r in rr)
    common = set(exact) & set(got)
    assert common, "no overlap with exact top-5 at all"
    for pair in common:
        assert exact[pair] == got[pair]  # bit-identical exact rerank
    recall = len(common) / len(exact)
    # near-orthogonal random vectors are JL's worst case; the graded
    # config (out_dim=32, cand=80) measured 0.64 on this corpus
    assert recall >= 0.5, f"recall@5 collapsed: {recall}"


# ------------------------------------------------- count-min sketch

def _occ(spark, toks):
    from pyspark.sql import Row
    return spark.createDataFrame([Row(tok=t) for t in toks], "tok string")


def test_cms_never_underestimates(spark):
    from ethereum_export_pipeline_spark.operators import sketch
    toks = (["alpha"] * 50 + ["beta"] * 20 + ["gamma"] * 5
            + [f"noise{i}" for i in range(200)])
    occ = _occ(spark, toks)
    sk = sketch.cms_build(occ)
    keys = occ.select("tok").distinct()
    est = {r.tok: r.cms_cnt
           for r in sketch.cms_estimate(keys, sk).collect()}
    exact = {r.tok: r.cnt for r in
             occ.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[t] >= c for t, c in exact.items())
    # with 225 occurrences in a 4x512 sketch, the top key is exact or
    # near-exact; it can never be low
    assert est["alpha"] >= 50


def test_cms_exact_when_no_collisions(spark):
    from ethereum_export_pipeline_spark.operators import sketch
    # few enough distinct keys that all D rows are collision-free with
    # overwhelming likelihood in a 512-wide row; if two keys did
    # collide in EVERY row the min would still overestimate, which the
    # first assertion of the previous test covers
    toks = ["a"] * 7 + ["b"] * 3 + ["c"] * 1
    occ = _occ(spark, toks)
    est = {r.tok: r.cms_cnt for r in sketch.cms_estimate(
        occ.select("tok").distinct(), sketch.cms_build(occ)).collect()}
    assert est == {"a": 7, "b": 3, "c": 1}


def test_cms_sketches_merge_by_cell_addition(spark):
    from ethereum_export_pipeline_spark.operators import sketch
    a = _occ(spark, ["x"] * 4 + ["y"] * 2 + ["z"])
    b = _occ(spark, ["x"] * 3 + ["w"] * 5)
    both = a.unionAll(b)
    merged = (sketch.cms_build(a).unionAll(sketch.cms_build(b))
              .groupBy("r", "c").agg(F.sum("cnt").cast("long").alias("cnt")))
    direct = sketch.cms_build(both)
    sym_diff = (merged.exceptAll(direct).count()
                + direct.exceptAll(merged).count())
    assert sym_diff == 0


def test_cms_heavy_hitters_report_shape(spark):
    from ethereum_export_pipeline_spark.operators.sketch import (
        cms_heavy_hitters)
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(doc_id=1, text="spark spark spark duck duck goose"),
         Row(doc_id=2, text="spark duck")],
        "doc_id long, text string")
    rows = cms_heavy_hitters(df).orderBy("rank").collect()
    assert [r.tok for r in rows] == ["spark", "duck", "goose"]
    assert [r.exact_cnt for r in rows] == [4, 3, 1]
    assert all(r.overcount >= 0 for r in rows)


# ------------------------------------- distribution-shape profiling

def test_equiwidth_histogram_known_bins(spark):
    from ethereum_export_pipeline_spark.operators.checks import (
        equiwidth_histogram)
    from pyspark.sql import Row
    rows = [Row(source="a", n_chars=0), Row(source="a", n_chars=9),
            Row(source="a", n_chars=10), Row(source="b", n_chars=99),
            Row(source="b", n_chars=None)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {(r.source, r.bin): r for r in equiwidth_histogram(df).collect()}
    # global range [0,99], width 10: n_chars=0,9 → bin 0; 10 → bin 1; 99 → 9
    assert out[("a", 0)].n == 2
    assert (out[("a", 0)].bin_lo, out[("a", 0)].bin_hi) == (0, 9)
    assert out[("a", 1)].n == 1
    assert out[("b", 9)].n == 1
    assert (out[("b", 9)].bin_lo, out[("b", 9)].bin_hi) == (90, 99)
    assert ("b", 0) not in out            # unoccupied bins absent


def test_equiwidth_histogram_counts_conserved(spark):
    from ethereum_export_pipeline_spark.operators.checks import (
        equiwidth_histogram)
    from pyspark.sql import Row
    rows = [Row(source=str(i % 3), n_chars=i * 7 % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    from ethereum_export_pipeline_spark.operators.checks import HIST_BINS
    out = equiwidth_histogram(df)
    assert out.agg(F.sum("n")).collect()[0][0] == 200
    assert out.where(f"bin < 0 OR bin > {HIST_BINS - 1}").count() == 0


def test_robust_outlier_census_known_answer(spark):
    from ethereum_export_pipeline_spark.operators.checks import (
        robust_outlier_census)
    from pyspark.sql import Row
    # group a: 1,2,3,4,100 → median 3 (idx 2), |d| = 2,1,0,1,97 →
    # MAD 1 (sorted 0,1,1,2,97 idx 2); outliers: d > 3 → only 100
    rows = [Row(source="a", n_chars=x) for x in (1, 2, 3, 4, 100)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    [r] = robust_outlier_census(df).collect()   # OUTLIER_K = 3
    assert (r.n, r.median, r.mad, r.n_outliers) == (5, 3, 1, 1)
    assert r.outlier_ppm == 1_000_000 // 5


def test_robust_outlier_zero_mad_degenerate(spark):
    from ethereum_export_pipeline_spark.operators.checks import (
        robust_outlier_census)
    from pyspark.sql import Row
    # constant group: MAD 0 → any deviant flagged (documented)
    rows = [Row(source="c", n_chars=5)] * 6 + [Row(source="c", n_chars=6)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    [r] = robust_outlier_census(df).collect()
    assert (r.median, r.mad, r.n_outliers) == (5, 0, 1)


# ---------------------------------------------- KMV pair overlap

def test_kmv_pair_overlap_exact_small_sets(spark):
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.sketch import (
        kmv_pair_overlap)
    # below k everything is exact: a has {x1..x6}, b shares 3 of them,
    # c is disjoint
    rows = ([Row(source="a", text=f"x{i}") for i in range(6)]
            + [Row(source="b", text=f"x{i}") for i in range(3)]
            + [Row(source="b", text=f"y{i}") for i in range(3)]
            + [Row(source="c", text=f"z{i}") for i in range(4)])
    df = spark.createDataFrame(rows, "source string, text string")
    out = {(r.grp_a, r.grp_b): r for r in
           kmv_pair_overlap(df).collect()}
    ab = out[("a", "b")]
    assert ab.n_union_kept == 9 and ab.n_both == 3
    assert ab.est_union == 9.0
    assert ab.est_inter == 3.0          # ρ=3/9 × 9 — exact below k
    ac = out[("a", "c")]
    assert ac.n_both == 0 and ac.est_inter == 0.0
    assert len(out) == 3                # ab, ac, bc


def test_kmv_pair_overlap_estimates_track_truth(spark):
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.sketch import (
        kmv_pair_overlap)
    # 400 shared + 400 unique per side; k=64 sketches should land the
    # intersection estimate within a loose 4σ-ish band of 400
    rows = ([Row(source="a", text=f"s{i}") for i in range(400)]
            + [Row(source="a", text=f"a{i}") for i in range(400)]
            + [Row(source="b", text=f"s{i}") for i in range(400)]
            + [Row(source="b", text=f"b{i}") for i in range(400)])
    df = spark.createDataFrame(rows, "source string, text string")
    [r] = kmv_pair_overlap(df).collect()
    assert 150 <= r.est_inter <= 750
    assert 800 <= r.est_union <= 1800


def test_equidepth_histogram_decile_mass(spark):
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.checks import (
        equidepth_histogram)
    # 100 distinct values in one group → 10 bins of 10 values each
    rows = [Row(source="a", n_chars=i) for i in range(100)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = sorted(equidepth_histogram(df).collect(),   # HIST_BINS = 10
                 key=lambda r: r.bin)
    assert [r.n for r in out] == [10] * 10
    assert out[0].lo == 0 and out[0].hi == 9
    assert out[9].lo == 90 and out[9].hi == 99
    # repeated values weight bin POPULATION, not bin assignment
    rows2 = [Row(source="a", n_chars=1)] * 50 + [
        Row(source="a", n_chars=i + 10)
                                        for i in range(10)]
    df2 = spark.createDataFrame(rows2, "source string, n_chars long")
    out2 = equidepth_histogram(df2).collect()
    assert sum(r.n for r in out2) == 60


# ------------------------------------------------------ HLL sketch

def _py_hll_parts(key: str):
    """Python reference for one key's (bucket, rho) under the pinned
    h60 -> bucket/suffix arithmetic."""
    import hashlib
    from ethereum_export_pipeline_spark.operators.sketch import HLL_M
    h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    suffix = h // HLL_M
    rho = 57 if suffix == 0 else 57 - len(bin(suffix)[2:])
    return h % HLL_M, rho


def test_hll_register_matches_python_reference(spark):
    """Register for a singleton group = hand-computed rho of its one
    key; exact column counts the keys."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        HLL_M, HLL_RCAP, hll_sketch)
    df = spark.createDataFrame([("g", "hello")], "source string, tok string")
    row = {r["source"]: r for r in
           hll_sketch(df).collect()}
    _, rho = _py_hll_parts("hello")
    reg = min(rho, HLL_RCAP)
    expect = (HLL_M - 1) * (1 << HLL_RCAP) + (1 << (HLL_RCAP - reg))
    assert row["g"]["sum_fp"] == expect
    assert row["g"]["n_zero"] == HLL_M - 1
    assert row["g"]["exact_distinct"] == 1
    assert row["__ALL__"]["sum_fp"] == expect


def test_hll_estimate_tracks_truth(spark):
    """n >> m regime: the raw estimator lands inside a generous
    m=16 error band (sigma ~ 1.04/4 = 26%; allow 3 sigma)."""
    from ethereum_export_pipeline_spark.operators.sketch import hll_sketch
    n = 5000
    df = spark.createDataFrame([("g", f"key-{i}") for i in range(n)],
                               "source string, tok string")
    row = {r["source"]: r for r in
           hll_sketch(df).collect()}
    est = row["g"]["est_hll"]
    assert abs(est - n) / n < 0.78, est
    assert row["g"]["exact_distinct"] == n


def test_hll_merge_equals_sketch_of_union(spark):
    """Bucket-wise register max over group sketches == the sketch of
    the union of keys — HLL's merge, no rescan."""
    from ethereum_export_pipeline_spark.operators.sketch import hll_sketch
    rows = ([("a", f"x{i}") for i in range(300)]
            + [("b", f"x{i}") for i in range(150, 450)])
    df = spark.createDataFrame(rows, "source string, tok string")
    merged = {r["source"]: r for r in
              hll_sketch(df).collect()}
    union = spark.createDataFrame([("u", k) for _, k in rows],
                                  "source string, tok string")
    direct = {r["source"]: r for r in
              hll_sketch(union).collect()}
    assert merged["__ALL__"]["sum_fp"] == direct["u"]["sum_fp"]
    assert merged["__ALL__"]["est_hll"] == direct["u"]["est_hll"]
    assert merged["__ALL__"]["exact_distinct"] == 450


def test_hll_rolling_window_carries_and_expires(spark):
    """A user seen on day 0 raises days 0-6's windowed registers (and
    estimates match a single-day sketch exactly), then falls out on
    day 7; the exact harness column counts the true trailing
    distinct."""
    from ethereum_export_pipeline_spark.operators.sketch import (
        hll_rolling_distinct)
    rows = ([(0, 1), (0, 2), (0, 3)]        # 3 users on day 0
            + [(6, 1)]                      # day 6: user 1 again
            + [(7, 9)])                     # day 7: only user 9
    df = spark.createDataFrame(rows, "day long, user_id long")
    out = {r["day"]: r for r in hll_rolling_distinct(df).collect()}
    assert out[0]["exact_distinct"] == 3
    # day 6 window covers days 0-6 -> all 4 user-days, 3 distinct
    assert out[6]["exact_distinct"] == 3
    assert out[6]["sum_fp"] == out[0]["sum_fp"]  # same register set
    # day 7 window covers days 1-7 -> users {1, 9}
    assert out[7]["exact_distinct"] == 2
    assert out[7]["sum_fp"] != out[0]["sum_fp"]  # day-0-only users gone
