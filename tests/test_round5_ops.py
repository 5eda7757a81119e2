"""Round-5 operator tests: hashed classifier inference, DSIR
importance weights, kNN link prediction, banded image near-dup,
Bloom predicate in a lambda, stateless streaming decontamination,
vocabulary coverage, cluster labels, histogram-sketch percentiles,
t-closeness, leakage-safe cluster split, curriculum ordering,
embedding snapshot drift, streaming histogram, gate-agreement kappa,
per-source score calibration, tokenizer fertility, shared-artifact
memos, audio VAD silence runs, and the JSON props schema inventory."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import Row, functions as F

from ethereum_export_pipeline_spark.functions import MERSENNE31
from ethereum_export_pipeline_spark.operators import text as T


def _h32(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % MERSENNE31


# ------------------------------------------- hashed linear classifier

def test_classifier_score_hand_computed(spark):
    w = T.classifier_weights()
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="Foo bar FOO"),
         Row(doc_id=2, text=None),
         Row(doc_id=3, text="")])
    got = {r["doc_id"]: r.asDict()
           for r in T.classifier_score(docs).collect()}
    assert 2 not in got  # NULL text excluded, the tokenize contract
    # empty doc: zero tokens -> logit == bias -> drop
    assert got[3]["n_tokens"] == 0
    assert got[3]["logit_milli"] == T.CLF_BIAS
    assert got[3]["verdict"] == "drop"
    # hand-computed logit: bias + w[h(foo)] * 2 + w[h(bar)]
    exp = (T.CLF_BIAS + 2 * w[_h32("foo") % T.CLF_BUCKETS]
           + w[_h32("bar") % T.CLF_BUCKETS])
    assert got[1]["logit_milli"] == exp
    assert got[1]["n_tokens"] == 3
    assert got[1]["verdict"] == ("keep" if exp > 0 else "drop")


def test_classifier_weights_deterministic_and_bounded(spark):
    w = T.classifier_weights()
    assert w == T.classifier_weights()
    assert len(w) == T.CLF_BUCKETS
    assert all(-500 <= v <= 500 for v in w)


# ----------------------------------------- DSIR importance weights

def test_dsir_scores_and_weights_hand_computed(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, lang="en", text="alpha alpha"),
         Row(doc_id=2, lang="de", text="alpha beta")])
    scores = T.dsir_bucket_scores(docs)
    ba = _h32("alpha") % T.DSIR_BUCKETS
    bb = _h32("beta") % T.DSIR_BUCKETS
    assert ba != bb  # fixture chosen collision-free
    # alpha: 2 target occurrences of 3 total; beta: 0 of 1
    assert scores[ba] == (2 * T.DSIR_SCALE) // 3
    assert scores[bb] == 0
    assert sum(1 for s in scores if s) == 1
    got = {r["doc_id"]: r["dsir_weight_ppm"]
           for r in T.dsir_weights(docs, scores).collect()}
    assert got[1] == 2 * scores[ba]
    assert got[2] == scores[ba]


def test_dsir_uniform_target_scores_scale(spark):
    # every doc is in the target slice: each live bucket scores SCALE
    docs = spark.createDataFrame(
        [Row(doc_id=1, lang="en", text="x y z"),
         Row(doc_id=2, lang="en", text="p q")])
    scores = T.dsir_bucket_scores(docs)
    assert all(s in (0, T.DSIR_SCALE) for s in scores)
    assert sum(1 for s in scores if s == T.DSIR_SCALE) >= 1


# ------------------------------------------- kNN link prediction

def test_link_prediction_square_predicts_diagonals(spark):
    from ethereum_export_pipeline_spark.operators.graph import (
        link_prediction)
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3),
         Row(src=3, dst=4), Row(src=1, dst=4)])
    got = {(r["node_a"], r["node_b"]): r.asDict()
           for r in link_prediction(edges).collect()}
    # the two diagonals, each with both off-corner common neighbors
    assert set(got) == {(1, 3), (2, 4)}
    for k in got:
        assert got[k]["cn"] == 2
        assert got[k]["deg_a"] == 2 and got[k]["deg_b"] == 2
        assert got[k]["jaccard"] == pytest.approx(1.0)


def test_link_prediction_clique_predicts_nothing(spark):
    from ethereum_export_pipeline_spark.operators.graph import (
        link_prediction)
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=1, dst=3), Row(src=2, dst=3)])
    assert link_prediction(edges).count() == 0


# ----------------------------------------- banded image near-dup

def _img(rows8x8):
    """Encode an 8x8 RGB image (one aHash grid cell per pixel)."""
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        encode_netpbm)
    a = np.asarray(rows8x8, dtype=np.uint8)
    return encode_netpbm(np.stack([a, a, a], axis=-1))


def test_ahash_neardup_small_edit_found_far_rejected(spark):
    from ethereum_export_pipeline_spark.operators.multimodal import (
        ahash_neardup_pairs)
    import numpy as np
    black = np.zeros((8, 8), dtype=np.uint8)
    edit = black.copy()
    edit[0, 0] = 255            # flips exactly aHash bit 0 -> hamming 1
    row7 = black.copy()
    row7[7, :] = 255            # flips 8 bits: band-collides on the
    #                             zero bytes but fails the hamming cut
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(_img(black))),
         Row(media_id=2, payload=bytearray(_img(edit))),
         Row(media_id=3, payload=bytearray(_img(row7)))])
    got = [(r["id_a"], r["id_b"], r["hamming"])
           for r in ahash_neardup_pairs(media).collect()]
    assert got == [(1, 2, 1)]


# ------------------------------------- Bloom predicate in a lambda

def test_bloom_hit_pred_inside_filter_lambda(spark):
    from ethereum_export_pipeline_spark.operators.sketch import (
        bloom_bits, bloom_build, bloom_hit_pred)
    keys = spark.createDataFrame([Row(shingle=k) for k in
                                  ("foo", "bar", "baz qux")])
    bits = bloom_bits(bloom_build(keys))
    pred = bloom_hit_pred("s", bits)
    probe = spark.createDataFrame(
        [Row(doc_id=1, sh=["foo", "bar", "nothere-1"]),
         Row(doc_id=2, sh=["baz qux"]),
         Row(doc_id=3, sh=["absent-a", "absent-b"])])
    got = {r["doc_id"]: r["hits"] for r in probe.selectExpr(
        "doc_id",
        f"CAST(size(filter(sh, s -> {pred})) AS BIGINT) AS hits")
        .collect()}
    # no false negatives: every member key hits
    assert got[1] >= 2 and got[2] == 1
    # verified-at-write-time absence of false positives on this fixture
    assert got[1] == 2 and got[3] == 0


# --------------------------------- streaming Bloom decontamination

def test_stream_decontaminate_flags_mid_stream(spark, tmp_path):
    from ethereum_export_pipeline_spark.operators.dedup import shingles
    from ethereum_export_pipeline_spark.operators.sketch import (
        bloom_bits, bloom_build)
    from ethereum_export_pipeline_spark.streaming import (
        stream_decontaminate)
    bench_text = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=bench_text),            # benchmark doc
         Row(doc_id=1, text="xx " + bench_text),    # contaminated
         Row(doc_id=2, text="totally different words here now"),
         Row(doc_id=3, text="al pha be ta")])       # shares no 3-gram
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    bench = (shingles(docs.where("doc_id % 97 = 0"))
             .select("shingle").distinct())
    bits = bloom_bits(bloom_build(bench))
    got = {r["doc_id"]: r.asDict()
           for r in stream_decontaminate(spark, path, bits).collect()}
    assert set(got) == {1, 2, 3}   # benchmark doc excluded from stream
    assert got[1]["contaminated"] == 1
    assert got[1]["n_bloom_hits"] >= 3  # the shared shingles all hit
    assert got[2]["contaminated"] == 0
    assert got[3]["contaminated"] == 0


# ---------------------------------- cross-batch incremental near-dup

def test_incremental_neardup_verdicts(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        incremental_neardup)
    base = ("the quick brown fox jumps over the lazy dog "
            "while the cat watches from the warm windowsill")
    seen = spark.createDataFrame(
        [Row(doc_id=1, text=base),
         Row(doc_id=2, text="completely unrelated corpus text about "
                            "spark shuffles and parquet footers")])
    new = spark.createDataFrame(
        [Row(doc_id=11, text=base + " today"),   # near-dup of seen 1
         Row(doc_id=12, text="brand new words never ingested before "
                             "in any earlier batch at all"),
         Row(doc_id=13, text=None)])             # NULL text: never dup
    got = {r["doc_id"]: r.asDict()
           for r in incremental_neardup(new, seen).collect()}
    assert set(got) == {11, 12, 13}    # one row per new doc
    assert got[11]["is_dup"] == 1 and got[11]["matched_seen"] == 1
    assert got[11]["jaccard"] > 0.5
    assert got[12]["is_dup"] == 0 and got[12]["matched_seen"] is None
    assert got[13]["is_dup"] == 0 and got[13]["jaccard"] is None


def test_incremental_neardup_never_pairs_within_batch(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        incremental_neardup)
    txt = ("in batch duplicate text repeated verbatim across two "
           "new documents of the same ingest run")
    seen = spark.createDataFrame([Row(doc_id=1, text="nothing alike "
                                      "here just filler words only")])
    new = spark.createDataFrame([Row(doc_id=11, text=txt),
                                 Row(doc_id=12, text=txt)])
    got = {r["doc_id"]: r["is_dup"]
           for r in incremental_neardup(new, seen).collect()}
    # identical in-batch twins are NOT each other's dups here
    assert got == {11: 0, 12: 0}


# ------------------------------------------- winnowing fingerprints

def _kr(gram: str) -> int:
    h = 0
    for ch in gram:
        h = (h * 131 + ord(ch)) % 1_000_000_007
    return h


def _winnow_py(text, k, w):
    """Reference winnow: rightmost window minimum, distinct (pos, fp)."""
    hs = [_kr(text[i:i + k]) for i in range(len(text) - k + 1)]
    n = len(hs)
    sel = set()
    for i in range(max(n - w + 1, 1)):
        s = hs[i:i + w]
        m = min(s)
        pos = i + max(j for j, v in enumerate(s) if v == m)
        sel.add((pos + 1, m))          # operator positions are 1-based
    return sel


def test_winnow_matches_reference_including_ties(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        WINNOW_K, WINNOW_W, winnow_fingerprints)
    texts = {1: "the winnowing algorithm selects local minima",
             2: "ab" * 20,             # repeated grams force hash ties
             3: "short str"}           # fewer grams than the window
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, t in texts.items():
        assert got[i] == _winnow_py(t, WINNOW_K, WINNOW_W), f"doc {i}"


def test_winnow_guarantee_shared_match_detected(spark):
    # any common substring of length >= w + k - 1 must share a fp
    from ethereum_export_pipeline_spark.operators.dedup import (
        WINNOW_K, WINNOW_W, winnow_shared_census)
    common = "zqxjvkwpfyhgbdmnrtslcaeuoi"  # 26 chars >= w + k - 1 = 23
    assert len(common) >= WINNOW_W + WINNOW_K - 1
    df = spark.createDataFrame(
        [Row(doc_id=1, text="prefix one " + common + " tail a"),
         Row(doc_id=2, text="other start " + common + " end bb"),
         Row(doc_id=3, text="entirely disjoint content here")])
    got = {r["doc_id"]: r["n_shared"]
           for r in winnow_shared_census(df).collect()}
    assert got[1] >= 1 and got[2] >= 1
    assert got[3] == 0


# ------------------------------------------------ audio resample

def test_resample_audio_gather_and_roundtrip(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_wav, encode_wav, resample_audio)
    samples = np.arange(16, dtype=np.uint8) * 10
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(encode_wav(samples, 16_000))),
         Row(media_id=2, payload=None),
         Row(media_id=3, payload=bytearray(b"not a wav at all......"
                                           b"......................"))])
    got = {r["media_id"]: r["payload"]
           for r in resample_audio(media).collect()}
    assert got[2] is None and got[3] is None
    rate, ch, bits, out = decode_wav(bytes(got[1]))
    assert (rate, ch, bits) == (6_000, 1, 8)
    n_out = 16 * 6_000 // 16_000
    exp = samples[(np.arange(n_out) * 16_000) // 6_000]
    assert out[:, 0].tolist() == exp.tolist()


def test_resample_audio_16bit_and_empty(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_wav, encode_wav, resample_audio)
    s16 = (np.arange(8, dtype=np.int16) - 4) * 1000
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(encode_wav(s16, 16_000))),
         Row(media_id=2, payload=bytearray(
             encode_wav(np.zeros(0, np.uint8), 16_000)))])
    got = {r["media_id"]: r["payload"]
           for r in resample_audio(media).collect()}
    rate, _, bits, out = decode_wav(bytes(got[1]))
    assert (rate, bits) == (6_000, 16)          # dtype preserved
    # 8 samples at 16 kHz → 3 at 6 kHz: out[i] = s16[i·16000 div 6000]
    assert out[:, 0].tolist() == s16[[0, 2, 5]].tolist()
    rate2, _, _, out2 = decode_wav(bytes(got[2]))
    assert rate2 == 6_000 and out2.shape[0] == 0   # empty stays empty


# ---------------------------------------------------- phrase search

def test_phrase_hits_known_positions(spark):
    rows = [
        Row(doc_id=1, text="hash join beats sort merge hash join"),
        Row(doc_id=2, text="no match here hash only join hash"),
        Row(doc_id=3, text="HASH  Join!! uppercase and punctuation"),
        Row(doc_id=4, text=None),
        Row(doc_id=5, text="hash"),           # shorter than phrase
    ]
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r for r in
           T.phrase_hits(df).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_hits"] == 2 and out[1]["first_pos"] == 0
    # tokenization lowercases and strips punctuation
    assert out[3]["n_hits"] == 1 and out[3]["first_pos"] == 0


# ------------------------------------------------------- RRF fusion

def test_rrf_fuse_hand_computed(spark):
    """Two 3-item lists with one shared doc: the shared doc's exact
    integer score 1e6//61 + 1e6//63 beats both rank-1 singles."""
    from ethereum_export_pipeline_spark.operators.text import (
        RRF_C, RRF_SCALE, rrf_fuse)
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)],
                              "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (11, 2), (21, 3)],
                              "doc_id long, rank long")
    out = {r["doc_id"]: r for r in
           rrf_fuse({"bm25": a, "ann": b}).collect()}
    assert out[11]["rrf_score"] == RRF_SCALE // (RRF_C + 2) * 2
    assert out[11]["n_lists"] == 2
    assert out[11]["bm25_rank"] == 2 and out[11]["ann_rank"] == 2
    assert out[11]["rank"] == 1          # fused winner
    assert out[10]["rrf_score"] == RRF_SCALE // (RRF_C + 1)
    assert out[10]["ann_rank"] is None
    # deterministic tie-break between the two rank-1 singles
    assert out[10]["rank"] == 2 and out[20]["rank"] == 3


def test_rrf_fuse_respects_k(spark):
    from ethereum_export_pipeline_spark.operators.text import RRF_K, rrf_fuse
    a = spark.createDataFrame([(i, i + 1) for i in range(RRF_K + 10)],
                              "doc_id long, rank long")
    out = rrf_fuse({"only": a}).collect()
    assert len(out) == RRF_K
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] \
        == list(range(RRF_K))


# ---------------------------------------------------- TextRank keywords

def test_textrank_hub_outranks_leaf(spark):
    """A hub word adjacent to many distinct words accumulates rank
    above any single leaf; ranks are positive exact ints."""
    rows = []
    for w in ("alpha", "beta", "gamma", "delta"):
        rows += [Row(text=f"hub {w} hub {w} hub {w}")]
    df = spark.createDataFrame(rows)
    out = T.textrank_keywords(df).collect()
    by_rank = sorted(out, key=lambda r: r["kw_rank"])
    assert by_rank[0]["term"] == "hub"
    assert all(r["rank"] > 0 for r in out)
    assert by_rank[0]["rank_norm"] == by_rank[0]["rank"] / 1e9


def test_textrank_min_count_cuts_rare_edges(spark):
    """A pair seen once never enters the graph (TEXTRANK_MIN_COUNT=3);
    (a, b), seen 3 times, does."""
    df = spark.createDataFrame(
        [Row(text="a b a b a b"), Row(text="rare pair")])
    terms = {r["term"] for r in
             T.textrank_keywords(df).collect()}
    assert terms == {"a", "b"}


# ---------------------------------------------- density-inverse sampling

def test_density_sample_isolated_point_favored(spark):
    """A tight cluster's members see high kNN cosine density → low
    weight; an isolated orthogonal point gets density ≤ cluster's and
    weight ≥ — and every vector gets exactly one verdict row."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        EMB_DIM, density_sample, knn_graph)
    dim = EMB_DIM
    base = [1.0] + [0.0] * (dim - 1)
    rows = []
    for i in range(6):                      # near-identical cluster
        v = list(base)
        v[1] = 0.01 * i
        rows.append((i, v))
    iso = [0.0] * dim
    iso[dim - 1] = 1.0                      # orthogonal singleton
    rows.append((99, iso))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           density_sample(df, knn_graph(df)).collect()}
    assert len(out) == 7
    clus_d = out[0]["dens_ppm"]
    assert clus_d > 900_000                 # ~cos 1.0 neighbors
    assert out[99]["dens_ppm"] < clus_d
    assert out[99]["w"] > out[0]["w"]
    assert all(r["keep"] in (0, 1) for r in out.values())


# ----------------------------------------------------- video scene cuts

def test_scene_cuts_boundary_detected(spark):
    """doc_id=2 → 4 frames, scenes [0,1] / [2,3] (inverted): only the
    boundary pair crosses the SAD threshold; SAD matches a numpy
    reference computed from the documented tiling."""
    import numpy as np
    from ethereum_export_pipeline_spark.operators import multimodal as MM
    text = "hello world this is a clip"
    df = spark.createDataFrame([Row(doc_id=2, text=text)])
    media = MM.documents_as_video_media(df, scene_at_half=True)
    out = sorted(MM.scene_cuts(media).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [1, 2, 3]
    raw = np.frombuffer(text.encode(), np.uint8)

    def plane(f, total=4):
        p = np.resize(np.roll(raw, -f), 192).astype(np.int64)
        return 255 - p if f >= total // 2 else p

    for r in out:
        f = r["frame_idx"]
        assert r["sad"] == int(np.abs(plane(f) - plane(f - 1)).sum())
    assert [r["is_cut"] for r in out] == [0, 1, 0]


def test_scene_cuts_no_scene_no_cuts(spark):
    """Without the injected boundary every pair is a 1-byte rotation
    — SAD far below threshold, zero cuts; single-frame clips are
    silent."""
    from ethereum_export_pipeline_spark.operators import multimodal as MM
    df = spark.createDataFrame(
        [Row(doc_id=3, text="steady clip with no scene change"),
         Row(doc_id=0, text="two frames only"),
         Row(doc_id=7, text=None)])
    media = MM.documents_as_video_media(df, scene_at_half=False)
    out = MM.scene_cuts(media).collect()
    assert out and all(r["is_cut"] == 0 for r in out)
    assert {r["media_id"] for r in out} == {0, 3}


# ------------------------------------------------- distributed ranking

def test_global_rank_matches_reference_with_ties(spark):
    from pyspark.sql import functions as F2
    from ethereum_export_pipeline_spark.operators.layout import global_rank
    rows = [(i, (i * 7) % 5) for i in range(200)]   # heavy ties
    df = spark.createDataFrame(rows, "id long, score long")
    out = global_rank(df, [F2.col("score").desc(), F2.col("id").asc()])
    got = {r["id"]: r["global_rank"] for r in out.collect()}
    ref = sorted(rows, key=lambda t: (-t[1], t[0]))
    assert got == {id_: i + 1 for i, (id_, _) in enumerate(ref)}
    # dense, exact, no gaps
    assert sorted(got.values()) == list(range(1, 201))


# ------------------------------------------------ blocklist tagging

def test_blocklist_hits_whole_token_runs_only(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the TABLE hash is big"),
         Row(doc_id=2, text="nothing to see"),
         Row(doc_id=3, text="customer join then table hash"),
         Row(doc_id=4, text="tablet hashes"),       # substring trap
         Row(doc_id=5, text=None)])
    # BLOCKLIST: "table hash", "customer join", "slow key", ...
    got = {r["doc_id"]: r.asDict() for r in T.blocklist_hits(docs).collect()}
    assert set(got) == {1, 3}
    assert got[1]["hits"] == "table hash" and got[1]["n_hits"] == 1
    # hits reported in BLOCKLIST order, not document order
    assert got[3]["hits"] == "table hash|customer join"
    assert got[3]["n_hits"] == 2


# ------------------------------------------- hard-negative mining

def test_hard_negatives_top_cross_label_from_knn(spark):
    from ethereum_export_pipeline_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graph = S.knn_graph(emb)
    g = graph.toPandas()
    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    # expected: per anchor, best (cosine desc, neighbor asc) neighbor
    # whose label differs
    exp = {}
    for row in g.sort_values(
            ["vec_id", "cosine", "neighbor_id"],
            ascending=[True, False, True]).itertuples():
        a, n = row.vec_id, row.neighbor_id
        if a not in exp and labels[n] != labels[a]:
            exp[a] = (n, labels[a], labels[n])
    out = S.hard_negatives(emb, graph).collect()
    got = {r["vec_id"]: (r["neg_id"], r["label"], r["neg_label"])
           for r in out}
    assert got == exp
    assert all(r["label"] != r["neg_label"] for r in out)


# -------------------------------------- semantic decontamination

def test_semantic_decontaminate_verdict_contract(spark):
    from ethereum_export_pipeline_spark.operators import similarity as S
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.semantic_decontaminate(emb).collect()
    n_corpus = emb.where("vec_id % 97 != 0").count()
    assert len(out) == n_corpus            # one verdict per corpus vec
    assert {r["vec_id"] % 97 for r in out} != {0}
    hits = [r for r in out if r["contaminated"] == 1]
    misses = [r for r in out if r["contaminated"] == 0]
    assert hits and misses                  # both paths exercised
    for r in hits:
        assert r["n_matches"] >= 1
        assert r["top_bench_id"] % 97 == 0  # the match IS a bench vec
        assert r["max_cosine"] >= S.SEMDECON_COS
    for r in misses:
        assert (r["n_matches"], r["top_bench_id"]) == (0, -1)
        assert r["max_cosine"] == 0.0


# ------------------------------------------- vocabulary coverage

def test_vocab_coverage_hand_computed(spark):
    # VOCAB_SIZE=16: the top-16 by count are a(17), b(16) and t0..t13
    # (2 each, term order); c and zz (1 each) are OOV
    assert T.VOCAB_SIZE == 16
    filler = " ".join(f"t{i:02d} t{i:02d}" for i in range(14))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b c"),
         Row(doc_id=2, text="a b"),
         Row(doc_id=3, text="zz"),
         Row(doc_id=4, text=None),
         Row(doc_id=5, text=" ".join(["a"] * 14 + ["b"] * 14) + " " + filler)])
    got = {r["doc_id"]: r.asDict()
           for r in T.vocab_coverage(docs).collect()}
    assert set(got) == {1, 2, 3, 5}   # NULL text excluded
    assert (got[1]["n_tokens"], got[1]["n_oov"]) == (4, 1)
    assert got[1]["oov_ppm"] == 250_000
    assert (got[2]["n_oov"], got[2]["oov_ppm"]) == (0, 0)
    assert (got[3]["n_oov"], got[3]["oov_ppm"]) == (1, 1_000_000)


def test_vocab_coverage_tie_break_on_term(spark):
    # a leads; 16 single-count terms tie for the last 15 vocabulary
    # slots: term order keeps b00..b14, so b15 is OOV
    docs = spark.createDataFrame([Row(
        doc_id=1, text="a a " + " ".join(f"b{i:02d}" for i in range(16)))])
    got = T.vocab_coverage(docs).collect()[0]
    assert (got["n_tokens"], got["n_oov"]) == (18, 1)


# --------------------------------------------- cluster labeling

def test_cluster_labels_contract(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    out = ALL_QUERIES["emb_cluster_labels"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert out
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
        assert r["lift"] > 0 and r["n_ct"] >= 5
        assert r["n_ct"] <= r["n_c"] and r["n_ct"] <= r["n_t"]
    for cell, rows in by_cell.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))  # contiguous
        assert len({r["term"] for r in rows}) == len(rows)


# -------------------------------------- histogram-sketch percentiles

def test_sketch_percentiles_bracket_contains_exact(spark):
    """The log2-bucket answer must bracket the exact percentile:
    lo <= percentile_disc <= 2*lo - 1 (bucket b covers
    [2^(b-1), 2^b - 1]; b=1 covers {0, 1})."""
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r.asDict() for r in
           ALL_QUERIES["q_sketch_percentiles"].fn(spark, sf).collect()}
    assert got
    ev = load_table(spark, sf, "events").where("value IS NOT NULL")
    exact = {r["event_type"]: r.asDict() for r in ev.groupBy("event_type")
             .agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY "
                         "CAST(round(value*100) AS BIGINT))").alias("p50"),
                  F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY "
                         "CAST(round(value*100) AS BIGINT))").alias("p99"))
             .collect()}
    for t, row in got.items():
        for lo_key, ex_key in (("p50_lo_cents", "p50"),
                               ("p99_lo_cents", "p99")):
            lo = row[lo_key]
            hi = 1 if lo == 0 else 2 * lo - 1
            assert lo <= exact[t][ex_key] <= hi, (t, lo_key, lo,
                                                  exact[t][ex_key])


# -------------------------------------------------- t-closeness

def test_t_closeness_flags_are_valid_groups(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.sources.tables import (
        load_table, with_event_time)
    sf = "/root/testdata/sf0.001"
    out = ALL_QUERIES["q_t_closeness"].fn(spark, sf).collect()
    ev = (load_table(spark, sf, "events")
          .select("event_type",
                  F.expr("ts_ns div 1000 div 3600000000").alias("hour")))
    sizes = {(r["event_type"], r["hour"]): r["k"] for r in
             ev.groupBy("event_type", "hour")
               .agg(F.count(F.lit(1)).cast("long").alias("k")).collect()}
    for r in out:
        assert 300_000 < r["t_ppm"] <= 1_000_000   # EMD is a [0,1] ppm
        assert sizes[(r["event_type"], r["hour"])] == r["k"]


# ------------------------------------------- leakage-safe split

def test_leakage_split_cluster_members_share_side(spark):
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(1, 7)])
    clusters = spark.createDataFrame(
        [Row(doc_id=1, cluster_id=1), Row(doc_id=2, cluster_id=1),
         Row(doc_id=3, cluster_id=1), Row(doc_id=5, cluster_id=5),
         Row(doc_id=6, cluster_id=5)])
    got = {r["doc_id"]: r.asDict()
           for r in T.leakage_split(docs, clusters).collect()}
    assert set(got) == set(range(1, 7))
    # cluster members inherit the canonical id and the SAME side
    assert {got[i]["group_id"] for i in (1, 2, 3)} == {1}
    assert len({got[i]["split"] for i in (1, 2, 3)}) == 1
    assert {got[i]["group_id"] for i in (5, 6)} == {5}
    assert len({got[i]["split"] for i in (5, 6)}) == 1
    # singleton falls back to its own id
    assert got[4]["group_id"] == 4
    # the split is the salted h32 bucketing, reproducible by hand
    for i, r in got.items():
        h = int(hashlib.md5(f"gsplit-v1:{r['group_id']}".encode())
                .hexdigest()[:8], 16) % MERSENNE31
        assert r["split"] == ("train" if h % 100 < 90 else "val")


def test_cluster_split_never_splits_a_minhash_cluster(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.operators import dedup
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    out = ALL_QUERIES["doc_cluster_split"].fn(spark, sf).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    docs = load_table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(*dedup.minhash_index(docs))
    linked = pairs.collect()
    assert linked  # fixture must exercise the non-singleton path
    for p in linked:
        assert split_of[p["doc_a"]] == split_of[p["doc_b"]], p


# ------------------------------------------------ curriculum stages

def test_curriculum_stage_cuts_and_order(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.plans.llm import CURRICULUM_STAGES
    rows = ALL_QUERIES["doc_curriculum"].fn(
        spark, "/root/testdata/sf0.001").collect()
    n = len(rows)
    assert n > 0
    ranks = sorted(r["curriculum_rank"] for r in rows)
    assert ranks == list(range(1, n + 1))  # exact, gapless, 1-based
    # stage = (rank-1)*S div N: equal cuts, monotone in rank
    for r in rows:
        assert r["stage"] == (r["curriculum_rank"] - 1) * \
            CURRICULUM_STAGES // n
    sizes = {}
    for r in rows:
        sizes[r["stage"]] = sizes.get(r["stage"], 0) + 1
    assert set(sizes) == set(range(CURRICULUM_STAGES))
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_curriculum_rank_follows_quality(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r["curriculum_rank"] for r in
           ALL_QUERIES["doc_curriculum"].fn(spark, sf).collect()}
    q = {r["doc_id"]: r["quality_score"] for r in
         T.quality_score(load_table(spark, sf, "documents")).collect()}
    by_rank = sorted(got, key=got.get)
    for a, b in zip(by_rank, by_rank[1:]):
        assert (q[a] > q[b]) or (q[a] == q[b] and a < b)


# -------------------------------------------- embedding snapshot drift

def test_snapshot_drift_counts_and_tv_bounds(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.operators import similarity
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    rows = ALL_QUERIES["emb_snapshot_drift"].fn(spark, sf).collect()
    assert rows
    cells = {r["cell"]: r for r in rows}
    a = similarity.kmeans_assign(load_table(spark, sf, "embeddings"))
    sizes = {r["cell"]: r["n"] for r in
             a.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(cells) == set(sizes)
    for c, r in cells.items():
        assert r["n_old"] + r["n_new"] == sizes[c]
        assert 0 <= r["ppm_old"] <= 1_000_000
        assert 0 <= r["ppm_new"] <= 1_000_000
        assert r["delta_ppm"] == abs(r["ppm_old"] - r["ppm_new"])
    # floor-division residue keeps each side's ppm total just under 1e6
    for side in ("ppm_old", "ppm_new"):
        s = sum(r[side] for r in rows)
        assert 1_000_000 - len(rows) <= s <= 1_000_000
    tv_ppm = sum(r["delta_ppm"] for r in rows) // 2
    assert 0 <= tv_ppm <= 1_000_000


# -------------------------------------------- streaming histogram

def test_stream_histogram_equals_batch(spark):
    from ethereum_export_pipeline_spark.streaming import (
        stream_value_histogram)
    from ethereum_export_pipeline_spark.sources.tables import (
        load_table)
    sf = "/root/testdata/sf0.001"
    got = {(r["win"], r["b"]): r["n"] for r in
           stream_value_histogram(spark,
                                  f"{sf}/events.parquet").collect()}
    WINDOW_US = 600_000_000
    exp = {(r["win"], r["b"]): r["n"] for r in
           (load_table(spark, sf, "events")
            .where(F.col("value").isNotNull())
            .groupBy(F.expr(f"(ts_ns div 1000) div {WINDOW_US}")
                      .alias("win"),
                     F.length(F.expr(
                         "bin(greatest("
                         "CAST(round(value * 100) AS BIGINT), 0L))"))
                      .cast("long").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))).collect()}
    assert got == exp and got


# ------------------------------------------------ gate agreement

def test_gate_agreement_kappa_matches_counts(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    row = ALL_QUERIES["doc_gate_agreement"].fn(
        spark, "/root/testdata/sf0.001").collect()[0]
    n11, n10, n01, n00, n = (row["n11"], row["n10"], row["n01"],
                             row["n00"], row["n"])
    assert n11 + n10 + n01 + n00 == n and n > 0
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    exp = 0.0 if pe == 1.0 else (po - pe) / (1.0 - pe)
    assert abs(row["kappa"] - exp) < 1e-9
    assert -1.0 <= row["kappa"] <= 1.0


# --------------------------------------------- score calibration

def test_score_calibration_ranks_and_ppm(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    rows = ALL_QUERIES["doc_score_calibration"].fn(
        spark, "/root/testdata/sf0.001").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src) > 1
    for src, rs in by_src.items():
        n = len(rs)
        ranks = sorted(r["src_rank"] for r in rs)
        assert ranks == list(range(1, n + 1))   # gapless per source
        for r in rs:
            assert r["pct_ppm"] == r["src_rank"] * 1_000_000 // n
        assert max(r["pct_ppm"] for r in rs) == 1_000_000


# ------------------------------------------------- fertility

def test_fertility_bounds_and_reconciliation(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.plans.llm import _get_bpe_merges
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    rows = ALL_QUERIES["doc_fertility"].fn(spark, sf).collect()
    assert rows
    docs = load_table(spark, sf, "documents")
    enc = T.bpe_encode_counts(docs, merges=_get_bpe_merges(spark, sf))
    tot = enc.agg(F.sum("n_words").alias("w"),
                  F.sum("n_bpe_tokens").alias("b"),
                  F.count(F.lit(1)).alias("d")).collect()[0]
    assert sum(r["n_words"] for r in rows) == tot["w"]
    assert sum(r["n_bpe_tokens"] for r in rows) == tot["b"]
    assert sum(r["n_docs"] for r in rows) == tot["d"]
    for r in rows:
        # every word is at least one BPE symbol
        assert r["fertility"] >= 1.0
        assert r["fertility"] == r["n_bpe_tokens"] / r["n_words"]


# ------------------------------------------- shared-artifact memos

def test_shared_artifact_memos_are_per_session_and_corpus(spark):
    from ethereum_export_pipeline_spark.plans import llm
    sf = "/root/testdata/sf0.001"
    p1 = llm._lsh_pairs(spark, sf)
    p2 = llm._lsh_pairs(spark, sf)
    assert p1 is p2                      # one computation per corpus
    c1 = llm._cc(spark, sf)
    assert c1 is llm._cc(spark, sf)
    k1 = llm._kmeans_cells(spark, sf)
    assert k1 is llm._kmeans_cells(spark, sf)
    # the key normalizes path spelling: same corpus -> same artifact
    assert llm._lsh_pairs(spark, "/root/testdata/sf0.001/") is p1
    # and the memoized frames ARE the graded results
    from ethereum_export_pipeline_spark.operators import dedup
    from ethereum_export_pipeline_spark.sources.tables import load_table
    fresh = dedup.minhash_lsh_pairs(
        *dedup.minhash_index(load_table(spark, sf, "documents")))
    assert sorted(map(tuple, p1.collect())) == \
        sorted(map(tuple, fresh.collect()))


def test_minhash_quality_reads_the_memoized_index(spark):
    """The pair graph and the estimator-quality report share one
    MinHash index: once the pair graph is built, building the report
    runs no Spark job, and it equals the report over a fresh index."""
    from ethereum_export_pipeline_spark.plans import llm
    from ethereum_export_pipeline_spark.operators import dedup
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    index = llm._minhash_index(spark, sf)
    assert llm._minhash_index(spark, sf) is index
    llm._lsh_pairs(spark, sf)
    sc, group = spark.sparkContext, "minhash_quality_build"
    sc.setJobGroup(group, group)
    try:
        report = llm._minhash_quality(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    sh, sig = dedup.minhash_index(load_table(spark, sf, "documents"))
    fresh = dedup.minhash_estimator_quality(
        sig, dedup.minhash_lsh_pairs(sh, sig))
    got = sorted(map(tuple, report.collect()))
    assert got and got == sorted(map(tuple, fresh.collect()))


# ------------------------------------------------- audio VAD

def test_audio_vad_hand_computed_runs(spark):
    from ethereum_export_pipeline_spark.operators import multimodal as M
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aaaaaaaaaaaa"),          # one 12-run at 0
         Row(doc_id=2, text="AAAA bbbbbbbbbb"),       # 10-run at 5
         Row(doc_id=3, text="abc"),                   # sub-min run
         Row(doc_id=4, text=None),                    # NULL payload
         Row(doc_id=5, text=""),                      # data-less WAV
         Row(doc_id=6, text="aaaaaaaa0aaaaaaaaa")])   # 8-run + 9-run
    media = M.documents_as_wav_media(docs)
    got = {r["media_id"]: r.asDict()
           for r in M.audio_silence_runs(media).collect()}
    assert (got[1]["n_runs"], got[1]["n_silent"],
            got[1]["longest_run"], got[1]["lead_in"]) == (1, 12, 12, 12)
    assert (got[2]["n_runs"], got[2]["n_silent"],
            got[2]["longest_run"], got[2]["lead_in"]) == (1, 10, 10, 0)
    assert (got[3]["n_samples"], got[3]["n_runs"],
            got[3]["lead_in"]) == (3, 0, 0)
    assert got[4]["n_samples"] is None and got[4]["n_runs"] is None
    assert (got[5]["n_samples"], got[5]["n_runs"]) == (0, 0)
    assert (got[6]["n_runs"], got[6]["n_silent"],
            got[6]["longest_run"], got[6]["lead_in"]) == (2, 17, 9, 8)


# ------------------------------------------- props schema inventory

def test_props_keys_inventory(spark, tmp_path):
    import datetime as dt
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, "click", 1.0, '{"a": 1, "b": "x"}'),
        (2, t0 + dt.timedelta(hours=1), 2, "click", 2.0, '{"a": 2}'),
        (3, t0 + dt.timedelta(hours=2), 3, "buy", 3.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {r["key"]: r.asDict() for r in
           ALL_QUERIES["q_props_keys"].fn(spark, str(tmp_path)).collect()}
    assert set(got) == {"a", "b"}
    us0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert (got["a"]["n"], got["a"]["share_ppm"]) == (2, 666_666)
    assert (got["a"]["first_us"], got["a"]["last_us"]) == (
        us0, us0 + 3_600_000_000)
    assert (got["b"]["n"], got["b"]["share_ppm"]) == (1, 333_333)
    assert got["b"]["first_us"] == got["b"]["last_us"] == us0


# -------------------------------------------- event transitions

def test_event_transitions_conservation_and_ppm(spark):
    from ethereum_export_pipeline_spark.plans import ALL_QUERIES
    from ethereum_export_pipeline_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    rows = ALL_QUERIES["q_event_transitions"].fn(spark, sf).collect()
    assert rows
    ev = load_table(spark, sf, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every user contributes (its event count - 1) transitions
    assert sum(r["n"] for r in rows) == n_events - n_users
    by_src = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)
        assert 0 < r["p_ppm"] <= 1_000_000
    for src, rs in by_src.items():
        tot = sum(r["n"] for r in rs)
        s = sum(r["p_ppm"] for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000  # truncating div
        for r in rs:
            assert r["p_ppm"] == r["n"] * 1_000_000 // tot
