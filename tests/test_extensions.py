"""Known-answer tests for the LLM-pipeline extension operators
(dedup / text / similarity / multimodal) — hand-computed fixtures, no
oracle needed."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import Row, functions as F


def docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string")


# ------------------------------------------------------------- dedup

def test_dedup_exact_clusters_and_null_text(spark):
    from ethereum_export_pipeline_spark.operators.dedup import dedup_exact
    df = docs(spark, [(1, "hello world"), (2, "hello world"),
                      (3, "different"), (4, None), (5, None)])
    out = {r.keep_doc_id: r.n_copies for r in dedup_exact(df).collect()}
    # null-text docs are excluded, not clustered together
    assert out == {1: 2, 3: 1}


def test_shingles_known_count(spark):
    from ethereum_export_pipeline_spark.operators.dedup import shingles
    df = docs(spark, [(1, "a b c d"), (2, "x y")])
    got = sorted((r.doc_id, r.shingle) for r in shingles(df).collect())
    assert got == [(1, "a b c"), (1, "b c d")]  # doc 2: <3 tokens → none


def test_ngram_jaccard_known_value(spark):
    from ethereum_export_pipeline_spark.operators.dedup import ngram_jaccard_pairs
    # doc1: shingles {abc, bcd, cde}; doc2: {abc, bcd, cdx} → J = 2/4
    df = docs(spark, [(1, "a b c d e"), (2, "a b c d x")])
    [row] = ngram_jaccard_pairs(df).collect()
    assert (row.doc_a, row.doc_b, row.n_common) == (1, 2, 2)
    assert row.jaccard == pytest.approx(0.5)


def test_ngram_df_cut_drops_hot_shingles(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        DEFAULT_MAX_DF, ngram_jaccard_pairs)
    # every doc shares the shingle "t t t": in more than DEFAULT_MAX_DF
    # docs it is hot and dropped, so no candidate pairs survive; in 5
    # docs it is kept and pairs all of them
    hot = docs(spark, [(i, "t t t") for i in range(DEFAULT_MAX_DF + 1)])
    assert ngram_jaccard_pairs(hot).count() == 0
    df = docs(spark, [(i, "t t t") for i in range(5)])
    assert ngram_jaccard_pairs(df).count() == 10


def test_minhash_finds_identical_docs(spark):
    from ethereum_export_pipeline_spark.operators.dedup import minhash_lsh_pairs
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = docs(spark, [(1, text), (2, text), (3, "completely other words here")])
    [row] = minhash_lsh_pairs(df).collect()
    assert (row.doc_a, row.doc_b) == (1, 2)
    assert row.jaccard == pytest.approx(1.0)


def test_simhash_identical_docs_hamming_zero(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        simhash_fingerprints, simhash_pairs)
    text = "spark engines like wide codegen stages"
    df = docs(spark, [(1, text), (2, text), (3, "unrelated content entirely")])
    fps = {r.doc_id: r.fingerprint for r in simhash_fingerprints(df).collect()}
    assert fps[1] == fps[2] != fps[3]
    pairs = [(r.doc_a, r.doc_b, r.hamming) for r in simhash_pairs(df).collect()]
    assert (1, 2, 0) in pairs


# -------------------------------------------------------------- text

def test_language_id_votes(spark):
    from ethereum_export_pipeline_spark.operators.text import language_id
    df = docs(spark, [(1, "the cat and the dog"), (2, "der Hund und die Katze"),
                      (3, "zzz qqq")])
    got = {r.doc_id: r.pred_lang for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_quality_score_hand_computed(spark):
    from ethereum_export_pipeline_spark.operators.text import quality_score
    # "the cat." → n_chars=8, tokens [the, cat] → n_tokens=2,
    # token_chars=6, alnum=6, stopwords=1 (the)
    df = docs(spark, [(1, "the cat.")])
    [r] = quality_score(df).collect()
    assert (r.n_chars, r.n_tokens, r.n_token_chars, r.n_alnum,
            r.n_stopwords) == (8, 2, 6, 6, 1)
    assert r.avg_token_len == pytest.approx(3.0)
    assert r.alnum_ratio == pytest.approx(6 / 8)
    assert r.stopword_ratio == pytest.approx(0.5)
    # score = min(2/100,1)*.25 + .75*.25 + .5*.25 + .25 (avg_tok in [3,10])
    assert r.quality_score == pytest.approx(0.02 * 0.25 + 0.75 * 0.25 + 0.5 * 0.25 + 0.25)


def test_token_counts_ws_vs_regex(spark):
    from ethereum_export_pipeline_spark.operators.text import token_counts
    df = docs(spark, [(1, "Hello,  world!  it's-me")])
    [r] = token_counts(df).collect()
    assert r.ws_tokens == 3          # Hello,  world!  it's-me
    assert r.re_tokens == 5          # hello world it s me


def test_fingerprint_matches_python_twin(spark):
    from ethereum_export_pipeline_spark.operators.text import fingerprint
    p = 2_147_483_647
    toks = ["alpha", "beta", "gamma"]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % p

    expected = sum(((i + 1) * h32(t)) % p for i, t in enumerate(toks)) % p
    df = docs(spark, [(1, "Alpha beta GAMMA")])
    [r] = fingerprint(df).collect()
    assert (r.fingerprint, r.re_tokens) == (expected, 3)


# -------------------------------------------------------------- similarity

def embs(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def pad64(v):
    """`v` zero-padded to the operators' 64 dims: cosines, quantized
    dots and LSH projections are those of `v` itself."""
    from ethereum_export_pipeline_spark.operators.similarity import EMB_DIM
    return list(v) + [0.0] * (EMB_DIM - len(v))


def test_brute_force_topk_ordering(spark):
    from ethereum_export_pipeline_spark.operators.similarity import brute_force_topk
    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = embs(spark, [(0, base), (100, near), (200, far)])
    got = [(r.neighbor_id, r.rank) for r in
           brute_force_topk(df).where("query_id = 0").collect()]
    assert got == [(100, 1), (200, 2)]


def test_lsh_topk_dim_guard_filters_bad_rows(spark):
    from ethereum_export_pipeline_spark.operators.similarity import lsh_topk
    df = embs(spark, [(0, [1.0] * 64), (1, [1.0] * 64), (2, [1.0] * 3)])
    out = lsh_topk(df, k=5, n_bands=1, query_pred="vec_id = 0").collect()
    ids = {r.neighbor_id for r in out}
    assert 2 not in ids            # wrong width filtered, not bucket-0'd
    assert ids == {1}
    assert out[0].cosine == pytest.approx(1.0)


def test_embedding_neardup_pairs_threshold(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs)
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.999, 0.01, 0.0, 0.0]
    c = [-1.0, 0.0, 0.0, 0.0]
    df = embs(spark, [(1, pad64(a)), (2, pad64(b)), (3, pad64(c))])
    pairs = {(r.id_a, r.id_b) for r in
             embedding_neardup_pairs(df, n_bands=1).collect()}
    assert pairs == {(1, 2)}


# -------------------------------------------------------------- multimodal

def test_netpbm_roundtrip_and_header_parsing():
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_image, encode_netpbm)
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    w, h, c, back = decode_image(encode_netpbm(px))
    assert (w, h, c) == (3, 2, 3) and (back == px).all()
    # grayscale P5
    g = np.array([[0, 255], [7, 32]], dtype=np.uint8)
    w, h, c, back = decode_image(encode_netpbm(g))
    assert (w, h, c) == (2, 2, 1) and (back[:, :, 0] == g).all()
    # spec corners: comments between header tokens parse; garbage,
    # truncated planes and 16-bit maxval are rejected as None
    assert decode_image(b"P6 # rgb\n# comment\n2 1\n# again\n255\n"
                        b"\x01\x02\x03\x04\x05\x06")[0:3] == (2, 1, 3)
    assert decode_image(None) is None
    assert decode_image(b"JFIF....") is None
    assert decode_image(b"P6\n2 2\n255\n\x00\x01") is None   # truncated
    assert decode_image(b"P6\n2 1\n65535\n" + b"\x00" * 12) is None


def test_extract_features_decodes_real_pixels(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        encode_netpbm, extract_features)
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[0, 0] = (10, 20, 30)
    px[1, 1] = (200, 0, 100)
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_netpbm(px)), meta=None),
         Row(media_id=2, payload=None, meta=None),
         Row(media_id=3, payload=b"not an image", meta=None)],
        "media_id long, payload binary, meta struct<format:string>")
    got = {r.media_id: r for r in extract_features(media).collect()}
    r1 = got[1]
    assert (r1.width, r1.height, r1.channels) == (2, 2, 3)
    assert r1.ch_sum == [210, 20, 130]          # exact per-channel sums
    # buckets: 10,20,30,0*6 → <32 ⇒ bucket0 ×9; 200 ⇒ b6; 100 ⇒ b3
    assert r1.px_hist == [10, 0, 0, 1, 0, 0, 1, 0]
    assert sum(r1.px_hist) == 12
    assert got[2].n_bytes == 0 and got[2].ch_sum is None   # null payload
    assert got[3].n_bytes == 12 and got[3].width is None   # undecodable


def test_binary_stats_accounting(spark):
    from ethereum_export_pipeline_spark.operators.multimodal import (
        binary_stats, documents_as_media)
    df = docs(spark, [(1, "abc"), (2, "defghi")])
    [r] = binary_stats(documents_as_media(df)).collect()
    assert (r.format, r.n_items, r.total_bytes, r.max_bytes, r.min_bytes) == (
        "text/plain", 2, 9, 6, 3)


# -------------------------------------------------------------- asof join

def test_asof_join_backward_semantics(spark):
    from ethereum_export_pipeline_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 250), (3, 20, 50), (4, 20, 300)],
        "id long, user_id long, ts_us long")
    right = spark.createDataFrame(
        [(10, 100, 7), (10, 200, 8), (20, 301, 9)],
        "user_id long, ts_us long, v long")
    out = {r.id: r.v_r for r in
           asof_join(left, right, payload=["v"]).collect()}
    assert out[1] == 7      # equal time counts (<=)
    assert out[2] == 8      # latest preceding, not first
    assert out[3] is None   # nothing precedes
    assert out[4] is None   # right row is later


def test_multiband_lsh_recall_dominates_single_band(spark):
    """OR-amplification: every pair a single band finds, 2 bands find
    too (band 0 is shared), and recall vs brute force only grows."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs)
    df = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    one = {(r.id_a, r.id_b) for r in
           embedding_neardup_pairs(df, n_bands=1).collect()}
    two = {(r.id_a, r.id_b) for r in
           embedding_neardup_pairs(df, n_bands=2).collect()}
    assert one <= two
    assert len(two) >= len(one)


def test_resize_media_real_pixels(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_image, encode_netpbm, resize_media)
    # 2×2 RGB quadrants → upscale RESIZE_PX² (64×64): nearest-neighbor
    # must tile each source pixel into a 32×32 block
    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [9, 9, 9]]], dtype=np.uint8)
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_netpbm(px))),
         Row(media_id=2, payload=None)],
        "media_id long, payload binary")
    got = {r.media_id: r for r in resize_media(media).collect()}
    r1 = got[1]
    assert (r1.width, r1.height) == (64, 64)
    w, h, c, out = decode_image(bytes(r1.payload))
    assert (w, h, c) == (64, 64, 3)
    assert (out[0, 0] == [255, 0, 0]).all() and (out[31, 31] == [255, 0, 0]).all()
    assert (out[0, 32] == [0, 255, 0]).all() and (out[32, 0] == [0, 0, 255]).all()
    assert (out[63, 63] == [9, 9, 9]).all()
    assert got[2].payload is None and got[2].n_bytes == 0


def test_demux_netpbm_stream_walks_frames():
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        demux_netpbm_stream, encode_netpbm)
    f0 = np.full((2, 2, 3), 1, np.uint8)
    f1 = np.full((1, 3, 3), 9, np.uint8)  # different dims mid-stream
    frames = demux_netpbm_stream(encode_netpbm(f0) + encode_netpbm(f1))
    assert [(w, h, c) for w, h, c, _ in frames] == [(2, 2, 3), (3, 1, 3)]
    assert (frames[1][3] == 9).all()
    # a torn stream is corrupt, not partially usable
    assert demux_netpbm_stream(encode_netpbm(f0) + b"P6\n2 2\n255\nxx") is None
    assert demux_netpbm_stream(None) is None


def test_sample_frames_demuxes_and_decodes(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        encode_netpbm, sample_frames)
    # 3 frames with distinct constant fills: SAMPLE_FRAMES=2 must pick
    # src frames 0 and (1*3)//2 = 1 and sum the DECODED pixels
    mk = lambda v: encode_netpbm(np.full((2, 2, 3), v, np.uint8))
    stream = mk(1) + mk(2) + mk(3)
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(stream)),
         Row(media_id=2, payload=None),
         Row(media_id=3, payload=b"garbage")],
        "media_id long, payload binary")
    got = sorted((r.media_id, r.sample_idx, r.src_frame, r.ch_sum)
                 for r in sample_frames(media).collect())
    assert got == [(1, 0, 0, [4, 4, 4]),      # frame 0: 4 px × 1
                   (1, 1, 1, [8, 8, 8])]      # frame 1: 4 px × 2
    # short clip: every frame sampled
    short = spark.createDataFrame([Row(media_id=9, payload=bytes(mk(5)))],
                                  "media_id long, payload binary")
    [only] = sample_frames(short).collect()
    assert (only.sample_idx, only.src_frame, only.ch_sum) == (0, 0, [20, 20, 20])


def test_ivf_cells_cluster_similar_vectors(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        ivf_topk, train_ivf_centroids)
    import random
    rng = random.Random(7)
    # two tight clusters around opposite corners; the queries
    # (vec_id < 10) are cluster 0..4
    mk = lambda base: [base + rng.uniform(-0.01, 0.01) for _ in range(64)]
    rows = [(i, mk(1.0)) for i in range(5)] + [(10 + i, mk(-1.0)) for i in range(5)]
    df = embs(spark, rows)
    cents = train_ivf_centroids([v for _, v in rows], n_cells=2)
    out = ivf_topk(df, cents).collect()
    assert {r.query_id for r in out} == {0, 1, 2, 3, 4}
    assert all(r.neighbor_id in range(5) for r in out)   # same cluster only


def test_top_terms_and_corpus_stats(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        corpus_stats, top_terms)
    df = docs(spark, [(1, "b a a b b c"), (2, "x x"), (3, "x x")])
    terms = {(r.doc_id, r.rank): (r.term, r.n)
             for r in top_terms(df).collect()}
    assert terms[(1, 1)] == ("b", 3)
    assert terms[(1, 2)] == ("a", 2)   # ties broken lexicographically
    assert terms[(2, 1)] == ("x", 2)

    [s] = corpus_stats(df).collect()
    assert (s.n_docs, s.n_unique_texts, s.total_tokens, s.vocab_size) == (3, 2, 10, 4)
    assert s.dup_ratio == pytest.approx(1 / 3)


def test_connected_components_chain_and_island(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components)
    # chain 1-2-3 (diameter 2: takes two propagation rounds) + island 8-9
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 8)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_keep_canonical_survivors(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components, keep_canonical)
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 8, 9, 42)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 8)], "doc_a long, doc_b long")
    kept = keep_canonical(docs, connected_components(pairs))
    # min of {1,2,3} and of {8,9} survive; 42 is a singleton
    assert {r.doc_id for r in kept.collect()} == {1, 8, 42}
    assert kept.columns == ["doc_id", "text"]


def test_hash_split_deterministic_and_ratioed(spark):
    from ethereum_export_pipeline_spark.operators.text import hash_split
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(500)], "doc_id long, text string")
    a = {r.doc_id: r.split for r in hash_split(docs).collect()}
    b = {r.doc_id: r.split for r in hash_split(docs).collect()}
    assert a == b                                   # reproducible
    frac = sum(1 for s in a.values() if s == "train") / len(a)
    assert 0.85 <= frac <= 0.95                     # ~90/10


def test_pii_scrub_known_answers(spark):
    from ethereum_export_pipeline_spark.operators.text import pii_scrub
    docs = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@sub.example.org today"),
         (2, "call 555-123-4567 or 555.987.6543"),
         (3, "server at 192.168.0.1 and 10.0.0.255"),
         (4, "clean text with no pii at all"),
         (5, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].clean_text == "mail me at <EMAIL> today"
    assert (got[1].n_email, got[1].n_phone, got[1].n_ip) == (1, 0, 0)
    assert got[2].clean_text == "call <PHONE> or <PHONE>"
    assert got[2].n_phone == 2
    assert got[3].clean_text == "server at <IP> and <IP>"
    assert got[3].n_ip == 2
    assert got[4].clean_text == got[4].clean_text == "clean text with no pii at all"
    assert got[5].clean_text is None
    assert (got[5].n_email, got[5].n_phone, got[5].n_ip) == (0, 0, 0)


def test_repetition_stats_known_answers(spark):
    from ethereum_export_pipeline_spark.operators.text import repetition_stats
    docs = spark.createDataFrame(
        [(1, "a a a a"),                  # 4 tokens, 1 distinct
         (2, "w x y z"),                  # all unique
         (3, "a b a b a b")],             # 6 tokens, 2 distinct, top 3
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert (got[1].n_tokens, got[1].n_distinct, got[1].top_n) == (4, 1, 4)
    assert got[1].dup_token_ratio == 0.75 and got[1].top_token_share == 1.0
    assert got[2].dup_token_ratio == 0.0 and got[2].top_token_share == 0.25
    assert (got[3].n_tokens, got[3].n_distinct, got[3].top_n) == (6, 2, 3)
    assert got[3].top_token_share == 0.5


def test_chunk_tokens_known_answers(spark):
    from ethereum_export_pipeline_spark.operators.text import chunk_tokens
    # CHUNK_TOKENS=64-token chunks every CHUNK_STRIDE=48 tokens
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(150))),  # chunks @0,48,96,144
         (2, "a b"),                                   # 2 toks: one chunk
         (3, ""),                                      # none
         (4, None)],
        "doc_id long, text string")
    out = chunk_tokens(docs).collect()
    got = {(r.doc_id, r.chunk_idx): (r.chunk_start, r.n_chunk_tokens)
           for r in out}
    assert got == {(1, 0): (0, 64), (1, 1): (48, 64), (1, 2): (96, 54),
                   (1, 3): (144, 6), (2, 0): (0, 2)}
    # identical token windows fingerprint identically, distinct differ
    fps = {(r.doc_id, r.chunk_idx): r.chunk_fp for r in out}
    assert len(set(fps.values())) == len(fps)  # all distinct here
    again = {(r.doc_id, r.chunk_idx): r.chunk_fp
             for r in chunk_tokens(docs).collect()}
    assert fps == again                        # deterministic


def test_ivfpq_duplicate_is_nearest_by_adc(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.similarity import (
        ivfpq_topk, train_ivf_centroids, train_pq_codebooks)
    rng = np.random.RandomState(7)
    dim = 64
    # two well-separated clusters; vec 0 has an exact duplicate (id 10)
    a = rng.uniform(0.8, 1.2, (5, dim))
    b = rng.uniform(-1.2, -0.8, (5, dim))
    vecs = np.vstack([a, b]).tolist()
    vecs.append(list(vecs[0]))  # id 10 == id 0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_ivf_centroids(vecs, n_cells=2)
    books = train_pq_codebooks(vecs)
    top = ivfpq_topk(df, cents, books).where(
        "query_id = 0 AND rank = 1").collect()
    assert len(top) == 1
    # the exact duplicate shares every PQ code -> minimal ADC distance
    assert top[0].neighbor_id == 10


def test_connected_components_raises_on_nonconvergence(spark, request):
    import pytest as _pytest
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components)
    # a 41-node path graph has diameter 40: CC_MAX_ITER (20) rounds
    # cannot reach the fixpoint and must raise rather than return
    # partial labels
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(long_chain)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long")
    # reliable-checkpoint path produces the same fixpoint
    request.getfixturevalue("reliable_checkpoint_dir")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(chain).collect()}
    assert got == {i: 0 for i in range(6)}


# --------------------------------------------------- tfidf / pack / mix

def test_tfidf_ubiquitous_term_sinks(spark):
    from ethereum_export_pipeline_spark.operators.text import tfidf_top_terms
    # "filler" appears once in every doc (df=3); "rare" once in doc 1
    # only (df=1). Same tf → rare must outrank filler for doc 1.
    df = docs(spark, [(1, "rare filler pad1"), (2, "filler pad2"),
                      (3, "filler pad3")])
    out = {(r.term): r.rank for r in
           tfidf_top_terms(df).where("doc_id = 1").collect()}
    assert out["rare"] < out["filler"]
    row = {r.term: r for r in
           tfidf_top_terms(df).where("doc_id = 1").collect()}
    assert row["rare"].tf == 1 and row["rare"].df == 1
    assert row["filler"].df == 3
    # linear idf: tfidf = tf * n_docs / df
    assert row["rare"].tfidf == 3.0 and row["filler"].tfidf == 1.0


def test_pack_sequences_contiguous_and_multi_bucket(spark):
    from ethereum_export_pipeline_spark.operators.text import pack_sequences
    from ethereum_export_pipeline_spark.operators.text import (
        PACK_BUCKET, PACK_SEQ_LEN)
    # ids spread over 5 PACK_BUCKETs force the distributed two-level
    # prefix-sum path
    step = PACK_BUCKET // 2
    rows = [(i * step, " ".join(["tok"] * (60 * i + 1))) for i in range(10)]
    df = docs(spark, rows)
    out = sorted(pack_sequences(df).collect(), key=lambda r: r.doc_id)
    # the packed stream is contiguous: each doc starts where the
    # previous one ended, starting at 0
    n = PACK_SEQ_LEN
    expect_start = 0
    for r in out:
        assert r.global_start == expect_start
        assert r.bin_id == r.global_start // n
        assert r.bin_offset == r.global_start % n
        assert r.n_bins == (r.global_start + r.n_tokens - 1) // n - r.bin_id + 1
        expect_start += r.n_tokens


def test_mix_sample_deterministic_stratified(spark):
    from ethereum_export_pipeline_spark.operators.text import mix_sample
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"src{i % 3}") for i in range(300)],
        "doc_id long, source string")
    a = sorted(r.doc_id for r in mix_sample(df).collect())
    b = sorted(r.doc_id for r in mix_sample(df).collect())
    assert a == b and 0 < len(a) < 300  # deterministic, non-trivial
    rates = {r.source: r.rate_pct for r in mix_sample(df).collect()}
    assert all(10 <= p < 100 for p in rates.values())
    # per-stratum keep fraction tracks the stratum's rate (±15 pts)
    from collections import Counter
    kept = Counter(r.source for r in mix_sample(df).collect())
    for src, rate in rates.items():
        assert abs(kept[src] - rate) <= 15


def test_semantic_dedup_one_kept_per_cluster(spark):
    from ethereum_export_pipeline_spark.plans.llm import _emb_semantic_dedup
    out = _emb_semantic_dedup(spark, "/root/testdata/sf0.001").collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m.is_kept == 1]
        assert len(keeps) == 1 and keeps[0].vec_id == cid == min(
            m.vec_id for m in members)


def test_decontaminate_flags_benchmark_overlap(spark):
    from ethereum_export_pipeline_spark.operators.dedup import decontaminate
    # doc 0 is the benchmark (id % 97 == 0). doc 1 copies one of its
    # 3-gram shingles; doc 2 shares nothing.
    df = docs(spark, [(0, "alpha beta gamma delta"),
                      (1, "alpha beta gamma zulu xray"),
                      (2, "one two three four")])
    got = {r.doc_id: r for r in decontaminate(df).collect()}
    assert set(got) == {1, 2}  # benchmark docs are not scored
    # doc1 shingles: {abg, bgz, gzx} — abg ∈ bench{abg, bgd}
    assert (got[1].n_shingles, got[1].n_hits, got[1].contaminated) == (3, 1, 1)
    assert got[1].hit_rate == pytest.approx(1 / 3)
    assert (got[2].n_hits, got[2].contaminated) == (0, 0)


def test_token_rarity_hand_computed(spark):
    from ethereum_export_pipeline_spark.operators.text import token_rarity
    # df: the→3 docs, cat→2, dog→1, bird→1
    df = docs(spark, [(1, "the cat"), (2, "the cat dog"), (3, "the bird")])
    got = {r.doc_id: r for r in token_rarity(df).collect()}
    assert (got[1].n_distinct_toks, got[1].sum_df, got[1].n_hapax) == (2, 5, 0)
    assert (got[2].n_distinct_toks, got[2].sum_df, got[2].n_hapax) == (3, 6, 1)
    assert got[2].mean_df == pytest.approx(2.0)
    # repeated token inside one doc counts once (array_distinct)
    df2 = docs(spark, [(1, "cat cat cat"), (2, "cat")])
    got2 = {r.doc_id: r for r in token_rarity(df2).collect()}
    assert got2[1].sum_df == 2 and got2[1].n_distinct_toks == 1


def test_duplicated_sentences_cross_doc_only(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        duplicated_sentences)
    boiler = "This disclaimer repeats across documents"
    df = docs(spark, [
        (1, f"{boiler}. Unique first body text here."),
        (2, f"{boiler}.  {boiler}. Another unique body sentence."),
        (3, "No shared content in this one at all."),
    ])
    [r] = duplicated_sentences(df).collect()
    import hashlib
    assert r.sent_key == hashlib.md5(boiler.lower().encode()).hexdigest()
    # 3 occurrences (doc2 has it twice) across 2 distinct docs
    assert (r.n_docs, r.n_occ, r.first_doc) == (2, 3, 1)


def test_length_order_stats_known_quartiles(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        length_order_stats)
    rows = [Row(doc_id=i, source="s", n_chars=(i + 1) * 10)
            for i in range(5)]  # 10..50
    df = spark.createDataFrame(rows)
    [r] = length_order_stats(df).collect()
    # indices floor((5-1)*p) = 1, 2, 3 → 20, 30, 40
    assert (r.n_docs, r.len_min, r.len_p25, r.len_p50, r.len_p75,
            r.len_max) == (5, 10, 20, 30, 40, 50)
    # two-row stratum: floor((n-1)·p) = 0 for all three → first value
    df2 = spark.createDataFrame([Row(doc_id=1, source="t", n_chars=7),
                                 Row(doc_id=2, source="t", n_chars=9)])
    [r2] = length_order_stats(df2).collect()
    assert (r2.len_p25, r2.len_p50, r2.len_p75) == (7, 7, 7)
    assert r2.len_max == 9


def test_crossmodal_agreement_identical_and_orthogonal(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        crossmodal_agreement)
    text = "the quick brown fox jumps over the lazy dog again and again"
    d = docs(spark, [(0, text), (1, text), (2, text)])
    from ethereum_export_pipeline_spark.operators.dedup import minhash_lsh_pairs
    pairs = minhash_lsh_pairs(d)  # (0,1),(0,2),(1,2)
    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    emb = spark.createDataFrame(
        [(0, e1), (1, e1), (2, e2)], "vec_id long, embedding array<float>")
    got = {(r.doc_a, r.doc_b): r for r in
           crossmodal_agreement(pairs, emb).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)].cosine == pytest.approx(1.0)  # same vector
    assert got[(0, 1)].emb_agrees == 1
    assert got[(0, 2)].cosine == pytest.approx(0.0)  # orthogonal
    assert got[(0, 2)].emb_agrees == 0


def test_ensure_scan_width_skips_already_split_input(spark):
    """`execution.spread` must only repartition a NARROW scan: an
    input already split at least `defaultParallelism` wide keeps its
    partitions (no round-robin shuffle of the 100 TB table)."""
    from ethereum_export_pipeline_spark.execution import spread
    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == par
    wide = spark.range(100).repartition(par * 2)
    assert spread(wide) is wide                       # untouched plan


def test_bmp_roundtrip_and_dispatch():
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_bmp, decode_image, encode_bmp)
    # width 3 → stride padding (3*3=9 → 12); asymmetric pattern catches
    # a missed bottom-up flip or BGR swap
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = encode_bmp(px)
    w, h, c, back = decode_bmp(blob)
    assert (w, h, c) == (3, 2, 3) and (back == px).all()
    # decode_image dispatches on the 'BM' magic
    assert (decode_image(blob)[3] == px).all()
    assert decode_bmp(b"BM short") is None
    assert decode_bmp(None) is None
    # 8-bit / compressed variants rejected: flip bpp field to 8
    bad = bytearray(blob); bad[28] = 8
    assert decode_bmp(bytes(bad)) is None


def test_wav_roundtrip_and_chunk_walk():
    import struct
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_wav, encode_wav)
    s8 = np.array([0, 128, 255, 1], dtype=np.uint8)
    rate, ch, bits, back = decode_wav(encode_wav(s8, 8000))
    assert (rate, ch, bits) == (8000, 1, 8) and (back[:, 0] == s8).all()
    s16 = np.array([-32768, 0, 32767], dtype=np.int16)
    rate, ch, bits, back = decode_wav(encode_wav(s16))
    assert (rate, bits) == (16000, 16) and (back[:, 0] == s16).all()
    # an extra chunk BEFORE data must be skipped (RIFF chunk walk, not
    # fixed offsets); odd-sized chunks are word-aligned
    blob = bytearray(encode_wav(s8, 8000))
    extra = b"LIST" + struct.pack("<I", 5) + b"notes" + b"\x00"
    blob2 = bytes(blob[:36]) + extra + bytes(blob[36:])
    blob2 = blob2[:4] + struct.pack("<I", len(blob2) - 8) + blob2[8:]
    rate, ch, bits, back = decode_wav(blob2)
    assert rate == 8000 and (back[:, 0] == s8).all()
    assert decode_wav(b"RIFFxxxxNOPE") is None
    assert decode_wav(None) is None


def test_extract_audio_features_known_answers(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        encode_wav, extract_audio_features)
    s = np.array([100, 200, 50, 130], dtype=np.uint8)  # crossings: 3
    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_wav(s))),
         Row(media_id=2, payload=None),
         Row(media_id=3, payload=b"not audio")],
        "media_id long, payload binary")
    got = {r.media_id: r for r in extract_audio_features(media).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.n_samples) == (16000, 4)
    assert r1.amp_sum == 480
    assert r1.crossings == 3   # 100→200, 200→50, 50→130 all cross 128
    assert got[2].n_bytes == 0 and got[2].amp_sum is None
    assert got[3].amp_sum is None


# ------------------------------------------------------------- graph

def test_pagerank_exact_hand_computed(spark):
    """2-cycle A↔B plus A→C (dangling sink): ranks must match the
    fixed-point recurrence computed by a 10-line Python twin."""
    from ethereum_export_pipeline_spark.operators.graph import (
        PR_SCALE, pagerank_exact)
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "C")], "src string, dst string")
    got = {r.node: r.rank for r in pagerank_exact(edges, iters=4).collect()}

    base = PR_SCALE // 3
    tele = (15 * base) // 100
    r = {"A": base, "B": base, "C": base}
    deg = {"A": 2, "B": 1}
    for _ in range(4):
        contrib = {"A": r["B"] // deg["B"],
                   "B": r["A"] // deg["A"],
                   "C": r["A"] // deg["A"]}
        r = {v: tele + (85 * contrib[v]) // 100 for v in r}
    assert got == r
    assert got["B"] == got["C"]       # symmetric receivers of A
    assert got["A"] > got["C"]        # A gets B's whole rank


def test_pagerank_empty_graph(spark):
    from ethereum_export_pipeline_spark.operators.graph import pagerank_exact
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank_exact(edges).count() == 0


def test_pagerank_reliable_checkpoint_dir(spark, request):
    """A context checkpoint dir swaps localCheckpoint for a reliable
    checkpoint (the 1000-executor setting): identical ranks, and the
    dir actually receives RDD checkpoint data."""
    import os
    from ethereum_export_pipeline_spark.operators.graph import pagerank_exact
    edges = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "C")], "src string, dst string")
    local = {r.node: r.rank for r in pagerank_exact(edges, iters=3).collect()}
    ck = request.getfixturevalue("reliable_checkpoint_dir")
    rel = {r.node: r.rank
           for r in pagerank_exact(edges, iters=3).collect()}
    assert rel == local
    assert any(files for _, _, files in os.walk(ck))  # data was written


def test_star_contraction_matches_label_propagation(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components, connected_components_star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8), (20, 21)],
        "doc_a long, doc_b long")
    a = {(r.doc_id, r.cluster_id)
         for r in connected_components(pairs).collect()}
    b = {(r.doc_id, r.cluster_id)
         for r in connected_components_star(pairs).collect()}
    assert a == b == {(1, 1), (2, 1), (3, 1),
                      (7, 7), (8, 7), (9, 7), (20, 20), (21, 20)}


def test_star_contraction_handles_long_chain(spark):
    """The case min-label propagation cannot: a 300-node chain has
    diameter 300 (label propagation raises within CC_MAX_ITER=20), but
    star contraction halves component height per round."""
    import pytest as _pytest
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components, connected_components_star)
    n = 300
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs)
    got = {r.doc_id: r.cluster_id
           for r in connected_components_star(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


# ------------------------------------------- exact substring spans

def test_substring_spans_known_answer(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        substring_dup_spans)
    # 40-char shared prefix between docs 1 and 2; doc 3 unique;
    # doc 4 shorter than the gram; SUBSTR_GRAM_LEN=20.
    shared = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcd"   # 40 chars
    df = docs(spark, [(1, shared + "-tail-one-xxxxx"),
                      (2, shared + "+tail-two-yyyyy"),
                      (3, "completely different text here!!"),
                      (4, "short"), (5, None)])
    out = {r.doc_id: r for r in
           substring_dup_spans(df).collect()}
    # every 20-gram inside the 40-char prefix occurs in both docs →
    # one merged span of exactly 40 chars each
    for d in (1, 2):
        assert out[d].n_dup_spans == 1
        assert out[d].dup_chars == 40
        assert out[d].dup_frac_ppm == 40 * 1_000_000 // out[d].n_chars
    assert out[3].n_dup_spans == 0 and out[3].dup_chars == 0
    assert out[4].dup_chars == 0          # too short to carry a gram
    assert 5 not in out                   # NULL text excluded


def test_substring_spans_self_repetition_and_merge(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        substring_dup_spans)
    # one doc, periodic text: "0123456789" * 4 — every 20-gram occurs
    # at >= 2 positions within the SAME doc → whole doc is one span
    df = docs(spark, [(1, "0123456789" * 4)])
    r = substring_dup_spans(df).collect()[0]
    assert r.n_dup_spans == 1 and r.dup_chars == 40
    assert r.dup_frac_ppm == 1_000_000


def test_substring_spans_two_disjoint_islands(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        substring_dup_spans)
    a, b = "A" * 20, "B" * 20                # two shared 20-grams
    gap = "-x1-y2-z3-q4-w5-e6-r7-"           # 22 unique chars between
    df = docs(spark, [(1, a + gap + b), (2, a + "####unique####" + b)])
    r = {x.doc_id: x for x in
         substring_dup_spans(df).collect()}
    # A-run and B-run each duplicated, separated by > SUBSTR_GRAM_LEN
    # → two islands of >= 20 chars each (runs of a repeated char self-match,
    # so the island extends across the whole run, not past the gap)
    assert r[1].n_dup_spans == 2
    assert r[2].n_dup_spans == 2


# ---------------------------------------------- bigram-LM fluency

def test_bigram_fluency_hand_computed(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        PPB, bigram_fluency)
    # corpus bigrams: "a b" x2 (docs 1,2), "a c" x1 (doc 3)
    # c1(a)=3; prob(a b)=2/3, prob(a c)=1/3
    df = docs(spark, [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")])
    out = {r.doc_id: r for r in bigram_fluency(df).collect()}
    third = PPB // 3
    assert out[1].fluency_ppb == 2 * PPB // 3
    assert out[1].n_bigrams == 1
    assert out[3].fluency_ppb == third
    assert 4 not in out          # single-token doc has no bigrams


def test_bigram_fluency_ranks_typical_above_rare(spark):
    from ethereum_export_pipeline_spark.operators.text import bigram_fluency
    common = "the quick brown fox jumps over the lazy dog"
    df = docs(spark, [(i, common) for i in range(10)]
              + [(99, "zxq wvb qpr mnk")])
    out = {r.doc_id: r.fluency_ppb for r in bigram_fluency(df).collect()}
    # every bigram of doc 99 is unique (prob 1 for its own prefix —
    # unless the prefix word appears elsewhere, which it doesn't, so
    # each is c2/c1 = 1/1)... the RANKING claim needs a shared prefix:
    assert out[0] == out[5]      # identical docs score identically


def test_bigram_fluency_rare_transition_scores_low(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        PPB, bigram_fluency)
    # "red apple" x9 vs "red brick" x1: doc 10's only bigram has
    # prob 1/10; docs 0-8 score 9/10
    df = docs(spark, [(i, "red apple") for i in range(9)]
              + [(10, "red brick")])
    out = {r.doc_id: r.fluency_ppb for r in bigram_fluency(df).collect()}
    assert out[10] == PPB // 10
    assert out[0] == 9 * PPB // 10
    assert out[10] < out[0]


# -------------------------------------------------------- k-core

def _edges(spark, pairs):
    from pyspark.sql import Row
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src long, dst long")


def test_kcore_triangle_survives_tail_peels(spark):
    from ethereum_export_pipeline_spark.operators.graph import kcore_peel
    # triangle 1-2-3 with a pendant path 3-4-5: peeling k=2 removes 5
    # (deg 1) then 4 (deg 1 after 5 leaves); the triangle stays intact
    out = {r.node: r for r in kcore_peel(
        _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])).collect()}
    assert [out[n].in_core for n in (1, 2, 3)] == [1, 1, 1]
    assert [out[n].core_deg for n in (1, 2, 3)] == [2, 2, 2]
    assert [out[n].in_core for n in (4, 5)] == [0, 0]
    assert len(out) == 5          # peeled nodes still reported


def test_kcore_cascade_needs_rounds(spark):
    from ethereum_export_pipeline_spark.operators.graph import (
        KCORE_ROUNDS, kcore_peel)
    # a pure path at k=2 peels from both ends inward, one node per end
    # per round: an 8-node path is gone within KCORE_ROUNDS (4), and
    # the fixed-round contract leaves the middle 4 of a 12-node path
    # alive (their degrees were still 2 in every round)
    assert KCORE_ROUNDS == 4
    short = [(i, i + 1) for i in range(1, 8)]
    full = kcore_peel(_edges(spark, short))
    assert full.where("in_core = 1").count() == 0
    long = [(i, i + 1) for i in range(1, 12)]
    part = kcore_peel(_edges(spark, long))
    assert sorted(r.node for r in part.where("in_core = 1").collect()) == [
        5, 6, 7, 8]


def test_kcore_dedup_insensitive_to_direction_and_self_loops(spark):
    from ethereum_export_pipeline_spark.operators.graph import kcore_peel
    a = kcore_peel(_edges(spark, [(1, 2), (2, 1), (1, 1), (2, 3),
                                  (1, 3)]))
    b = kcore_peel(_edges(spark, [(1, 2), (2, 3), (1, 3)]))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ----------------------------------------------- fuzzy record linkage

def test_fuzzy_pairs_blocking_and_threshold(spark):
    from ethereum_export_pipeline_spark.operators.joins import fuzzy_pairs
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(id=1, name="acme corp"), Row(id=2, name="acme corp."),
         Row(id=3, name="acme corp"),          # exact dup of 1
         Row(id=4, name="zenith ltd"),          # different block
         Row(id=5, name="acme corporation"),    # too far (dist > 2)
         Row(id=6, name=None)],
        "id long, name string")
    out = fuzzy_pairs(df, F.expr("substr(name, 1, 2)")).collect()
    pairs = {(r.id_a, r.id_b): r.dist for r in out}
    assert pairs == {(1, 2): 1, (2, 3): 1}   # exact (1,3) excluded
    assert all(r.id_a < r.id_b for r in out)


def test_fuzzy_pairs_hot_block_cap(spark):
    from ethereum_export_pipeline_spark.operators.joins import (
        FUZZY_MAX_BLOCK, fuzzy_pairs)
    from pyspark.sql import Row
    # block "aa" holds FUZZY_MAX_BLOCK + 1 rows and is dropped; block
    # "bb" is small and pairs
    rows = ([Row(id=i, name=f"aa{i:05d}") for i in range(FUZZY_MAX_BLOCK + 1)]
            + [Row(id=10**6 + i, name=f"bb{i:03d}") for i in range(50)])
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_pairs(df, F.expr("substr(name, 1, 2)")).collect()
    assert out and all(r.name_a.startswith("bb") for r in out)


# ---------------------------------------------- weighted sampling

def test_weighted_sample_deterministic_and_proportional(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        WSAMPLE_PPB, weighted_sample)
    from pyspark.sql import Row
    rows = ([Row(doc_id=i, n_chars=10) for i in range(500)]
            + [Row(doc_id=i, n_chars=90) for i in range(500, 1000)])
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    a = weighted_sample(df)
    b = weighted_sample(df)
    sa = sorted(map(tuple, a.collect()))
    assert sa == sorted(map(tuple, b.collect()))   # same salt → same rows
    # mean w = 50; p(light) = 10*0.1/50 = 2%, p(heavy) = 18%
    light = sum(1 for d, w, p in sa if w == 10)
    heavy = sum(1 for d, w, p in sa if w == 90)
    assert {p for d, w, p in sa if w == 10} == {10 * WSAMPLE_PPB // 50}
    assert {p for d, w, p in sa if w == 90} == {90 * WSAMPLE_PPB // 50}
    assert heavy > 4 * light                       # 9x expected ratio


def test_weighted_sample_cap_and_exclusions(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        PPB, weighted_sample)
    from pyspark.sql import Row
    # doc 1 weighs ~11× the mean: past the 10% target it is capped
    rows = ([Row(doc_id=1, n_chars=10**9), Row(doc_id=2, n_chars=0),
             Row(doc_id=3, n_chars=None)]
            + [Row(doc_id=i, n_chars=1) for i in range(4, 14)])
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = {r.doc_id: r for r in weighted_sample(df).collect()}
    assert out[1].p_ppb == PPB                     # capped → always kept
    assert 2 not in out and 3 not in out           # zero/null excluded


# ------------------------------------------------ SemDeDup cells

def test_semdedup_cells_greedy_survivor(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        semdedup_cells)
    # two well-separated directions; centroids at each. ids 1,2 are
    # near-identical (same cell), 3 orthogonal-ish in the other cell
    a = [1.0, 0.0, 0.0, 0.0]
    a2 = [0.99, 0.01, 0.0, 0.0]
    b = [0.0, 1.0, 0.0, 0.0]
    df = embs(spark, [(1, pad64(a)), (2, pad64(a2)), (3, pad64(b))])
    cents = [[10_000] + [0] * 63, [0, 10_000] + [0] * 62]   # quantized
    out = {r.vec_id: r for r in semdedup_cells(df, cents).collect()}
    assert out[1].keep == 1 and out[1].n_dups == 1
    assert out[2].keep == 0 and out[2].n_dups == 1   # dropped by 1
    assert out[3].keep == 1 and out[3].n_dups == 0
    assert out[1].cell == out[2].cell != out[3].cell


def test_semdedup_cells_cross_cell_pairs_never_compared(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        semdedup_cells)
    # identical vectors forced into DIFFERENT cells never pair — the
    # recall cost of cell partitioning (documented, by design)
    v = pad64([1.0, 1.0])
    df = embs(spark, [(1, v), (2, v)])
    cents = [[10_000, 9_999] + [0] * 62, [9_999, 10_000] + [0] * 62]
    out = semdedup_cells(df, cents).collect()
    # both land in cell argmin — same distances → tie broken to first
    # centroid for BOTH (deterministic), so they DO pair here; instead
    # separate them explicitly:
    df2 = embs(spark, [(1, pad64([1.0, 0.9])), (2, pad64([0.9, 1.0]))])
    out2 = {r.vec_id: r for r in semdedup_cells(df2, cents).collect()}
    assert out2[1].cell != out2[2].cell
    assert out2[1].keep == 1 and out2[2].keep == 1   # never compared
    assert all(r.keep == 0 or r.n_dups >= 0 for r in out)


# ------------------------------------------- stratified reservoir

def test_stratified_reservoir_exact_k_and_deterministic(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        stratified_reservoir)
    from pyspark.sql import Row
    rows = ([Row(doc_id=i, source="a") for i in range(40)]
            + [Row(doc_id=i, source="b") for i in range(40, 43)]
            + [Row(doc_id=99, source=None)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_reservoir(df).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.stratum, []).append((r.pick, r.doc_id))
    assert len(by_src["a"]) == 5                    # exact k
    assert len(by_src["b"]) == 3                    # stratum smaller than k
    assert sorted(p for p, _ in by_src["a"]) == [1, 2, 3, 4, 5]
    assert all(r.stratum is not None for r in out)  # NULL stratum dropped
    again = stratified_reservoir(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ------------------------------------------------------ BPE training

def test_bpe_train_hand_computed_merges(spark):
    from ethereum_export_pipeline_spark.operators.text import bpe_train
    # vocab: aaab x2, ab x1.
    # r1: (a,a)=4 beats (a,b)=3 → 'aa a b'/'a b'
    # r2: (a,b)=3 beats (aa,a)=2 → 'aa ab'/'ab'
    # r3: (aa,ab)=2 → 'aaab'; no pair is left, so training stops
    # before BPE_ROUNDS
    df = docs(spark, [(1, "aaab aaab"), (2, "ab")])
    got = [(r.round, r.x, r.y, r.pair_n) for r in
           bpe_train(df).orderBy("round").collect()]
    assert got == [(1, "a", "a", 4), (2, "a", "b", 3),
                   (3, "aa", "ab", 2)]


def test_bpe_greedy_nonoverlapping_application(spark):
    from ethereum_export_pipeline_spark.operators.text import bpe_train
    # 'aaa': pairs (a,a) counted twice but greedy merge fuses only the
    # LEFT pair → next round the top pair is (aa,a), not (a,a)
    df = docs(spark, [(1, "aaa aaa aaa")])
    got = [(r.round, r.x, r.y) for r in
           bpe_train(df).orderBy("round").collect()]
    assert got == [(1, "a", "a"), (2, "aa", "a")]


# ------------------------------------------- perceptual image dedup

def test_ahash_resize_invariant_and_groups(spark):
    import numpy as np
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.multimodal import (
        ahash_dup_groups, encode_netpbm)
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8).astype(np.uint8)
    up = px.repeat(2, axis=0).repeat(2, axis=1)      # exact 2x NN upscale
    other = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_netpbm(px))),
         Row(media_id=2, payload=bytes(encode_netpbm(up))),
         Row(media_id=3, payload=bytes(encode_netpbm(other.astype(np.uint8)))),
         Row(media_id=4, payload=None),
         Row(media_id=5, payload=b"not an image")],
        "media_id long, payload binary")
    out = {r.media_id: r for r in ahash_dup_groups(df).collect()}
    # 2x NN upscale samples the SAME source pixels → identical hash
    assert (out[1].hash_hi, out[1].hash_lo) == (out[2].hash_hi,
                                                out[2].hash_lo)
    assert out[1].n_copies == 2 and out[1].keep_id == 1
    assert (out[3].hash_hi, out[3].hash_lo) != (out[1].hash_hi,
                                                out[1].hash_lo)
    assert out[3].n_copies == 1
    assert 4 not in out and 5 not in out      # NULL/undecodable excluded


def test_ahash_bits_hand_computed(spark):
    import numpy as np
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.multimodal import (
        ahash_images, encode_netpbm)
    # 8x8 grayscale-as-RGB: left half 0, right half 200 → mean 100,
    # bits set exactly on the right half: columns 4-7 of every row
    px = np.zeros((8, 8, 3), np.uint8)
    px[:, 4:, :] = 200
    df = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_netpbm(px)))],
        "media_id long, payload binary")
    [r] = ahash_images(df).collect()
    val = (r.hash_hi << 32) | r.hash_lo
    expect = 0
    for y in range(8):
        for x in range(4, 8):
            expect |= 1 << (y * 8 + x)
    assert val == expect


def test_bpe_encode_counts_hand_computed(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        bpe_encode_counts, bpe_train)
    # merges (from test_bpe_train's corpus): (a,a), (a,b), (aa,ab)
    # doc 1 'aaab aaab' → each word: a a a b →(a,a) aa a b →(a,b)
    # aa ab →(aa,ab) aaab = 1 symbol → 2 words, 2 bpe tokens
    # doc 2 'ab' → a b →(a,b) ab = 1 symbol
    # doc 3 'ba' → b a : no merge applies → 2 symbols
    df = docs(spark, [(1, "aaab aaab"), (2, "ab"), (3, "ba")])
    merges = (bpe_train(docs(spark, [(1, "aaab aaab"), (2, "ab")]))
              .orderBy("round").collect())
    out = {r.doc_id: r for r in bpe_encode_counts(df, merges).collect()}
    assert (out[1].n_words, out[1].n_bpe_tokens) == (2, 2)
    assert (out[2].n_words, out[2].n_bpe_tokens) == (1, 1)
    assert (out[3].n_words, out[3].n_bpe_tokens) == (1, 2)


def test_ann_recall_report_bounds_and_perfect_case(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        TOPK_K, ann_recall_report, brute_force_topk)
    # 16 well-separated vectors: LSH recall can only be in [0, 1e6],
    # one row per query (vec_id < 10)
    vecs = []
    for i in range(16):
        v = [0.0] * 8
        v[i % 8] = 1.0
        v[(i + 1) % 8] = 0.5 if i >= 8 else 0.0
        vecs.append((i, pad64(v)))
    df = embs2(spark, vecs)
    out = ann_recall_report(df, brute_force_topk(df)).collect()
    assert len(out) == 10
    assert all(0 <= r.recall_ppm <= 1_000_000 for r in out)
    assert all(r.recall_ppm == r.n_hits * 1_000_000 // TOPK_K for r in out)


def embs2(spark, rows):
    from pyspark.sql import Row
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def test_activity_streaks_gaps_and_islands(spark, tmp_path):
    import datetime
    from ethereum_export_pipeline_spark.plans.analytics import (
        _activity_streaks)
    base = datetime.datetime(2024, 1, 1)
    # user 1: days 0,1,2, 5,6, 9 → streaks 3,2,1; user 2: day 0 only
    evs = []
    eid = 0
    for d in (0, 1, 2, 5, 6, 9):
        for _ in range(2):                     # dup events same day
            eid += 1
            evs.append((eid, base + datetime.timedelta(days=d, hours=eid % 3),
                        1, "click", 0.0, "{}"))
    evs.append((99, base, 2, "click", 0.0, "{}"))
    df = spark.createDataFrame(
        evs, "event_id long, ts timestamp_ntz, user_id long, "
             "event_type string, value double, props string")
    p = str(tmp_path / "sf_ev")
    import os
    os.makedirs(p)
    df.write.parquet(f"{p}/events.parquet")
    out = {r.user_id: r for r in _activity_streaks(spark, p).collect()}
    assert (out[1].n_active_days, out[1].longest_streak,
            out[1].n_streaks) == (6, 3, 3)
    assert (out[2].n_active_days, out[2].longest_streak) == (1, 1)


def test_lpa_two_cliques_one_bridge(spark):
    from ethereum_export_pipeline_spark.operators.graph import (
        lpa_communities)
    # two triangles joined by one bridge edge: CC fuses them into one
    # component; LPA keeps two communities (labels converge to each
    # clique's min id; the bridge can't outvote two clique neighbors)
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(7, 8), (8, 9), (7, 9)]
    out = {r.node: r.community for r in lpa_communities(
        _edges(spark, tri1 + tri2 + [(3, 7)])).collect()}
    assert out[1] == out[2] == out[3]
    assert out[7] == out[8] == out[9]
    assert out[1] != out[7]


def test_lpa_deterministic_across_runs(spark):
    from ethereum_export_pipeline_spark.operators.graph import (
        lpa_communities)
    edges = [(i, i + 1) for i in range(1, 12)] + [(1, 6), (4, 9)]
    a = sorted(map(tuple,
                   lpa_communities(_edges(spark, edges))
                   .collect()))
    b = sorted(map(tuple,
                   lpa_communities(_edges(spark, edges))
                   .collect()))
    assert a == b


def test_containment_detects_excerpt_jaccard_misses(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    quote = "alpha beta gamma delta epsilon zeta"
    page = quote + " " + " ".join(f"w{i}" for i in range(60))
    df = docs(spark, [(1, quote), (2, page), (3, "unrelated text here")])
    out = containment_pairs(df).collect()
    [r] = out
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.cont_a_ppm == 1_000_000       # every quote shingle in page
    assert r.cont_b_ppm < 200_000          # tiny share of the page
    # the same pair is INVISIBLE to symmetric jaccard at 0.5
    assert ngram_jaccard_pairs(df).count() == 0


def test_containment_directional_values(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        containment_pairs)
    # A: 5 shingles, B: 6 shingles, sharing 4 ("b c d e f g" run):
    # A's containment is exactly CONTAINMENT_PPM, B's is below it
    a = "b c d e f g x"        # shingles: bcd cde def efg fgx -> 5
    b = "b c d e f g h i"      # shingles: bcd cde def efg fgh ghi -> 6
    df = docs(spark, [(1, a), (2, b)])
    [r] = containment_pairs(df).collect()
    assert (r.n_common, r.sz_a, r.sz_b) == (4, 5, 6)
    assert r.cont_a_ppm == 4 * 1_000_000 // 5
    assert r.cont_b_ppm == 4 * 1_000_000 // 6


def test_resolve_reorgs_competing_fork_and_window(spark):
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.reorg import (
        resolve_reorgs)
    # heights 0..20 main chain m0..m20; a COMPETING branch f19..f20
    # forking at height 18 reaches the same max height: tie at height
    # 20 → tip tie-break = min hash. REORG_DEPTH=16 judges 5..20.
    rows = []
    for h in range(21):
        rows.append(Row(height=h, hash=f"m{h}", parent=f"m{h-1}"))
    rows.append(Row(height=19, hash="f19", parent="m18"))
    rows.append(Row(height=20, hash="f20", parent="f19"))
    df = spark.createDataFrame(rows, "height long, hash string, parent string")
    out = {(r.height, r.block_hash): r.canonical
           for r in resolve_reorgs(df).collect()}
    # tip tie at height 20: 'f20' < 'm20' → the FORK wins fork-choice
    assert out[(20, "f20")] == 1 and out[(20, "m20")] == 0
    assert out[(19, "f19")] == 1 and out[(19, "m19")] == 0
    assert out[(18, "m18")] == 1        # shared ancestor canonical
    assert out[(5, "m5")] == 1
    assert (4, "m4") not in out         # below the window: not judged
    assert len(out) == 18


def test_audio_fingerprint_rate_invariant_groups(spark):
    import numpy as np
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.multimodal import (
        audio_fingerprint_groups, encode_wav)
    rng = np.random.default_rng(11)
    s = rng.integers(0, 256, 256, dtype=np.uint8).astype(np.uint8)
    doubled = s.repeat(2)                 # 2x sample-rate re-encode
    other = rng.integers(0, 256, 256, dtype=np.uint8).astype(np.uint8)
    df = spark.createDataFrame(
        [Row(media_id=1, payload=bytes(encode_wav(s))),
         Row(media_id=2, payload=bytes(encode_wav(doubled, 32_000))),
         Row(media_id=3, payload=bytes(encode_wav(other))),
         Row(media_id=4, payload=None),
         Row(media_id=5, payload=bytes(encode_wav(
             np.array([], dtype=np.uint8))))],
        "media_id long, payload binary")
    out = {r.media_id: r for r in audio_fingerprint_groups(df).collect()}
    assert (out[1].hash_hi, out[1].hash_lo) == (out[2].hash_hi,
                                                out[2].hash_lo)
    assert out[1].n_copies == 2 and out[1].keep_id == 1
    assert (out[3].hash_hi, out[3].hash_lo) != (out[1].hash_hi,
                                                out[1].hash_lo)
    assert 4 not in out and 5 not in out   # NULL / zero-sample excluded


def test_minhash_estimator_quality_identical_docs(spark):
    from ethereum_export_pipeline_spark.operators.dedup import (
        MINHASH_K, minhash_estimator_quality, minhash_lsh_pairs)
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = docs(spark, [(1, text), (2, text),
                      (3, "completely different words here entirely")])
    [r] = minhash_estimator_quality(df, minhash_lsh_pairs(df)).collect()
    # identical docs: every signature component matches, both ppm exact
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.sig_matches == MINHASH_K
    assert r.est_jaccard_ppm == 1_000_000
    assert r.exact_jaccard_ppm == 1_000_000
    assert r.err_ppm == 0


def test_interval_overlap_bucket_grid(spark, tmp_path):
    """Interval-overlap join: overlapping cross-user sessions found
    once (despite sharing several grid buckets), disjoint ones not."""
    import datetime
    from ethereum_export_pipeline_spark.plans.analytics import (
        _interval_overlap)
    base = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, secs):
        return (eid, base + datetime.timedelta(seconds=secs), uid,
                "click", 0.0, "{}")

    # user 1: session [0, 3h] (events every 20 min — one session);
    # user 2: session [1h, 1h10] (inside user 1's) → overlap 600s;
    # user 3: session at [10h, 10h01] → overlaps nobody
    evs, eid = [], 0
    for m in range(0, 181, 20):
        eid += 1
        evs.append(ev(eid, 1, m * 60))
    evs += [ev(100, 2, 3600), ev(101, 2, 4200)]
    evs += [ev(200, 3, 36000), ev(201, 3, 36060)]
    df = spark.createDataFrame(
        evs, "event_id long, ts timestamp_ntz, user_id long, "
             "event_type string, value double, props string")
    p = str(tmp_path / "ivl")
    import os
    os.makedirs(p)
    df.write.parquet(f"{p}/events.parquet")
    out = _interval_overlap(spark, p).collect()
    assert len(out) == 1                       # found once, not per bucket
    [r] = out
    assert (r.user_a, r.user_b) == (1, 2)
    assert r.overlap_us == 600 * 1_000_000


def test_shingle_novelty_ordered_redundancy(spark):
    from ethereum_export_pipeline_spark.operators.text import (
        shingle_novelty)
    # doc 1 coins "a b c d" (2 shingles); doc 2 repeats it verbatim
    # (novelty 0); doc 3 shares one shingle out of two
    df = docs(spark, [(1, "a b c d"), (2, "a b c d"),
                      (3, "b c d e")])
    out = {r.doc_id: r for r in shingle_novelty(df).collect()}
    assert out[1].novelty_ppm == 1_000_000        # first coiner
    assert out[2].novelty_ppm == 0                # verbatim repeat
    assert (out[3].n_shingles, out[3].n_redundant) == (2, 1)
    assert out[3].novelty_ppm == 500_000


def test_gap_audit_runs_and_bounds(spark, tmp_path):
    import os
    from ethereum_export_pipeline_spark.plans.eth import _gap_audit
    from pyspark.sql import Row
    # keys 1..20 with % 97 never hitting (all < 97): audit an injected
    # space by writing keys with real holes at 5 and 11-13
    keys = [k for k in range(1, 21) if k not in (5, 11, 12, 13)]
    df = spark.createDataFrame([Row(o_orderkey=k, o_custkey=1,
                                    o_orderdate=None, o_orderpriority="x",
                                    o_totalprice=1.0)
                                for k in keys],
                               "o_orderkey long, o_custkey long, "
                               "o_orderdate timestamp_ntz, "
                               "o_orderpriority string, o_totalprice double")
    p = str(tmp_path / "gap")
    os.makedirs(p)
    df.write.parquet(f"{p}/orders.parquet")
    out = sorted(map(tuple, _gap_audit(spark, p).collect()))
    assert out == [(5, 5, 1), (11, 13, 3)]


# ------------------------------------- collocations / mixture / knn

def test_collocations_hand_computed(spark):
    """'new york' always co-occurs; 'of the' is independent filler —
    PMI lift must rank the true collocation first."""
    from ethereum_export_pipeline_spark.operators.text import collocations
    rows = [(i, "new york of the") for i in range(1, 7)]
    rows += [(10, "of new"), (11, "the of"), (12, "york the of")]
    out = collocations(docs(spark, rows)).collect()
    by_rank = {r.rank: (r.w1, r.w2) for r in out}
    assert by_rank[1] == ("new", "york")
    ny = next(r for r in out if (r.w1, r.w2) == ("new", "york"))
    # n_xy=6; positional marginals: "new" first only in the six
    # 4-token docs (in "of new" it is SECOND), "york" second likewise;
    # n_bi = 6 docs × 3 bigrams + 1 + 1 + 2 = 22
    assert (ny.n_xy, ny.n_x, ny.n_y) == (6, 6, 6)
    assert abs(ny.lift - (6 * 22) / (6 * 6)) < 1e-12


def test_mixture_weights_largest_remainder_exact_budget(spark):
    """counts 100/9/4 → weights 10/3/2, MIX_BUDGET 10⁶: quotas
    666666/200000/133333 (remainders 10/0/5 of 15) and the single
    leftover seat goes to the largest remainder (a)."""
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.text import mixture_weights
    rows = ([Row(doc_id=i, source="a") for i in range(100)]
            + [Row(doc_id=i, source="b") for i in range(9)]
            + [Row(doc_id=i, source="c") for i in range(4)]
            + [Row(doc_id=0, source=None)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: r for r in mixture_weights(df).collect()}
    assert {s: r.weight for s, r in out.items()} == {"a": 10, "b": 3, "c": 2}
    assert {s: r.target_docs for s, r in out.items()} == {
        "a": 666_667, "b": 200_000, "c": 133_333}
    assert sum(r.target_docs for r in out.values()) == 1_000_000  # exact
    assert None not in out


def test_mixture_weights_upsampling_visible(spark):
    """A tiny source can get target_docs > n_docs (upsampling) — the
    operator reports it rather than clamping."""
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.operators.text import mixture_weights
    rows = ([Row(doc_id=i, source="big") for i in range(10000)]
            + [Row(doc_id=i, source="tiny") for i in range(1)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r.source: r for r in mixture_weights(df).collect()}
    assert out["tiny"].target_docs > out["tiny"].n_docs
    assert sum(r.target_docs for r in out.values()) == 1_000_000


def test_knn_graph_every_vector_queried_and_ranked(spark):
    """Identical vectors land in the same bucket in every band; each
    point's rank-1 neighbor has cosine 1.0 and ranks run 1..k dense."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        EMB_DIM, knn_graph)
    import math
    def vec(seed):
        return [math.sin(seed * 31 + d) for d in range(EMB_DIM)]
    rows = [(i, vec(i % 4)) for i in range(12)]   # 4 groups of triples
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<float>")
    out = knn_graph(df).collect()
    by_node = {}
    for r in out:
        by_node.setdefault(r.vec_id, []).append(r)
    assert set(by_node) == set(range(12))         # every vector is a query
    for node, rs in by_node.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        best = min(rs, key=lambda r: r.rank)
        assert best.cosine > 0.999                # an exact twin exists
        assert best.neighbor_id % 4 == node % 4   # and shares the group


def test_kmeans_assign_recovers_clear_clusters(spark):
    """Two tight groups far apart: KMEANS_ROUNDS Lloyd rounds over
    KMEANS_K cells must never put the two groups in one cell, and the
    run must be deterministic."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        EMB_DIM, kmeans_assign)
    a = [1.0] * EMB_DIM
    b = [-1.0] * EMB_DIM
    rows = ([(i, [x + (i % 3) * 1e-4 for x in a]) for i in range(6)]
            + [(i, [x - (i % 3) * 1e-4 for x in b]) for i in range(6, 12)])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in kmeans_assign(df).collect()}
    cells_a = {out[i].cell for i in range(6)}
    cells_b = {out[i].cell for i in range(6, 12)}
    assert cells_a and cells_b and not (cells_a & cells_b)
    out2 = {r.vec_id: (r.cell, r.dist2)
            for r in kmeans_assign(df).collect()}
    assert out2 == {i: (r.cell, r.dist2) for i, r in out.items()}
