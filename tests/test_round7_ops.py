"""Round-7 operator tests: full-precision uint256 limb decode, radius
range search, video near-dup (frame-hash sets), URL canonicalization,
Heaps-law vocab growth properties, Benford literal sanity, and the
streaming session-isolation contract (VERDICT r6 ask #4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from ethereum_export_pipeline_spark.operators import multimodal as MM
from ethereum_export_pipeline_spark.operators import similarity as S
from ethereum_export_pipeline_spark.operators.logs import (
    hex_uint256_limb32_exprs)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- uint256 limb decode

def _limb_rows(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "value_hex string")
    exprs = hex_uint256_limb32_exprs()
    return df.selectExpr(
        "value_hex AS h",
        *[f"{e} AS w{i}" for i, e in enumerate(exprs)]).collect()


def _reassemble(row):
    if row["w0"] is None:
        return None
    v = 0
    for i in range(8):
        v = (v << 32) | row[f"w{i}"]
    return v


def test_limbs_roundtrip_exact_at_full_width(spark):
    cases = {
        "0x" + "f" * 64: (1 << 256) - 1,   # max uint256
        "0x0": 0,
        "0x" + "1" + "0" * 63: 1 << 252,   # far beyond decimal(38,0)
        "0xdeadbeef": 0xDEADBEEF,
    }
    got = {r["h"]: _reassemble(r) for r in _limb_rows(spark, cases)}
    assert got == cases


def test_limbs_reject_overlong_and_junk(spark):
    rows = _limb_rows(spark, ["0x" + "f" * 65, "not hex at all"])
    for r in rows:
        assert all(r[f"w{i}"] is None for i in range(8)), r


def test_limbs_each_under_2_32(spark):
    (r,) = _limb_rows(spark, ["0x" + "f" * 64])
    assert all(0 <= r[f"w{i}"] < (1 << 32) for i in range(8))


# ------------------------------------------------------- range search

def _vec(i: int, val: float = 1.0, dim: int = S.EMB_DIM):
    v = [0.0] * dim
    v[i] = val
    return v


def test_range_search_radius_and_shape(spark):
    df = spark.createDataFrame([
        Row(vec_id=0, embedding=_vec(0)),
        Row(vec_id=1, embedding=_vec(0, 2.0)),   # same direction: cos 1
        Row(vec_id=2, embedding=_vec(1)),         # orthogonal: cos 0
        Row(vec_id=3, embedding=[0.1] * 8),       # wrong dim: excluded
    ])
    out = S.range_search(df)   # cosine >= RANGE_COS for vec_id < 50
    assert out.columns == ["query_id", "neighbor_id", "cosine"]
    rows = {(r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in out.collect()}
    assert rows[(0, 1)] == pytest.approx(1.0)
    assert rows[(1, 0)] == pytest.approx(1.0)
    # orthogonal vector never clears the radius, in either direction
    assert all(2 not in k for k in rows)
    assert all(3 not in k for k in rows)


def test_range_search_self_excluded(spark):
    df = spark.createDataFrame([Row(vec_id=i, embedding=_vec(0))
                                for i in range(3)])
    rows = S.range_search(df).collect()
    assert rows and all(r["query_id"] != r["neighbor_id"] for r in rows)


# ---------------------------------------------------- video near-dup

def test_video_frame_hashes_one_row_per_frame(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="abcdefgh" * 30),
         Row(doc_id=7, text="abcdefgh" * 30),
         Row(doc_id=3, text=None)])
    media = MM.documents_as_video_media(docs)
    fh = MM.video_frame_hashes(media)
    per = {r["media_id"]: r["n"] for r in
           fh.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    # fixture: 2 + id % 5 frames; NULL text -> no rows
    assert per == {0: 2, 7: 4}


def test_video_neardup_containment_pair(spark):
    txt = "the quick brown fox jumps over the lazy dog 0123456789"
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=txt),            # 2 frames
         Row(doc_id=7, text=txt),            # 4 frames, same footage
         Row(doc_id=11, text="zzz completely different content yyy")])
    media = MM.documents_as_video_media(docs)
    pairs = {(r["id_a"], r["id_b"]): r for r in
             MM.video_neardup_pairs(media).collect()}
    assert (0, 7) in pairs
    p = pairs[(0, 7)]
    # expected straight from the DISTINCT frame-hash sets (frames of
    # one clip may aHash-collide, so |set| <= frame count)
    sets: dict[int, set] = {}
    for r in MM.video_frame_hashes(media).collect():
        sets.setdefault(r["media_id"], set()).add(
            (r["hash_hi"], r["hash_lo"]))
    inter = len(sets[0] & sets[7])
    assert sets[0] <= sets[7]                 # containment: same footage
    assert p["n_common"] == inter
    assert p["jaccard"] == pytest.approx(
        inter / len(sets[0] | sets[7]))
    assert all(11 not in k for k in pairs)


# --------------------------------------------------- URL canonical form

def test_url_canonicalization_variants_collapse(spark):
    from ethereum_export_pipeline_spark.plans.llm import (
        _canon_url_sql, _url_raw_sql)
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    df = spark.range(8).selectExpr("id AS doc_id").selectExpr(
        "doc_id", f"{_url_raw_sql('div', 'STRING')} AS raw_url")
    out = {r["doc_id"]: r["canon"] for r in df.selectExpr(
        "doc_id", f"{_canon_url_sql(rr)} AS canon").collect()}
    # docs 0,1,2 are entity 0 in three disguises -> identical canonical
    assert out[0] == out[1] == out[2] == "cdn0.example.com/item/0"
    # doc 3 carries a REAL param that must survive
    assert out[3] == "cdn0.example.com/item/0?page=2"
    # docs 4.. are entity 1
    assert out[4] == "cdn1.example.com/item/1"


# ----------------------------------------------------- Heaps-law curve

def test_heaps_law_properties(spark):
    from ethereum_export_pipeline_spark.plans.llm import _heaps_law
    rows = _heaps_law(spark, SF).collect()
    assert [r["bucket"] for r in rows] == list(range(10))
    for a, b in zip(rows, rows[1:]):
        assert b["cum_tokens"] >= a["cum_tokens"]
        assert b["vocab"] >= a["vocab"]
        assert b["cum_docs"] >= a["cum_docs"]
    last = rows[-1]
    from ethereum_export_pipeline_spark.functions import tokens
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .where("text IS NOT NULL"))
    n_terms = (docs.select(F.explode(tokens("text")).alias("t"))
                   .select("t").distinct().count())
    n_tokens = (docs.select(F.size(tokens("text")).alias("n"))
                    .agg(F.sum("n")).collect()[0][0])
    assert last["vocab"] == n_terms
    assert last["cum_tokens"] == n_tokens
    assert last["ttr"] == pytest.approx(n_terms / n_tokens)


# ----------------------------------------------------------- Benford

def test_benford_expected_literals():
    from ethereum_export_pipeline_spark.plans.analytics import _BENFORD_E6
    assert set(_BENFORD_E6) == set(range(1, 10))
    assert sum(_BENFORD_E6.values()) == pytest.approx(1_000_000, abs=5)
    assert _BENFORD_E6[1] == 301030  # log10(2)


def test_benford_audit_shape(spark):
    from ethereum_export_pipeline_spark.plans.analytics import _benford_audit
    rows = _benford_audit(spark, SF).collect()
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    assert all(1 <= r["digit"] <= 9 for r in rows)
    total = sum(r["n_obs"] for r in rows)
    assert total > 0
    for r in rows:
        assert r["obs_freq"] == pytest.approx(r["n_obs"] / total)
        dev = (r["n_obs"] * 1_000_000) // total - r["expected_e6"]
        assert r["dev_e6"] == dev
        assert r["chi_contrib_e6"] == (dev * dev) // r["expected_e6"]


# ------------------------------------------- streaming conf isolation

def test_read_stream_runs_on_isolated_session(spark):
    from ethereum_export_pipeline_spark.streaming import read_stream
    sdf = read_stream(spark, f"{SF}/events.parquet")
    assert sdf.sparkSession is not spark
    # same context (shared executors/cache), separate SQLConf
    assert sdf.sparkSession.sparkContext is spark.sparkContext


def test_stream_width_clamp_never_touches_caller_conf(spark):
    from ethereum_export_pipeline_spark.streaming import (
        stream_tumbling_counts)
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        out = stream_tumbling_counts(spark, f"{SF}/events.parquet")
        # a few hundred KB of events: the stream's own session runs at
        # the floor of the width rule, the caller's keeps its width
        assert out.sparkSession.conf.get(
            "spark.sql.shuffle.partitions") == "4"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


# ------------------------------------------------------ packed PQ

def test_ivfpq_packed_matches_unpacked_ranks(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        ivfpq_packed_topk, ivfpq_topk)
    from ethereum_export_pipeline_spark.plans.llm import get_quantizers
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents, books = get_quantizers()
    base = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist"])
            for r in ivfpq_topk(emb, cents, books).collect()}
    packed = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_dist"])
              for r in ivfpq_packed_topk(emb, cents, books).collect()}
    assert base == packed and base


def test_pq_packed_word_roundtrips_codes(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        PQ_SUBSPACES, pq_codes_col, pq_packed_col, with_quantized)
    from ethereum_export_pipeline_spark.plans.llm import get_quantizers
    books = get_quantizers()[1]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    df = (with_quantized(emb)
          .select("vec_id", pq_codes_col(books).alias("codes"),
                  pq_packed_col(books).alias("packed")))
    for r in df.collect():
        val = r["packed"]
        codes = []
        for _ in range(PQ_SUBSPACES):
            codes.append((val & 15) + 1)
            val >>= 4
        assert list(reversed(codes)) == list(r["codes"])
        assert 0 <= r["packed"] < (1 << (4 * PQ_SUBSPACES))


# ------------------------------------------------------ HTML strip

def test_html_strip_removes_all_chrome_keeps_params(spark):
    from ethereum_export_pipeline_spark.plans.llm import (
        _html_strip_sql, _html_wrap_sql)
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    df = spark.createDataFrame(
        [Row(doc_id=5, text="pure article body text 42")])
    out = df.selectExpr(
        "text", f"{_html_wrap_sql('STRING')} AS html").selectExpr(
        "text", "html", f"{_html_strip_sql(rr)} AS stripped")
    r = out.collect()[0]
    assert "Home" in r["html"] and "Example Corp" in r["html"]
    assert r["stripped"] == r["text"]     # nav/title/footer/script gone


def test_html_strip_census_roundtrips_corpus(spark):
    from ethereum_export_pipeline_spark.plans.llm import _html_strip
    rows = _html_strip(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_exact_roundtrip"] == r["n_docs"]
        assert 0.0 < r["retention"] < 1.0


# ------------------------------------------------- scene summary

def test_scene_summary_properties(spark):
    from ethereum_export_pipeline_spark.plans.llm import _scene_summary
    rows = _scene_summary(spark, SF).collect()
    assert rows
    cut_rows = 0
    for r in rows:
        assert r["n_frames"] == 2 + r["media_id"] % 5
        assert r["n_scenes"] == r["n_cuts"] + 1
        assert 1 <= r["shortest_shot"] <= r["longest_shot"] <= r["n_frames"]
        if r["n_cuts"] == 1:
            cut_rows += 1
            # the single cut is the fixture's mid-clip inversion
            assert r["longest_shot"] == max(
                r["n_frames"] // 2,
                r["n_frames"] - r["n_frames"] // 2)
    # the inversion clears the SAD threshold for a healthy share of
    # clips (whether it does depends on the text's byte values)
    assert cut_rows > len(rows) // 4


# ------------------------------------------- URL x content census

def test_url_text_agreement_bounds(spark):
    from ethereum_export_pipeline_spark.plans.llm import _url_text_agreement
    rows = _url_text_agreement(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_pages"] <= r["n_docs"]
        assert r["n_churn_pages"] <= r["n_pages"]
        assert r["n_mirrored_pages"] <= r["n_pages"]


# ------------------------------------- dual-precision wei projection

def test_apply_mapping_dual_precision_golden_schema(spark):
    from pyspark.sql import types as T
    from ethereum_export_pipeline_spark.schemas import (
        WEI, apply_mapping_dual_precision, csv_schema, mapping_for)
    big = str(2**255 + 12345)          # 77 digits: beyond decimal(38,0)
    rows = [
        ("0xaa", "5000000000000000000"),
        ("0xbb", str(2**64 + 7)),      # > int64, inside dec38
        ("0xcc", big),
    ]
    df = spark.createDataFrame(rows, "hash string, value string")
    mapping = [m for m in mapping_for("transactions")
               if m.dst in ("hash", "value")]
    out = apply_mapping_dual_precision(df, mapping)
    # golden schema: dec38 column AND the exact limb twin, in order
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("hash", T.StringType()),
        ("value", WEI),
        ("value_limbs", T.ArrayType(T.LongType(), False)),
    ]
    got = {r["hash"]: r for r in out.collect()}
    for h, v in rows:
        limbs = got[h]["value_limbs"]
        assert sum(l << (32 * (7 - i)) for i, l in enumerate(limbs)) \
            == int(v)
    # the reference's documented loss: dec38 NULLs past 38 digits —
    # the limb column is the column that does not
    assert got["0xcc"]["value"] is None
    assert got["0xbb"]["value"] == 2**64 + 7


# ------------------------------------------------ Matryoshka recall

def test_mrl_full_prefix_is_perfect_recall(spark):
    from pyspark.sql import functions as F
    from ethereum_export_pipeline_spark.operators.similarity import (
        EMB_DIM, MRL_PREFIXES, TOPK_K, brute_force_topk,
        matryoshka_recall_report)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = brute_force_topk(emb.where(F.size("embedding") == EMB_DIM))
    rows = matryoshka_recall_report(emb, exact).collect()
    assert {r["prefix_dim"] for r in rows} == set(MRL_PREFIXES)
    by_p: dict[int, list] = {}
    for r in rows:
        by_p.setdefault(r["prefix_dim"], []).append(r)
    # full-width prefix IS the exact ranking: recall must be 100%
    assert all(r["recall_ppm"] == 1_000_000 for r in by_p[EMB_DIM])
    # recall_ppm consistent with n_hits
    assert all(r["recall_ppm"] == r["n_hits"] * 1_000_000 // TOPK_K
               for r in rows)
    # truncation can only lose information: mean recall monotone
    # non-increasing as the prefix shrinks
    mean = {p: sum(r["recall_ppm"] for r in v) / len(v)
            for p, v in by_p.items()}
    assert mean[16] <= mean[32] + 1e-9 and mean[32] <= mean[64] + 1e-9


# ------------------------------------------------------ patch stats

def test_patch_grid_stats_hand_image(spark):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        documents_as_ppm_media, patch_grid_stats)
    doc_id = 10   # w = 8 + 10%9 = 9, h = 8 + 10%7 = 11: ragged both axes
    docs = spark.createDataFrame([Row(doc_id=doc_id, text="abcxyz123"),
                                  Row(doc_id=2, text=None)])
    rows = {(r["patch_row"], r["patch_col"]): r
            for r in patch_grid_stats(
                documents_as_ppm_media(docs)).collect()}
    assert len(rows) == 4 and all(
        k[0] in (0, 1) and k[1] in (0, 1) for k in rows)
    assert {r["media_id"] for r in rows.values()} == {doc_id}
    w, h = 8 + doc_id % 9, 8 + doc_id % 7
    raw = np.frombuffer(b"abcxyz123", np.uint8)
    px = np.resize(raw, w * h * 3).reshape(h, w, 3).astype(np.int64)
    for (r, c), row in rows.items():
        y0, y1 = (r * h) // 2, ((r + 1) * h) // 2
        x0, x1 = (c * w) // 2, ((c + 1) * w) // 2
        block = px[y0:y1, x0:x1, :]
        assert row["n_px"] == (y1 - y0) * (x1 - x0)
        assert (row["sum_r"], row["sum_g"], row["sum_b"]) == tuple(
            int(v) for v in block.sum(axis=(0, 1)))
        assert row["mean_gray"] == int(block.sum()) // (3 * row["n_px"])


# ---------------------------------------------------- dedup savings

def test_dedup_savings_consistent_with_canonical(spark):
    from ethereum_export_pipeline_spark.plans.llm import (
        _dedup_canonical, _dedup_savings)
    rows = _dedup_savings(spark, SF).collect()
    assert rows
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_total = docs.count()
    n_kept = _dedup_canonical(spark, SF).count()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert sum(r["n_removed"] for r in rows) == n_total - n_kept
    for r in rows:
        assert 0 <= r["n_removed"] < r["n_docs"]
        assert 0 <= r["chars_saved"] <= r["chars_total"]
        assert r["removal_ratio"] == pytest.approx(
            r["n_removed"] / r["n_docs"])
