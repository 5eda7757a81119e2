"""Round-6 operator tests: PCA power-iteration training + projection,
MMR greedy re-ranking, RAKE keyword extraction, trigram-LM fluency,
and python-reference cross-checks (independent of the DuckDB oracles)
for the skew/Gini profile, MAD outliers, and bitmap co-activity plans.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from ethereum_export_pipeline_spark.operators import similarity as S
from ethereum_export_pipeline_spark.operators import text as T

SF = "/root/testdata/sf0.001"


def _vec(i: int, val: float, dim: int = S.EMB_DIM) -> list[float]:
    v = [0.0] * dim
    v[i] = val
    return v


# --------------------------------------------------------------- PCA

def test_train_pca_finds_dominant_axis():
    # sample varies only along axis 3 → component = ±e3, canonical +
    vecs = [_vec(3, x) for x in (-2.0, -1.0, 1.0, 2.0)]
    mean_q, comp_q = S.train_pca_component(vecs)
    assert mean_q == [0] * S.EMB_DIM
    assert comp_q[3] == S.PCA_SCALE           # unit loading, positive
    assert all(c == 0 for i, c in enumerate(comp_q) if i != 3)


def test_train_pca_sign_canonical_and_deterministic():
    vecs = [_vec(0, x) for x in (1.0, 3.0)]   # mean 2, axis 0
    got1 = S.train_pca_component(vecs)
    got2 = S.train_pca_component(vecs)
    assert got1 == got2
    mean_q, comp_q = got1
    assert mean_q[0] == 2 * S.QUANT_SCALE
    assert comp_q[0] == S.PCA_SCALE           # first loading positive


def test_pca_scores_hand_computed(spark):
    mean_q = [0] * S.EMB_DIM
    comp_q = [0] * S.EMB_DIM
    comp_q[1] = S.PCA_SCALE
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=_vec(1, 0.5)),
         Row(vec_id=2, embedding=_vec(1, -0.25)),
         Row(vec_id=3, embedding=[0.0] * 8)])   # wrong dim → excluded
    got = {r["vec_id"]: r.asDict()
           for r in S.pca_scores(df, mean_q, comp_q).collect()}
    assert 3 not in got
    # q = round(0.5·1e4) = 5000; score = 5000·1e6 = 5e9; pc1 = 0.5
    assert got[1]["pc1_e10"] == 5_000 * S.PCA_SCALE
    assert got[1]["pc1"] == 0.5
    assert got[2]["pc1_e10"] == -2_500 * S.PCA_SCALE
    assert got[2]["pc1"] == -0.25


def test_pca_projection_plan_has_no_exchange(spark):
    """The projection is a pure scan-side transform: no shuffle."""
    from ethereum_export_pipeline_spark.sources.tables import load_table
    mean_q, comp_q = [0] * S.EMB_DIM, [1] * S.EMB_DIM
    plan = S.pca_scores(load_table(spark, SF, "embeddings"),
                        mean_q, comp_q)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


# --------------------------------------------------------------- MMR

def test_mmr_prefers_diverse_over_redundant(spark):
    # query 0 along e0; c1 = e0+0.1·e1, c2 = 2·c1 (exact redundant
    # clone, cos(c1,c2)=1), c3 = e0+0.3·e2 (diverse axis). Greedy:
    # step1 = c1 (cosine tie with c2 → low id); step2 must pick c3
    # (mmr ≈ +0.0024) over the redundant c2 (mmr ≈ −0.0025) even
    # though c2's raw cosine is far higher.
    q = _vec(0, 1.0)
    c1 = _vec(0, 1.0)
    c1[1] = 0.1
    c2 = [2 * x for x in c1]
    c3 = _vec(0, 1.0)
    c3[2] = 0.3
    rows = [Row(vec_id=0, embedding=q), Row(vec_id=11, embedding=c1),
            Row(vec_id=12, embedding=c2), Row(vec_id=13, embedding=c3)]
    # only 3 candidates: MMR_K=5 stages pick all 3, then run dry
    got = (S.mmr_rerank(spark.createDataFrame(rows))
           .orderBy("step").collect())
    assert [r["step"] for r in got] == [1, 2, 3]
    assert got[0]["neighbor_id"] == 11      # cosine tie → low id
    assert got[1]["neighbor_id"] == 13      # diversity beats redundancy
    assert got[2]["neighbor_id"] == 12
    assert got[0]["mmr"] == pytest.approx(0.5 * got[0]["cos_q"])


def test_mmr_respects_pool_bound(spark):
    # 40 orthogonal vectors: every cosine ties at 0, so each query's
    # pool is its MMR_POOL lowest-id candidates
    rows = [Row(vec_id=i, embedding=_vec(i % S.EMB_DIM, 1.0 + i))
            for i in range(40)]
    got = S.mmr_rerank(spark.createDataFrame(rows)).collect()
    assert len(got) == 10 * S.MMR_K           # queries vec_id < 10
    for r in got:
        pool = [i for i in range(40) if i != r["query_id"]][:S.MMR_POOL]
        assert r["neighbor_id"] in pool


# -------------------------------------------------------------- RAKE

def test_rake_hand_computed(spark):
    # stopword 'of' splits one candidate run; 'the' leads the second
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="deep learning of deep networks"),
         Row(doc_id=2, text=None)])
    got = {r["phrase"]: r.asDict()
           for r in T.rake_keywords(docs).collect()}
    assert set(got) == {"deep learning", "deep networks"}
    # freq: deep 2, learning 1, networks 1; deg: deep 2+2, others 2
    # wscore_e6: deep 2e6, learning 2e6, networks 2e6 → phrases 4e6
    assert got["deep learning"]["score_e6"] == 4_000_000
    assert got["deep networks"]["score_e6"] == 4_000_000
    assert got["deep learning"]["n_words"] == 2
    assert got["deep learning"]["occurrences"] == 1


def test_rake_caps_phrase_length(spark):
    words = " ".join(f"w{i}" for i in range(6))   # one 6-word run
    docs = spark.createDataFrame([Row(doc_id=1, text=words)])
    assert T.rake_keywords(docs).count() == 0     # > RAKE_MAX_PHRASE → out
    run = " ".join(f"w{i}" for i in range(T.RAKE_MAX_PHRASE))
    at_cap = spark.createDataFrame([Row(doc_id=1, text=run)])
    assert T.rake_keywords(at_cap).count() == 1


# -------------------------------------------------- trigram fluency

def test_trigram_fluency_hand_computed(spark):
    # one doc, one trigram: every count is 1, N = 1 →
    # p_ppb = (70·1e9 + 25·1e9 + 5·1e9) / 100 = 1e9
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    got = T.trigram_fluency(docs).collect()[0].asDict()
    assert got == {"doc_id": 1, "n_trigrams": 1,
                   "sum_prob_ppb": 10 ** 9, "fluency_ppb": 10 ** 9}


def test_trigram_fluency_short_docs_excluded(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="only two"), Row(doc_id=2, text="a b c d")])
    got = T.trigram_fluency(docs).collect()
    assert [r["doc_id"] for r in got] == [2]
    assert got[0]["n_trigrams"] == 2


# ----------------------------- python cross-checks of the q_* plans

def _events_pd():
    import pyarrow.parquet as pq
    return pq.read_table(f"{SF}/events.parquet").to_pandas()


def test_skew_profile_matches_python_reference(spark):
    from ethereum_export_pipeline_spark.plans.analytics import _skew_profile
    got = {r["event_type"]: r.asDict()
           for r in _skew_profile(spark, SF).collect()}
    ev = _events_pd()
    for et, grp in ev.groupby("event_type"):
        xs = sorted(grp.groupby("user_id").size())
        n, tot = len(xs), sum(xs)
        six = sum((i + 1) * x for i, x in enumerate(xs))
        g = got[et]
        assert g["n_users"] == n and g["total"] == tot
        assert g["top1_ppm"] == max(xs) * 1_000_000 // tot
        assert g["gini"] == pytest.approx(
            (2 * six - (n + 1) * tot) / (n * tot))


def test_mad_outliers_matches_python_reference(spark):
    from ethereum_export_pipeline_spark.plans.analytics import _mad_outliers
    got = {r["event_type"]: r.asDict()
           for r in _mad_outliers(spark, SF).collect()}
    ev = _events_pd()
    for et, grp in ev.groupby("event_type"):
        v = sorted(int(round(x * 100)) for x in grp["value"])
        n = len(v)
        med = v[(n + 1) // 2 - 1]               # exact lower median
        d = sorted(abs(x - med) for x in v)
        mad = d[(n + 1) // 2 - 1]
        g = got[et]
        assert (g["med_cents"], g["mad_cents"]) == (med, mad)
        assert g["n_outliers"] == sum(1 for x in d if x > 5 * mad)


def test_bitmap_coactivity_matches_python_reference(spark):
    from ethereum_export_pipeline_spark.plans.analytics import (
        BITMAP_SLOTS, _bitmap_coactivity)
    got = {(r["type_a"], r["type_b"]): r.asDict()
           for r in _bitmap_coactivity(spark, SF).collect()}
    ev = _events_pd()
    ns = ev["ts"].astype("datetime64[ns]").astype("int64")
    ev = ev.assign(day=ns // (86_400 * 10 ** 9),
                   slot=ev["user_id"] % BITMAP_SLOTS)
    bm: dict[tuple, int] = {}
    for (et, day), grp in ev.groupby(["event_type", "day"]):
        acc = 0
        for s in grp["slot"]:
            acc |= 1 << int(s)
        bm[(et, day)] = acc
    types = sorted(ev["event_type"].unique())
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            days = [d for (et, d) in bm if et == a
                    and (b, d) in bm]
            if not days:
                continue
            sb = sum(bin(bm[(a, d)] & bm[(b, d)]).count("1")
                     for d in days)
            se = sum(bin(bm[(a, d)] | bm[(b, d)]).count("1")
                     for d in days)
            g = got[(a, b)]
            assert g["days"] == len(days)
            assert (g["sum_both"], g["sum_either"]) == (sb, se)
            assert g["jaccard_ppm"] == sb * 1_000_000 // se


# ------------------------------------ out-of-orderness census (OOO)

def test_stream_ooo_census_matches_python_reference(spark):
    """The stateful streaming census equals an arrival-order python
    replay of the same jitter (independent of the DuckDB oracle)."""
    import hashlib

    from ethereum_export_pipeline_spark.functions import MERSENNE31
    from ethereum_export_pipeline_spark.streaming.sessions import (
        OOO_EDGES_US, OOO_JITTER_US, stream_ooo_census)

    got = {r["event_type"]: r.asDict()
           for r in stream_ooo_census(
               spark, f"{SF}/events.parquet").collect()}

    ev = _events_pd()
    ns = ev["ts"].astype("datetime64[ns]").astype("int64")
    ev = ev.assign(ts_us=ns // 1_000)

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8],
                   16) % MERSENNE31

    for et, grp in ev.groupby("event_type"):
        rows = sorted(
            (int(t) + h32(f"ooo:{i}") % OOO_JITTER_US, int(i), int(t))
            for i, t in zip(grp["event_id"], grp["ts_us"]))
        run_max, n_late, max_late = -1, 0, 0
        buckets = [0] * (len(OOO_EDGES_US) + 1)
        for _, _, t in rows:
            late = run_max - t if run_max > t else 0
            if late > 0:
                n_late += 1
                max_late = max(max_late, late)
                for bi, edge in enumerate(OOO_EDGES_US):
                    if late <= edge:
                        buckets[bi] += 1
                        break
                else:
                    buckets[-1] += 1
            run_max = max(run_max, t)
        g = got[et]
        assert g["n_events"] == len(rows)
        assert g["n_late"] == n_late
        assert g["max_late_us"] == max_late
        assert [g["late_le_1s"], g["late_le_10s"], g["late_le_60s"],
                g["late_le_600s"], g["late_gt_600s"]] == buckets


# ------------------------------------------------ script census

def test_script_census_hand_counts(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="ab1 \tc"),          # 3 alpha, 1 digit, 2 ws
         Row(doc_id=2, text="héllo wörld"),      # 2 non-ascii chars
         Row(doc_id=3, text=None)])
    got = {r["doc_id"]: r.asDict()
           for r in T.script_census(docs).collect()}
    assert 3 not in got
    g1 = got[1]
    assert (g1["n_chars"], g1["n_alpha"], g1["n_digit"],
            g1["n_space"], g1["n_other"]) == (6, 3, 1, 2, 0)
    assert g1["suspect"] == 0
    g2 = got[2]
    assert g2["n_other"] == 2 and g2["n_chars"] == 11
    assert g2["other_ppm"] == 2 * 1_000_000 // 11
    assert g2["suspect"] == 1              # 18% non-ascii > 10% gate


# ------------------------------------------- CEP pattern matching

def test_cep_handler_matches_last_view_within_window(spark):
    import pandas as pd

    from ethereum_export_pipeline_spark.streaming.sessions import (
        CEP_WINDOW_US, _cep_key)

    class FakeState:
        exists = False

        def update(self, v):
            self.stored = v

    batch = pd.DataFrame({
        "event_id":   [1, 2, 3, 4, 5],
        "event_type": ["view", "purchase", "purchase", "view",
                       "purchase"],
        "ts_us":      [0, 10, CEP_WINDOW_US + 11,  # 3: too late
                       CEP_WINDOW_US + 20, CEP_WINDOW_US + 25],
    })
    st = FakeState()
    out = list(_cep_key((7,), iter([batch]), st))[0]
    # purchases 2 (latency 10) and 5 (latency 5, via the NEWER view 4)
    assert list(zip(out["event_id"], out["latency_us"])) == [(2, 10),
                                                             (5, 5)]
    assert st.stored == (CEP_WINDOW_US + 20,)   # last view carried


def test_cep_state_carries_across_batches(spark):
    import pandas as pd

    from ethereum_export_pipeline_spark.streaming.sessions import _cep_key

    class FakeState:
        def __init__(self, v=None):
            self.exists = v is not None
            self.get = v

        def update(self, v):
            self.stored = v

    st = FakeState((100,))                      # view at t=100 in state
    batch = pd.DataFrame({"event_id": [9], "event_type": ["purchase"],
                          "ts_us": [150]})
    out = list(_cep_key((1,), iter([batch]), st))[0]
    assert list(out["latency_us"]) == [50]      # matched carried view


# --------------------------------------------------- A/B readout

def test_abtest_readout_matches_python_reference(spark):
    import hashlib

    from ethereum_export_pipeline_spark.functions import MERSENNE31
    from ethereum_export_pipeline_spark.plans.analytics import (
        _abtest_readout)

    got = _abtest_readout(spark, SF).collect()[0].asDict()
    ev = _events_pd()
    spend: dict[int, int] = {}
    for _, r in ev.iterrows():
        uid = int(r["user_id"])
        spend.setdefault(uid, 0)
        if r["event_type"] == "purchase":
            spend[uid] += int(round(r["value"] * 100))
    vals = sorted(spend.values())
    med = vals[(len(vals) + 1) // 2 - 1]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8],
                   16) % MERSENNE31

    n = [0, 0]
    c = [0, 0]
    for uid, sp in spend.items():
        v = h32(f"exp1:{uid}") % 2
        n[v] += 1
        c[v] += int(sp > med)
    assert (got["n0"], got["n1"], got["c0"], got["c1"]) == (
        n[0], n[1], c[0], c[1])
    assert got["conv0_ppm"] == c[0] * 1_000_000 // n[0]
    p = (c[0] + c[1]) / (n[0] + n[1])
    if 0 < p < 1:
        z = ((c[1] / n[1] - c[0] / n[0])
             / math.sqrt(p * (1 - p) * (1 / n[0] + 1 / n[1])))
        assert got["z_score"] == pytest.approx(z)
