"""Round-8 operator tests: real PNG codec (zlib inflate + scanline
unfilter), dual-precision wei CSV projection, and streaming
restart-recovery (state carried across a full stop/start on the same
checkpoint).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from ethereum_export_pipeline_spark.operators.multimodal import (
    PNG_SIG, decode_image, decode_png, encode_png)

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------------- png codec

def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def _png(w, h, depth, ctype, interlace, filtered: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(filtered))
            + _chunk(b"IEND", b""))


def test_png_roundtrip_every_filter_and_shape():
    rng = np.random.RandomState(7)
    for shape in [(7, 9, 3), (1, 1, 3), (13, 8, 1), (4, 31, 3)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        # scanline filters cycle y % 5: the 7- and 13-row images
        # exercise all five
        w, h, c, back = decode_png(encode_png(px))
        assert (h, w, c) == shape
        assert np.array_equal(back, px), shape


def test_png_dispatches_through_decode_image():
    px = np.arange(5 * 6 * 3, dtype=np.uint8).reshape(5, 6, 3)
    w, h, c, back = decode_image(encode_png(px))
    assert (w, h, c) == (6, 5, 3)
    assert np.array_equal(back, px)


def test_png_paeth_and_average_hand_vectors():
    # Paeth, gray 2x2, pixels [[10,20],[30,50]] — filtered bytes
    # hand-derived from the spec's predictor + tie-break order
    filtered = bytes([4, 10, 10, 4, 20, 20])
    _, _, _, dec = decode_png(_png(2, 2, 8, 0, 0, filtered))
    assert dec.ravel().tolist() == [10, 20, 30, 50]
    # Average, gray 1x3, pixels [100,101,103]: preds 0, 50, 50
    _, _, _, dec = decode_png(_png(3, 1, 8, 0, 0, bytes([3, 100, 51, 53])))
    assert dec.ravel().tolist() == [100, 101, 103]


def test_png_rejects_malformed_never_raises():
    enc = encode_png(np.zeros((3, 4, 3), np.uint8))
    assert decode_png(None) is None
    assert decode_png(b"junk") is None
    assert decode_png(enc[:-5]) is None          # truncated (no IEND)
    assert decode_png(enc[:20]) is None          # truncated mid-IHDR
    bad = bytearray(enc)
    bad[40] ^= 1                                  # flip an IDAT byte
    assert decode_png(bytes(bad)) is None         # CRC catches it
    stream = zlib.compress(bytes(13))
    assert decode_png(_png(4, 3, 8, 2, 1, bytes(39))) is None  # Adam7
    assert decode_png(_png(4, 3, 16, 2, 0, bytes(75))) is None  # 16-bit
    assert decode_png(_png(4, 3, 8, 6, 0, bytes(51))) is None  # RGBA
    assert decode_png(_png(2, 1, 8, 0, 0, bytes([9, 0, 0]))) is None  # bad ft
    # inflated length != h*(1+stride)
    assert decode_png(_png(4, 3, 8, 0, 0, bytes(14))) is None
    # zlib garbage in IDAT
    raw = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
           + _chunk(b"IDAT", b"\xff\xfe\x00") + _chunk(b"IEND", b""))
    assert decode_png(raw) is None
    assert stream  # silence lint


# ------------------------------------- hierarchy aggregates (no closure)

def test_hierarchy_aggregates_matches_python_reference(spark):
    """Deep chain (depth 16 = 2^HIERARCHY_ROUNDS, the deepest the
    closure reaches), a bushy star, and isolated roots: depth / n_desc
    / desc_sum must equal a brute-force python walk."""
    from ethereum_export_pipeline_spark.operators.graph import (
        HIERARCHY_ROUNDS, hierarchy_aggregates)
    # chain 1<-2<-...<-17 ; star 100<-{101..105} ; 200 isolated
    depth = 2 ** HIERARCHY_ROUNDS
    parent = {i: i - 1 for i in range(2, depth + 2)}
    parent.update({i: 100 for i in range(101, 106)})
    nodes = list(range(1, depth + 2)) + [100, 101, 102, 103, 104, 105, 200]
    val = {n: n * 7 for n in nodes}

    def anc(n):
        out = []
        while n in parent:
            n = parent[n]
            out.append(n)
        return out

    exp = {}
    for n in nodes:
        desc = [m for m in nodes if n in anc(m)]
        exp[n] = (len(anc(n)), len(desc), sum(val[m] for m in desc))

    edges = spark.createDataFrame(
        [(c, p) for c, p in parent.items()], "child long, parent long")
    vals = spark.createDataFrame(
        [(n, val[n]) for n in nodes], "c_custkey long, bal_cents long")
    got = {r["node"]: (r["depth"], r["n_desc"], r["desc_sum"])
           for r in hierarchy_aggregates(edges, vals).collect()}
    assert got == exp


# ------------------------------------------- stream restart recovery

def test_cusum_state_survives_restart_on_same_checkpoint(spark, tmp_path):
    """State must carry across a FULL stop/start: run half the input
    to completion, start a NEW query (fresh isolated session) on the
    SAME checkpoint, feed the rest — alarms whose accumulation spans
    the restart fire with s values only reachable via recovered
    state, and phase-1 alarms are NOT re-emitted (committed source
    offsets are honored, no reprocessing)."""
    from ethereum_export_pipeline_spark.streaming.sessions import (
        CUSUM_H, CUSUM_K0, run_cusum_checkpointed)
    events_dir = tmp_path / "events_in"
    ckpt = str(tmp_path / "ckpt")
    events_dir.mkdir()

    def land(name, rows):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        pdf = pd.DataFrame(rows, columns=[
            "event_id", "ts", "user_id", "event_type", "value", "props"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            str(events_dir / name), coerce_timestamps="us")

    # user 7: three 150.00s -> s = 9000, 18000, 27000 => ALARM(27000),
    # reset; then one 150.00 -> s carried into the restart = 9000.
    # user 8: three 120.00s -> s = 18000 carried, no alarm yet.
    land("part1.parquet", [
        (1, 100, 7, "a", 150.0, ""), (2, 101, 7, "a", 150.0, ""),
        (3, 102, 7, "a", 150.0, ""), (4, 103, 7, "a", 150.0, ""),
        (5, 100, 8, "a", 120.0, ""), (6, 101, 8, "a", 120.0, ""),
        (7, 102, 8, "a", 120.0, ""),
    ])
    first = run_cusum_checkpointed(spark, str(events_dir), ckpt)
    assert [(r.user_id, r.event_id, r.s_cents) for r in first] == \
        [(7, 3, 27_000)]

    # restart: user 7 needs carried s=9000 to alarm (9000+18000-6000 =
    # 21000 > H; from scratch 12000 stays under); user 8 needs carried
    # s=18000 (18000+8100-6000 = 20100 > H; from scratch 2100).
    land("part2.parquet", [
        (8, 104, 7, "a", 180.0, ""),
        (9, 103, 8, "a", 81.0, ""),
    ])
    second = run_cusum_checkpointed(spark, str(events_dir), ckpt)
    got = sorted((r.user_id, r.event_id, r.s_cents) for r in second)
    assert got == [(7, 8, 21_000), (8, 9, 20_100)], got
    assert CUSUM_K0 == 6_000 and CUSUM_H == 20_000  # values above assume


def test_png_media_fixture_matches_ppm_pixels(spark):
    """decode(png fixture) must equal decode(ppm fixture) pixel for
    pixel — the two queries differ by codec only."""
    from ethereum_export_pipeline_spark.operators.multimodal import (
        documents_as_png_media, documents_as_ppm_media, extract_features)
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
                 .orderBy("doc_id").limit(40))
    a = {r["media_id"]: r for r in
         extract_features(documents_as_png_media(docs)).collect()}
    b = {r["media_id"]: r for r in
         extract_features(documents_as_ppm_media(docs)).collect()}
    assert set(a) == set(b) and a
    for mid, ra in a.items():
        rb = b[mid]
        for k in ("width", "height", "channels", "ch_sum", "px_hist"):
            assert ra[k] == rb[k], (mid, k)
        if ra["width"] is not None:
            # the compressed payload must actually be smaller-or-equal
            # plus constant chunk overhead on these tiled planes —
            # mainly: it must NOT be the raw plane
            assert ra["n_bytes"] != rb["n_bytes"]


# --------------------------------- serving-tier quantization (SQ8/binary)

def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>")


def test_sq8_perfect_reconstruction_gives_full_recall(spark):
    """One-hot corpus: per-dim bounds are {0, 1e4}, so the int8 code
    round-trips EXACTLY (255·10000 div 255 = 10000) and the quantized
    ranking equals the exact ranking — recall must be 100% for every
    query, including tie-heavy ones (cosine 0 everywhere, broken by
    neighbor_id in both passes)."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        brute_force_topk, sq8_recall_report)
    vecs = []
    for i in range(15):
        v = [0.0] * 64
        v[i] = 1.0
        vecs.append(v)
    df = _emb_df(spark, vecs)
    rep = sq8_recall_report(df, brute_force_topk(df)).collect()
    assert [r.query_id for r in rep] == list(range(10))
    assert all(r.n_hits == 5 and r.recall_ppm == 1_000_000 for r in rep)


def test_sq8_codes_stay_in_byte_range(spark):
    from ethereum_export_pipeline_spark.operators.similarity import (
        SQ8_LEVELS, sq8_bounds, sq8_code_expr, with_quantized)
    from pyspark.sql import functions as F
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = with_quantized(df)
    bounds = sq8_bounds(df)
    row = (base.crossJoin(F.broadcast(bounds))
               .select(F.expr(sq8_code_expr()).alias("code"))
               .select(F.min(F.array_min("code")).alias("lo"),
                       F.max(F.array_max("code")).alias("hi"))
               .collect()[0])
    assert 0 <= row.lo and row.hi <= SQ8_LEVELS


def test_binary_code_packing_matches_python(spark):
    """hash_hi/hash_lo and every band key recomputed bit-for-bit in
    plain Python from the same >0-on-quantized rule."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        HAM_BAND_BITS, HAM_BANDS, with_binary_codes)
    import random
    rng = random.Random(11)
    vecs = [[rng.uniform(-0.5, 0.5) for _ in range(64)] for _ in range(30)]
    got = {r.vec_id: r for r in
           with_binary_codes(_emb_df(spark, vecs)).collect()}

    def _round_half_away(v: float) -> int:   # Spark round(), not banker's
        import math
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    for i, v in enumerate(vecs):
        q = [_round_half_away(float(np.float32(x)) * 10_000) for x in v]
        bits = [1 if x > 0 else 0 for x in q]
        keys = [sum(bits[b * HAM_BAND_BITS + j] << j
                    for j in range(HAM_BAND_BITS))
                for b in range(HAM_BANDS)]
        lo = sum(keys[b] << (b * HAM_BAND_BITS) for b in range(4))
        hi = sum(keys[b + 4] << (b * HAM_BAND_BITS) for b in range(4))
        r = got[i]
        assert [r[f"band{b}"] for b in range(HAM_BANDS)] == keys, i
        assert (r.hash_lo, r.hash_hi) == (lo, hi), i


def test_hamming_topk_pigeonhole_finds_close_pair(spark):
    """A planted neighbor 3 bit-flips from query 0 MUST be found
    (pigeonhole: Hamming <= 7 always shares one of the 8 byte bands)
    and ranked first with the exact distance."""
    from ethereum_export_pipeline_spark.operators.similarity import (
        hamming_topk)
    import random
    rng = random.Random(5)
    base = [rng.choice([-0.3, 0.3]) for _ in range(64)]
    near = list(base)
    for d in (3, 17, 60):        # 3 flips, spread across bands
        near[d] = -near[d]
    vecs = [base, near] + [
        [rng.choice([-0.3, 0.3]) for _ in range(64)] for _ in range(40)]
    out = hamming_topk(_emb_df(spark, vecs)).where("query_id = 0")
    rows = {r.rank: r for r in out.collect()}
    assert rows, "no candidates found"
    assert rows[1].neighbor_id == 1 and rows[1].hamming == 3


# ------------------------------------- zone map + bucketed co-location

def test_zone_map_prunes_exactly_the_disjoint_zones(spark):
    from ethereum_export_pipeline_spark.plans.eth import (
        ZONE_KEY_HI, ZONE_KEY_LO, ZONE_W, _zone_map)
    rows = _zone_map(spark, SF).collect()
    assert rows
    orders_n = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert sum(r.n_rows for r in rows) == orders_n
    for r in rows:
        assert r.zone_id * ZONE_W <= r.min_key <= r.max_key \
            < (r.zone_id + 1) * ZONE_W
        want = int(r.max_key < ZONE_KEY_LO or r.min_key > ZONE_KEY_HI)
        assert r.pruned == want, r
        assert r.rows_skipped == (r.n_rows if want else 0)


def test_bucketed_join_is_exchange_free(spark):
    """With broadcast disabled, the bucketed fact-fact join must plan
    as a SortMergeJoin whose ONLY exchange is the final
    priority-rollup hash agg — the join itself reads co-located
    buckets (bucketed scan visible in the plan)."""
    from ethereum_export_pipeline_spark.plans.eth import _bucketed_join
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = _bucketed_join(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert "SortMergeJoin" in final, final[:2000]
        # every exchange is on the rollup key (partial agg + final
        # sort); the JOIN keys never shuffle — that's the bucket win
        ex_lines = [l for l in final.splitlines()
                    if "Exchange" in l and "ReusedExchange" not in l]
        assert ex_lines and all("o_orderpriority" in l for l in ex_lines), \
            final[:2000]
        assert "hashpartitioning(o_orderkey" not in final
        assert "hashpartitioning(l_orderkey" not in final
        assert final.count("Bucketed: true") == 2, final[:2000]
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


# -------------------------------------------- batch changepoint (binseg)

def test_changepoint_matches_bruteforce_argmax(spark):
    """The windowed argmax must equal a brute-force python scan of
    every split of every series, on the real fixture."""
    from collections import defaultdict

    from ethereum_export_pipeline_spark.plans.analytics import _changepoint
    from ethereum_export_pipeline_spark.sources.tables import load_table

    got = {r.event_type: r for r in _changepoint(spark, SF).collect()}

    daily = (load_table(spark, SF, "events")
             .selectExpr("event_type",
                         "ts_ns div 1000 div 86400000000 AS day",
                         "CAST(round(value * 100) AS BIGINT) AS c")
             .groupBy("event_type", "day")
             .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("v"))
             .collect())
    series = defaultdict(list)
    for r in daily:
        series[r.event_type].append((r.day, r.v))
    assert set(series) == set(got)
    for et, pts in series.items():
        pts.sort()
        n = len(pts)
        sn = sum(v for _, v in pts)
        best = None
        st = 0
        for t in range(1, n):          # split after prefix length t
            st += pts[t - 1][1]
            gain = (st * st / t + (sn - st) * (sn - st) / (n - t)
                    - sn * sn / n)
            if best is None or gain > best[0]:
                best = (gain, t)
        g = got[et]
        assert (g.n_days, g.n_before) == (n, best[1]), et
        assert g.split_day == pts[best[1] - 1][0]
        assert g.s_before_cents == sum(v for _, v in pts[:best[1]])
        assert g.s_after_cents == sn - g.s_before_cents
        assert abs(g.gain - best[0]) < 1e-6 * max(1.0, abs(best[0]))


# ----------------------------- exact set-similarity join (prefix filter)

def test_ssjoin_prefix_matches_bruteforce_exactly(spark):
    """Every (pair, n_common, jaccard) must equal a python brute force
    over all pairs of real fixture docs — the no-recall-loss claim."""
    import re

    from ethereum_export_pipeline_spark.operators import dedup
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
                 .orderBy("doc_id").limit(80))
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
           for r in dedup.ssjoin_prefix_pairs(docs).collect()}

    def sh(text):
        t = re.findall(r"[a-z0-9]+", (text or "").lower())
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    s = {r.doc_id: sh(r.text) for r in docs.collect()
         if r.text is not None and sh(r.text)}
    exp = {}
    ids = sorted(s)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(s[a] & s[b])
            union = len(s[a] | s[b])
            if union and inter / union >= 0.5:
                exp[(a, b)] = (inter, inter / union)
    assert set(got) == set(exp)
    for k, (n, j) in exp.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - j) < 1e-12, k


def test_ssjoin_prefix_finds_pairs_the_df_cut_misses(spark):
    """DEFAULT_MAX_DF + 1 identical boilerplate-only docs: every
    shingle is past the df-cut, so the inverted index is empty and
    ngram_jaccard_pairs reports NOTHING — the prefix join must still
    report every pair at jaccard 1.0 (hot shingles sit in the suffix
    order-wise but identical docs share their whole prefix)."""
    from pyspark.sql import functions as F
    from ethereum_export_pipeline_spark.operators import dedup
    n = dedup.DEFAULT_MAX_DF + 1
    docs = spark.createDataFrame(
        [(i, "terms of service apply to everything here") for i in range(n)],
        "doc_id long, text string")
    assert dedup.ngram_jaccard_pairs(docs).count() == 0
    [r] = (dedup.ssjoin_prefix_pairs(docs)
           .agg(F.count(F.lit(1)).alias("n"), F.min("jaccard").alias("j"))
           .collect())
    assert (r.n, r.j) == (n * (n - 1) // 2, 1.0)
