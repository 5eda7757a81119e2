"""Property-based tests (hypothesis): Spark operators vs tiny pure-
Python reference implementations on randomized inputs — the test
strategy SURVEY §5 prescribes for semantics that have more edge cases
than hand-picked fixtures cover (ragged plans, as-of tie handling,
Jaccard arithmetic)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(max_examples=15, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(events=st.lists(
    st.tuples(st.integers(0, 3),        # key
              st.integers(0, 50),       # time
              st.booleans()),           # right-side row?
    min_size=1, max_size=40))
@settings(**SETTINGS)
def test_asof_join_matches_python_reference(spark, events):
    from ethereum_export_pipeline_spark.operators.joins import asof_join
    left = [(i, k, t) for i, (k, t, is_r) in enumerate(events) if not is_r]
    right = {}
    for i, (k, t, is_r) in enumerate(events):
        if is_r:
            right[(k, t)] = max(right.get((k, t), -1), i * 10)
    if not left or not right:
        return
    ldf = spark.createDataFrame(left, "id long, user_id long, ts_us long")
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in right.items()],
        "user_id long, ts_us long, v long")
    got = {r.id: r.v_r for r in asof_join(ldf, rdf, payload=["v"]).collect()}

    for lid, k, t in left:
        cands = [(rt, v) for (rk, rt), v in right.items()
                 if rk == k and rt <= t]
        exp = max(cands)[1] if cands else None
        assert got[lid] == exp, (lid, k, t, cands)


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=2, max_size=8))
@settings(**SETTINGS)
def test_ngram_jaccard_matches_python_reference(spark, texts):
    from ethereum_export_pipeline_spark.operators.dedup import (
        NGRAM_N, NGRAM_THRESHOLD, ngram_jaccard_pairs)

    def pyshingles(s):
        toks = [t for t in "".join(c if c in "ab" else " " for c in s).split()
                if t]
        return {" ".join(toks[i:i + NGRAM_N])
                for i in range(len(toks) - NGRAM_N + 1)}

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
           for r in ngram_jaccard_pairs(df).collect()}

    exp = {}
    for i, ti in docs:
        for j, tj in docs:
            if i >= j:
                continue
            a, b = pyshingles(ti), pyshingles(tj)
            inter = len(a & b)
            if inter and inter / len(a | b) >= NGRAM_THRESHOLD:
                exp[(i, j)] = (inter, inter / len(a | b))
    assert set(got) == set(exp)
    for p, (n, jac) in exp.items():
        assert got[p][0] == n
        assert abs(got[p][1] - jac) < 1e-12


@given(start=st.integers(0, 1000), width=st.integers(1, 400),
       n=st.integers(0, 2000))
@settings(**SETTINGS)
def test_range_cols_assigns_every_key_to_its_range(spark, start, width, n):
    from pyspark.sql import functions as F
    from ethereum_export_pipeline_spark.partitioning import (
        range_cols, split_to_batches)
    end = start + n
    plan = list(split_to_batches(start, end, width))
    df = spark.range(start, end + 1).select(F.col("id").alias("number"))
    s, e = range_cols("number", plan)
    rows = df.select("number", s, e).collect()
    lookup = {num: (lo, hi) for lo, hi in plan for num in (lo, hi)}
    for r in rows:
        lo, hi = int(r.start_block), int(r.end_block)
        assert lo <= r.number <= hi
        assert (lo, hi) in plan


@given(texts=st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=40), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_token_rarity_matches_python_reference(spark, texts):
    from collections import Counter
    from ethereum_export_pipeline_spark.operators.text import token_rarity

    def pytoks(s):
        return {t for t in "".join(c if c in "abc" else " " for c in s).split()}

    per_doc = {i: pytoks(t) for i, t in enumerate(texts)}
    df_count = Counter(tok for toks in per_doc.values() for tok in toks)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_distinct_toks, r.sum_df, r.n_hapax)
           for r in token_rarity(df).collect()}
    for i, toks in per_doc.items():
        if not toks:
            assert i not in got
            continue
        exp = (len(toks), sum(df_count[t] for t in toks),
               sum(1 for t in toks if df_count[t] == 1))
        assert got[i] == exp, (i, toks)


@given(lengths=st.lists(st.integers(0, 500), min_size=1, max_size=30),
       pcts=st.just((25, 50, 75)))
@settings(**SETTINGS)
def test_length_order_stats_matches_python_reference(spark, lengths, pcts):
    from ethereum_export_pipeline_spark.operators.text import (
        length_order_stats)
    from pyspark.sql import Row
    rows = [Row(doc_id=i, source="s", n_chars=n)
            for i, n in enumerate(lengths)]
    [r] = length_order_stats(spark.createDataFrame(rows)).collect()
    srt, n = sorted(lengths), len(lengths)
    exp = {p: srt[((n - 1) * p) // 100] for p in pcts}
    assert (r.len_min, r.len_max, r.n_docs) == (srt[0], srt[-1], n)
    assert (r.len_p25, r.len_p50, r.len_p75) == (exp[25], exp[50], exp[75])


@given(ids=st.lists(st.integers(0, 500), min_size=1, max_size=60,
                    unique=True))
@settings(**SETTINGS)
def test_decontaminate_partition_invariants(spark, ids):
    # every doc is 'x y z' + its own unique token: bench docs (id a
    # multiple of BENCH_MOD) and corpus docs share the 1 shingle
    # ('x y z') iff they have >=1 bench counterpart; totals are
    # per-doc exact
    from ethereum_export_pipeline_spark.operators.dedup import (
        BENCH_MOD as bench_mod, decontaminate)
    docs = [(i, f"x y z w{i}") for i in ids]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in decontaminate(df).collect()}
    bench_exists = any(i % bench_mod == 0 for i in ids)
    for i in ids:
        if i % bench_mod == 0:
            assert i not in got          # benchmark docs are not scored
            continue
        r = got[i]
        # shingles of 'x y z w{i}': 'x y z', 'y z w{i}' → 2 total,
        # only 'x y z' can hit (w{i} unique per doc)
        assert r.n_shingles == 2
        assert r.n_hits == (1 if bench_exists else 0)
        assert r.contaminated == (1 if bench_exists else 0)


# ------------------------------------------------------------- codecs
# Pure-Python roundtrips (no Spark): every random pixel/sample array
# must survive encode→decode bit-for-bit — stride padding, bottom-up
# flips, channel swaps and header formatting all live in this property.

@given(h=st.integers(1, 9), w=st.integers(1, 9),
       data=st.data(), gray=st.booleans())
@settings(**SETTINGS)
def test_netpbm_roundtrip_property(h, w, data, gray):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_image, encode_netpbm)
    c = 1 if gray else 3
    flat = data.draw(st.lists(st.integers(0, 255), min_size=h * w * c,
                              max_size=h * w * c))
    px = np.array(flat, dtype=np.uint8).reshape(h, w, c)
    rw, rh, rc, back = decode_image(encode_netpbm(px))
    assert (rw, rh, rc) == (w, h, c)
    assert (back == px).all()


@given(samples=st.lists(st.integers(0, 255), min_size=1, max_size=64),
       sixteen=st.booleans(), rate=st.sampled_from([8000, 16000, 44100]))
@settings(**SETTINGS)
def test_wav_roundtrip_property(samples, sixteen, rate):
    import numpy as np
    from ethereum_export_pipeline_spark.operators.multimodal import (
        decode_wav, encode_wav)
    if sixteen:
        arr = np.array([s * 257 - 32768 for s in samples], dtype=np.int16)
    else:
        arr = np.array(samples, dtype=np.uint8)
    rrate, ch, bits, back = decode_wav(encode_wav(arr, rate))
    assert (rrate, ch, bits) == (rate, 1, 16 if sixteen else 8)
    assert (back[:, 0] == arr).all()


@given(edges=st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)),
                      min_size=1, max_size=40))
@settings(**SETTINGS)
def test_star_contraction_matches_union_find(spark, edges):
    from ethereum_export_pipeline_spark.operators.dedup import (
        connected_components_star)
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components_star(pairs).collect()}
    assert got == expected


@given(log=st.lists(
    st.tuples(st.integers(1, 4),                      # user
              st.sampled_from(["A", "B", "C", None]),  # attr
              st.integers(0, 50)),                     # ts
    min_size=1, max_size=40))
@settings(**SETTINGS)
def test_scd2_reconstructs_point_in_time_state(spark, log):
    """SCD2 soundness: for every (user, t), the version row whose
    [valid_from, valid_to) interval covers t carries exactly the
    attribute a python replay of the log reports at t."""
    from ethereum_export_pipeline_spark.operators.temporal import scd2
    rows = [(u, a, t, i) for i, (u, a, t) in enumerate(log)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_us long, event_id long")
    versions = scd2(df).collect()
    by_user: dict = {}
    for u, a, t, i in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        by_user.setdefault(u, []).append((t, a))
    for u, seq in by_user.items():
        vs = sorted([v for v in versions if v["user_id"] == u],
                    key=lambda v: v["version"])
        # intervals tile [first_ts, ∞) with no gaps or overlaps
        assert vs[0]["valid_from_us"] == seq[0][0]
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
        assert vs[-1]["valid_to_us"] is None and vs[-1]["is_current"] == 1
        for t in {t for t, _ in seq} | {max(t for t, _ in seq) + 7}:
            expected = [a for tt, a in seq if tt <= t][-1] if any(
                tt <= t for tt, _ in seq) else None
            covering = [v for v in vs
                        if v["valid_from_us"] <= t
                        and (v["valid_to_us"] is None
                             or t < v["valid_to_us"])]
            if any(tt <= t for tt, _ in seq):
                assert len(covering) == 1
                assert covering[0]["attr"] == expected


@given(files=st.lists(st.integers(1, 300), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_compaction_plan_matches_python_reference(spark, files):
    """Offset binning vs a sequential python replay: same bins, same
    per-bin membership, bytes conserved. Sizes are hundredths of the
    target; ids 100 apart span several prefix-sum buckets."""
    from ethereum_export_pipeline_spark.operators.layout import (
        COMPACT_TARGET as target, compaction_plan)
    rows = [(i * 100, sz * (target // 100)) for i, sz in enumerate(files)]
    df = spark.createDataFrame(rows, "file_id long, bytes long")
    got = {r["bin"]: (r["n_files"], r["total_bytes"], r["first_file"],
                      r["last_file"])
           for r in compaction_plan(df).collect()}
    ref: dict = {}
    before = 0
    for i, sz in rows:
        b = before // target
        n, t, fo, la = ref.get(b, (0, 0, i, i))
        ref[b] = (n + 1, t + sz, min(fo, i), max(la, i))
        before += sz
    assert got == ref


@given(base=st.dictionaries(st.integers(0, 20),
                            st.sampled_from(["x", "y", None]),
                            max_size=15),
       feed=st.lists(st.tuples(st.integers(0, 25),
                               st.sampled_from(["I", "U", "D"]),
                               st.integers(0, 9)),
                     max_size=25))
@settings(**SETTINGS)
def test_apply_changes_matches_python_reference(spark, base, feed):
    """CDC merge vs a python replay (latest seq wins, ties broken by
    op ascending; D drops; I/U upsert), including idempotency:
    re-applying the compacted feed to the result is a no-op."""
    from ethereum_export_pipeline_spark.operators.retention import (
        apply_changes)
    base_rows = [(k, v) for k, v in base.items()]
    # payload derived from (k, op, seq): exact-tie rows then carry
    # identical payloads, matching the operator's contract (unique
    # seq per key, or tie rows payload-identical)
    feed_rows = [(k, f"{k}-{op}-{sq}" if op != "D" else None, op, sq)
                 for (k, op, sq) in feed]
    bdf = spark.createDataFrame(base_rows or [(999, "z")],
                                "doc_id long, text string")
    if not base_rows:
        bdf = bdf.where("doc_id < 0")
    cdf = spark.createDataFrame(feed_rows or [(999, "z", "U", 0)],
                                "doc_id long, text string, op string, seq long")
    if not feed_rows:
        cdf = cdf.where("doc_id < 0")
    got = {r["doc_id"]: (r["text"], r["action"])
           for r in apply_changes(bdf, cdf).collect()}
    latest: dict = {}
    for k, txt, op, sq in feed_rows:
        cur = latest.get(k)
        # operator order: seq DESC, op ASC → max seq, min op on ties
        if cur is None or sq > cur[0] or (sq == cur[0] and op < cur[1]):
            latest[k] = (sq, op, txt)
    ref = {}
    for k, v in (base or {}).items():
        if k not in latest:
            ref[k] = (v, "kept")
    for k, (sq, op, txt) in latest.items():
        if op == "D":
            continue
        ref[k] = (txt, "updated" if k in (base or {}) else "inserted")
    assert got == ref
    # idempotency: reapply the same feed to the merged result
    merged_df = spark.createDataFrame(
        [(k, v[0]) for k, v in got.items()] or [(999, "z")],
        "doc_id long, text string")
    if not got:
        merged_df = merged_df.where("doc_id < 0")
    again = {r["doc_id"]: r["text"]
             for r in apply_changes(merged_df, cdf).collect()}
    assert again == {k: v[0] for k, v in got.items()}


@given(texts=st.lists(
    st.text(alphabet="abc of the x", min_size=0, max_size=40),
    min_size=1, max_size=6))
@settings(**SETTINGS)
def test_rake_matches_python_reference(spark, texts):
    """RAKE top-k == a pure-python reference (stopword islands,
    deg/freq fixed point, phrase cap, tie order) on random texts over
    a tiny alphabet that mixes stopwords and content tokens."""
    import re

    from pyspark.sql import Row

    from ethereum_export_pipeline_spark.operators.text import (
        RAKE_MAX_PHRASE, STOPWORDS, rake_keywords)
    stop = set(STOPWORDS["en"])
    phrases = []                     # (phrase_words, doc occurrence)
    for t in texts:
        toks = re.findall(r"[a-z0-9]+", t.lower())
        run = []
        for w in toks + [None]:
            if w is None or w in stop:
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(w)
    phrases = [p for p in phrases if len(p) <= RAKE_MAX_PHRASE]
    if not phrases:
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
        assert rake_keywords(df).count() == 0
        return
    freq: dict = {}
    deg: dict = {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    wscore = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    agg: dict = {}
    for p in phrases:
        key = " ".join(p)
        score = sum(wscore[w] for w in p)
        n, occ, _ = agg.get(key, (len(p), 0, score))
        agg[key] = (len(p), occ + 1, score)
    expected = {k: v for k, v in sorted(
        agg.items(), key=lambda kv: (-kv[1][2], kv[0]))[:50]}
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {r["phrase"]: (r["n_words"], r["occurrences"], r["score_e6"])
           for r in rake_keywords(df).collect()}
    assert got == expected


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=30),
    min_size=1, max_size=5))
@settings(**SETTINGS)
def test_trigram_fluency_matches_python_reference(spark, texts):
    """Interpolated trigram scores == a pure-python recount of the
    four backoff tiers on random tiny-alphabet corpora."""
    import re

    from pyspark.sql import Row

    from ethereum_export_pipeline_spark.operators.text import (
        PPB, TRIGRAM_W1, TRIGRAM_W2, TRIGRAM_W3, trigram_fluency)
    tg = []
    for i, t in enumerate(texts):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        for j in range(len(toks) - 2):
            tg.append((i, tuple(toks[j:j + 3])))
    if not tg:
        return
    from collections import Counter
    c123 = Counter(t for _, t in tg)
    c12 = Counter(t[:2] for _, t in tg)
    c23 = Counter(t[1:] for _, t in tg)
    c2 = Counter(t[1] for _, t in tg)
    c3 = Counter(t[2] for _, t in tg)
    n = len(tg)
    expected: dict = {}
    for i, t in tg:
        p = (TRIGRAM_W3 * (c123[t] * PPB // c12[t[:2]])
             + TRIGRAM_W2 * (c23[t[1:]] * PPB // c2[t[1]])
             + TRIGRAM_W1 * (c3[t[2]] * PPB // n)) // 100
        s, k = expected.get(i, (0, 0))
        expected[i] = (s + p, k + 1)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {r["doc_id"]: (r["sum_prob_ppb"], r["n_trigrams"],
                         r["fluency_ppb"])
           for r in trigram_fluency(df).collect()}
    assert set(got) == set(expected)
    for i, (s, k) in expected.items():
        assert got[i] == (s, k, s // k)
