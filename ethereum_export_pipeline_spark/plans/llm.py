"""LLM-training-data operators (dedup / text analysis / similarity /
multimodal) as catalog entries, each paired with a DuckDB oracle whose
SQL is GENERATED from the same constants the Spark operators use
(functions.hash_family, similarity.plane_signs, STOPWORDS, …) — the
two engines execute the same deterministic integer/regex arithmetic,
so value hashes must agree bit-for-bit.

DuckDB↔Spark expression map used below:
  Spark regexp_extract_all(lower(x),'[a-z0-9]+',0)  ↔ regexp_extract_all(lower(x),'[a-z0-9]+')
  Spark transform(sequence(0,n),i->…) + explode     ↔ UNNEST(range(n+1)) u(i)  (i 0-based)
  Spark aggregate(zip_with(a,b,(x,y)->x*y),0,+)     ↔ list_sum(list_transform(list_zip(a,b), s->s[1]*s[2]))
  Spark (x,i) lambdas are 0-based; DuckDB's are 1-based — every use
  below aligns them explicitly (t[i+1] vs element_at(t, i+1)).
  DuckDB sum(BIGINT) widens to HUGEINT → always CAST(sum(…) AS BIGINT).
  DuckDB regexp_replace needs the 'g' flag to match Spark's
  replace-all default.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..artifacts import artifact
from ..execution import checkpoint, spread
from ..functions import (MERSENNE31, affine_hash_sql, h32_sql,
                          h60_sql, tokens_sql)
from ..operators import dedup, multimodal, similarity, sketch, text
from ..operators.checks import HIST_BINS, OUTLIER_K
from ..operators.dedup import BENCH_MOD, NGRAM_THRESHOLD
from ..operators.graph import KCORE_K, KCORE_ROUNDS, LPA_ROUNDS
from ..operators.multimodal import AUDIO_TARGET_RATE, IMG_MAX_HAMMING
from ..operators.similarity import (KMEANS_K, KMEANS_ROUNDS, LSH_PLANES,
                                    LSH_TOPK_BANDS, MMR_K, MULTIBAND_BANDS,
                                    NEARDUP_COS, RANGE_BANDS, RANGE_COS,
                                    SEMDECON_COS, TOPK_K)
from ..operators.text import (CHUNK_STRIDE, CHUNK_TOKENS, COLLOC_MIN_COUNT,
                               COLLOC_TOP_K, DSIR_TARGET_PRED,
                               FUNNEL_MIN_QUALITY, FUNNEL_MIN_TOKENS,
                               MIX_BUDGET, PACK_SEQ_LEN, RESERVOIR_K,
                               RESERVOIR_SALT, RRF_K, SENT_MIN_CHARS,
                               SPLIT_SALT, TEXTRANK_ITERS,
                               TEXTRANK_MIN_COUNT, TEXTRANK_TOPK, TFIDF_K,
                               TOP_TERMS_K, WSAMPLE_PPB)
from ..sources.tables import load_table
from .base import Query, cents

P = MERSENNE31

# ------------------------------------------------------ shared oracle CTEs

def _toks_cte(rel: str = "documents") -> str:
    """The tokenization CTE over any documents-shaped relation —
    `rel` lets composed oracles (the crawl manifest) run the same
    chain over a derived CTE instead of the base table."""
    return (f"SELECT doc_id, {tokens_sql()} AS t "
            f"FROM {rel} WHERE text IS NOT NULL")


TOKS_CTE = _toks_cte()

SHINGLES_CTE = (
    "SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle "
    "FROM toks, UNNEST(range(len(t) - 2)) u(i) WHERE len(t) >= 3")

_JACCARD_TAIL = """
SELECT doc_a, doc_b, n_common, jaccard FROM (
  SELECT doc_a, doc_b, n_common,
         n_common / (sa.sz + sb.sz - n_common) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
) WHERE jaccard >= {threshold}
"""


# ----------------------------------------------------------- exact dedup

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_key, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents WHERE text IS NOT NULL GROUP BY 1
"""


# ---------------------------------------------------------- n-gram pairs

def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def _ngram_pairs_sql() -> str:
    return f"""
WITH toks AS ({TOKS_CTE}),
sh0 AS ({SHINGLES_CTE}),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle
         HAVING count(*) <= {dedup.DEFAULT_MAX_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
{_JACCARD_TAIL.format(threshold=NGRAM_THRESHOLD)}
"""


# --------------------------------------------------------- minhash pairs

# Shared corpus artifacts (`artifacts.artifact`), the data-sized
# intermediates the catalog reuses most: the MinHash-LSH candidate
# pair graph (11 consumers: pairs, clusters x2 algorithms, canonical,
# triangles, k-core, LPA, source matrix, crossmodal, manifest, leakage
# split), the k-means assignment (4 consumers) and the ones below.
# Production materializes the dup graph once and runs every
# downstream analytic off it; the memo mirrors that. Frames are
# eagerly localCheckpointed (the catalog's iteration discipline), so
# each artifact is computed once per session+corpus and every
# consumer plans over the same physical rows.

@artifact("minhash_pair_graph")
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return checkpoint(dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents")))


@artifact("ssjoin_pairs")
def _ssjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact PPJoin pair list, memoized per (session, corpus)
    like `_lsh_pairs` (optimization r11, guide §2.4 reuse):
    `doc_ssjoin_prefix` and `doc_neardup_recall` consume the SAME
    exact-Jaccard computation — before the memo each ran the full
    prefix-filter join independently (the recall audit's exact side
    was the single most expensive recomputation in the catalog)."""
    return checkpoint(dedup.ssjoin_prefix_pairs(
        load_table(spark, sf_dir, "documents")))


@artifact("cc_labels")
def _cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label connected components over the memoized pair graph
    (clusters / canonical / manifest / leakage split all consume the
    SAME labels; `doc_dedup_clusters_star` deliberately recomputes via
    star contraction — two algorithms, one oracle)."""
    return checkpoint(dedup.connected_components(_lsh_pairs(spark, sf_dir)))


@artifact("kmeans_cells")
def _kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graded 3-round Lloyd assignment, shared by the cluster-
    labeling / outlier / drift consumers."""
    return checkpoint(similarity.kmeans_assign(
        load_table(spark, sf_dir, "embeddings")))


def _minhash_pairs_sql(rel: str = "documents") -> str:
    k, bands = dedup.MINHASH_K, dedup.MINHASH_BANDS
    rows = k // bands
    mins = ", ".join(
        f"min({affine_hash_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_FAMILY))
    band_cols = ", ".join(
        "md5(concat_ws(',', '%d', %s)) AS band%d"
        % (band,
           ", ".join(f"CAST(m{band * rows + r} AS VARCHAR)" for r in range(rows)),
           band)
        for band in range(bands))
    band_list = ", ".join(f"band{b}" for b in range(bands))
    return f"""
WITH toks AS ({_toks_cte(rel)}),
sh AS ({SHINGLES_CTE}),
hashed AS (SELECT doc_id, {h32_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY 1),
banded AS (SELECT doc_id, {band_cols} FROM sig),
melted AS (SELECT doc_id, unnest([{band_list}]) AS bucket FROM banded),
cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM melted l JOIN melted r USING (bucket) WHERE l.doc_id < r.doc_id),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
  GROUP BY 1, 2
)
{_JACCARD_TAIL.format(threshold=NGRAM_THRESHOLD)}
"""


# ----------------------------------------------- winnowing fingerprints

def _winnow_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint sharing census (operators/dedup.
    winnow_shared_census): MOSS window-minimum sampling inside the
    scan, cross-doc fingerprint reuse per doc — the sampled
    exact-match detector at ~1/8 of substring_dup_spans' exchange."""
    return dedup.winnow_shared_census(
        load_table(spark, sf_dir, "documents"))


def _winnow_census_sql() -> str:
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    h = (f"list_reduce(list_slice(cs, p, p + {k} - 1), "
         f"(a, c) -> (a * {dedup.KR_BASE} + c) % {dedup.KR_MOD})")
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform(string_split(text, ''),
                        c -> CAST(ascii(c) AS BIGINT)) AS cs
  FROM documents
  WHERE text IS NOT NULL AND length(text) >= {k}
),
hl AS (
  SELECT doc_id,
         list_transform(range(1, len(cs) - {k} + 2), p -> {h}) AS hs
  FROM d
),
wins AS (
  -- census needs the selected HASHES only; the rightmost-tie POSITION
  -- rule (pinned by the operator's unit tests) is irrelevant to the
  -- distinct-mh set, so the oracle skips it
  SELECT doc_id,
         list_transform(range(1, greatest(len(hs) - {w} + 1, 1) + 1),
           i -> list_min(list_slice(hs, i, least(i + {w} - 1, len(hs)))))
           AS fps
  FROM hl
),
fp AS (
  SELECT DISTINCT doc_id, CAST(f AS BIGINT) AS fp
  FROM (SELECT doc_id, unnest(fps) AS f FROM wins)
),
flagged AS (
  SELECT doc_id, fp,
         CAST(count(*) OVER (PARTITION BY fp) >= 2 AS BIGINT) AS shared
  FROM fp
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         CAST(sum(shared) AS BIGINT) AS n_shared
  FROM flagged GROUP BY 1
)
SELECT a.doc_id,
       coalesce(p.n_fp, 0) AS n_fp,
       coalesce(p.n_shared, 0) AS n_shared,
       CASE WHEN coalesce(p.n_fp, 0) = 0 THEN 0
            ELSE coalesce(p.n_shared, 0) * 1000000 // p.n_fp
            END AS shared_ppm
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) a
LEFT JOIN per_doc p USING (doc_id)
"""


# ------------------------------------- incremental cross-batch near-dup

#: the "new batch": every 5th doc stands in for today's crawl; the
#: other 80% are the already-ingested corpus — a scale-free split
NEW_BATCH_PRED = "doc_id % 5 = 4"


def _incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch near-dup gate (operators/dedup.incremental_neardup):
    the new batch checked against the seen corpus's MinHash band
    index, exact-Jaccard verify only on (new × seen) candidates,
    one verdict row per new doc."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_neardup(
        docs.where(NEW_BATCH_PRED), docs.where(f"NOT ({NEW_BATCH_PRED})"))


def _incremental_neardup_sql() -> str:
    k, bands = dedup.MINHASH_K, dedup.MINHASH_BANDS
    rows = k // bands
    mins = ", ".join(
        f"min({affine_hash_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_FAMILY))
    band_cols = ", ".join(
        "md5(concat_ws(',', '%d', %s)) AS band%d"
        % (band,
           ", ".join(f"CAST(m{band * rows + r} AS VARCHAR)" for r in range(rows)),
           band)
        for band in range(bands))
    band_list = ", ".join(f"band{b}" for b in range(bands))
    return f"""
WITH toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
hashed AS (SELECT doc_id, {h32_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY 1),
banded AS (SELECT doc_id, {band_cols} FROM sig),
melted AS (SELECT doc_id, unnest([{band_list}]) AS bucket FROM banded),
cand AS (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS seen_id
         FROM melted n JOIN melted s USING (bucket)
         WHERE (n.doc_id % 5 = 4) AND NOT (s.doc_id % 5 = 4)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS new_id, b.doc_id AS seen_id,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  JOIN cand ON cand.new_id = a.doc_id AND cand.seen_id = b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT new_id, seen_id, n_common,
         n_common / (sa.sz + sb.sz - n_common) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = new_id
  JOIN sz sb ON sb.doc_id = seen_id
),
best AS (
  SELECT new_id, seen_id, n_common, jaccard,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, seen_id) AS rn
  FROM jac WHERE jaccard >= {NGRAM_THRESHOLD}
)
SELECT d.doc_id,
       CAST(b.new_id IS NOT NULL AS BIGINT) AS is_dup,
       CAST(b.seen_id AS BIGINT) AS matched_seen,
       b.n_common, b.jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
WHERE d.doc_id % 5 = 4
"""


# --------------------------------------------------------- simhash pairs

def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


def _simhash_pairs_sql() -> str:
    bits, bands = dedup.SIMHASH_BITS, dedup.SIMHASH_BANDS
    width = bits // bands
    mask = (1 << width) - 1
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits))
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits))
    buckets = ", ".join(
        f"'{c}:' || CAST((fingerprint >> {c * width}) & {mask} AS VARCHAR)"
        for c in range(bands))
    return f"""
WITH toks AS ({TOKS_CTE}),
tok1 AS (SELECT DISTINCT doc_id, tok
         FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
h AS (SELECT doc_id, {h60_sql('tok')} AS h FROM tok1),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY 1),
fp AS (SELECT doc_id, {fp} AS fingerprint FROM votes),
melted AS (SELECT doc_id, fingerprint, unnest([{buckets}]) AS bucket FROM fp),
keep AS (SELECT bucket FROM melted GROUP BY bucket
         HAVING count(*) <= {dedup.DEFAULT_MAX_DF}),
m2 AS (SELECT melted.* FROM melted JOIN keep USING (bucket)),
pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                 l.fingerprint AS fp_a, r.fingerprint AS fp_b
          FROM m2 l JOIN m2 r USING (bucket) WHERE l.doc_id < r.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= {dedup.SIMHASH_MAX_HAMMING}
"""


# ------------------------------------------------------------- language ID

def _language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


def _language_id_sql(rel: str = "documents") -> str:
    langs = sorted(text.STOPWORDS)
    hit_cols = ", ".join(
        "CAST(len(list_filter(t, x -> x IN (%s))) AS BIGINT) AS hits_%s"
        % (", ".join(f"'{w}'" for w in text.STOPWORDS[lg]), lg)
        for lg in langs)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    cases = " ".join(
        f"WHEN {best} > 0 AND hits_{lg} = {best} THEN '{lg}'" for lg in langs)
    hits_out = ", ".join(f"hits_{lg}" for lg in langs)
    return f"""
WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM {rel}),
hits AS (SELECT doc_id, {hit_cols} FROM toks)
SELECT doc_id, CASE {cases} ELSE 'und' END AS pred_lang, {hits_out} FROM hits
"""


# ----------------------------------------------------------- quality score

def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def _quality_sql(rel: str = "documents") -> str:
    en = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
    return f"""
WITH toks AS (SELECT doc_id, text,
              regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM {rel}),
base AS (SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS n_token_chars,
  CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum,
  CAST(len(list_filter(t, x -> x IN ({en}))) AS BIGINT) AS n_stopwords
  FROM toks)
SELECT doc_id, n_chars, n_tokens, n_token_chars, n_alnum, n_stopwords,
  n_token_chars / greatest(n_tokens, 1) AS avg_token_len,
  n_alnum / greatest(n_chars, 1) AS alnum_ratio,
  n_stopwords / greatest(n_tokens, 1) AS stopword_ratio,
  least(n_tokens / 100.0, 1.0) * 0.25
    + (n_alnum / greatest(n_chars, 1)) * 0.25
    + (n_stopwords / greatest(n_tokens, 1)) * 0.25
    + CASE WHEN n_token_chars / greatest(n_tokens, 1) >= 3.0
            AND n_token_chars / greatest(n_tokens, 1) <= 10.0
           THEN 0.25 ELSE 0.0 END AS quality_score
FROM base
"""


# ------------------------------------------------------------ token counts

def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf_dir, "documents"))


_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS re_tokens
FROM documents
"""


# -------------------------------------------------------------- top terms


def _top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.top_terms(load_table(spark, sf_dir, "documents"))


def _top_terms_sql() -> str:
    return f"""
WITH toks AS ({TOKS_CTE}),
counts AS (SELECT doc_id, term, count(*) AS n
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2)
SELECT doc_id, term, n, rk AS rank FROM (
  SELECT doc_id, term, n,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY n DESC, term ASC) AS BIGINT) AS rk
  FROM counts
) WHERE rk <= {TOP_TERMS_K}
"""


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.corpus_stats(load_table(spark, sf_dir, "documents"))


_CORPUS_STATS_SQL = """
WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
              FROM documents WHERE text IS NOT NULL),
t AS (SELECT count(*) AS total_tokens, count(DISTINCT term) AS vocab_size FROM toks),
b AS (SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique_texts
      FROM documents)
SELECT n_docs, n_unique_texts, total_tokens, vocab_size,
       total_tokens / n_docs AS avg_doc_tokens,
       (n_docs - n_unique_texts) / n_docs AS dup_ratio
FROM b, t
"""


# ------------------------------------------------------------- fingerprint

def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


def _fingerprint_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents),
s AS (SELECT doc_id,
      CAST(sum(((i + 1) * {h32_sql('t[i+1]')}) % {P}) % {P} AS BIGINT) AS fp
      FROM toks, UNNEST(range(len(t))) u(i) GROUP BY 1)
SELECT toks.doc_id, coalesce(s.fp, 0) AS fingerprint,
       CAST(len(toks.t) AS BIGINT) AS re_tokens
FROM toks LEFT JOIN s ON s.doc_id = toks.doc_id
"""


# ------------------------------------------------------- similarity search

_QUANT = ("list_transform(embedding, x -> "
          f"CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT_SCALE}.0) AS BIGINT))")

_BASE_CTES = f"""
base AS (SELECT vec_id, {_QUANT} AS q FROM embeddings
         WHERE len(embedding) = {similarity.EMB_DIM}),
wn AS (SELECT vec_id, q,
       CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM base)
"""

_DOT = "CAST(list_sum(list_transform(qv, (x, i) -> x * cv[i])) AS BIGINT)"
_COS = "CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE))"


def _bucket_sql_expr(offset: int = 0) -> str:
    """DuckDB twin of similarity.lsh_bucket_expr — same inlined planes."""
    terms = []
    for p, signs in enumerate(similarity.plane_signs(offset)):
        lit = "[" + ", ".join(str(s) for s in signs) + "]"
        proj = f"list_sum(list_transform(list_zip(q, {lit}), s -> s[1] * s[2]))"
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _banded_bucket_list_sql(n_bands: int) -> str:
    """['0:<band0 bucket>', '1:<band1 bucket>', …] — twin of
    similarity.banded_buckets."""
    return "[" + ", ".join(
        f"'{b}:' || CAST({_bucket_sql_expr(offset=b * LSH_PLANES)} AS VARCHAR)"
        for b in range(n_bands)) + "]"


def _topk_tail() -> str:
    return f"""
SELECT query_id, neighbor_id, cosine, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rk
  FROM cos
) WHERE rk <= {TOPK_K}
"""


@artifact("exact_topk")
def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarded exact cosine top-k over the standard 10-query
    evaluation sample, memoized per (session, corpus) like
    `_lsh_pairs` (optimization r11, guide §2.4 reuse):
    `emb_bruteforce_topk` and the recall trio (`emb_ann_recall`,
    `emb_ivf_recall`, `emb_pq_recall`) all rank against this SAME
    O(Q·N) ground-truth pass — before the memo each of the four ran
    it independently."""
    return checkpoint(similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings")))


@artifact("exact_topk_dim")
def _exact_topk_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_exact_topk`'s DIM-FILTERED sibling (optimization r11, guide
    §2.4 reuse): ground truth over rows passing the
    size(embedding) = EMB_DIM guard — the exact expression
    `matryoshka_recall_report` and `sq8_recall_report` each built
    internally (their oracles' len(embedding)=dim guard), now
    computed once per (session, corpus) and shared. Kept separate
    from the unfiltered `_exact_topk` because `emb_bruteforce_topk`'s
    declared contract has no dim filter; on the graded fixtures
    (every row dim-64) the two frames hold identical rows, but the
    memo keys the CONTRACT, not the coincidence."""
    emb = load_table(spark, sf_dir, "embeddings")
    return checkpoint(similarity.brute_force_topk(
        emb.where(F.size(F.col("embedding")) == similarity.EMB_DIM)))


def _brute_topk_sql() -> str:
    return f"""
WITH {_BASE_CTES},
q AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
           FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
{_topk_tail()}
"""


def _jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: 16-dim JL-projection candidate ranking →
    exact rerank on full vectors (operators/similarity.jl_rerank_topk
    — the coarse-then-rerank production ANN pattern; `p_rank` ≠
    `rank` rows are the reorderings the rerank fixes)."""
    return similarity.jl_rerank_topk(load_table(spark, sf_dir, "embeddings"))


def _jl_rerank_sql() -> str:
    proj = "[" + ", ".join(
        "list_sum(list_transform(list_zip(q, ["
        + ", ".join(str(s) for s in row)
        + "]), s -> s[1] * s[2]))"
        for row in similarity.jl_signs()) + "]"
    pdot = "CAST(list_sum(list_transform(pq, (x, i) -> x * pc[i])) AS BIGINT)"
    pcos = ("CAST(pdot AS DOUBLE) / "
            "sqrt(CAST(pqn2 AS DOUBLE) * CAST(pcn2 AS DOUBLE))")
    return f"""
WITH {_BASE_CTES},
pj AS (SELECT vec_id, q, n2, {proj} AS p FROM wn),
pj2 AS (SELECT vec_id, q, n2, p,
        CAST(list_sum(list_transform(p, x -> x * x)) AS BIGINT) AS pn2
        FROM pj),
q1 AS (SELECT vec_id AS query_id, p AS pq, pn2 AS pqn2 FROM pj2
       WHERE vec_id < 10),
c1 AS (SELECT vec_id AS neighbor_id, p AS pc, pn2 AS pcn2 FROM pj2),
cand AS (
  SELECT query_id, neighbor_id, p_rank FROM (
    SELECT query_id, neighbor_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY pcos DESC, neighbor_id ASC) AS BIGINT) AS p_rank
    FROM (SELECT query_id, neighbor_id, {pcos} AS pcos
          FROM (SELECT query_id, neighbor_id, {pdot} AS pdot, pqn2, pcn2
                FROM q1 CROSS JOIN c1 WHERE neighbor_id <> query_id)))
  WHERE p_rank <= {similarity.JL_CAND}
),
qf AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
cf AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, cand.p_rank,
         {_DOT} AS dot, qn2, cn2
  FROM cand JOIN qf USING (query_id) JOIN cf USING (neighbor_id)
),
cos AS (SELECT query_id, neighbor_id, p_rank, {_COS} AS cosine FROM scored)
SELECT query_id, neighbor_id, cosine, p_rank, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, cosine, p_rank,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rk
  FROM cos
) WHERE rk <= {TOPK_K}
"""


def _lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(load_table(spark, sf_dir, "embeddings"),
                               k=TOPK_K, n_bands=LSH_TOPK_BANDS)


def _lsh_topk_sql() -> str:
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(LSH_TOPK_BANDS)}) AS bucket FROM wn),
q AS (SELECT vec_id AS query_id, bucket FROM melted WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM q JOIN c USING (bucket)
         WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
{_topk_tail()}
"""


def _lsh_topk_1band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-band labeled variant (the weakest-recall configuration,
    kept for comparison against the ≥2-band graded default)."""
    return similarity.lsh_topk(load_table(spark, sf_dir, "embeddings"),
                               k=TOPK_K, n_bands=1)


def _lsh_topk_1band_sql() -> str:
    return f"""
WITH {_BASE_CTES},
bkt AS (SELECT vec_id, q, n2, {_bucket_sql_expr()} AS bucket FROM wn),
q AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2, bucket FROM bkt WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2, bucket FROM bkt),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
           FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
{_topk_tail()}
"""


NEARDUP_BANDS = 2    # graded default: ≥2 bands (OR-amplified recall)


@artifact("emb_neardup_pairs")
def _emb_neardup_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graded-default (2-band) cosine near-dup pair list, memoized
    per (session, corpus) like `_lsh_pairs` — `emb_neardup_pairs` and
    `emb_semantic_dedup` consume the SAME banded LSH computation."""
    return checkpoint(similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), n_bands=NEARDUP_BANDS))


def _emb_neardup_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), n_bands=MULTIBAND_BANDS)


def _emb_neardup_banded_sql(n_bands: int) -> str:
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(n_bands)}) AS bucket FROM wn),
a AS (SELECT vec_id AS id_a, bucket FROM melted),
b AS (SELECT vec_id AS id_b, bucket FROM melted),
pairs AS (SELECT DISTINCT id_a, id_b FROM a JOIN b USING (bucket)
          WHERE id_a < id_b),
wnp AS (SELECT p.id_a, p.id_b, wa.q AS qv, wa.n2 AS qn2,
               wb.q AS cv, wb.n2 AS cn2
        FROM pairs p JOIN wn wa ON wa.vec_id = p.id_a
                     JOIN wn wb ON wb.vec_id = p.id_b),
scored AS (SELECT id_a, id_b, {_DOT} AS dot, qn2, cn2 FROM wnp)
SELECT id_a, id_b, cosine FROM
  (SELECT id_a, id_b, {_COS} AS cosine FROM scored)
WHERE cosine >= {NEARDUP_COS}
"""


# ------------------------------------------------------------------- IVF

def _training_sample_path() -> str:
    """Where the quantizer-training sample lives, by convention: the
    sf0.01 embeddings under the corpus root (the smallest graded
    corpus — IVF/PQ training is always a sample). The root derives
    from $SPARK_GRAFT_SF_DIR's parent when set."""
    import os
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    root = (os.path.dirname(sf_dir.rstrip("/")) if sf_dir
            else "/root/testdata")
    return os.path.join(root, "sf0.01", "embeddings.parquet")


def _sample_vectors() -> list[list[float]] | None:
    """The deterministic training sample for plan-time quantizers:
    the conventioned embeddings table, sorted. None when the corpus is
    unavailable (running outside the test env)."""
    try:
        import pyarrow.parquet as pq
        t = (pq.read_table(_training_sample_path(),
                           columns=["vec_id", "embedding"])
               .sort_by("vec_id").to_pydict())
        vecs = [list(v) for v in t["embedding"]
                if v is not None and len(v) == similarity.EMB_DIM]
        return vecs or None
    except Exception:
        return None


@functools.cache
def get_quantizers() -> tuple[list[list[int]], list[list[list[int]]]]:
    """(IVF centroids, PQ codebooks), trained LAZILY on first use —
    importing the catalog does no I/O — and memoized for the process
    lifetime, so Spark plans and DuckDB oracles are guaranteed to
    inline the SAME literals. Deterministic: sorted input, first-k
    init, fixed iters. When the sample is absent, falls back to
    md5-derived pseudo-centroids (still engine-identical); the chosen
    regime is logged once so a silent fallback is visible."""
    import sys
    vecs = _sample_vectors()
    if vecs is not None:
        print(f"# quantizers: k-means on {len(vecs)} sample vectors "
              f"from {_training_sample_path()}", file=sys.stderr)
        return (similarity.train_ivf_centroids(vecs),
                similarity.train_pq_codebooks(vecs))
    print(f"# quantizers: sample {_training_sample_path()} "
          f"unavailable — md5 pseudo-centroids", file=sys.stderr)
    sub = similarity.EMB_DIM // similarity.PQ_SUBSPACES
    cents = [[(similarity.py_h32(f"cell:{c}:{d}") % 2001) - 1000
              for d in range(similarity.EMB_DIM)]
             for c in range(similarity.IVF_CELLS)]
    books = [[[(similarity.py_h32(f"pq:{s}:{c}:{d}") % 2001) - 1000
               for d in range(sub)]
              for c in range(similarity.PQ_CODEBOOK)]
             for s in range(similarity.PQ_SUBSPACES)]
    return cents, books


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"), get_quantizers()[0])


def _ivf_cell_sql() -> str:
    dists = []
    for c in get_quantizers()[0]:
        lit = "[" + ", ".join(str(v) for v in c) + "]"
        dists.append("list_sum(list_transform(list_zip(q, " + lit + "), "
                     "s -> (s[1] - s[2]) * (s[1] - s[2])))")
    arr = "[" + ", ".join(dists) + "]"
    return f"list_position({arr}, list_min({arr}))"


def _ivf_topk_sql() -> str:
    return f"""
WITH {_BASE_CTES},
cells AS (SELECT vec_id, q, n2, {_ivf_cell_sql()} AS cell FROM wn),
qq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2, cell FROM cells
       WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2, cell FROM cells),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
           FROM qq JOIN c USING (cell) WHERE neighbor_id <> query_id),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
{_topk_tail()}
"""


# ---------------------------------------------------------------- IVF-PQ

def _ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents, books = get_quantizers()
    return similarity.ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"), cents, books)


def _ivfpq_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the candidate side packed to ONE BIGINT
    (operators/similarity.ivfpq_packed_topk) — the last rung of the
    PQ compression ladder (512 B raw → ~72 B code array → 8 B packed
    word per candidate on the wire / in state). Ranks are identical
    to emb_ivfpq_topk; the graded row ADDS the packed word itself so
    the Horner nibble packing is value-pinned."""
    cents, books = get_quantizers()
    return similarity.ivfpq_packed_topk(
        load_table(spark, sf_dir, "embeddings"), cents, books)


def _ivfpq_packed_sql() -> str:
    codes, _ = _pq_sql_parts()
    codebooks = get_quantizers()[1]
    m = similarity.PQ_SUBSPACES
    sub = len(codebooks[0][0])
    cb = ("[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in cent) + "]"
            for cent in book) + "]"
        for book in codebooks) + "]")
    # list_reduce seeds with the first element == Spark's 0-seeded
    # Horner fold here (0*16 + c1' = c1')
    packed = (f"list_reduce(list_transform({codes}, "
              f"c -> CAST(c - 1 AS BIGINT)), (a, c) -> a * 16 + c)")
    unpack = f"CAST(((packed >> (({m} - s) * 4)) & 15) + 1 AS INT)"
    adc = (f"list_sum(list_transform(range(1, {m + 1}), s -> "
           f"list_sum(list_transform(list_zip(qv[(s-1)*{sub}+1 : s*{sub}], "
           f"{cb}[s][{unpack}]), p -> (p[1]-p[2])*(p[1]-p[2])))))")
    return f"""
WITH {_BASE_CTES},
cells AS (SELECT vec_id, q, {_ivf_cell_sql()} AS cell FROM wn),
qq AS (SELECT vec_id AS query_id, q AS qv, cell FROM cells WHERE vec_id < 10),
cc AS (SELECT vec_id AS neighbor_id, CAST({packed} AS BIGINT) AS packed,
       cell FROM cells),
scored AS (SELECT query_id, neighbor_id, packed,
                  CAST({adc} AS BIGINT) AS adc_dist
           FROM qq JOIN cc USING (cell) WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, packed, adc_dist, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, packed, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TOPK_K}
"""


def _pq_sql_parts() -> tuple[str, str]:
    """(codes_expr over `q`, adc_expr over qv/codes) — DuckDB twins of
    similarity.pq_codes_col / pq_adc_col with the SAME codebooks
    inlined. DuckDB list slicing is 1-based inclusive; lambdas on
    zipped pairs use 1-based struct indices."""
    codebooks = get_quantizers()[1]
    m = similarity.PQ_SUBSPACES
    sub = len(codebooks[0][0])
    cb = ("[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in cent) + "]"
            for cent in book) + "]"
        for book in codebooks) + "]")
    dists = (f"list_transform({cb}[s], c -> list_sum(list_transform("
             f"list_zip(q[(s-1)*{sub}+1 : s*{sub}], c), "
             f"p -> (p[1]-p[2])*(p[1]-p[2]))))")
    codes = (f"list_transform(range(1, {m + 1}), "
             f"s -> list_position({dists}, list_min({dists})))")
    adc = (f"list_sum(list_transform(range(1, {m + 1}), s -> "
           f"list_sum(list_transform(list_zip(qv[(s-1)*{sub}+1 : s*{sub}], "
           f"{cb}[s][codes[s]]), p -> (p[1]-p[2])*(p[1]-p[2])))))")
    return codes, adc


def _ivfpq_topk_sql() -> str:
    codes, adc = _pq_sql_parts()
    return f"""
WITH {_BASE_CTES},
cells AS (SELECT vec_id, q, {_ivf_cell_sql()} AS cell FROM wn),
qq AS (SELECT vec_id AS query_id, q AS qv, cell FROM cells WHERE vec_id < 10),
cc AS (SELECT vec_id AS neighbor_id, {codes} AS codes, cell FROM cells),
scored AS (SELECT query_id, neighbor_id, CAST({adc} AS BIGINT) AS adc_dist
           FROM qq JOIN cc USING (cell) WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, adc_dist, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_dist ASC, neighbor_id ASC) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {TOPK_K}
"""


# --------------------------------------------------------------- multimodal

def _doc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media table with the per-source format tag."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.col("source").alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def _binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.binary_stats(_doc_media(spark, sf_dir))


_BINARY_STATS_SQL = """
SELECT source AS format, count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
       CAST(min(octet_length(encode(text))) AS BIGINT) AS min_bytes
FROM documents GROUP BY 1
"""


def _extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, hash-checked end-to-end: the fixture builds
    one uncompressed P6 PPM per document (pixel plane tiled from the
    text bytes — deterministic, so SQL can recompute it), and
    `multimodal.extract_features` PARSES the netpbm header and
    reshapes the raw plane with numpy inside Arrow mapInPandas. The
    graded row exposes parsed dimensions, exact per-channel pixel
    sums, and an 8-bucket intensity histogram — every value a function
    of DECODED PIXELS, recomputed independently by the DuckDB twin
    from the text bytes."""
    media = multimodal.documents_as_ppm_media(
        load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "n_bytes", "width", "height", "channels",
        *[F.element_at("ch_sum", c + 1).alias(f"ch_sum_{c}")
          for c in range(3)],
        *[F.element_at("px_hist", b + 1).alias(f"hist_{b}")
          for b in range(8)])


def _extract_features_sql(with_n_bytes: bool = True) -> str:
    """DuckDB twin of decode(encode_ppm(tile(text)))): rebuilds the
    pixel plane from the text's hex dump (byte j = text byte j mod nb,
    zeros when empty) and aggregates the same exact-integer stats the
    Spark side computes from the DECODED array. Dims mirror the
    fixture: w = 8 + id % 9, h = 8 + id % 7; payload n_bytes = header
    ("P6\\n{w} {h}\\n255\\n" = 9 + digits(w) + digits(h)) + w*h*3.

    ``with_n_bytes=False`` drops the payload-size column — the PNG
    twin (`mm_png_stats`) shares every DECODED-pixel statistic (same
    tiled plane, only the codec differs) but its payload size is a
    zlib artifact no SQL engine should re-derive."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    ch_sums = ", ".join(
        "CASE WHEN pix IS NULL THEN NULL ELSE CAST(list_sum("
        f"list_transform(range(w*h), k -> pix[3*k + {c} + 1])) AS BIGINT) "
        f"END AS ch_sum_{c}"
        for c in range(3))
    hists = ", ".join(
        "CASE WHEN pix IS NULL THEN NULL ELSE CAST(len(list_filter(pix, "
        f"x -> x // 32 = {b})) AS BIGINT) END AS hist_{b}"
        for b in range(8))
    nb = ("""
       CASE WHEN pix IS NULL THEN CAST(0 AS BIGINT)
            ELSE CAST(9 + length(CAST(w AS VARCHAR))
                        + length(CAST(h AS VARCHAR)) + w*h*3 AS BIGINT)
       END AS n_bytes,""" if with_n_bytes else "")
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb,
         CAST(8 + doc_id % 9 AS INTEGER) AS w,
         CAST(8 + doc_id % 7 AS INTEGER) AS h
  FROM documents
), v AS (
  SELECT doc_id, w, h, nb,
         CASE WHEN hx IS NULL THEN NULL
              WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), px AS (
  SELECT doc_id, w, h, nb,
         CASE WHEN nb IS NULL THEN NULL
              WHEN nb = 0 THEN list_transform(range(w*h*3), j -> 0)
              ELSE list_transform(range(w*h*3), j -> vals[(j % nb) + 1])
         END AS pix
  FROM v
)
SELECT doc_id AS media_id,{nb}
       CASE WHEN pix IS NULL THEN NULL ELSE w END AS width,
       CASE WHEN pix IS NULL THEN NULL ELSE h END AS height,
       CASE WHEN pix IS NULL THEN NULL
            ELSE CAST(3 AS INTEGER) END AS channels,
       {ch_sums},
       {hists}
FROM px
"""


def _png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-codec decode, hash-checked end-to-end: the
    fixture encodes the SAME deterministic pixel plane as
    `mm_extract_features` into genuine PNGs (stdlib zlib deflate,
    scanline filters cycling through all five spec types), and
    `multimodal.decode_png` walks the chunk list (CRC-checked),
    inflates, and INVERTS the filters in exact integer arithmetic
    inside the same Arrow mapInPandas plumbing. The graded columns
    are functions of DECODED PIXELS only; the DuckDB twin recomputes
    them from the text bytes with zero knowledge of PNG — so a wrong
    Paeth tie-break, a misapplied Average floor, or a chunk-walk bug
    flips the hash. Payload size is excluded: it's a zlib artifact,
    not a pixel fact."""
    media = multimodal.documents_as_png_media(
        load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "width", "height", "channels",
        *[F.element_at("ch_sum", c + 1).alias(f"ch_sum_{c}")
          for c in range(3)],
        *[F.element_at("px_hist", b + 1).alias(f"hist_{b}")
          for b in range(8)])


def _jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LOSSY-codec decode, hash-checked end-to-end: the fixture
    encodes BLOCK-CONSTANT grayscale planes into genuine baseline
    JFIF (FDCT → all-ones quant → zigzag run-length → canonical
    Huffman with in-stream DHT → byte stuffing), and
    `multimodal.decode_jpeg` walks the markers, Huffman-decodes the
    entropy stream, dequantizes, and inverse-DCTs inside the same
    Arrow mapInPandas plumbing as every other codec. Block-constant
    planes make the lossy roundtrip exactly lossless (AC rounds to
    zero, the DC path is powers of two — see
    `documents_as_jpeg_media`), so the graded columns are exact
    functions of the text bytes and the DuckDB twin recomputes them
    with zero JPEG knowledge — a wrong zigzag diagonal, a Huffman
    off-by-one, or a bad amplitude sign-extension flips the hash.
    Payload size is excluded: it's an entropy-coding artifact."""
    media = multimodal.documents_as_jpeg_media(
        load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "width", "height", "channels",
        F.element_at("ch_sum", 1).alias("ch_sum_0"),
        *[F.element_at("px_hist", b + 1).alias(f"hist_{b}")
          for b in range(8)])


def _jpeg_stats_sql() -> str:
    """DuckDB twin of decode(encode_jpeg(block_tile(text))): the
    block-constant plane has pixel value vals[(k mod nb)+1] on block
    k of a (1+id%3)×(1+id%4) grid, 64 pixels per block."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    hists = ", ".join(
        "CASE WHEN bvals IS NULL THEN NULL ELSE CAST(64 * len(list_filter("
        f"bvals, x -> x // 32 = {b})) AS BIGINT) END AS hist_{b}"
        for b in range(8))
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb,
         CAST(1 + doc_id % 4 AS INTEGER) AS bw,
         CAST(1 + doc_id % 3 AS INTEGER) AS bh
  FROM documents
), v AS (
  SELECT doc_id, bw, bh, nb,
         CASE WHEN hx IS NULL THEN NULL
              WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), bx AS (
  SELECT doc_id, bw, bh, nb,
         CASE WHEN nb IS NULL THEN NULL
              WHEN nb = 0 THEN list_transform(range(bw*bh), k -> 0)
              ELSE list_transform(range(bw*bh), k -> vals[(k % nb) + 1])
         END AS bvals
  FROM v
)
SELECT doc_id AS media_id,
       CASE WHEN bvals IS NULL THEN NULL ELSE 8 * bw END AS width,
       CASE WHEN bvals IS NULL THEN NULL ELSE 8 * bh END AS height,
       CASE WHEN bvals IS NULL THEN NULL
            ELSE CAST(1 AS INTEGER) END AS channels,
       CASE WHEN bvals IS NULL THEN NULL
            ELSE CAST(64 * list_sum(bvals) AS BIGINT) END AS ch_sum_0,
       {hists}
FROM bx
"""


def _resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize pipeline, pixel-verified: PPM fixture → decode →
    nearest-neighbor resample → re-ENCODE → re-DECODE → exact channel
    sums of the RESIZED image. The oracle recomputes the same gather
    (out[y,x] = src[y·h//64, x·w//64]) from the text-tiled plane, so a
    wrong index map, a corrupted re-encode, or a header bug all flip
    the hash."""
    media = multimodal.documents_as_ppm_media(
        load_table(spark, sf_dir, "documents"))
    resized = multimodal.resize_media(media)
    feats = multimodal.extract_features(
        resized.select("media_id", "payload"))
    return feats.select(
        "media_id", "n_bytes", "width", "height",
        *[F.element_at("ch_sum", c + 1).alias(f"ch_sum_{c}")
          for c in range(3)])


def _resize_sql() -> str:
    """DuckDB twin of decode(resize(decode(ppm)))): same source-pixel
    gather over the tiled plane. Output n_bytes is the re-encoded
    payload: 'P6\\n64 64\\n255\\n' (13) + 64·64·3 = 12301."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    idx = ("((((k // 64) * h // 64) * w + ((k % 64) * w // 64)) * 3 "
           "+ {c}) % nb + 1")
    ch_sums = ", ".join(
        "CASE WHEN nb IS NULL THEN NULL WHEN nb = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(list_sum(list_transform(range(4096), "
        f"k -> vals[{idx.format(c=c)}])) AS BIGINT) END AS ch_sum_{c}"
        for c in range(3))
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb,
         CAST(8 + doc_id % 9 AS INTEGER) AS w,
         CAST(8 + doc_id % 7 AS INTEGER) AS h
  FROM documents
), v AS (
  SELECT doc_id, w, h, nb,
         CASE WHEN hx IS NULL THEN NULL
              WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
)
SELECT doc_id AS media_id,
       CASE WHEN nb IS NULL THEN CAST(0 AS BIGINT)
            ELSE CAST(12301 AS BIGINT) END AS n_bytes,
       CASE WHEN nb IS NULL THEN NULL ELSE CAST(64 AS INTEGER) END AS width,
       CASE WHEN nb IS NULL THEN NULL ELSE CAST(64 AS INTEGER) END AS height,
       {ch_sums}
FROM v
"""


def _frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame sampling, hash-checked: the fixture builds a
    multi-frame concatenated-netpbm stream per document (2 + id % 5
    frames, each frame's plane tiled from the text with a per-frame
    rotation), `sample_frames` DEMUXES the stream frame-by-frame,
    picks 2 evenly-spaced frames, decodes them, and grades exact
    per-channel pixel sums of the CHOSEN frames — wrong frame
    boundaries, a wrong pick index, or a decode bug all flip the
    hash."""
    media = multimodal.documents_as_video_media(
        load_table(spark, sf_dir, "documents"))
    out = multimodal.sample_frames(media)
    return out.select(
        "media_id", "sample_idx", "src_frame", "width", "height",
        *[F.element_at("ch_sum", c + 1).alias(f"ch_sum_{c}")
          for c in range(3)])


def _frame_sample_sql() -> str:
    """DuckDB twin: total = 2 + id % 5 (≥ 2, so exactly 2 samples with
    src_frame = k·total // 2); frame f's plane byte j = text byte
    (j + f) mod nb; channel sums over the 8×8 frame."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    ch_sums = ", ".join(
        "CASE WHEN nb = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(list_sum(list_transform(range(64), "
        f"p -> vals[((3*p + {c} + fi) % nb) + 1])) AS BIGINT) "
        f"END AS ch_sum_{c}"
        for c in range(3))
    return f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         CAST(2 + doc_id % 5 AS BIGINT) AS total
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT doc_id, nb, total,
         CASE WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), f AS (
  SELECT doc_id, nb, vals, k, (k * total) // 2 AS fi
  FROM v, UNNEST(range(2)) u(k)
)
SELECT doc_id AS media_id, k AS sample_idx, fi AS src_frame,
       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       {ch_sums}
FROM f
"""


# ------------------------------------------------- duplicate clusters

def _dedup_clusters_sql() -> str:
    # min-reachable-id per node as a recursive CTE: UNION (set
    # semantics) makes the fixpoint finite; min(lbl) per node is the
    # component representative — exactly the operator's fixpoint.
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_pairs_sql()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY 1
"""


def _dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters, different algorithm: alternating star contraction
    (O(log n) rounds — the long-chain-safe variant) over the same
    MinHash pair graph, graded against the SAME recursive-CTE oracle
    as `doc_dedup_clusters` — two independent implementations must
    hash-agree with the SQL fixpoint."""
    return dedup.connected_components_star(_lsh_pairs(spark, sf_dir))


def _dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairs → clusters → keep min-id survivor per cluster: the
    deduped-corpus materialization, reported as kept doc_ids."""
    docs = load_table(spark, sf_dir, "documents")
    return (dedup.keep_canonical(docs, _cc(spark, sf_dir))
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _dedup_canonical_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_pairs_sql()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
WHERE c.lbl IS NULL OR c.lbl = d.doc_id
"""


def _dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report — the per-source ECONOMICS of running the
    near-dup pipeline (what a curation team shows before paying for
    the dedup pass at 100 TB): per source, corpus size, documents a
    canonical dedup would remove, characters (≈ bytes ≈ storage +
    training tokens) saved, and the removal ratio. Rides the
    memoized cluster labels (`_cc` — the 12th consumer of the shared
    pair-graph artifact), so the marginal cost is one broadcast-sized
    join + a source-keyed hash agg over the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    labels = _cc(spark, sf_dir)   # (doc_id, cluster_id), pairs only
    flagged = (docs.join(labels, "doc_id", "left")
                   .selectExpr("source", "n_chars",
                               "CASE WHEN cluster_id IS NOT NULL AND "
                               "cluster_id <> doc_id THEN 1 ELSE 0 END"
                               " AS removed"))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.expr("CAST(sum(removed) AS BIGINT)")
                  .alias("n_removed"),
                 F.expr("CAST(sum(CASE WHEN removed = 1 THEN n_chars "
                        "ELSE 0 END) AS BIGINT)").alias("chars_saved"),
                 F.expr("CAST(sum(n_chars) AS BIGINT)")
                  .alias("chars_total"))
            .withColumn("removal_ratio",
                        F.expr("CAST(n_removed AS DOUBLE) / "
                               "CAST(n_docs AS DOUBLE)"))
            .orderBy("source"))


def _dedup_savings_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_pairs_sql()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY 1
), flagged AS (
  SELECT d.source, d.n_chars,
         CASE WHEN c.lbl IS NOT NULL AND c.lbl <> d.doc_id
              THEN 1 ELSE 0 END AS removed
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(removed) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN removed = 1 THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_saved,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(removed) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS removal_ratio
FROM flagged GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------- hash split

def _hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted train/val assignment per document —
    reproducible across engines by construction (same md5 bucketing
    both sides)."""
    return text.hash_split(load_table(spark, sf_dir, "documents")) \
        .select(F.col("doc_id").cast("long").alias("doc_id"), "split")


def _hash_split_sql() -> str:
    h = h32_sql(f"'{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN {h} % 100 < 90 THEN 'train' ELSE 'val' END AS split
FROM documents
"""


# -------------------------------------------------------- token chunks



def _chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_tokens(load_table(spark, sf_dir, "documents"))


def _chunk_sql() -> str:
    # chunk_fp mirrors text.chunk_tokens' positional polynomial hash;
    # DuckDB lambda indices are 1-based where Spark's are 0-based, so
    # DuckDB's i IS Spark's i+1. Slices clamp at the end on both
    # engines.
    fp = (f"list_sum(list_transform(c, (x, i) -> "
          f"(i * {h32_sql('x')}) % {P})) % {P}")
    return f"""
WITH toks AS ({TOKS_CTE}),
fanned AS (
  SELECT doc_id, i AS chunk_idx,
         t[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS c
  FROM toks, UNNEST(range((len(t) - 1) // {CHUNK_STRIDE} + 1)) u(i)
  WHERE len(t) >= 1
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS chunk_start,
       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
       CAST(coalesce({fp}, 0) AS BIGINT) AS chunk_fp
FROM fanned
"""


# ----------------------------------------------------------- PII scrub

def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction proven by construction: deterministic synthetic
    PII (one email, one phone, one IPv4, derived from doc_id) is
    appended to every document IN the query, then `text.pii_scrub`
    must find and redact exactly those entities — the oracle computes
    the expected redacted text and counts directly, so the hash check
    proves scrub ∘ inject = the intended redaction (the corpus itself
    contains no PII-shaped strings, which the same check also pins)."""
    d = load_table(spark, sf_dir, "documents")
    pii = d.select(
        "doc_id",
        F.expr("""concat(text, ' contact user', CAST(doc_id AS STRING),
                  '@example.com or 555-867-',
                  lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),
                  ' from 10.', CAST(doc_id % 256 AS STRING), '.0.1')""")
         .alias("text"))
    return text.pii_scrub(pii)


_PII_SCRUB_SQL = """
SELECT doc_id,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_email,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_phone,
       CAST(CASE WHEN text IS NULL THEN 0 ELSE 1 END AS BIGINT) AS n_ip,
       text || ' contact <EMAIL> or <PHONE> from <IP>' AS clean_text
FROM documents
"""


# ----------------------------------------------------------- repetition

def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


_REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({tokens_sql()}) AS term
              FROM documents WHERE text IS NOT NULL),
c AS (SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2),
d AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(n) AS BIGINT) AS top_n
      FROM c GROUP BY 1)
SELECT doc_id, n_tokens, n_distinct, top_n,
       (n_tokens - n_distinct) / CAST(n_tokens AS DOUBLE) AS dup_token_ratio,
       top_n / CAST(n_tokens AS DOUBLE) AS top_token_share
FROM d
"""


# ------------------------------------------------------- filter funnel

def _filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data gate: per-document first-matching reject
    reason (too_short → non_english → low_quality → kept), reduced to
    a per-reason census. Composes quality_score and language_id;
    the quality threshold compares doubles that are bit-identical
    across engines (single fixed expression tree over exact ints).

    Scale: both metric branches are narrow projections of the same
    documents scan joined on doc_id; if the scan dominates, fuse them
    into one select — the funnel itself is a 4-row hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "n_tokens", "quality_score")
    lang = text.language_id(docs).select("doc_id", "pred_lang")
    reason = (F.when(F.col("n_tokens") < FUNNEL_MIN_TOKENS, "too_short")
               .when(F.col("pred_lang") != "en", "non_english")
               .when(F.col("quality_score") < FUNNEL_MIN_QUALITY, "low_quality")
               .otherwise("kept"))
    return (q.join(lang, "doc_id")
             .select(reason.alias("reason"))
             .groupBy("reason")
             .agg(F.count(F.lit(1)).alias("n_docs")))


def _filter_funnel_sql() -> str:
    return f"""
WITH q AS ({_quality_sql()}), l AS ({_language_id_sql()})
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs FROM (
  SELECT CASE WHEN q.n_tokens < {FUNNEL_MIN_TOKENS} THEN 'too_short'
              WHEN l.pred_lang <> 'en' THEN 'non_english'
              WHEN q.quality_score < {FUNNEL_MIN_QUALITY} THEN 'low_quality'
              ELSE 'kept' END AS reason
  FROM q JOIN l USING (doc_id)
)
GROUP BY 1
"""


# ------------------------------------------- end-to-end training manifest

def _training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pipeline, end-to-end: the manifest a training run consumes.
    A document ships iff it (1) passes the quality/language gates
    (filter-funnel thresholds), (2) is its exact-dup group's
    representative, (3) is its near-dup cluster's canonical survivor,
    and (4) is kept by the stratified mix sample; each surviving doc
    carries its split assignment and chunk count. One catalog entry
    proving the operators COMPOSE — gates, both dedup tiers, sampling,
    splitting, and chunk accounting agree with a single DuckDB oracle.

    Scale: the gates and manifest columns are projections of one
    corpus scan; dedup survivors arrive as two semi joins (the exact
    tier broadcast-able per content group, the near-dup tier LSH-
    pruned); nothing collects, nothing is O(N²)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "n_tokens",
                                        "quality_score")
    lang = text.language_id(docs).select("doc_id", "pred_lang")
    gated = (q.join(lang, "doc_id")
              .where((F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
                     & (F.col("pred_lang") == "en")
                     & (F.col("quality_score") >= FUNNEL_MIN_QUALITY))
              .select("doc_id", "n_tokens"))
    keep_exact = (dedup.dedup_exact(docs)
                  .select(F.col("keep_doc_id").alias("doc_id")))
    canon = dedup.keep_canonical(docs.select("doc_id"),
                                 _cc(spark, sf_dir))
    sampled = text.mix_sample(docs)
    split = text.hash_split(docs)
    n_chunks = F.expr(
        f"CASE WHEN n_tokens = 0 THEN 0 "
        f"ELSE (n_tokens - 1) div {CHUNK_STRIDE} + 1 END").cast("long")
    return (gated.join(keep_exact, "doc_id", "left_semi")
                 .join(canon, "doc_id", "left_semi")
                 .join(sampled, "doc_id")
                 .join(split, "doc_id")
                 .select(F.col("doc_id").cast("long").alias("doc_id"),
                         "source", "split", "rate_pct", "n_tokens",
                         n_chunks.alias("n_chunks")))


def _training_manifest_sql() -> str:
    rate_h = h32_sql("'rate-v1:' || source")
    keep_h = h32_sql("'mix-v1:' || CAST(doc_id AS VARCHAR)")
    split_h = h32_sql(f"'{SPLIT_SALT}:' || CAST(g.doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE q AS ({_quality_sql()}), l AS ({_language_id_sql()}),
gated AS (
  SELECT q.doc_id, q.n_tokens FROM q JOIN l USING (doc_id)
  WHERE q.n_tokens >= {FUNNEL_MIN_TOKENS} AND l.pred_lang = 'en'
    AND q.quality_score >= {FUNNEL_MIN_QUALITY}
), ex AS (
  SELECT min(doc_id) AS doc_id FROM documents
  WHERE text IS NOT NULL GROUP BY md5(text)
), pairs AS (
  {_minhash_pairs_sql()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY 1
), canon AS (
  SELECT d.doc_id FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
  WHERE c.lbl IS NULL OR c.lbl = d.doc_id
), mix AS (
  SELECT doc_id, source, CAST({rate_h} % 90 + 10 AS BIGINT) AS rate_pct
  FROM documents WHERE {keep_h} % 100 < ({rate_h} % 90 + 10)
)
SELECT CAST(g.doc_id AS BIGINT) AS doc_id, m.source,
       CASE WHEN {split_h} % 100 < 90 THEN 'train' ELSE 'val' END AS split,
       m.rate_pct, g.n_tokens,
       CAST(CASE WHEN g.n_tokens = 0 THEN 0
            ELSE (g.n_tokens - 1) // {CHUNK_STRIDE} + 1 END AS BIGINT)
         AS n_chunks
FROM gated g
JOIN mix m ON m.doc_id = g.doc_id
WHERE g.doc_id IN (SELECT doc_id FROM ex)
  AND g.doc_id IN (SELECT doc_id FROM canon)
"""


# ------------------------------------- crawl → train-manifest flagship

def _crawl_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE crawl pipeline in one graded row, starting from RAW
    HTML: strip boilerplate (the `doc_html_strip` expression over the
    deterministic page fixture) and run every downstream stage over
    the STRIPPED text — language/quality gates, exact-dup
    representative, near-dup canonical survivor, benchmark
    decontamination (the eval slice's n-gram overlaps are removed AND
    the eval slice itself doesn't ship), stratified mix sample,
    train/val split, chunk accounting. `doc_training_manifest` proves
    the curation stages compose; this row proves they compose FROM
    FETCHED BYTES — one DuckDB oracle recomputes the strip and the
    entire funnel over the same derived relation.

    Scale shape: the stripped frame is built once and eagerly
    localCheckpointed (seven consumers would otherwise re-run the
    six regexp passes per consumer — the multi-consumer-subtree
    rule); gates are projections of that one frame; dedup survivors
    arrive as semi joins (exact tier content-hash groups, near-dup
    tier LSH-pruned, decontamination broadcast-marked in-scan);
    nothing collects, nothing is O(N²)."""
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    wrapped = _html_wrap_sql("STRING")
    stripped = _html_strip_sql(rr)
    # scan-width spread BEFORE the six regexp passes (optimization
    # r11, guide §2.5): a one-file corpus runs the whole strip on one
    # core otherwise; the checkpointed frame then hands its width to
    # all seven downstream consumers. No-op on well-split input.
    crawl = checkpoint(
        spread(load_table(spark, sf_dir, "documents")
               .where("text IS NOT NULL")
               .select("doc_id", "source", "text"))
        .selectExpr("doc_id", "source", f"{wrapped} AS html")
        .selectExpr("doc_id", "source", f"{stripped} AS text"))
    q = text.quality_score(crawl).select("doc_id", "n_tokens",
                                         "quality_score")
    lang = text.language_id(crawl).select("doc_id", "pred_lang")
    gated = (q.join(lang, "doc_id")
              .where((F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
                     & (F.col("pred_lang") == "en")
                     & (F.col("quality_score") >= FUNNEL_MIN_QUALITY))
              .select("doc_id", "n_tokens"))
    keep_exact = (dedup.dedup_exact(crawl)
                  .select(F.col("keep_doc_id").alias("doc_id")))
    canon = dedup.keep_canonical(
        crawl.select("doc_id"),
        dedup.connected_components(dedup.minhash_lsh_pairs(crawl)))
    clean = (dedup.decontaminate(crawl)
             .where("contaminated = 0").select("doc_id"))
    sampled = text.mix_sample(crawl)
    split = text.hash_split(crawl)
    n_chunks = F.expr(
        f"CASE WHEN n_tokens = 0 THEN 0 "
        f"ELSE (n_tokens - 1) div {CHUNK_STRIDE} + 1 END").cast("long")
    return (gated.join(keep_exact, "doc_id", "left_semi")
                 .join(canon, "doc_id", "left_semi")
                 .join(clean, "doc_id", "left_semi")
                 .join(sampled, "doc_id")
                 .join(split, "doc_id")
                 .select(F.col("doc_id").cast("long").alias("doc_id"),
                         "source", "split", "rate_pct", "n_tokens",
                         n_chunks.alias("n_chunks")))


def _crawl_manifest_sql() -> str:
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}', 'g')"
    wrapped = _html_wrap_sql("VARCHAR")
    stripped = _html_strip_sql(rr)
    rate_h = h32_sql("'rate-v1:' || source")
    keep_h = h32_sql("'mix-v1:' || CAST(doc_id AS VARCHAR)")
    split_h = h32_sql(f"'{SPLIT_SALT}:' || CAST(g.doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE crawl AS (
  SELECT doc_id, source, {stripped} AS text FROM (
    SELECT doc_id, source, {wrapped} AS html
    FROM documents WHERE text IS NOT NULL)
), q AS ({_quality_sql('crawl')}), l AS ({_language_id_sql('crawl')}),
gated AS (
  SELECT q.doc_id, q.n_tokens FROM q JOIN l USING (doc_id)
  WHERE q.n_tokens >= {FUNNEL_MIN_TOKENS} AND l.pred_lang = 'en'
    AND q.quality_score >= {FUNNEL_MIN_QUALITY}
), ex AS (
  SELECT min(doc_id) AS doc_id FROM crawl
  WHERE text IS NOT NULL GROUP BY md5(text)
), pairs AS (
  {_minhash_pairs_sql('crawl')}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY 1
), canon AS (
  SELECT d.doc_id FROM crawl d LEFT JOIN clusters c ON d.doc_id = c.node
  WHERE c.lbl IS NULL OR c.lbl = d.doc_id
), toks AS ({_toks_cte('crawl')}),
sh AS ({SHINGLES_CTE}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
clean AS (
  SELECT doc_id FROM sh WHERE doc_id % {BENCH_MOD} <> 0
  GROUP BY doc_id
  HAVING sum(CASE WHEN shingle IN (SELECT shingle FROM bench)
             THEN 1 ELSE 0 END) = 0
), mix AS (
  SELECT doc_id, source, CAST({rate_h} % 90 + 10 AS BIGINT) AS rate_pct
  FROM crawl WHERE {keep_h} % 100 < ({rate_h} % 90 + 10)
)
SELECT CAST(g.doc_id AS BIGINT) AS doc_id, m.source,
       CASE WHEN {split_h} % 100 < 90 THEN 'train' ELSE 'val' END AS split,
       m.rate_pct, g.n_tokens,
       CAST(CASE WHEN g.n_tokens = 0 THEN 0
            ELSE (g.n_tokens - 1) // {CHUNK_STRIDE} + 1 END AS BIGINT)
         AS n_chunks
FROM gated g
JOIN mix m ON m.doc_id = g.doc_id
WHERE g.doc_id IN (SELECT doc_id FROM ex)
  AND g.doc_id IN (SELECT doc_id FROM canon)
  AND g.doc_id IN (SELECT doc_id FROM clean)
"""


# ---------------------------------------------------------- TF-IDF



def _tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def _tfidf_sql() -> str:
    # linear idf (tf·N/df via one exactly-rounded division) — ln()
    # differs between the engines' libms in the last ulp (see
    # text.tfidf_top_terms docstring)
    return f"""
WITH toks AS ({TOKS_CTE}),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
scored AS (SELECT doc_id, term, tf, df,
           CAST(tf * n_docs AS DOUBLE) / df AS tfidf
           FROM tf JOIN dfq USING (term), nd)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
         tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {TFIDF_K}
"""


# -------------------------------------------------- sequence packing



def _pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_sequences(load_table(spark, sf_dir, "documents"))


def _pack_sql() -> str:
    # the oracle computes the SAME global prefix sum with a single
    # window — small-scale ground truth for the distributed two-level
    # prefix sum the Spark operator runs
    return f"""
WITH toks AS ({TOKS_CTE}),
n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
c AS (SELECT doc_id, n_tokens,
      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS global_start FROM n)
SELECT doc_id, n_tokens, global_start,
       CAST(global_start // {PACK_SEQ_LEN} AS BIGINT) AS bin_id,
       CAST(global_start % {PACK_SEQ_LEN} AS BIGINT) AS bin_offset,
       CAST(CASE WHEN n_tokens = 0 THEN 0
            ELSE (global_start + n_tokens - 1) // {PACK_SEQ_LEN}
                 - global_start // {PACK_SEQ_LEN} + 1 END AS BIGINT) AS n_bins
FROM c
"""


# ------------------------------------------------------- mix sampling

def _mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mix_sample(load_table(spark, sf_dir, "documents"))


def _mix_sample_sql() -> str:
    rate_h = h32_sql("'rate-v1:' || source")
    keep_h = h32_sql("'mix-v1:' || CAST(doc_id AS VARCHAR)")
    rate = f"({rate_h} % 90 + 10)"
    keep = f"({keep_h} % 100)"
    return f"""
SELECT doc_id, source, CAST({rate} AS BIGINT) AS rate_pct
FROM documents WHERE {keep} < {rate}
"""


# --------------------------------------------------- semantic dedup

def _emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SEMANTIC dedup over the embedding space: cosine
    near-dup pairs (banded hyperplane LSH) → connected components →
    full cluster assignment with a kept/dropped verdict per vector —
    the embedding-side twin of doc_dedup_canonical. The cluster frame
    is LSH-pruned (pair-graph nodes only) so it broadcasts into the
    full vector scan; the 100 TB side never shuffles. Components come
    from star contraction: past ~2,000 vectors the 0.3-cosine pair
    graph percolates into long chains that min-label propagation does
    not settle within its round cap."""
    vecs = load_table(spark, sf_dir, "embeddings")
    pairs = _emb_neardup_memo(spark, sf_dir)
    clusters = dedup.connected_components_star(
        pairs, src="id_a", dst="id_b", id_out="vec_id")
    c = clusters.select(F.col("vec_id").alias("_cc_id"),
                        F.col("cluster_id").alias("_cc_lbl"))
    lbl = F.coalesce(F.col("_cc_lbl"), F.col("vec_id"))
    return (vecs.select(F.col("vec_id").cast("long").alias("vec_id"))
                .join(F.broadcast(c), F.col("vec_id") == F.col("_cc_id"),
                      "left")
                .select("vec_id",
                        lbl.cast("long").alias("cluster_id"),
                        F.when(lbl == F.col("vec_id"), 1).otherwise(0)
                         .cast("long").alias("is_kept")))


def _emb_semantic_dedup_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  {_emb_neardup_banded_sql(NEARDUP_BANDS)}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS lbl FROM reach GROUP BY 1
)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       CAST(coalesce(c.lbl, e.vec_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(c.lbl, e.vec_id) = e.vec_id
            THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.node
"""


# -------------------------------------------- decontamination / curation



def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.decontaminate(load_table(spark, sf_dir, "documents"))


def _decontaminate_sql() -> str:
    return f"""
WITH toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
        FROM corpus GROUP BY 1),
hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM corpus
        WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1)
SELECT t.doc_id, t.n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_shingles AS hit_rate
FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
"""


def _rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_rarity(load_table(spark, sf_dir, "documents"))


def _rarity_sql() -> str:
    return f"""
WITH toks AS ({TOKS_CTE}),
tok AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM toks),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
agg AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_distinct_toks,
         CAST(sum(d.df) AS BIGINT) AS sum_df,
         CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM tok t JOIN dfreq d USING (tok) GROUP BY 1)
SELECT doc_id, n_distinct_toks, sum_df, n_hapax,
       CAST(sum_df AS DOUBLE) / n_distinct_toks AS mean_df
FROM agg
"""


def _sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus has no sentence punctuation and no cross-document
    repeats, so (S5-style) the boilerplate structure the operator
    exists to find is synthesized INSIDE the query: each doc gets a
    per-source disclaimer sentence prepended. The operator must then
    recover exactly one duplicated sentence per source (n_docs = that
    source's doc count) while the 500 distinct whole-text tail
    "sentences" exercise the singleton path; the oracle applies the
    identical construction."""
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(F.lit("Standard disclaimer for source "), F.col("source"),
                 F.lit(". "), F.col("text")).alias("text"))
    return text.duplicated_sentences(seeded)


def _sentence_dedup_sql() -> str:
    return f"""
WITH seeded AS (SELECT doc_id,
                       'Standard disclaimer for source ' || source ||
                       '. ' || text AS text
                FROM documents WHERE text IS NOT NULL),
raw AS (SELECT doc_id, unnest(string_split(text, '.')) AS s0 FROM seeded),
sent AS (SELECT doc_id, md5(s) AS sent_key
         FROM (SELECT doc_id, trim(lower(s0)) AS s FROM raw)
         WHERE length(s) >= {SENT_MIN_CHARS})
SELECT sent_key,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ,
       min(doc_id) AS first_doc
FROM sent GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""


def _length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.length_order_stats(load_table(spark, sf_dir, "documents"))


_LENGTH_STATS_SQL = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) - 1 AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents WHERE n_chars IS NOT NULL)
SELECT source, max(n) AS n_docs, min(n_chars) AS len_min,
       max(CASE WHEN rn = ((n - 1) * 25) // 100 THEN n_chars END) AS len_p25,
       max(CASE WHEN rn = ((n - 1) * 50) // 100 THEN n_chars END) AS len_p50,
       max(CASE WHEN rn = ((n - 1) * 75) // 100 THEN n_chars END) AS len_p75,
       max(n_chars) AS len_max
FROM ranked GROUP BY source
"""


def _crossmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text MinHash pairs scored with the SAME items' embedding cosine
    (documents and embeddings are row-aligned: doc_id == vec_id)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.crossmodal_agreement(_lsh_pairs(spark, sf_dir), emb)


def _crossmodal_sql() -> str:
    return f"""
WITH mh AS ({_minhash_pairs_sql()}),
qq AS (SELECT vec_id, {_QUANT} AS qv,
              CAST(list_sum(list_transform({_QUANT}, x -> x * x)) AS BIGINT)
              AS n2
       FROM embeddings),
scored AS (
  SELECT mh.doc_a, mh.doc_b, mh.jaccard,
         CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
                                           s -> s[1] * s[2])) AS BIGINT)
              AS DOUBLE)
         / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
  FROM mh JOIN qq a ON a.vec_id = mh.doc_a
          JOIN qq b ON b.vec_id = mh.doc_b)
SELECT doc_a, doc_b, jaccard, cosine,
       CAST(CASE WHEN cosine >= {NEARDUP_COS} THEN 1 ELSE 0 END AS BIGINT)
       AS emb_agrees
FROM scored
"""


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in LONG format — (label, dim,
    sum_q, n_vecs): the exact-integer sufficient statistic for
    per-class centroids (classifier init, outlier screens, IVF
    seeding). Long format keeps both engines in plain
    explode→group-by integer arithmetic; the consumer divides sum_q/n
    once for the centroid coordinate.

    Scale: posexplode is map-side (rows × dim), the single hash
    aggregate on (label, dim) is map-side-combining, output is
    labels × dim rows — tiny. No doubles anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.with_quantized(emb)
    return (q.select("label", F.posexplode("qvec").alias("dim", "qv"))
             .groupBy("label", "dim")
             .agg(F.sum("qv").alias("sum_q"),
                  F.count(F.lit(1)).alias("n_vecs"))
             .select(F.col("label").cast("long").alias("label"),
                     F.col("dim").cast("long").alias("dim"),
                     "sum_q", "n_vecs"))


_LABEL_CENTROIDS_SQL = f"""
WITH q AS (SELECT label, {_QUANT} AS qv FROM embeddings)
SELECT CAST(label AS BIGINT) AS label,
       CAST(i AS BIGINT) AS dim,
       CAST(sum(qv[i + 1]) AS BIGINT) AS sum_q,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM q, UNNEST(range(len(qv))) u(i)
GROUP BY 1, 2
"""


def _lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the corpus's ground-truth
    `lang` label — the classifier-evaluation query every heuristic
    gate needs before it prunes a corpus (which true languages leak
    into which predictions, and how much 'und' each produces).

    Scale: the langid scorer is a codegen projection; one small hash
    aggregate on (lang, pred_lang) — a languages² output."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.language_id(docs).select("doc_id", "pred_lang")
    return (docs.select("doc_id", "lang").join(pred, "doc_id")
                .groupBy("lang", "pred_lang")
                .agg(F.count(F.lit(1)).alias("n_docs")))


def _lang_confusion_sql() -> str:
    return f"""
WITH pred AS ({_language_id_sql()})
SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY 1, 2
"""


# ------------------------------------------------------------- audio

def _audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, hash-checked: the fixture wraps each
    document's utf-8 bytes as genuine 8-bit mono PCM RIFF/WAVE payloads
    and `extract_audio_features` walks the RIFF chunk list, decodes the
    sample plane with numpy, and emits exact integer statistics
    (amplitude sum, midline crossings) of the DECODED samples."""
    media = multimodal.documents_as_wav_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.extract_audio_features(media)


def _audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity / silence-run detection (operators/multimodal.
    audio_silence_runs) over the REAL decoded PCM of the WAV fixture —
    the speech-curation gate (dead-air trim offsets, all-silence clip
    drops), every run statistic graded on decoded samples."""
    media = multimodal.documents_as_wav_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.audio_silence_runs(media)


def _audio_vad_sql() -> str:
    eps = multimodal.VAD_EPS
    min_run = multimodal.VAD_MIN_RUN
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) "
               f"+ ({digit.format(i='2*p+2')})")
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb
  FROM documents
), pos AS (
  SELECT doc_id, CAST(u.p AS BIGINT) AS p, {byte_at} AS val
  FROM m, UNNEST(range(coalesce(m.nb, 0))) u(p)
), sil AS (
  SELECT doc_id, p FROM pos WHERE abs(val - 128) <= {eps}
), isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM sil
), runs AS (
  SELECT doc_id, min(p) AS s, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY doc_id, g
), q AS (
  SELECT * FROM runs WHERE len >= {min_run}
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
         CAST(sum(len) AS BIGINT) AS n_silent,
         CAST(max(len) AS BIGINT) AS longest_run,
         CAST(coalesce(max(CASE WHEN s = 0 THEN len END), 0) AS BIGINT)
           AS lead_in
  FROM q GROUP BY 1)
SELECT m.doc_id AS media_id,
       CASE WHEN m.nb IS NULL THEN NULL
            ELSE CAST(m.nb AS BIGINT) END AS n_samples,
       CASE WHEN m.nb IS NULL THEN NULL
            ELSE CAST(coalesce(a.n_runs, 0) AS BIGINT) END AS n_runs,
       CASE WHEN m.nb IS NULL THEN NULL
            ELSE CAST(coalesce(a.n_silent, 0) AS BIGINT) END AS n_silent,
       CASE WHEN m.nb IS NULL THEN NULL
            ELSE CAST(coalesce(a.longest_run, 0) AS BIGINT) END
         AS longest_run,
       CASE WHEN m.nb IS NULL THEN NULL
            ELSE CAST(coalesce(a.lead_in, 0) AS BIGINT) END AS lead_in
FROM m LEFT JOIN agg a USING (doc_id)
"""


def _audio_features_sql() -> str:
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb
  FROM documents
), v AS (
  SELECT doc_id, nb,
         CASE WHEN hx IS NULL THEN NULL
              WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
)
SELECT doc_id AS media_id,
       CAST(CASE WHEN nb IS NULL THEN 0 ELSE 44 + nb END AS BIGINT)
         AS n_bytes,
       CASE WHEN nb IS NULL THEN NULL
            ELSE CAST(16000 AS INTEGER) END AS sample_rate,
       CASE WHEN nb IS NULL THEN NULL ELSE CAST(nb AS BIGINT) END
         AS n_samples,
       CASE WHEN nb IS NULL THEN NULL WHEN nb = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(list_sum(vals) AS BIGINT) END AS amp_sum,
       CASE WHEN nb IS NULL THEN NULL WHEN nb <= 1 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(list_filter(range(nb - 1),
                 p -> (vals[p + 1] >= 128) != (vals[p + 2] >= 128)))
                 AS BIGINT) END AS crossings
FROM v
"""


def _audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample pipeline, sample-verified (operators/
    multimodal.resample_audio): WAV fixture → decode → zero-order-hold
    gather to 6 kHz → re-ENCODE → re-DECODE → exact integer statistics
    of the RESAMPLED samples. The oracle recomputes the same gather
    (out[i] = text byte (i·16000) div 6000) from the text bytes, so a
    wrong index map, a corrupted re-encode, or a header bug all flip
    the hash — the audio twin of `mm_resize`."""
    media = multimodal.documents_as_wav_media(
        load_table(spark, sf_dir, "documents"))
    resampled = multimodal.resample_audio(media)
    return multimodal.extract_audio_features(resampled)


def _audio_resample_sql() -> str:
    tgt, src = AUDIO_TARGET_RATE, 16_000
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + ({digit.format(i='2*p+2')})")
    return f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE hex(encode(text)) END AS hx,
         CASE WHEN text IS NULL THEN NULL
              ELSE octet_length(encode(text)) END AS nb
  FROM documents
), v AS (
  SELECT doc_id, nb, (nb * {tgt}) // {src} AS n_out,
         CASE WHEN hx IS NULL THEN NULL
              WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), r AS (
  SELECT doc_id, nb, n_out,
         CASE WHEN vals IS NULL THEN NULL
              ELSE list_transform(range(n_out),
                                  i -> vals[(i * {src}) // {tgt} + 1])
              END AS outv
  FROM v
)
SELECT doc_id AS media_id,
       CAST(CASE WHEN nb IS NULL THEN 0 ELSE 44 + n_out END AS BIGINT)
         AS n_bytes,
       CASE WHEN nb IS NULL THEN NULL
            ELSE CAST({tgt} AS INTEGER) END AS sample_rate,
       CASE WHEN nb IS NULL THEN NULL ELSE CAST(n_out AS BIGINT) END
         AS n_samples,
       CASE WHEN nb IS NULL THEN NULL
            ELSE CAST(coalesce(list_sum(outv), 0) AS BIGINT) END AS amp_sum,
       CASE WHEN nb IS NULL THEN NULL WHEN n_out <= 1 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(list_filter(range(n_out - 1),
                 p -> (outv[p + 1] >= 128) != (outv[p + 2] >= 128)))
                 AS BIGINT) END AS crossings
FROM r
"""


# ---------------------------------------------------------- pagerank

def _trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority scoring over the trade network: suppliers and
    customers as nodes, an undirected trade relationship (both edge
    directions) whenever a supplier's lineitem landed in a customer's
    order — the entity-centrality query curation pipelines use to
    weight sources, applied to the export's own relational graph
    (1600 nodes / ~97k directed edges at sf0.01, skewed degrees).
    Ranks are exact fixed-point integers
    (operators/graph.pagerank_exact), so a 5-iteration run
    hash-matches the unrolled-CTE DuckDB twin bit-for-bit — something
    float PageRank can never do across engines."""
    from ..operators.graph import pagerank_exact
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    pairs = (li.join(o, li.l_orderkey == o.o_orderkey)
               .select(F.concat(F.lit("S"), F.col("l_suppkey")).alias("s"),
                       F.concat(F.lit("C"), F.col("o_custkey")).alias("c"))
               .distinct())
    # both directions as a 1→2 explode, NOT a union of two selects —
    # a union evaluates the whole join+distinct subtree twice (the
    # branches are not canonically identical, so no ReusedExchange)
    edges = (pairs.select(F.explode(F.array(
                  F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
                  F.struct(F.col("c").alias("src"), F.col("s").alias("dst"))))
                  .alias("e"))
                  .select("e.src", "e.dst"))
    r = pagerank_exact(edges, iters=5)
    return r.select("node", "rank",
                    (F.col("rank") / F.lit(1e9)).alias("rank_norm"))


def _pagerank_sql(edges_cte: str, iters: int = 5) -> str:
    """Unrolled-CTE DuckDB twin of pagerank_exact over an edge CTE
    named `e(src, dst)` — one chained CTE per iteration, the same
    fixed-point recurrence in `//` arithmetic."""
    prev = "r0"
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
r{k} AS (
  SELECT n.node,
         CAST((15 * (1000000000 // cnt.n)) // 100
              + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
  FROM nodes n
  LEFT JOIN (SELECT e.dst AS node,
                    CAST(sum(p.r // d.deg) AS BIGINT) AS c
             FROM e JOIN {prev} p ON e.src = p.node
                    JOIN deg d ON d.src = e.src
             GROUP BY 1) s USING (node), cnt
)""")
        prev = f"r{k}"
    return f"""
WITH {edges_cte},
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
cnt AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000 // cnt.n AS BIGINT) AS r
       FROM nodes, cnt),{",".join(steps)}
SELECT node, r AS rank, r / 1000000000.0 AS rank_norm
FROM {prev}
"""


_TRADE_EDGES_CTE = """
pairs AS (SELECT DISTINCT 'S' || l_suppkey AS s, 'C' || o_custkey AS c
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
e AS (SELECT s AS src, c AS dst FROM pairs
      UNION ALL SELECT c, s FROM pairs)"""


# --------------------------------------------------- link authority

#: Deterministic host + outlink fixture: a doc lives on host
#: `h(doc_id % 40)` and links to the three hosts `h((doc_id*7 + k*11)
#: % 40)`, k ∈ {1,2,3} — a directed host web with skew-free degrees
#: both engines rebuild from doc_id alone (the corpus has no URL
#: column; the multiplier/offsets just decorrelate targets from the
#: source host).
_LINK_HOSTS = 40


def _link_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-based source weighting — the CommonCrawl-lineage curation
    signal (host-level PageRank over the crawl's link graph, then each
    document weighted by its host's authority) that complements the
    content-side quality gates: a doc on a well-linked host earns
    trust its text alone can't prove. Composes the repo's exact
    fixed-point PageRank (`operators/graph.pagerank_exact`, the same
    5-iteration recurrence `doc_trade_pagerank` grades) over the host
    graph, then joins authority back per document and accounts it per
    source.

    Scale shape: hosts ≪ docs (the whole point — CommonCrawl is ~10^8
    hosts for ~10^10 pages), so the edge build is a projection +
    distinct on (src,dst) host pairs, PageRank runs on the SMALL host
    graph (×10 envelope-pinned via pagerank), and the authority→doc
    join broadcasts the rank side. No per-doc iteration, no skew: the
    doc-side stays a single scan."""
    from ..operators.graph import pagerank_exact
    docs = (load_table(spark, sf_dir, "documents")
            .where("text IS NOT NULL")
            .selectExpr("doc_id", "source",
                        f"concat('h', CAST(doc_id % {_LINK_HOSTS} "
                        "AS STRING)) AS host"))
    targets = ", ".join(
        f"concat('h', CAST((doc_id * 7 + {k} * 11) % {_LINK_HOSTS} "
        "AS STRING))" for k in (1, 2, 3))
    edges = (docs.selectExpr("host AS src",
                             f"explode(array({targets})) AS dst")
                 .where("src != dst").distinct())
    ranks = pagerank_exact(edges, iters=5)
    return (docs.join(F.broadcast(ranks), docs.host == ranks.node)
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.expr("CAST(sum(rank) AS BIGINT)")
                      .alias("auth_sum"))
                .withColumn("auth_avg",
                            F.expr("CAST(auth_sum AS DOUBLE) / "
                                   "CAST(n_docs AS DOUBLE)"))
                .orderBy("source"))


def _link_authority_sql() -> str:
    edges_cte = f"""
hh AS (SELECT doc_id, source,
              'h' || CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS host
       FROM documents WHERE text IS NOT NULL),
l AS (SELECT host AS src,
             'h' || CAST((doc_id * 7 + k.k * 11) % {_LINK_HOSTS}
                         AS VARCHAR) AS dst
      FROM hh, (VALUES (1), (2), (3)) k(k)),
e AS (SELECT DISTINCT src, dst FROM l WHERE src <> dst)"""
    return f"""
WITH pr AS ({_pagerank_sql(edges_cte)}),
hh2 AS (SELECT doc_id, source,
               'h' || CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS host
        FROM documents WHERE text IS NOT NULL)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(pr.rank) AS BIGINT) AS auth_sum,
       CAST(CAST(sum(pr.rank) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS auth_avg
FROM hh2 JOIN pr ON hh2.host = pr.node
GROUP BY source
ORDER BY source
"""


# ----------------------------------------------------- snapshot diff

def _snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff graded per-row: the 'previous' snapshot
    is derived deterministically from the corpus (drop doc_id % 7 = 0
    → those become 'added'; perturb text for doc_id % 11 = 0 →
    'changed'; inject doc_id % 13 = 0 rows under shifted ids →
    'removed'), so the oracle recomputes every per-doc status."""
    from ..operators.retention import snapshot_diff
    docs = load_table(spark, sf_dir, "documents")
    perturbed = F.when(F.col("doc_id") % 11 == 0,
                       F.concat(F.col("text"), F.lit("!"))) \
                 .otherwise(F.col("text"))
    prev = (docs.where("doc_id % 7 != 0")
                .select("doc_id", perturbed.alias("text"))
                .unionByName(
                    docs.where("doc_id % 13 = 0")
                        .select((F.col("doc_id") + 10_000_000)
                                .alias("doc_id"), "text")))
    return snapshot_diff(docs, prev)


_SNAPSHOT_DIFF_SQL = """
WITH cur AS (SELECT doc_id, md5(text) AS h FROM documents),
prev AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 11 = 0 THEN text || '!' ELSE text END) AS h
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 10000000, md5(text) FROM documents WHERE doc_id % 13 = 0
)
SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
       CASE WHEN p.doc_id IS NULL THEN 'added'
            WHEN c.doc_id IS NULL THEN 'removed'
            WHEN c.h IS NOT DISTINCT FROM p.h THEN 'unchanged'
            ELSE 'changed' END AS status
FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
"""


# --------------------------------------------------- targeted deletion

def _delete_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted deletion (takedown / right-to-be-forgotten) graded
    END-TO-END: materialize the documents corpus as a source-partitioned
    parquet scratch copy, run `operators.retention.delete_ids` on a
    deterministic victim set (doc_id % 13 = 3), then READ THE REWRITTEN
    CORPUS BACK and report per-partition before/after/deleted counts —
    the oracle recomputes the same arithmetic directly, so a victim
    surviving on disk (or a non-victim lost) flips the hash.

    Scale shape under test: broadcast semi/anti joins + dynamic
    partition overwrite of only the affected directories."""
    import os
    from ..operators.retention import delete_ids
    from ..util import scratch_dir
    docs = load_table(spark, sf_dir, "documents")
    corpus = os.path.join(scratch_dir("spark_graft_rtbf_"), "corpus")
    docs.write.partitionBy("source").parquet(corpus)
    victims = docs.where("doc_id % 13 = 3").select("doc_id")
    delete_ids(spark, corpus, victims)
    after = (spark.read.parquet(corpus).groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_after")))
    before = (docs.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_before")))
    # left join: a fully-victimized partition disappears from disk but
    # must still report (n_after = 0)
    return (before.join(after, "source", "left")
                  .select("source", "n_before",
                          F.coalesce("n_after", F.lit(0)).cast("long")
                           .alias("n_after"),
                          (F.col("n_before")
                           - F.coalesce("n_after", F.lit(0))).cast("long")
                           .alias("n_deleted")))


_DELETE_IDS_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_before,
       CAST(sum(CASE WHEN doc_id % 13 = 3 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_after,
       CAST(sum(CASE WHEN doc_id % 13 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted
FROM documents GROUP BY 1
"""


# ----------------------------------------------- Bloom decontamination

def _bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a DETERMINISTIC Bloom filter
    (operators/sketch.bloom_build/probe) instead of the broadcast
    semi join — the membership pre-filter for when the authoritative
    set outgrows comfortable broadcast: the filter is m bits however
    large the set, probes are map-side. Output per doc: bloom verdict
    AND exact verdict side by side with the false-positive count, so
    the hash check pins the no-false-negative guarantee
    (n_bloom_hits ≥ n_exact_hits on every row)."""
    from ..operators.sketch import bloom_bits, bloom_build, bloom_hit_expr
    sh = dedup.shingles(load_table(spark, sf_dir, "documents"))
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    # the bench shingle set feeds the filter build AND the exact
    # verdict — materialize the (eval-suite-sized) set once instead of
    # re-deriving it from a corpus tokenize scan per consumer
    bench_sh = checkpoint(sh.where(is_bench).select("shingle").distinct())
    # the filter collapses to 128 longs at plan build and probes as a
    # map-side literal expression — the relational bloom_probe twin
    # shuffled 768 MB at ×100 re-aggregating per-position verdicts;
    # this form shuffles nothing before the per-doc aggregate
    bits = bloom_bits(bloom_build(bench_sh))
    probed = (sh.where(~is_bench).select("doc_id", "shingle")
                .withColumn("bloom_hit", bloom_hit_expr(bits)))
    exact = probed.join(F.broadcast(bench_sh.withColumn("_hit", F.lit(1))),
                        "shingle", "left")
    return (exact.groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("n_shingles"),
                      F.sum("bloom_hit").alias("n_bloom_hits"),
                      F.sum(F.coalesce("_hit", F.lit(0))).alias("n_exact_hits"))
                 .select("doc_id",
                         F.col("n_shingles").cast("long").alias("n_shingles"),
                         F.col("n_bloom_hits").cast("long")
                          .alias("n_bloom_hits"),
                         F.col("n_exact_hits").cast("long")
                          .alias("n_exact_hits"),
                         (F.col("n_bloom_hits") > 0).cast("long")
                          .alias("bloom_contaminated"),
                         (F.col("n_exact_hits") > 0).cast("long")
                          .alias("exact_contaminated"),
                         (F.col("n_bloom_hits") - F.col("n_exact_hits"))
                          .cast("long").alias("n_false_pos")))


def _bloom_decontaminate_sql() -> str:
    from ..operators.sketch import bloom_positions_sql
    pos = bloom_positions_sql()
    return f"""
WITH toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
limbs AS (
  SELECT p // 32 AS limb, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM (SELECT unnest({pos}) AS p FROM bench) GROUP BY 1
),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
probe AS (
  SELECT doc_id, shingle, p // 32 AS limb,
         1::BIGINT << CAST(p % 32 AS INT) AS mask
  FROM (SELECT doc_id, shingle, unnest({pos}) AS p FROM corpus)
),
verdict AS (
  SELECT p.doc_id, p.shingle,
         min(CASE WHEN (coalesce(l.bits, 0) & p.mask) = p.mask
                  THEN 1 ELSE 0 END) AS bloom_hit
  FROM probe p LEFT JOIN limbs l USING (limb)
  GROUP BY 1, 2
),
joined AS (
  SELECT v.doc_id, v.bloom_hit,
         CASE WHEN v.shingle IN (SELECT shingle FROM bench)
              THEN 1 ELSE 0 END AS exact_hit
  FROM verdict v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(sum(exact_hit) AS BIGINT) AS n_exact_hits,
       CAST(CASE WHEN sum(bloom_hit) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS bloom_contaminated,
       CAST(CASE WHEN sum(exact_hit) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS exact_contaminated,
       CAST(sum(bloom_hit) - sum(exact_hit) AS BIGINT) AS n_false_pos
FROM joined GROUP BY 1
"""


# ------------------------------------------------------- BM25 retrieval

def _bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point BM25 top-20 for the corpus's 3 highest-df query
    terms (operators/text.bm25_topk): saturation and linear idf in
    exact integer arithmetic, TakeOrdered final ranking."""
    return text.bm25_topk(load_table(spark, sf_dir, "documents"))


_BM25_SQL = f"""
WITH toks AS ({TOKS_CTE}),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
       WHERE text IS NOT NULL),
stats AS (
  SELECT doc_id, term, tf,
         CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
  FROM tf
),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t_tokens FROM tf),
qterms AS (
  SELECT term FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS qr
    FROM (SELECT DISTINCT term, df FROM stats)) WHERE qr <= {text.BM25_QTERMS}
),
scored AS (
  SELECT s.doc_id, s.dl, s.df,
         (44 * s.tf * t_tokens * 1000000) //
         (20 * t_tokens * s.tf + 6 * t_tokens + 18 * s.dl * n) AS sat_ppm,
         n
  FROM stats s JOIN qterms USING (term), tot, nd
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         CAST(max(dl) AS BIGINT) AS dl,
         CAST(sum((sat_ppm * n) // df) AS BIGINT) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, n_hit_terms, dl, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank
FROM agg ORDER BY score DESC, doc_id LIMIT {text.BM25_TOPK}
"""


# ------------------------------------------------------ CDC merge-into

def _apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the corpus: a deterministic change feed —
    superseded + final updates for doc_id%5 (seq precedence), deletes
    for doc_id%7=3 (winning over same-key updates at higher seq),
    inserts from the %11 slice under shifted keys — applied by
    `operators/retention.apply_changes` (latest-per-key compaction +
    ONE full-outer key join). The hash pins precedence, delete-wins,
    pass-through, and payload content per surviving row."""
    from ..operators.retention import apply_changes
    d = load_table(spark, sf_dir, "documents")
    u2 = d.where("doc_id % 5 = 0").select(
        "doc_id", F.expr("concat(text, ' [rev2]')").alias("text"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"))
    u1 = d.where("doc_id % 5 = 0").select(
        "doc_id", F.expr("concat(text, ' [rev1]')").alias("text"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"))
    dels = d.where("doc_id % 7 = 3").select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(3).alias("seq"))
    ins = d.where("doc_id % 11 = 0").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.expr("concat('new: ', text)").alias("text"),
        F.lit("I").alias("op"), F.lit(1).alias("seq"))
    changes = u2.unionByName(u1).unionByName(dels).unionByName(ins)
    out = apply_changes(d, changes)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.expr("md5(coalesce(text, ''))").alias("content_key"),
                      "action")


_APPLY_CHANGES_SQL = """
WITH changes AS (
  SELECT doc_id, text || ' [rev2]' AS text, 'U' AS op, 2 AS seq
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, text || ' [rev1]', 'U', 1
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, NULL, 'D', 3 FROM documents WHERE doc_id % 7 = 3
  UNION ALL
  SELECT doc_id + 10000000, 'new: ' || text, 'I', 1
  FROM documents WHERE doc_id % 11 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY seq DESC, op) AS rn
    FROM changes) WHERE rn = 1
),
j AS (
  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
         CASE WHEN c.doc_id IS NOT NULL THEN c.text ELSE b.text END AS text,
         CASE WHEN c.doc_id IS NULL THEN 'kept'
              WHEN b.doc_id IS NULL THEN 'inserted'
              ELSE 'updated' END AS action,
         c.op AS op
  FROM documents b FULL OUTER JOIN latest c ON b.doc_id = c.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(coalesce(text, '')) AS content_key, action
FROM j WHERE op IS NULL OR op <> 'D'
"""


# ------------------------------------------------- token drift monitor

def _token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-level drift between the doc_id-parity corpus
    slices — per-token fixed-point (ppb) frequency deltas
    (operators/text.token_drift); Σ drift_ppb / 2 = scaled total
    variation distance. One scan, one token-key shuffle."""
    return text.token_drift(load_table(spark, sf_dir, "documents"))


_TOKEN_DRIFT_SQL = f"""
WITH toks AS ({TOKS_CTE}),
occ AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a, unnest(t) AS tok
  FROM toks
),
counts AS (
  SELECT tok, CAST(sum(a) AS BIGINT) AS cnt_a,
         CAST(sum(1 - a) AS BIGINT) AS cnt_b
  FROM occ GROUP BY 1
),
tot AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS tot_a,
         CAST(sum(cnt_b) AS BIGINT) AS tot_b
  FROM counts
)
SELECT tok, cnt_a, cnt_b,
       cnt_a * {text.PPB} // tot_a AS freq_a_ppb,
       cnt_b * {text.PPB} // tot_b AS freq_b_ppb,
       abs(cnt_a * {text.PPB} // tot_a - cnt_b * {text.PPB} // tot_b)
         AS drift_ppb
FROM counts, tot
"""


# ---------------------------------------------------- KMV distinct sketch

def _distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source + merged distinct-document cardinality via the
    k-minimum-values sketch: md5 order statistics, so DuckDB
    reproduces the sketch AND the estimate bit-for-bit, float
    included. (KMV is exact below k — the right tool in this
    small-distinct regime; `doc_hll_distinct` is the register-form
    counterpart on the larger token universe.)"""
    return sketch.kmv_sketch(load_table(spark, sf_dir, "documents"))


def _scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the video fixture WITH a real
    scene boundary (frames from total//2 on are inverted —
    `documents_as_video_media(scene_at_half=True)`): demux + decode
    every frame, exact-integer SAD between consecutive frames, cut
    verdict at the fixed threshold. The hash pins every SAD value
    and every verdict; within-scene pairs (1-byte rotations) stay
    far below threshold, the boundary pair far above."""
    media = multimodal.documents_as_video_media(
        load_table(spark, sf_dir, "documents"), scene_at_half=True)
    return multimodal.scene_cuts(media)


def _scene_cuts_sql() -> str:
    """DuckDB twin: frame g's plane byte j = text byte (j+g) mod nb
    (empty text → 0 via the [0] sentinel list), inverted for
    g >= total//2; SAD over the 192-px pair, threshold verdict."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) + "
               f"({digit.format(i='2*p+2')})")
    bcur = ("CASE WHEN f >= half THEN 255 - vals[((j + f) % nbe) + 1] "
            "ELSE vals[((j + f) % nbe) + 1] END")
    bprv = ("CASE WHEN f - 1 >= half THEN 255 - vals[((j + f - 1) % nbe) + 1] "
            "ELSE vals[((j + f - 1) % nbe) + 1] END")
    thr = multimodal.SCENE_CUT_SAD
    return f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         CAST(2 + doc_id % 5 AS BIGINT) AS total
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT doc_id, total, total // 2 AS half,
         CASE WHEN nb = 0 THEN 1 ELSE nb END AS nbe,
         CASE WHEN nb = 0 THEN [0]
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), pairs AS (
  SELECT doc_id, half, nbe, vals, f
  FROM v, UNNEST(range(1, CAST(total AS INT))) u(f)
), sads AS (
  SELECT doc_id, f,
         CAST(list_sum(list_transform(range(192),
              j -> abs(({bcur}) - ({bprv})))) AS BIGINT) AS sad
  FROM pairs
)
SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx, sad,
       CAST(sad > {thr} AS BIGINT) AS is_cut
FROM sads
"""


def _patch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization over REAL decoded images
    (operators/multimodal.patch_grid_stats): one row per 2×2-grid
    patch with exact per-channel sums and integer mean gray — the
    fan-out vision training runs before patch embedding. Every value
    is a function of decoded pixels; the oracle recomputes each
    patch window from the fixture's text→pixel tiling, ragged
    remainder pixels included (w = 8+id%9, h = 8+id%7 exercise
    uneven splits in both axes)."""
    media = multimodal.documents_as_ppm_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.patch_grid_stats(media)


def _patch_stats_sql() -> str:
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) "
               f"+ ({digit.format(i='2*p+2')})")
    px = ("(3 * ((y0 + k // pw) * w + (x0 + k % pw)) + {ch}) % nbe + 1")
    ch_sum = ("CAST(list_sum(list_transform(range(ph * pw), k -> "
              "vals[" + px + "])) AS BIGINT)")
    return f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + doc_id % 7 AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT doc_id, w, h,
         CASE WHEN nb = 0 THEN 1 ELSE nb END AS nbe,
         CASE WHEN nb = 0 THEN [0]
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), patches AS (
  SELECT doc_id, w, h, nbe, vals,
         CAST(pr AS BIGINT) AS patch_row, CAST(pc AS BIGINT) AS patch_col,
         (pr * h) // 2 AS y0, ((pr + 1) * h) // 2 AS y1,
         (pc * w) // 2 AS x0, ((pc + 1) * w) // 2 AS x1
  FROM v, UNNEST(range(2)) u1(pr), UNNEST(range(2)) u2(pc)
), sized AS (
  SELECT *, y1 - y0 AS ph, x1 - x0 AS pw FROM patches
)
SELECT doc_id AS media_id, patch_row, patch_col,
       CAST(ph * pw AS BIGINT) AS n_px,
       {ch_sum.format(ch=0)} AS sum_r,
       {ch_sum.format(ch=1)} AS sum_g,
       {ch_sum.format(ch=2)} AS sum_b,
       ({ch_sum.format(ch=0)} + {ch_sum.format(ch=1)}
        + {ch_sum.format(ch=2)}) // (3 * ph * pw) AS mean_gray
FROM sized
"""


def _scene_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CLIP shot segmentation stats on top of the scene-cut
    detector — the video-curation report (shot-length distribution
    drives sampling-rate choices and flags slideshows / static clips):
    cuts per clip, scenes, longest/shortest shot in frames. Shot
    lengths come from a lag window over the cut positions plus an
    end-of-clip sentinel, so the whole summary is one window + one
    agg over the CUT rows (≤ frames per clip), not the pixels.

    The decoded SAD verdicts are computed once (eager
    `execution.checkpoint` — the cuts frame is consumed by both the
    census and the shot window) and every downstream number is
    exact-integer, recomputed by the oracle from the fixture's text
    bytes."""
    from pyspark.sql import Window
    media = multimodal.documents_as_video_media(
        load_table(spark, sf_dir, "documents"), scene_at_half=True)
    cuts = checkpoint(multimodal.scene_cuts(media))
    per = (cuts.groupBy("media_id")
               .agg(F.expr("CAST(count(*) + 1 AS BIGINT)")
                     .alias("n_frames"),
                    F.expr("CAST(sum(is_cut) AS BIGINT)").alias("n_cuts")))
    bounds = (cuts.where("is_cut = 1")
                  .select("media_id", "frame_idx")
                  .unionByName(per.select(
                      "media_id", F.col("n_frames").alias("frame_idx"))))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    shots = (bounds
             .withColumn("prev", F.lag("frame_idx", 1, 0).over(w))
             .withColumn("shot_len", F.col("frame_idx") - F.col("prev"))
             .where("shot_len > 0"))
    stats = shots.groupBy("media_id").agg(
        F.expr("CAST(max(shot_len) AS BIGINT)").alias("longest_shot"),
        F.expr("CAST(min(shot_len) AS BIGINT)").alias("shortest_shot"))
    return (per.join(stats, "media_id")
               .selectExpr("media_id", "n_frames", "n_cuts",
                           "n_cuts + 1 AS n_scenes",
                           "longest_shot", "shortest_shot")
               .orderBy("media_id"))


def _scene_summary_sql() -> str:
    """DuckDB twin: re-derives the SAD verdicts from the fixture
    bytes (the `_scene_cuts_sql` chain), then the same bounds-window
    shot arithmetic."""
    base = _scene_cuts_sql().strip().rstrip()
    return f"""
WITH cuts AS ({base}),
per AS (SELECT media_id, CAST(count(*) + 1 AS BIGINT) AS n_frames,
               CAST(sum(is_cut) AS BIGINT) AS n_cuts
        FROM cuts GROUP BY 1),
bounds AS (
  SELECT media_id, frame_idx FROM cuts WHERE is_cut = 1
  UNION ALL
  SELECT media_id, n_frames AS frame_idx FROM per),
shots AS (
  SELECT media_id,
         frame_idx - coalesce(lag(frame_idx) OVER
           (PARTITION BY media_id ORDER BY frame_idx), 0) AS shot_len
  FROM bounds),
stats AS (SELECT media_id, CAST(max(shot_len) AS BIGINT) AS longest_shot,
                 CAST(min(shot_len) AS BIGINT) AS shortest_shot
          FROM shots WHERE shot_len > 0 GROUP BY 1)
SELECT per.media_id, n_frames, n_cuts, n_cuts + 1 AS n_scenes,
       longest_shot, shortest_shot
FROM per JOIN stats ON per.media_id = stats.media_id
ORDER BY per.media_id
"""


def _dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH sources duplicate WHICH — the provenance matrix over the
    graded MinHash near-dup pairs (mirror-site detection, license-
    laundering audit, per-feed dedup ROI): every verified pair joined
    to both endpoints' sources, rolled up per unordered source pair.
    Aggregates stay hash-safe: counts and Σn_common are exact BIGINTs;
    max_jaccard is a MAX over bit-identical doubles (order-free) —
    never a float sum. Complements `doc_source_overlap` (KMV overlap
    of EXACT content) with the near-dup relation."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    j = (pairs
         .join(src.select(F.col("doc_id").alias("doc_a"),
                          F.col("source").alias("sa")), "doc_a")
         .join(src.select(F.col("doc_id").alias("doc_b"),
                          F.col("source").alias("sb")), "doc_b"))
    return (j.groupBy(F.least("sa", "sb").alias("src_a"),
                      F.greatest("sa", "sb").alias("src_b"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                  F.expr("CAST(sum(n_common) AS BIGINT)")
                   .alias("n_common_total"),
                  F.max("jaccard").alias("max_jaccard")))


def _dup_source_matrix_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
srcs AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS src_a,
       greatest(sa.source, sb.source) AS src_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(n_common) AS BIGINT) AS n_common_total,
       max(jaccard) AS max_jaccard
FROM pairs p
JOIN srcs sa ON sa.doc_id = p.doc_a
JOIN srcs sb ON sb.doc_id = p.doc_b
GROUP BY 1, 2
"""


def _density_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-inverse diversity sampling (operators/similarity.
    density_sample): per-vector keep/drop verdicts with inclusion
    probability inversely proportional to local kNN-cosine density —
    redundant embedding regions thin out, isolated points survive.
    Rides the graded kNN graph (banded LSH + exact integer rerank)."""
    return similarity.density_sample(
        load_table(spark, sf_dir, "embeddings"),
        graph=_knn_graph_memo(spark, sf_dir))


def _density_sample_sql() -> str:
    coin = h60_sql(f"'{similarity.DENSITY_SALT}:' || "
                   f"CAST(vec_id AS VARCHAR)")
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(MULTIBAND_BANDS)}) AS bucket
           FROM wn),
qs AS (SELECT vec_id AS query_id, bucket FROM melted),
c AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM qs JOIN c USING (bucket)
         WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored),
knn AS (
  SELECT query_id AS vec_id, cosine FROM (
    SELECT query_id, cosine,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM cos) WHERE rk <= {TOPK_K}
),
dens AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_nbrs,
         CAST(sum(1000000 + CAST(round(cosine * 1000000) AS BIGINT))
              // count(*) - 1000000 AS BIGINT) AS dens_ppm
  FROM knn GROUP BY 1
),
dbase AS (
  SELECT wn.vec_id, COALESCE(n_nbrs, 0) AS n_nbrs,
         COALESCE(dens_ppm, 0) AS dens_ppm,
         greatest(CAST(1 AS BIGINT),
                  1000000 - COALESCE(dens_ppm, 0)) AS w
  FROM wn LEFT JOIN dens USING (vec_id)
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
               CAST(count(*) AS BIGINT) AS n FROM dbase),
scoredv AS (
  SELECT vec_id, n_nbrs, dens_ppm, CAST(w AS BIGINT) AS w,
         CAST(least(1000000000, w * {similarity.DENSITY_TARGET_PPB}
                    // (tw // n)) AS BIGINT) AS p_ppb
  FROM dbase, tot
)
SELECT vec_id, n_nbrs, dens_ppm, w, p_ppb,
       CAST(({coin}) % 1000000000 < p_ppb AS BIGINT) AS keep
FROM scoredv
"""


def _textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 corpus keywords by TextRank (operators/text.
    textrank_keywords): exact fixed-point PageRank over the
    adjacency-bigram word graph (min_count=3 edge cut, both
    directions), so the unrolled-round DuckDB twin hash-matches the
    4-iteration ranks bit-for-bit."""
    return text.textrank_keywords(load_table(spark, sf_dir, "documents"))


def _textrank_sql() -> str:
    edges_cte = f"""toked AS (
  SELECT {tokens_sql()} AS t FROM documents WHERE text IS NOT NULL
),
bgr AS (
  SELECT b.w1 AS w1, b.w2 AS w2 FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
    FROM toked WHERE len(t) >= 2)
  WHERE b.w1 <> b.w2
),
bg AS (SELECT w1, w2 FROM bgr GROUP BY 1, 2 HAVING count(*) >= {TEXTRANK_MIN_COUNT}),
e AS (SELECT w1 AS src, w2 AS dst FROM bg
      UNION SELECT w2, w1 FROM bg)"""
    inner = _pagerank_sql(edges_cte, iters=TEXTRANK_ITERS)
    return f"""
SELECT CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT)
         AS kw_rank,
       node AS term, rank, rank_norm
FROM ({inner})
ORDER BY rank DESC, node LIMIT {TEXTRANK_TOPK}
"""


RRF_ANN_K = 20   # dense-side list length fed into the fusion


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the graded BM25 lexical top-20 fused with the
    dense LSH-ANN top-20 for query vector 0 by integer reciprocal-rank
    fusion (operators/text.rrf_fuse) — the score-calibration-free
    combiner of a production retrieval stack. Both sides are the
    catalog's own graded plans; fusion itself runs on ≤40 rows however
    large the corpus (top-k lists in, top-k list out)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm25 = text.bm25_topk(docs).select("doc_id", "rank")
    ann = (similarity.lsh_topk(emb, k=RRF_ANN_K, n_bands=LSH_TOPK_BANDS,
                               query_pred="vec_id = 0")
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return text.rrf_fuse({"bm25": bm25, "ann": ann})


def _hybrid_rrf_sql() -> str:
    """Both graded twins inlined (the `_ann_recall_sql` pattern): the
    BM25 SELECT nests as a sub-WITH CTE; the dense side re-derives the
    banded-candidate cosine ranking for query 0; fusion is the exact
    integer SCALE div (C + rank) sum."""
    return f"""
WITH bm AS ({_BM25_SQL}),
{_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(LSH_TOPK_BANDS)}) AS bucket
           FROM wn),
hq AS (SELECT vec_id AS query_id, bucket FROM melted WHERE vec_id = 0),
hc AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id
         FROM hq JOIN hc USING (bucket) WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
hscored AS (SELECT neighbor_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
hcos AS (SELECT neighbor_id, {_COS} AS cosine FROM hscored),
ann AS (SELECT neighbor_id AS doc_id,
               row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS r
        FROM hcos ORDER BY cosine DESC, neighbor_id LIMIT {RRF_ANN_K}),
u AS (
  SELECT doc_id, rank AS r, 'bm25' AS side FROM bm
  UNION ALL
  SELECT doc_id, r, 'ann' AS side FROM ann
),
fused AS (
  SELECT doc_id,
         CAST(sum({text.RRF_SCALE} // ({text.RRF_C} + r)) AS BIGINT)
           AS rrf_score,
         CAST(count(*) AS BIGINT) AS n_lists,
         CAST(max(CASE WHEN side = 'bm25' THEN r END) AS BIGINT)
           AS bm25_rank,
         CAST(max(CASE WHEN side = 'ann' THEN r END) AS BIGINT)
           AS ann_rank
  FROM u GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id, rrf_score, n_lists, bm25_rank, ann_rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_K}
"""


def _phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase occurrences of "hash join" across the corpus —
    the map-only higher-order-filter form (operators/text.phrase_hits):
    candidate start offsets of the token array filtered INSIDE the
    scan, no postings, no joins — the contamination-string /
    boilerplate-marker gate shape at 100 TB."""
    return text.phrase_hits(load_table(spark, sf_dir, "documents"))


def _blocklist_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy blocklist gate (operators/text.blocklist_hits):
    which of K plan-time banned phrases each doc contains as a
    whole-token run — map-only, the padded token join LET-BOUND so
    tokenize runs once per doc however many phrases probe it."""
    return text.blocklist_hits(load_table(spark, sf_dir, "documents"))


def _pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic entity pseudonymization (operators/text.
    pseudonymize_terms): dictionary terms replaced by stable
    per-ENTITY surrogates in the token stream — the GDPR release
    transform that preserves co-occurrence/linking structure where
    `doc_pii_scrub`'s fixed tags destroy it. Map-only, one tokenize
    per doc, zero shuffle."""
    return text.pseudonymize_terms(
        load_table(spark, sf_dir, "documents"))


def _hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source + merged distinct-VOCABULARY cardinality via the
    deterministic HyperLogLog (operators/sketch.hll_sketch): md5
    bucket/rho arithmetic, integer registers, exact fixed-point
    harmonic sum, ONE double division for the raw estimate — the
    fourth sketch, next to KMV (order statistics), Bloom (membership),
    and CMS (frequency). Token-level so the per-group regime is out of
    HLL's small-range zone (distinct tokens per source ≫ 2.5·m); the
    merged row is built from per-group registers alone (bucket-wise
    max — HLL's merge), never a rescan."""
    from ..functions import tokens
    docs = load_table(spark, sf_dir, "documents")
    occ = (docs.where(F.col("text").isNotNull()
                      & F.col("source").isNotNull())
               .select("source", F.explode(tokens("text")).alias("tok")))
    return sketch.hll_sketch(occ)


# --------------------------------------------------- dup-graph triangles

def _dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle support over the MinHash near-dup graph —
    the clique-vs-chain diagnostic: documents whose pair-edges close
    into triangles are hard duplicates; bridge documents with edges
    but no triangles are threshold artifacts. Degree-oriented wedge
    enumeration (operators/graph.triangle_counts) bounds fan-out by
    graph degeneracy, not hub degree."""
    from ..operators.graph import triangle_counts
    pairs = _lsh_pairs(spark, sf_dir)
    return triangle_counts(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))


def _dup_triangles_sql() -> str:
    # the oracle enumerates each triangle once as an ordered triple
    # x<y<z over the canonical (a<b) edge list — the same triangle set
    # the degree-oriented Spark plan finds, counted per member node
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
e AS (SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      FROM pairs WHERE doc_a <> doc_b),
nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
support AS (
  SELECT node, count(*) AS n FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY 1)
SELECT n.node AS node, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN support s USING (node)
"""


# ------------------------------------------------ ANN recall metric

def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the graded 2-band LSH config vs exact top-k
    (operators/similarity.ann_recall_report) — the band-tuning metric
    as a first-class query over the 10-query evaluation sample."""
    return similarity.ann_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        exact=_exact_topk(spark, sf_dir))


def _ann_recall_sql() -> str:
    # both graded twins inlined into one WITH: the brute-force cos
    # frame and the banded-candidate cos frame, each ranked, joined
    # on (query, neighbor) set membership
    return f"""
WITH {_BASE_CTES},
bq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
bc AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
bscored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
            FROM bq CROSS JOIN bc WHERE neighbor_id <> query_id),
bcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM bscored),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bcos) WHERE rk <= {TOPK_K}
),
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(LSH_TOPK_BANDS)}) AS bucket
           FROM wn),
lq AS (SELECT vec_id AS query_id, bucket FROM melted WHERE vec_id < 10),
lc AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM lq JOIN lc USING (bucket)
         WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
lscored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
            FROM wnp),
lcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM lscored),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM lcos) WHERE rk <= {TOPK_K}
),
hits AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a SEMI JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1
)
SELECT q.query_id AS query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) * 1000000 // {TOPK_K} AS recall_ppm
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h USING (query_id)
"""


def _mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension recall
    (operators/similarity.matryoshka_recall_report): recall@k of
    serving with only the first 16/32/64 components against the
    full-width exact top-k — the dimension-truncation tuning report
    for MRL-trained embeddings. prefix 64 = full width, so its rows
    are the built-in sanity floor (recall 100%)."""
    return similarity.matryoshka_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        exact=_exact_topk_dim(spark, sf_dir))


def _mrl_recall_sql() -> str:
    def prefix_block(p: int) -> str:
        return f"""
p{p}_wn AS (SELECT vec_id, q[1:{p}] AS pq,
            CAST(list_sum(list_transform(q[1:{p}], x -> x * x))
                 AS BIGINT) AS pn2 FROM wn),
p{p}_q AS (SELECT vec_id AS query_id, pq AS qv, pn2 AS qn2 FROM p{p}_wn
           WHERE vec_id < 10),
p{p}_c AS (SELECT vec_id AS neighbor_id, pq AS cv, pn2 AS cn2
           FROM p{p}_wn),
p{p}_cos AS (SELECT query_id, neighbor_id,
             CAST(list_sum(list_transform(qv, (x, i) -> x * cv[i]))
                  AS DOUBLE)
               / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE))
               AS cosine
             FROM p{p}_q CROSS JOIN p{p}_c
             WHERE neighbor_id <> query_id),
p{p}_top AS (SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM p{p}_cos) WHERE rk <= {TOPK_K}),
p{p}_hits AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM p{p}_top a SEMI JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1),
p{p}_out AS (
  SELECT CAST({p} AS BIGINT) AS prefix_dim, q.query_id,
         COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(h.n_hits, 0) * 1000000 // {TOPK_K} AS recall_ppm
  FROM (SELECT DISTINCT query_id FROM exact) q
  LEFT JOIN p{p}_hits h USING (query_id))"""

    prefixes = similarity.MRL_PREFIXES
    blocks = ",".join(prefix_block(p) for p in prefixes)
    union = "\nUNION ALL\n".join(f"SELECT * FROM p{p}_out"
                                 for p in prefixes)
    return f"""
WITH {_BASE_CTES},
bq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
bc AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
bcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM
         (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
          FROM bq CROSS JOIN bc WHERE neighbor_id <> query_id)),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bcos) WHERE rk <= {TOPK_K}
),{blocks}
SELECT * FROM ({union}) ORDER BY prefix_dim, query_id
"""


# -------------------------------------- scalar-quantized (int8) recall

def _sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization recall
    (operators/similarity.sq8_recall_report): recall@k of serving
    reconstructed 1-byte-per-dim codes against the exact full-float
    top-k — the quantization tier between full-width floats and PQ
    (no codebook training, a 1-row min/max bounds frame is the whole
    quantizer). Completes the serving-compression ladder the catalog
    grades: float (exact) → MRL prefixes → SQ8 → PQ → binary."""
    return similarity.sq8_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        exact=_exact_topk_dim(spark, sf_dir))


def _sq8_recall_sql() -> str:
    lv = similarity.SQ8_LEVELS
    return f"""
WITH {_BASE_CTES},
dims AS (SELECT CAST(i AS BIGINT) AS d
         FROM range(1, {similarity.EMB_DIM + 1}) t(i)),
bnd AS (SELECT d, min(q[d]) AS mn_v, max(q[d]) AS mx_v
        FROM wn, dims GROUP BY d),
bd AS (SELECT list(mn_v ORDER BY d) AS mn,
              list(mx_v ORDER BY d) AS mx FROM bnd),
coded AS (SELECT vec_id,
    list_transform(q, (x, i) -> CASE WHEN mx[i] > mn[i]
        THEN ((x - mn[i]) * {lv}) // (mx[i] - mn[i]) ELSE 0 END) AS code
  FROM wn, bd),
recon AS (SELECT vec_id,
    list_transform(code, (c, i) ->
        mn[i] + (c * (mx[i] - mn[i])) // {lv}) AS rv
  FROM coded, bd),
rn AS (SELECT vec_id, rv,
       CAST(list_sum(list_transform(rv, x -> x * x)) AS BIGINT) AS rn2
  FROM recon),
bq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
bc AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
bcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM
         (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
          FROM bq CROSS JOIN bc WHERE neighbor_id <> query_id)),
exact AS (SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bcos) WHERE rk <= {TOPK_K}),
ac AS (SELECT vec_id AS neighbor_id, rv AS cv, rn2 AS cn2 FROM rn),
acos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM
         (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
          FROM bq CROSS JOIN ac WHERE neighbor_id <> query_id)),
atop AS (SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM acos) WHERE rk <= {TOPK_K}),
hits AS (SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM atop a SEMI JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1)
SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) * 1000000 // {TOPK_K} AS recall_ppm
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h USING (query_id)
ORDER BY query_id
"""


# ----------------------------------- binary-code Hamming top-k serving

def _hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit binary codes + multi-index Hamming top-k
    (operators/similarity.hamming_topk): 64 float dims → 8 bytes of
    code; candidates share at least one 1-byte substring (pigeonhole-
    exact within Hamming radius 7), distance is two XOR+popcount
    words. The cheapest serving tier the engine offers — 32× less
    vector state than floats, integer-only distance, LSH-bucket join
    shape."""
    return similarity.hamming_topk(load_table(spark, sf_dir, "embeddings"))


def _hamming_topk_sql() -> str:
    w = similarity.HAM_BAND_BITS
    nb = similarity.HAM_BANDS

    def band_expr(b: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN q[{b * w + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(w))
        return f"CAST({terms} AS BIGINT)"

    band_cols = ",\n       ".join(f"{band_expr(b)} AS band{b}"
                                  for b in range(nb))
    half = nb // 2
    lo = " + ".join(f"band{b} * {1 << (b * w)}" for b in range(half))
    hi = " + ".join(f"band{b} * {1 << ((b - half) * w)}"
                    for b in range(half, nb))
    band_list = "[" + ", ".join(f"band{b}" for b in range(nb)) + "]"
    return f"""
WITH {_BASE_CTES},
codes AS (SELECT vec_id,
       {band_cols}
  FROM wn),
packed AS (SELECT vec_id, {lo} AS hash_lo, {hi} AS hash_hi,
                  {band_list} AS bands FROM codes),
melted AS (SELECT vec_id, hash_hi, hash_lo,
       CAST(i - 1 AS INT) AS band_id, bands[CAST(i AS INT)] AS bkey
  FROM packed, range(1, {nb + 1}) t(i)),
q AS (SELECT vec_id AS query_id, hash_hi AS q_hi, hash_lo AS q_lo,
             band_id, bkey FROM melted WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, hash_hi AS c_hi, hash_lo AS c_lo,
             band_id, bkey FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id, q_hi, q_lo, c_hi, c_lo
  FROM q JOIN c USING (band_id, bkey) WHERE neighbor_id <> query_id),
scored AS (SELECT query_id, neighbor_id,
       CAST(bit_count(xor(q_hi, c_hi))
            + bit_count(xor(q_lo, c_lo)) AS BIGINT) AS hamming
  FROM cand)
SELECT query_id, neighbor_id, hamming, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, hamming,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY hamming ASC, neighbor_id ASC) AS BIGINT) AS rk
  FROM scored) WHERE rk <= {TOPK_K}
"""


# --------------------------------- exact set-similarity (prefix filter)

def _ssjoin_prefix_sql() -> str:
    return f"""
WITH toks AS ({TOKS_CTE}),
sh0 AS ({SHINGLES_CTE}),
tok AS (SELECT doc_id AS doc, shingle AS token FROM sh0),
dfc AS (SELECT token, count(*) AS dfc FROM tok GROUP BY 1),
keyed AS (SELECT doc,
          lpad(CAST(dfc AS VARCHAR), 10, '0') || ':' || token AS k
          FROM tok JOIN dfc USING (token)),
perdoc AS (SELECT doc, list_sort(list(k)) AS ks FROM keyed GROUP BY 1),
pre AS (SELECT doc, CAST(len(ks) AS BIGINT) AS sz,
        unnest(ks[1 : CAST(len(ks) - ((len(ks) + 1) // 2) + 1 AS INT)])
          AS k
        FROM perdoc),
cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                a.sz AS sz_a, b.sz AS sz_b
  FROM pre a JOIN pre b USING (k)
  WHERE a.doc < b.doc
    AND least(a.sz, b.sz) * 2 >= greatest(a.sz, b.sz)),
inter AS (SELECT doc_a, doc_b, sz_a, sz_b,
                 CAST(count(*) AS BIGINT) AS n_common
  FROM cand JOIN tok ta ON ta.doc = cand.doc_a
            JOIN tok tb ON tb.doc = cand.doc_b AND tb.token = ta.token
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b, n_common, jaccard FROM (
  SELECT doc_a, doc_b, n_common,
         n_common / (sz_a + sz_b - n_common) AS jaccard FROM inter)
WHERE jaccard >= 0.5
"""


# ------------------------------------------ perceptual image dedup

def _phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual aHash duplicate grouping over REAL decoded images
    (operators/multimodal.ahash_dup_groups): the multimodal near-dup
    key — resize-invariant, so byte-level dedup can't replicate it.
    The oracle recomputes every hash bit from the fixture's
    deterministic text→pixel tiling."""
    media = multimodal.documents_as_ppm_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.ahash_dup_groups(media)


def _ahash_bits_ctes(neardup_mod: int | None = None) -> str:
    """CTE chain recomputing every aHash bit from the fixture's
    deterministic text→pixel tiling, ending in
    bits(doc_id, hash_hi, hash_lo) — shared by the exact-hash dedup
    oracle and the banded near-dup oracle.

    `neardup_mod` mirrors `documents_as_ppm_media`'s injected
    near-dup copies: for every doc with id % mod == 0, a copy at
    doc_id + NEARDUP_ID_OFFSET whose FIRST PIXEL is forced white.
    Dimensions come from the ORIGINAL id (the fixture reuses them),
    and pixel (0,0) feeds exactly aHash grid cell k = 0 (cell k
    samples source pixel ((k div 8)·h div 8, (k mod 8)·w div 8),
    which is (0,0) only at k = 0 for any w,h ≥ 8) — so the copy's
    gray[0] is 255 and everything else, including the shifted mean,
    recomputes from that."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) "
               f"+ ({digit.format(i='2*p+2')})")
    src = "(((k // 8) * h // 8) * w + ((k % 8) * w // 8)) * 3"
    gray_k = (f"(vals[({src} + 0) % nb + 1] + vals[({src} + 1) % nb + 1]"
              f" + vals[({src} + 2) % nb + 1]) // 3")
    inj = "" if neardup_mod is None else f"""
  UNION ALL
  SELECT doc_id + {multimodal.NEARDUP_ID_OFFSET} AS doc_id, 1 AS inj,
         hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
         CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + doc_id % 7 AS BIGINT) AS h
  FROM documents
  WHERE text IS NOT NULL AND doc_id % {neardup_mod} = 0"""
    return f"""m AS (
  SELECT doc_id, 0 AS inj, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + doc_id % 7 AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL{inj}
),
v AS (
  SELECT doc_id, inj, w, h, nb,
         CASE WHEN nb = 0 THEN []
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
),
g AS (
  SELECT doc_id,
         list_transform(range(64), k ->
           CASE WHEN inj = 1 AND k = 0 THEN 255
                WHEN nb = 0 THEN 0
                ELSE {gray_k} END) AS gray
  FROM v
),
s AS (SELECT doc_id, gray,
             CAST(list_sum(gray) AS BIGINT) // 64 AS mean FROM g),
bits AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN gray[k + 33] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_hi,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN gray[k + 1] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_lo
  FROM s
)"""


def _phash_dedup_sql() -> str:
    return f"""
WITH {_ahash_bits_ctes()}
SELECT doc_id AS media_id, hash_hi, hash_lo,
       CAST(count(*) OVER w AS BIGINT) AS n_copies,
       CAST(min(doc_id) OVER w AS BIGINT) AS keep_id
FROM bits
WINDOW w AS (PARTITION BY hash_hi, hash_lo)
"""


# ------------------------------------- banded image near-dup pairs

IMG_NEARDUP_MOD = 10     # every 10th doc gets an injected near-dup copy


def _image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup pairs (operators/multimodal.ahash_neardup_pairs):
    8×1-byte banding over the 64-bit aHash, candidates on band
    collision, popcount-hamming verify ≤ IMG_MAX_HAMMING — exact
    recall at this radius by pigeonhole (7 flips can't touch all 8
    bands). The fixture injects a first-pixel-white near-dup copy for
    every 10th doc (the dirty-name discipline: the corruption is
    deterministic and part of the query), so the graded pair list is
    ~corpus/10 rows, not whatever natural collisions the tiling
    happens to produce. Every hash bit and the hamming verdict are
    recomputed by the oracle from the decoded fixture pixels —
    injected copies included."""
    media = multimodal.documents_as_ppm_media(
        load_table(spark, sf_dir, "documents"),
        neardup_mod=IMG_NEARDUP_MOD)
    return multimodal.ahash_neardup_pairs(media)


def _image_neardup_sql() -> str:
    key = ("CASE WHEN band < 4 THEN (hash_lo >> (8 * band)) & 255 "
           "ELSE (hash_hi >> (8 * (band - 4))) & 255 END")
    return f"""
WITH {_ahash_bits_ctes(neardup_mod=IMG_NEARDUP_MOD)},
melted AS (
  SELECT doc_id, hash_hi, hash_lo, {key} AS key, band
  FROM bits, UNNEST(range(8)) u(band)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.hash_hi, b.hash_hi))
              + bit_count(xor(a.hash_lo, b.hash_lo)) AS BIGINT) AS hamming
  FROM melted a JOIN melted b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {IMG_MAX_HAMMING}
"""


# ------------------------------------------ perceptual audio dedup

def _audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint dedup groups over REAL decoded WAV samples
    (operators/multimodal.audio_fingerprint_groups) — the audio
    column of the modality dedup matrix."""
    media = multimodal.documents_as_wav_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.audio_fingerprint_groups(media)


def _audio_dedup_sql() -> str:
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) "
               f"+ ({digit.format(i='2*p+2')})")
    grid = multimodal.AUDIO_FP_POINTS
    pt_k = f"vals[(k * nb) // {grid} + 1]"
    return f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents WHERE text IS NOT NULL
),
v AS (
  SELECT doc_id, nb,
         list_transform(range(nb), p -> {byte_at}) AS vals
  FROM m WHERE nb > 0
),
pts AS (
  SELECT doc_id,
         list_transform(range({grid}), k -> {pt_k}) AS pts
  FROM v
),
s AS (SELECT doc_id, pts,
             CAST(list_sum(pts) AS BIGINT) // {grid} AS mean FROM pts),
bits AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN pts[k + 33] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_hi,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN pts[k + 1] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_lo
  FROM s
)
SELECT doc_id AS media_id, hash_hi, hash_lo,
       CAST(count(*) OVER w AS BIGINT) AS n_copies,
       CAST(min(doc_id) OVER w AS BIGINT) AS keep_id
FROM bits
WINDOW w AS (PARTITION BY hash_hi, hash_lo)
"""


# ------------------------------------------- BPE tokenizer training

def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merge rules learned from the corpus
    (operators/text.bpe_train): iterative argmax-pair fusion over the
    vocabulary-sized word-frequency table — the tokenizer-side
    artifact of the pipeline.

    Serves the `_get_bpe_merges` memo (optimization r11, guide §2.4
    reuse): `doc_bpe_encode` already trained through the memo, so the
    old form ran the ENTIRE 6-round training a second time for this
    row. The merge list is ≤ `BPE_ROUNDS` rows by construction (the
    quantizer discipline), so rebuilding the frame from the memoized
    rows is exact."""
    from pyspark.sql import types as T
    rows = _get_bpe_merges(spark, sf_dir)
    schema = T.StructType([
        T.StructField("round", T.LongType()),
        T.StructField("x", T.StringType()),
        T.StructField("y", T.StringType()),
        T.StructField("pair_n", T.LongType())])
    return spark.createDataFrame(
        [(r["round"], r["x"], r["y"], r["pair_n"]) for r in rows], schema)


def _bpe_chain() -> str:
    # unrolled rounds, MATERIALIZED (each words{r} feeds both the pair
    # count and the rewrite; plain inlining re-expands the corpus
    # tokenization once per reference). DuckDB's replace() is
    # left-to-right non-overlapping like Spark's — BPE's greedy
    # application. Shared by the training and encoding oracles.
    steps = []
    for r in range(text.BPE_ROUNDS):
        steps.append(f"""
pairs{r} AS MATERIALIZED (
  SELECT x, y, CAST(sum(cnt) AS BIGINT) AS pair_n FROM (
    SELECT s[i+1] AS x, s[i+2] AS y, cnt FROM (
      SELECT string_split(trim(w), ' ') AS s, cnt FROM words{r}),
      UNNEST(range(len(s) - 1)) u(i))
  GROUP BY 1, 2),
best{r} AS MATERIALIZED (
  SELECT CAST({r + 1} AS BIGINT) AS round, x, y, pair_n
  FROM pairs{r} ORDER BY pair_n DESC, x ASC, y ASC LIMIT 1),
words{r + 1} AS MATERIALIZED (
  SELECT replace(w, ' ' || x || ' ' || y || ' ',
                 ' ' || x || y || ' ') AS w, cnt
  FROM words{r}, best{r})""")
    return f"""occ AS MATERIALIZED (
  SELECT doc_id, unnest({tokens_sql()}) AS word
  FROM documents WHERE text IS NOT NULL),
words0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w,
         CAST(count(*) AS BIGINT) AS cnt
  FROM occ GROUP BY 1),{','.join(steps)}"""


def _bpe_sql() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT round, x, y, pair_n FROM best{r}"
        for r in range(text.BPE_ROUNDS))
    return f"""
WITH {_bpe_chain()}
{union}
"""


@artifact("bpe_merges")
def _get_bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The learned merge list, memoized per (session, corpus):
    doc_bpe_merges and doc_bpe_encode share one training run instead
    of the encode entry silently re-running the full 6-round job at
    plan-build."""
    return (text.bpe_train(load_table(spark, sf_dir, "documents"))
                .orderBy("round").collect())


def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-encoded with its own learned BPE merges: per-doc BPE
    token counts (operators/text.bpe_encode_counts) — the tokenizer-
    aware size accounting a packing/cost pass consumes."""
    return text.bpe_encode_counts(load_table(spark, sf_dir, "documents"),
                                  merges=_get_bpe_merges(spark, sf_dir))


def _bpe_encode_sql() -> str:
    # word→segmentation map rewritten by the same best{r} chain the
    # training oracle derives, then per-doc symbol accounting
    maps = []
    for r in range(text.BPE_ROUNDS):
        maps.append(f"""
map{r + 1} AS MATERIALIZED (
  SELECT word, replace(w, ' ' || x || ' ' || y || ' ',
                       ' ' || x || y || ' ') AS w
  FROM map{r}, best{r})""")
    return f"""
WITH {_bpe_chain()},
map0 AS MATERIALIZED (
  SELECT DISTINCT word,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS w
  FROM occ),{','.join(maps)}
SELECT o.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(trim(m.w), ' '))) AS BIGINT)
         AS n_bpe_tokens
FROM occ o JOIN map{text.BPE_ROUNDS} m USING (word)
GROUP BY 1
"""


# --------------------------------------- exact-k stratified sample



def _stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k docs per source by smallest salted hash
    (operators/text.stratified_reservoir) — the fixed-size
    deterministic sampling design next to rate-based mix_sample and
    Poisson weighted_sample."""
    return text.stratified_reservoir(load_table(spark, sf_dir, "documents"))


_STRATIFIED_RESERVOIR_SQL = f"""
SELECT stratum, doc_id, pick FROM (
  SELECT source AS stratum, doc_id,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY {h60_sql(f"'{RESERVOIR_SALT}:' || CAST(doc_id AS VARCHAR)")}
                    ASC, doc_id ASC) AS BIGINT) AS pick
  FROM documents WHERE source IS NOT NULL)
WHERE pick <= {RESERVOIR_K}
"""


# ------------------------------------ distribution-shape profiling

def _length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source equi-width doc-length histogram over GLOBAL bin
    edges (operators/checks.equiwidth_histogram) — the shape profile
    next to the point stats of eth_table_profile."""
    from ..operators.checks import equiwidth_histogram
    return equiwidth_histogram(load_table(spark, sf_dir, "documents"))


_LENGTH_HISTOGRAM_SQL = f"""
WITH vals AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
rng AS (SELECT min(x) AS lo, max(x) AS hi FROM vals),
binned AS (
  SELECT grp,
         CAST(least({HIST_BINS - 1},
                    (x - lo) * {HIST_BINS} // (hi - lo + 1)) AS BIGINT)
           AS bin, lo, hi
  FROM vals, rng
)
SELECT grp AS source, bin,
       CAST(min(lo + bin * (hi - lo + 1) // {HIST_BINS}) AS BIGINT)
         AS bin_lo,
       CAST(min(lo + (bin + 1) * (hi - lo + 1) // {HIST_BINS} - 1)
            AS BIGINT) AS bin_hi,
       CAST(count(*) AS BIGINT) AS n
FROM binned GROUP BY grp, bin
"""


def _length_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source equi-DEPTH (decile-bin) doc-length histogram
    (operators/checks.equidepth_histogram) — quantile boundaries
    next to the equi-width shape profile."""
    from ..operators.checks import equidepth_histogram
    return equidepth_histogram(load_table(spark, sf_dir, "documents"))


_LENGTH_QUANTILE_BINS_SQL = f"""
WITH vals AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS cnt
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY 1, 2
),
binned AS (
  SELECT grp, x, cnt,
         CAST(ntile({HIST_BINS}) OVER (ORDER BY x ASC, grp ASC) - 1
              AS BIGINT) AS bin
  FROM vals
)
SELECT grp AS source, bin, CAST(min(x) AS BIGINT) AS lo,
       CAST(max(x) AS BIGINT) AS hi, CAST(sum(cnt) AS BIGINT) AS n
FROM binned GROUP BY 1, 2
"""


def _length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier census (median/MAD, exact integer
    order statistics — operators/checks.robust_outlier_census)."""
    from ..operators.checks import robust_outlier_census
    return robust_outlier_census(load_table(spark, sf_dir, "documents"))


_LENGTH_OUTLIERS_SQL = f"""
WITH vals AS (
  SELECT source AS grp, CAST(n_chars AS BIGINT) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
med AS (
  SELECT grp, x AS median FROM (
    SELECT grp, x,
           row_number() OVER (PARTITION BY grp ORDER BY x) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM vals)
  WHERE rn = (n - 1) // 2 + 1
),
dev AS (
  SELECT v.grp, v.x, m.median, abs(v.x - m.median) AS d
  FROM vals v JOIN med m USING (grp)
),
mad AS (
  SELECT grp, d AS mad FROM (
    SELECT grp, d,
           row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
           count(*) OVER (PARTITION BY grp) AS n
    FROM dev)
  WHERE rn = (n - 1) // 2 + 1
)
SELECT dev.grp AS source, CAST(count(*) AS BIGINT) AS n,
       CAST(min(dev.median) AS BIGINT) AS median,
       CAST(min(mad.mad) AS BIGINT) AS mad,
       CAST(sum(CASE WHEN dev.d > {OUTLIER_K} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN dev.d > {OUTLIER_K} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) * 1000000
         // CAST(count(*) AS BIGINT) AS outlier_ppm
FROM dev JOIN mad USING (grp)
GROUP BY dev.grp
"""


# ------------------------------------------- SemDeDup (cell flavor)

def _semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-partitioned semantic dedup (SemDeDup, Abbas et al.
    2023): k-means cell assignment, in-cell pairwise cosine, greedy
    min-id survivor (operators/similarity.semdedup_cells). The
    LSH-graph flavor is emb_semantic_dedup; this one's pair join is
    quadratic only within a cell."""
    return similarity.semdedup_cells(
        load_table(spark, sf_dir, "embeddings"), get_quantizers()[0])


def _semdedup_cells_sql() -> str:
    return f"""
WITH {_BASE_CTES},
cells AS (SELECT vec_id, q, n2, {_ivf_cell_sql()} AS cell FROM wn),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS.replace('CAST(dot AS DOUBLE)', f'CAST(({_DOT}) AS DOUBLE)')}
             AS cosine
    FROM (SELECT vec_id, q AS qv, n2 AS qn2, cell FROM cells) a
    JOIN (SELECT vec_id, q AS cv, n2 AS cn2, cell FROM cells) b
      USING (cell)
    WHERE a.vec_id < b.vec_id)
  WHERE cosine >= {NEARDUP_COS}
),
dup_counts AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_dups FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY 1
),
dropped AS (SELECT DISTINCT id_b AS node FROM pairs)
SELECT c.vec_id AS vec_id, c.cell AS cell,
       COALESCE(dc.n_dups, 0) AS n_dups,
       CAST(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS keep
FROM cells c
LEFT JOIN dup_counts dc ON dc.node = c.vec_id
LEFT JOIN dropped dr ON dr.node = c.vec_id
"""


# ---------------------------------------------- weighted sampling



def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson πps sample, inclusion ∝ n_chars
    (operators/text.weighted_sample): one broadcast totals row into a
    codegen filter — no corpus shuffle, no rand()."""
    return text.weighted_sample(load_table(spark, sf_dir, "documents"))


_WEIGHTED_SAMPLE_SQL = f"""
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
),
tot AS (
  SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(count(*) AS BIGINT) AS n
  FROM base
)
SELECT doc_id, w,
       least(CAST({text.PPB} AS BIGINT),
             w * {WSAMPLE_PPB} // (tw // n)) AS p_ppb
FROM base, tot
WHERE ({h60_sql("'wsample-v1:' || CAST(doc_id AS VARCHAR)")}) % {text.PPB}
      < least(CAST({text.PPB} AS BIGINT),
              w * {WSAMPLE_PPB} // (tw // n))
"""


# --------------------------------------------------- k-core peel



def _dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership over the MinHash near-dup graph
    (operators/graph.kcore_peel, k=2, 4 peel rounds): dense duplicate
    communities survive the recursive peel, chains and stars of
    borderline pairs do not — the cohesion diagnostic between raw
    degree and triangle support."""
    from ..operators.graph import kcore_peel
    pairs = _lsh_pairs(spark, sf_dir)
    return kcore_peel(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))


def _dup_kcore_sql() -> str:
    # unrolled peel, same determinism contract as _pagerank_sql: each
    # round keeps edges whose BOTH endpoints have degree >= KCORE_K in the
    # previous round's subgraph; survivors are the final endpoints.
    # Every e{r} is referenced FOUR times by the next round (degree
    # union + two IN probes) — MATERIALIZED keeps DuckDB's CTE
    # inlining from re-expanding the minhash pipeline 4^rounds times
    peel = []
    for r in range(KCORE_ROUNDS):
        prev, cur = f"e{r}", f"e{r + 1}"
        peel.append(f"""
k{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY 1) WHERE deg >= {KCORE_K}),
{cur} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM k{r})
    AND b IN (SELECT node FROM k{r}))""")
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(doc_a, doc_b) AS a,
                  greatest(doc_a, doc_b) AS b
  FROM pairs WHERE doc_a <> doc_b),
nodes AS (SELECT a AS node FROM e0 UNION SELECT b FROM e0),
{','.join(peel)},
core AS (SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
  SELECT a AS node FROM e{KCORE_ROUNDS} UNION ALL SELECT b FROM e{KCORE_ROUNDS})
  GROUP BY 1)
SELECT n.node AS node,
       CAST(CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS in_core,
       CAST(COALESCE(c.core_deg, 0) AS BIGINT) AS core_deg
FROM nodes n LEFT JOIN core c USING (node)
"""


# -------------------------------------------- ordered novelty

def _novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle novelty vs all earlier docs
    (operators/text.shingle_novelty) — the dedup-ROI estimator."""
    return text.shingle_novelty(load_table(spark, sf_dir, "documents"))


_NOVELTY_SQL = f"""
WITH toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
flagged AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY shingle) AS first_seen
  FROM sh
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_redundant,
       (CAST(count(*) AS BIGINT)
        - CAST(sum(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END)
               AS BIGINT)) * 1000000 // CAST(count(*) AS BIGINT)
         AS novelty_ppm
FROM flagged GROUP BY 1
"""


# -------------------------------------- MinHash estimator quality

def _minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-implied Jaccard vs exact per verified pair — the
    K-tuning metric (operators/dedup.minhash_estimator_quality),
    emb_ann_recall's text-side twin."""
    return dedup.minhash_estimator_quality(
        load_table(spark, sf_dir, "documents"),
        pairs=_lsh_pairs(spark, sf_dir))


def _minhash_quality_sql() -> str:
    k = dedup.MINHASH_K
    matches = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(k))
    mins = ", ".join(
        f"min({affine_hash_sql('h', a, b)}) AS m{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_FAMILY))
    return f"""
WITH pairs AS MATERIALIZED ({_minhash_pairs_sql()}),
toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
hashed AS (SELECT doc_id, {h32_sql('shingle')} AS h FROM sh),
sig AS MATERIALIZED (SELECT doc_id, {mins} FROM hashed GROUP BY 1),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
enriched AS (
  SELECT p.doc_a, p.doc_b, p.n_common,
         za.sz AS sz_a, zb.sz AS sz_b,
         CAST(({matches}) AS BIGINT) AS sig_matches
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
  JOIN sz za ON za.doc_id = p.doc_a
  JOIN sz zb ON zb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, sig_matches,
       sig_matches * 1000000 // {k} AS est_jaccard_ppm,
       n_common * 1000000 // (sz_a + sz_b - n_common)
         AS exact_jaccard_ppm,
       sig_matches * 1000000 // {k}
         - n_common * 1000000 // (sz_a + sz_b - n_common) AS err_ppm
FROM enriched
"""


def _neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH RECALL against exact ground truth, per Jaccard band — the
    audit `doc_minhash_quality` cannot do: estimator quality scores
    only the pairs LSH FOUND, while this measures the pairs it
    MISSED, using `ssjoin_prefix_pairs` (exact, zero recall loss) as
    the reference set. One row per jaccard decile ≥ the 0.5
    threshold: how many true pairs exist there, how many the banded
    MinHash index surfaced, and the recall in exact ppm — the
    K/bands tuning readout run at corpus scale, exactly the audit
    role SCALE.md assigns the exact tier. The LSH side reuses the
    memoized shared pair graph; the band comes from the identical
    IEEE double both engines compute, truncated to an int decile."""
    exact = _ssjoin_pairs(spark, sf_dir)
    lsh = (_lsh_pairs(spark, sf_dir)
           .select("doc_a", "doc_b", F.lit(1).alias("found")))
    j = (exact.join(lsh, ["doc_a", "doc_b"], "left")
              .select(F.expr("least(9, CAST(floor(jaccard * 10) AS INT))")
                       .alias("band"),
                      F.coalesce("found", F.lit(0)).alias("found")))
    return (j.groupBy("band")
             .agg(F.count(F.lit(1)).cast("long").alias("n_exact"),
                  F.expr("CAST(sum(found) AS BIGINT)").alias("n_found"))
             .withColumn("recall_ppm",
                         F.expr("n_found * 1000000 div n_exact"))
             .orderBy("band"))


def _neardup_recall_sql() -> str:
    return f"""
WITH exact AS MATERIALIZED ({_ssjoin_prefix_sql()}),
lsh AS MATERIALIZED ({_minhash_pairs_sql()}),
j AS (
  SELECT least(9, CAST(floor(e.jaccard * 10) AS INTEGER)) AS band,
         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
  FROM exact e
  LEFT JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(found) AS BIGINT) AS n_found,
       CAST(sum(found) AS BIGINT) * 1000000 // count(*) AS recall_ppm
FROM j GROUP BY 1 ORDER BY 1
"""


# --------------------------------------- KMV pairwise set overlap

def _source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shared-distinct-documents estimates between sources
    from KMV sketch algebra alone (operators/sketch.kmv_pair_overlap)
    — 190 pair estimates from k rows per source, zero per-pair corpus
    rescans."""
    return sketch.kmv_pair_overlap(load_table(spark, sf_dir, "documents"))


# ------------------------------------------ containment (excerpts)

def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |S_A∩S_B|/|S_A| in exact ppm —
    the excerpt/superset detector Jaccard misses
    (operators/dedup.containment_pairs)."""
    return dedup.containment_pairs(load_table(spark, sf_dir, "documents"))


def _containment_sql() -> str:
    t = dedup.CONTAINMENT_PPM
    return f"""
WITH toks AS ({TOKS_CTE}),
sh0 AS ({SHINGLES_CTE}),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle
         HAVING count(*) <= {dedup.DEFAULT_MAX_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, sz_a, sz_b, cont_a_ppm, cont_b_ppm
FROM (
  SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
         CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
         n_common * 1000000 // sa.sz AS cont_a_ppm,
         n_common * 1000000 // sb.sz AS cont_b_ppm
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
) WHERE greatest(cont_a_ppm, cont_b_ppm) >= {t}
"""


# ------------------------------------------------ LPA communities



def _dup_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the MinHash near-dup graph
    (operators/graph.lpa_communities): separates loosely-bridged dup
    communities that connected components would fuse."""
    from ..operators.graph import lpa_communities
    pairs = _lsh_pairs(spark, sf_dir)
    return lpa_communities(
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")))


def _dup_lpa_sql() -> str:
    # synchronous unrolled rounds; lab{r} feeds both the vote join and
    # nothing else, but ed is referenced every round → MATERIALIZED
    steps = []
    for r in range(LPA_ROUNDS):
        steps.append(f"""
lab{r + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                ORDER BY c DESC, label ASC) AS rk
    FROM (SELECT ed.d AS node, l.label, count(*) AS c
          FROM ed JOIN lab{r} l ON ed.s = l.node
          GROUP BY 1, 2))
  WHERE rk = 1)""")
    return f"""
WITH pairs AS ({_minhash_pairs_sql()}),
und AS (SELECT DISTINCT least(doc_a, doc_b) AS a,
                        greatest(doc_a, doc_b) AS b
        FROM pairs WHERE doc_a <> doc_b),
ed AS MATERIALIZED (
  SELECT a AS s, b AS d FROM und UNION ALL SELECT b, a FROM und),
lab0 AS MATERIALIZED (
  SELECT DISTINCT s AS node, s AS label FROM ed),{','.join(steps)},
sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
          FROM lab{LPA_ROUNDS} GROUP BY 1)
SELECT l.node AS node, l.label AS community, s.n_members AS n_members
FROM lab{LPA_ROUNDS} l JOIN sizes s USING (label)
"""


# ---------------------------------------------- bigram-LM fluency

def _bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean corpus-conditional bigram probability in fixed
    point (operators/text.bigram_fluency) — the CCNet-style n-gram-LM
    quality gate, corpus-self-trained."""
    return text.bigram_fluency(load_table(spark, sf_dir, "documents"))


_BIGRAM_FLUENCY_SQL = f"""
WITH toks AS ({TOKS_CTE}),
bg AS (
  SELECT doc_id, t[i+1] AS w1, t[i+2] AS w2
  FROM toks, UNNEST(range(len(t) - 1)) u(i)
  WHERE len(t) >= 2
),
stats AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY w1, w2) AS c2,
         count(*) OVER (PARTITION BY w1) AS c1
  FROM bg
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(c2 * {text.PPB} // c1) AS BIGINT) AS sum_prob_ppb,
       CAST(sum(c2 * {text.PPB} // c1) AS BIGINT) // count(*)
         AS fluency_ppb
FROM stats GROUP BY doc_id
"""


# ------------------------------------------- count-min heavy hitters

def _heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens next to their count-min estimates
    (operators/sketch.cms_heavy_hitters). The hash pins the CMS
    overestimate guarantee (cms_cnt >= exact_cnt) on every row."""
    return sketch.cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


# -------------------------------------------- exact substring spans

def _substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact duplicated-substring census (Lee et al. 2022's
    exact-substring-dedup signal, inverted-gram-index formulation):
    merged char spans covered by any 20-char gram occurring >= 2
    times corpus-wide (operators/dedup.substring_dup_spans). One
    posting per corpus character shuffles; span merge is per-doc."""
    return dedup.substring_dup_spans(
        load_table(spark, sf_dir, "documents"))


_SUBSTR_L = dedup.SUBSTR_GRAM_LEN

_SUBSTRING_SPANS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL AND length(text) >= {_SUBSTR_L}
),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, CAST(n - {_SUBSTR_L - 1} AS BIGINT))) AS pos
  FROM base
),
keyed AS (
  -- the posting key is engine-internal (Spark uses xxhash64); the
  -- oracle groups on the gram itself — only the SPANS must agree
  SELECT doc_id, pos,
         substr(text, CAST(pos AS INT), {_SUBSTR_L}) AS gk
  FROM pos
),
dup AS (SELECT gk FROM keyed GROUP BY 1 HAVING count(*) >= 2),
hits AS (SELECT k.doc_id, k.pos FROM keyed k
         SEMI JOIN dup d USING (gk)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos - lag(pos) OVER w >= {_SUBSTR_L}
              THEN 1 ELSE 0 END AS nf
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS iid
  FROM isl
),
spans AS (
  SELECT doc_id, iid, min(pos) AS s, max(pos) + {_SUBSTR_L - 1} AS e
  FROM isl2 GROUP BY doc_id, iid
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(p.dup_chars, 0) AS dup_chars,
       COALESCE(p.dup_chars, 0) * 1000000 // length(d.text) AS dup_frac_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
WHERE d.text IS NOT NULL
"""



# --------------------------------------------- kNN graph / mix / PMI

@artifact("knn_graph")
def _knn_graph_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog's standard-parameter kNN graph, memoized per
    (session, corpus) like `_lsh_pairs` — `emb_knn_graph` and
    `emb_knn_linkpred` consume the SAME banded-candidates + exact-
    rerank computation."""
    return checkpoint(similarity.knn_graph(
        load_table(spark, sf_dir, "embeddings")))


def _knn_graph_sql() -> str:
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(MULTIBAND_BANDS)}) AS bucket FROM wn),
qs AS (SELECT vec_id AS query_id, bucket FROM melted),
c AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM qs JOIN c USING (bucket)
         WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
SELECT query_id AS vec_id, neighbor_id, cosine, rk AS "rank" FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rk
  FROM cos
) WHERE rk <= {TOPK_K}
"""




def _collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocation bigrams by PMI lift
    (operators/text.collocations) — tokenizer-vocab candidates and
    boilerplate phrase discovery."""
    return text.collocations(load_table(spark, sf_dir, "documents"))


_COLLOCATIONS_SQL = f"""
WITH toks AS ({TOKS_CTE}),
bg AS (SELECT t[i+1] AS w1, t[i+2] AS w2
       FROM toks, UNNEST(range(len(t) - 1)) u(i) WHERE len(t) >= 2),
bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
        FROM bg GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_bi FROM bgc),
stats AS (SELECT w1, w2, n_xy,
          CAST(sum(n_xy) OVER (PARTITION BY w1) AS BIGINT) AS n_x,
          CAST(sum(n_xy) OVER (PARTITION BY w2) AS BIGINT) AS n_y
          FROM bgc),
lifted AS (SELECT w1, w2, n_xy, n_x, n_y,
           CAST(n_xy AS DOUBLE) * CAST(n_bi AS DOUBLE) /
             (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)) AS lift
           FROM stats, tot WHERE n_xy >= {COLLOC_MIN_COUNT})
SELECT w1, w2, n_xy, n_x, n_y, lift, "rank" FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY lift DESC, w1 ASC, w2 ASC)
                 AS BIGINT) AS "rank" FROM lifted)
WHERE "rank" <= {COLLOC_TOP_K}
"""




def _mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=1/2) training-mix apportionment with exact
    largest-remainder budget accounting
    (operators/text.mixture_weights)."""
    return text.mixture_weights(load_table(spark, sf_dir, "documents"))


_MIXTURE_WEIGHTS_SQL = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
  FROM documents WHERE source IS NOT NULL GROUP BY source),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS total_w FROM counts),
quotas AS (SELECT c.source, c.n_docs, c.weight,
           (c.weight * {MIX_BUDGET}) // t.total_w AS quota,
           (c.weight * {MIX_BUDGET}) % t.total_w AS rem
           FROM counts c, tot t),
seats AS (SELECT *,
          CAST({MIX_BUDGET} - (SELECT CAST(sum(quota) AS BIGINT)
                               FROM quotas) AS BIGINT) AS n_left,
          row_number() OVER (ORDER BY rem DESC, source ASC) AS seat_rank
          FROM quotas)
SELECT source, n_docs, weight,
       CAST(quota + CASE WHEN seat_rank <= n_left THEN 1 ELSE 0 END
            AS BIGINT) AS target_docs
FROM seats
"""



def _kmeans_assign_sql() -> str:
    """Unrolled-CTE twin: per round an assignment CTE (argmin cell
    over the k-row centroid table, ties -> smallest cell) and an
    update CTE (per-component offset-mean, floor==trunc on the
    non-negative numerator)."""
    off = similarity.KMEANS_MEAN_OFF
    dim = similarity.EMB_DIM
    dist = ("CAST(list_sum(list_transform(list_zip(w.q, c.c), "
            "s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)")
    ctes = [f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell, q AS c
  FROM (SELECT vec_id, q FROM wn ORDER BY vec_id LIMIT {KMEANS_K}))"""]
    for r in range(1, KMEANS_ROUNDS + 1):
        ctes.append(f"""a{r} AS (
  SELECT vec_id, q, cell, dist2 FROM (
    SELECT w.vec_id, w.q, c.cell, {dist} AS dist2,
           row_number() OVER (PARTITION BY w.vec_id
                ORDER BY {dist}, c.cell) AS rn
    FROM wn w, c{r - 1} c) WHERE rn = 1)""")
        ctes.append(f"""m{r} AS (
  SELECT cell, i,
         CAST((CAST(sum(q[i + 1]) AS BIGINT) + CAST(count(*) AS BIGINT) * {off})
              // CAST(count(*) AS BIGINT) - {off} AS BIGINT) AS m
  FROM a{r}, UNNEST(range({dim})) u(i) GROUP BY cell, i)""")
        ctes.append(f"""u{r} AS (
  SELECT cell, list(m ORDER BY i) AS cnew FROM m{r} GROUP BY cell)""")
        ctes.append(f"""c{r} AS (
  SELECT c.cell, coalesce(u.cnew, c.c) AS c
  FROM c{r - 1} c LEFT JOIN u{r} u USING (cell))""")
    final = f"""SELECT vec_id, cell, dist2 FROM (
  SELECT w.vec_id, c.cell, {dist} AS dist2,
         row_number() OVER (PARTITION BY w.vec_id
              ORDER BY {dist}, c.cell) AS rn
  FROM wn w, c{KMEANS_ROUNDS} c) WHERE rn = 1"""
    joined = ",\n".join(ctes)
    return f"""
WITH {_BASE_CTES},
{joined}
{final}
"""


def _global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact ranking by (n_chars DESC, doc_id) through
    the DISTRIBUTED two-level-prefix-sum ranker (operators/layout.
    global_rank) — curriculum-ordering / percentile-assignment shape;
    the single-partition window the naive plan would use is pinned
    ABSENT by test_plans."""
    from ..operators.layout import global_rank
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    return global_rank(docs, [F.col("n_chars").desc(),
                              F.col("doc_id").asc()])


_GLOBAL_RANK_SQL = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
            AS BIGINT) AS global_rank
FROM documents
"""


CLUSTER_LABEL_TOPK = 5   # terms per cell
CLUSTER_LABEL_MIN_CT = 5  # lift floor: ignore sub-5-count cell terms


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the corpus-map step after k-means (BERTopic-
    style class-based TF-IDF): per cell, the top-k terms most OVER-
    represented in that cell's documents vs the corpus, scored by PMI
    lift (n_ct·T)/(n_c·n_t) — the `doc_collocations` statistic lifted
    from bigrams to (cell, term). Joins the graded Lloyd assignment to
    the tokenized corpus on doc id (the fixture's vec_id↔doc_id
    correspondence, same as `doc_crossmodal_agreement`).

    Scale shape: one tokenize scan → (cell, term) hash-agg (map-side
    combined, vocabulary×k-sized output); the three marginals are a
    k-row broadcast, a vocabulary-row equi-join, and a 1-row broadcast
    cross join; the top-k window partitions on cell over the already-
    (cell)-keyed frame. The corpus crosses the wire once — the id join
    attaching cells to tokens."""
    from pyspark.sql import Window
    from ..functions import tokens
    a = _kmeans_cells(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cell")
    tok = (load_table(spark, sf_dir, "documents")
           .where(F.col("text").isNotNull())
           .select("doc_id", F.explode(tokens("text")).alias("term")))
    ct = (tok.join(a, "doc_id")
             .groupBy("cell", "term")
             .agg(F.count(F.lit(1)).cast("long").alias("n_ct")))
    nc = ct.groupBy("cell").agg(F.sum("n_ct").cast("long").alias("n_c"))
    nt = ct.groupBy("term").agg(F.sum("n_ct").cast("long").alias("n_t"))
    tot = ct.agg(F.sum("n_ct").cast("long").alias("t_all"))
    lifted = (ct.where(F.col("n_ct") >= CLUSTER_LABEL_MIN_CT)
                .join(F.broadcast(nc), "cell")
                .join(nt, "term")
                .crossJoin(F.broadcast(tot))
                .withColumn("lift",
                            (F.col("n_ct").cast("double")
                             * F.col("t_all").cast("double"))
                            / (F.col("n_c").cast("double")
                               * F.col("n_t").cast("double"))))
    w = (Window.partitionBy("cell")
               .orderBy(F.col("lift").desc(), F.col("term").asc()))
    return (lifted.withColumn("rank",
                              F.row_number().over(w).cast("long"))
                  .where(F.col("rank") <= CLUSTER_LABEL_TOPK)
                  .select("cell", "rank", "term", "n_ct", "n_c", "n_t",
                          "lift"))


def _cluster_labels_sql() -> str:
    return f"""
WITH ka AS ({_kmeans_assign_sql()}),
toks AS ({TOKS_CTE}),
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
ct AS (SELECT ka.cell, tok.term, CAST(count(*) AS BIGINT) AS n_ct
       FROM tok JOIN ka ON ka.vec_id = tok.doc_id GROUP BY 1, 2),
nc AS (SELECT cell, CAST(sum(n_ct) AS BIGINT) AS n_c FROM ct GROUP BY 1),
nt AS (SELECT term, CAST(sum(n_ct) AS BIGINT) AS n_t FROM ct GROUP BY 1),
tot AS (SELECT CAST(sum(n_ct) AS BIGINT) AS t_all FROM ct),
lifted AS (
  SELECT ct.cell, ct.term, ct.n_ct, nc.n_c, nt.n_t,
         CAST(ct.n_ct AS DOUBLE) * CAST(t_all AS DOUBLE) /
           (CAST(nc.n_c AS DOUBLE) * CAST(nt.n_t AS DOUBLE)) AS lift
  FROM ct JOIN nc USING (cell) JOIN nt USING (term), tot
  WHERE ct.n_ct >= {CLUSTER_LABEL_MIN_CT})
SELECT cell, "rank", term, n_ct, n_c, n_t, lift FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY cell
            ORDER BY lift DESC, term ASC) AS BIGINT) AS "rank"
  FROM lifted)
WHERE "rank" <= {CLUSTER_LABEL_TOPK}
"""


def _vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-rate audit vs the top-{VOCAB_SIZE} corpus vocabulary
    (operators/text.vocab_coverage) — the pre-tokenizer-training
    coverage question; all-BIGINT output (ppm via integer div)."""
    return text.vocab_coverage(load_table(spark, sf_dir, "documents"))


def _cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split (operators/text.leakage_split):
    the assignment unit is the MinHash-LSH duplicate CLUSTER, so a
    near-duplicate can never land in train while its paraphrase sits
    in val — the eval-hygiene composition of the dedup tier
    (pairs → connected components) with the salted hash split.
    Output: (doc_id, group_id, split), group = CC label or self."""
    docs = load_table(spark, sf_dir, "documents")
    return text.leakage_split(
        docs, _cc(spark, sf_dir).select("doc_id", "cluster_id"))


def _cluster_split_sql() -> str:
    h = h32_sql("'gsplit-v1:' || CAST(group_id AS VARCHAR)")
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_pairs_sql()}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
), reach(node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
), clusters AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY 1
), grouped AS (
  SELECT d.doc_id,
         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS group_id
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node)
SELECT doc_id, group_id,
       CASE WHEN {h} % 100 < 90 THEN 'train' ELSE 'val' END AS split
FROM grouped
"""


CURRICULUM_STAGES = 4


def _curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering — quality-first training-data scheduling
    (easy/clean examples before noisy ones): the corpus ranked by the
    graded quality heuristic (`doc_quality`'s score, ties broken by
    doc_id — a total order), then cut into {CURRICULUM_STAGES} equal
    stages by EXACT rank, stage = (rank−1)·S div N. Ranking runs
    through the distributed two-level prefix-sum ranker
    (operators/layout.global_rank) — the naive `row_number() OVER
    (ORDER BY score)` plan funnels 100 TB through one task; pinned
    absent by the plan test. N attaches as a 1-row broadcast.
    All-BIGINT output: (doc_id, curriculum_rank, stage)."""
    from ..operators.layout import global_rank
    q = (text.quality_score(load_table(spark, sf_dir, "documents"))
         .select("doc_id", "quality_score"))
    r = global_rank(q, [F.col("quality_score").desc(),
                        F.col("doc_id").asc()],
                    rank_col="curriculum_rank")
    n = q.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (r.crossJoin(F.broadcast(n))
             .select("doc_id",
                     F.col("curriculum_rank").cast("long")
                      .alias("curriculum_rank"),
                     F.expr(f"(curriculum_rank - 1) * {CURRICULUM_STAGES}"
                            " div _n").alias("stage")))


def _curriculum_sql() -> str:
    return f"""
WITH q AS ({_quality_sql()}),
r AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
                  AS BIGINT) AS curriculum_rank
      FROM q),
n AS (SELECT CAST(count(*) AS BIGINT) AS _n FROM q)
SELECT doc_id, curriculum_rank,
       (curriculum_rank - 1) * {CURRICULUM_STAGES} // _n AS stage
FROM r, n
"""


def _snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between corpus snapshots — the
    production monitoring question "did the new crawl land in the
    same region of embedding space as the old one?" (a silent encoder
    version bump or a topic shift both show up here before they show
    up in eval): cell-occupancy comparison over the graded k-means
    partition, old/new = vec_id parity (the fixture's snapshot proxy,
    same family as `emb_semantic_decontaminate`'s % 97 convention).
    Per cell: counts and occupancy ppm on each side plus |Δppm|; half
    the sum of delta_ppm over cells IS the total-variation distance
    between the two occupancy distributions, in ppm — exact integer
    arithmetic end to end, no KL/ln to disagree cross-engine.

    Scale shape: rides `kmeans_assign`'s exchanges, then one k-row
    hash-agg and a 1-row broadcast of the side totals — the drift
    audit itself moves k rows regardless of corpus size, and the
    per-cell histograms are MERGEABLE across days/partitions."""
    a = _kmeans_cells(spark, sf_dir).select("vec_id", "cell")
    cc = (a.groupBy("cell")
           .agg(F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
                 .cast("long").alias("n_old"),
                F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
                 .cast("long").alias("n_new")))
    tot = cc.agg(F.sum("n_old").cast("long").alias("_t_old"),
                 F.sum("n_new").cast("long").alias("_t_new"))
    # nullif pins the degenerate single-snapshot corpus explicitly:
    # both engines yield NULL on integer division by zero (verified on
    # the pinned duckdb 1.0), and the nullif makes that contract
    # visible in the expression instead of implicit engine behavior
    return (cc.crossJoin(F.broadcast(tot))
              .select("cell", "n_old", "n_new",
                      F.expr("n_old * 1000000 div nullif(_t_old, 0)")
                       .alias("ppm_old"),
                      F.expr("n_new * 1000000 div nullif(_t_new, 0)")
                       .alias("ppm_new"),
                      F.expr("abs(n_old * 1000000 div nullif(_t_old, 0) - "
                             "n_new * 1000000 div nullif(_t_new, 0))")
                       .alias("delta_ppm")))


def _snapshot_drift_sql() -> str:
    return f"""
WITH ka AS ({_kmeans_assign_sql()}),
cc AS (SELECT cell,
              CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_old,
              CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_new
       FROM ka GROUP BY 1),
tot AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
               CAST(sum(n_new) AS BIGINT) AS t_new FROM cc)
SELECT cell, n_old, n_new,
       n_old * 1000000 // nullif(t_old, 0) AS ppm_old,
       n_new * 1000000 // nullif(t_new, 0) AS ppm_new,
       abs(n_old * 1000000 // nullif(t_old, 0)
           - n_new * 1000000 // nullif(t_new, 0)) AS delta_ppm
FROM cc, tot
"""


#: Cohen's kappa over the 2x2 gate confusion — the expression TEXT is
#: shared verbatim by both engines (the `cents` discipline). Products
#: and squares are taken in DOUBLE after the exact-int marginals, so
#: nothing overflows int64 at any corpus size (N^2 would at N > 3e9);
#: the tree is fixed, so IEEE 754 makes both engines bit-identical.
_KAPPA_EXPR = """CASE WHEN
  CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
    - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
       + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)) = 0.0
  THEN 0.0
  ELSE (CAST(n AS DOUBLE) * CAST(n11 + n00 AS DOUBLE)
        - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
           + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)))
       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
             + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE)))
  END"""


def _gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-agreement audit — Cohen's kappa between the two
    independent quality gates the catalog runs (the hashed linear
    classifier's keep/drop and the heuristic quality threshold): the
    standard before-you-trust-a-cheaper-gate question. kappa near 1 →
    the cheap heuristic can pre-filter for the classifier; kappa near
    0 → the gates measure different things and must BOTH run. Output:
    one row of exact confusion counts (n11 keep/keep, n10 classifier-
    only, n01 heuristic-only, n00 drop/drop) + kappa (chance-corrected
    agreement), computed by the shared fixed DOUBLE expression — no
    int64 overflow at any corpus size.

    Scale shape: two map-only corpus projections joined on the id key
    (one co-partitioned exchange each), then a map-side-combined
    global agg to FOUR counters — the audit's reduce is 4 numbers."""
    docs = load_table(spark, sf_dir, "documents")
    clf = (text.classifier_score(docs)
           .select("doc_id", (F.col("verdict") == "keep").alias("c")))
    qg = (text.quality_score(docs)
          .select("doc_id",
                  (F.col("quality_score") >= FUNNEL_MIN_QUALITY)
                   .alias("q")))
    j = clf.join(qg, "doc_id")
    agg = j.agg(
        F.sum(F.when(F.col("c") & F.col("q"), 1).otherwise(0))
         .cast("long").alias("n11"),
        F.sum(F.when(F.col("c") & ~F.col("q"), 1).otherwise(0))
         .cast("long").alias("n10"),
        F.sum(F.when(~F.col("c") & F.col("q"), 1).otherwise(0))
         .cast("long").alias("n01"),
        F.sum(F.when(~F.col("c") & ~F.col("q"), 1).otherwise(0))
         .cast("long").alias("n00"),
        F.count(F.lit(1)).cast("long").alias("n"))
    return agg.select("n11", "n10", "n01", "n00", "n",
                      F.expr(_KAPPA_EXPR).alias("kappa"))


def _gate_agreement_sql() -> str:
    return f"""
WITH clf AS ({_classifier_score_sql()}),
q AS ({_quality_sql()}),
conf AS (
  SELECT CAST(sum(CASE WHEN c.verdict = 'keep'
                        AND q.quality_score >= {FUNNEL_MIN_QUALITY}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN c.verdict = 'keep'
                        AND q.quality_score < {FUNNEL_MIN_QUALITY}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN c.verdict = 'drop'
                        AND q.quality_score >= {FUNNEL_MIN_QUALITY}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN c.verdict = 'drop'
                        AND q.quality_score < {FUNNEL_MIN_QUALITY}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         CAST(count(*) AS BIGINT) AS n
  FROM clf c JOIN q USING (doc_id))
SELECT n11, n10, n01, n00, n, {_KAPPA_EXPR} AS kappa
FROM conf
"""


def _score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score calibration — quantile-normalize the quality
    score WITHIN each source so cross-source comparisons are fair
    (sources have incomparable score scales: a 0.6 on curated wiki and
    a 0.6 on raw crawl mean different things; mixing on raw scores
    over-samples whichever source's scorer runs hot). Per doc:
    src_rank (1 = best in its source, ties → doc_id) and
    pct_ppm = src_rank·10⁶ div n_source — the within-source percentile
    as an exact BIGINT, directly comparable across sources.

    Scale shape: one exchange on the source key + a per-source rank
    window — rank truncation never happens (full output), and the
    window partition is a source, not the corpus. A pathologically hot
    source is the `global_rank` shape applied per key (range-partition
    the hot source's rows, rank, add offsets); at normal source
    cardinalities the plain window is the right plan."""
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    q = (text.quality_score(docs).select("doc_id", "quality_score")
         .join(docs.select("doc_id", "source"), "doc_id"))
    w = (Window.partitionBy("source")
               .orderBy(F.col("quality_score").desc(),
                        F.col("doc_id").asc()))
    wn = Window.partitionBy("source")
    return (q.withColumn("src_rank", F.row_number().over(w).cast("long"))
             .withColumn("_n", F.count(F.lit(1)).over(wn).cast("long"))
             .select("doc_id", "source", "src_rank",
                     F.expr("src_rank * 1000000 div _n").alias("pct_ppm")))


def _score_calibration_sql() -> str:
    return f"""
WITH q AS ({_quality_sql()}),
j AS (SELECT q.doc_id, d.source, q.quality_score
      FROM q JOIN documents d ON q.doc_id = d.doc_id)
SELECT doc_id, source,
       CAST(row_number() OVER (PARTITION BY source
            ORDER BY quality_score DESC, doc_id) AS BIGINT) AS src_rank,
       CAST(row_number() OVER (PARTITION BY source
            ORDER BY quality_score DESC, doc_id) AS BIGINT) * 1000000
         // CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS pct_ppm
FROM j
"""


def _fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — BPE tokens per word, the
    standard "is our tokenizer fair to this language" metric (high-
    fertility languages pay more compute per word and fit less context
    per document; the number that drives vocab rebalancing): the
    corpus re-encoded with its OWN learned merges (`doc_bpe_encode`'s
    memoized training run) joined to the langid verdict, aggregated
    per predicted language. fertility = Σ bpe_tokens / Σ words — the
    single double division over exact BIGINT sums.

    Scale shape: both sides are per-doc map/agg frames; the id join
    co-partitions once; the language agg reduces to a languages-sized
    frame."""
    docs = load_table(spark, sf_dir, "documents")
    enc = text.bpe_encode_counts(docs,
                                 merges=_get_bpe_merges(spark, sf_dir))
    lang = text.language_id(docs).select("doc_id", "pred_lang")
    return (enc.join(lang, "doc_id")
               .groupBy("pred_lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_words").cast("long").alias("n_words"),
                    F.sum("n_bpe_tokens").cast("long")
                     .alias("n_bpe_tokens"))
               .select("pred_lang", "n_docs", "n_words", "n_bpe_tokens",
                       F.expr("CAST(n_bpe_tokens AS DOUBLE) / "
                              "CAST(n_words AS DOUBLE)")
                        .alias("fertility")))


def _fertility_sql() -> str:
    return f"""
WITH enc AS ({_bpe_encode_sql()}),
lang AS ({_language_id_sql()}),
agg AS (
  SELECT lang.pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(enc.n_words) AS BIGINT) AS n_words,
         CAST(sum(enc.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
  FROM enc JOIN lang USING (doc_id) GROUP BY 1)
SELECT pred_lang, n_docs, n_words, n_bpe_tokens,
       CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
FROM agg
"""


OUTLIER_MULT = 4  # flag dist2 > 4 x cell lower-median


def _cell_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anomaly census — vectors far from their own
    k-means cell (mislabeled/noise/out-of-distribution points; the
    drop-or-review gate after corpus clustering): the graded 3-round
    Lloyd assignment's exact integer dist2 compared against the
    cell's EXACT lower-median dist2 (`robust_outlier_census`'s order-
    statistic convention — no float quantiles), outlier iff dist2 >
    OUTLIER_MULT × median. A zero median (≥half the cell identical
    to its centroid) flags every non-coincident member — documented
    degeneracy, same as the MAD census.

    Scale shape: rides `kmeans_assign`'s own exchanges; the median
    is one window pass on the (cell)-keyed assignment frame, the
    verdict a broadcast k-row join."""
    from pyspark.sql import Window
    a = _kmeans_cells(spark, sf_dir)
    wc = Window.partitionBy("cell")
    wr = Window.partitionBy("cell").orderBy("dist2", "vec_id")
    stats = (a.withColumn("rn", F.row_number().over(wr))
              .withColumn("n", F.count(F.lit(1)).over(wc)))
    med = (stats.withColumn("is_med",
                            F.col("rn") == F.expr("(n + 1) div 2"))
                .where("is_med")
                .select("cell", F.col("dist2").alias("cell_med")))
    return (a.join(F.broadcast(med), "cell")
             .select("vec_id", "cell", "dist2", "cell_med",
                     (F.col("dist2") > OUTLIER_MULT * F.col("cell_med"))
                     .cast("long").alias("is_outlier")))


def _cell_outliers_sql() -> str:
    return f"""
WITH ka AS ({_kmeans_assign_sql()}),
stats AS (
  SELECT vec_id, cell, dist2,
         row_number() OVER (PARTITION BY cell
                            ORDER BY dist2, vec_id) AS rn,
         count(*) OVER (PARTITION BY cell) AS n
  FROM ka
),
med AS (
  SELECT cell, max(CASE WHEN rn = (n + 1) // 2 THEN dist2 END)
           AS cell_med
  FROM stats GROUP BY 1
)
SELECT s.vec_id, s.cell, s.dist2, m.cell_med,
       CAST(s.dist2 > {OUTLIER_MULT} * m.cell_med AS BIGINT)
         AS is_outlier
FROM stats s JOIN med m USING (cell)
"""


# ------------------------------------ hashed linear classifier gate

def _classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier keep/drop gate (operators/text.
    classifier_score): fastText-shape hashed linear inference with
    the model reduced to its deterministic fixed-point arithmetic —
    the weight table is a plan literal, the pass is a pure map."""
    return text.classifier_score(load_table(spark, sf_dir, "documents"))


def _classifier_score_sql() -> str:
    w = text.classifier_weights()
    arr = "[" + ", ".join(str(v) for v in w) + "]"
    h = h32_sql("x")
    return f"""
WITH toks AS ({TOKS_CTE}),
s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
  CAST({text.CLF_BIAS} + coalesce(list_sum(list_transform(t, x ->
    ({arr})[CAST({h} % {text.CLF_BUCKETS} AS INT) + 1])), 0) AS BIGINT)
    AS logit_milli
  FROM toks)
SELECT doc_id, n_tokens, logit_milli,
       CASE WHEN logit_milli > 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM s
"""


# -------------------------------------- DSIR importance weights

#: target predicate for the graded entry: English docs are the
#: "target distribution", the whole corpus is "raw" — the standard
#: DSIR setup (weight raw docs by target-likeness)

@artifact("dsir_scores")
def _get_dsir_scores(spark: SparkSession, sf_dir: str) -> list[int]:
    """Bucket-score table memoized per (session, corpus): one
    B-bounded counting scan per (session, sf_dir)."""
    return text.dsir_bucket_scores(load_table(spark, sf_dir, "documents"))


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature importance weights (DSIR, Xie et al. 2023) for
    target-aware sampling of the raw corpus: counting pass collapses
    to a B-entry literal score table; the weighting pass is a pure
    map (operators/text.dsir_weights)."""
    return text.dsir_weights(load_table(spark, sf_dir, "documents"),
                             _get_dsir_scores(spark, sf_dir))


def _dsir_weights_sql() -> str:
    h = h32_sql("x")
    B, S = text.DSIR_BUCKETS, text.DSIR_SCALE
    return f"""
WITH toks AS (SELECT doc_id, {tokens_sql()} AS t, lang
              FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, CAST({DSIR_TARGET_PRED} AS INT) AS is_t,
               CAST({h} % {B} AS INT) AS bucket
        FROM (SELECT doc_id, lang, unnest(t) AS x FROM toks)),
cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rcnt,
               CAST(sum(is_t) AS BIGINT) AS tcnt
        FROM tok GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum((c.tcnt * {S}) // c.rcnt) AS BIGINT) AS dsir_weight_ppm
FROM tok t JOIN cnt c USING (bucket)
GROUP BY 1
"""


# ------------------------------------ kNN-graph link prediction

def _knn_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-neighbor candidates the ANN graph MISSED:
    common-neighbor / neighborhood-Jaccard link prediction
    (operators/graph.link_prediction) over the undirected kNN pair
    graph — non-adjacent vector pairs sharing kNN neighbors are
    near-certain semantic neighbors the banded search didn't pair
    directly (kNN is not symmetric or transitive, so the graph has
    open wedges by construction). The graph-densification /
    recall-repair pass of graph-based semantic dedup. (The MinHash
    DUP graph is the wrong input here: LSH band collisions on
    near-identical copies yield transitively-closed cliques — zero
    open wedges, nothing to predict.)"""
    g = _knn_graph_memo(spark, sf_dir)
    e = (g.select(F.least("vec_id", "neighbor_id").alias("src"),
                  F.greatest("vec_id", "neighbor_id").alias("dst"))
          .distinct())
    from ..operators.graph import link_prediction
    return link_prediction(e)


def _knn_linkpred_sql() -> str:
    return f"""
WITH knn AS (
  {_knn_graph_sql()}
),
pairs AS (
  SELECT DISTINCT least(vec_id, neighbor_id) AS doc_a,
         greatest(vec_id, neighbor_id) AS doc_b
  FROM knn
),
adj AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
cand AS (
  SELECT w1.v AS a, w2.v AS b, CAST(count(*) AS BIGINT) AS cn
  FROM adj w1 JOIN adj w2 ON w1.u = w2.u AND w1.v < w2.v
  GROUP BY 1, 2
),
nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN pairs p ON p.doc_a = c.a AND p.doc_b = c.b
  WHERE p.doc_a IS NULL
)
SELECT a AS node_a, b AS node_b, cn, da.deg AS deg_a, db.deg AS deg_b,
       CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jaccard
FROM nonedge JOIN deg da ON da.u = a JOIN deg db ON db.u = b
"""


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives):
    per labeled vector, the most-similar CROSS-label neighbor from
    the banded kNN graph — the negatives a contrastive loss actually
    learns from."""
    return similarity.hard_negatives(
        load_table(spark, sf_dir, "embeddings"),
        graph=_knn_graph_memo(spark, sf_dir))


def _hard_negatives_sql() -> str:
    return f"""
WITH knn AS (
  {_knn_graph_sql()}
),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
x AS (
  SELECT k.vec_id, la.label, k.neighbor_id, lb.label AS neg_label, k.cosine
  FROM knn k JOIN lab la ON la.vec_id = k.vec_id
             JOIN lab lb ON lb.vec_id = k.neighbor_id
  WHERE la.label <> lb.label
)
SELECT vec_id, label, neighbor_id AS neg_id, neg_label, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rk FROM x)
WHERE rk = 1
"""




def _semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leak audit
    (operators/similarity.semantic_decontaminate): corpus vectors
    near (cosine ≥ τ within shared LSH band buckets) any benchmark
    vector (vec_id % {BENCH_MOD} — the n-gram twin's convention) —
    catches the paraphrase leak `doc_decontaminate`'s 5-grams miss."""
    return similarity.semantic_decontaminate(
        load_table(spark, sf_dir, "embeddings"))


def _semantic_decontaminate_sql() -> str:
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(MULTIBAND_BANDS)}) AS bucket FROM wn),
bench AS (SELECT vec_id AS bench_id, bucket FROM melted
          WHERE vec_id % {BENCH_MOD} = 0),
corp AS (SELECT vec_id, bucket FROM melted WHERE vec_id % {BENCH_MOD} <> 0),
cand AS (SELECT DISTINCT c.vec_id, b.bench_id
         FROM corp c JOIN bench b USING (bucket)),
wnp AS (SELECT cand.vec_id, cand.bench_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.vec_id
                  JOIN wn wc ON wc.vec_id = cand.bench_id),
scored AS (SELECT vec_id, bench_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
cos AS (SELECT vec_id, bench_id, {_COS} AS cosine FROM scored),
hit AS (SELECT vec_id, bench_id, cosine FROM cos
        WHERE cosine >= {SEMDECON_COS}),
per AS (SELECT vec_id,
               CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT)
                 AS n_matches,
               bench_id, cosine,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, bench_id ASC) AS rk
        FROM hit),
top AS (SELECT vec_id, n_matches, bench_id AS top_bench_id,
               cosine AS max_cosine FROM per WHERE rk = 1)
SELECT w.vec_id,
       CAST(CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS contaminated,
       CAST(coalesce(t.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(coalesce(t.top_bench_id, -1) AS BIGINT) AS top_bench_id,
       coalesce(t.max_cosine, CAST(0 AS DOUBLE)) AS max_cosine
FROM wn w LEFT JOIN top t USING (vec_id)
WHERE w.vec_id % {BENCH_MOD} <> 0
"""


def _script_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class / encoding-rot census
    (operators/text.script_census): exact per-class counts + the
    outside-ASCII share gate, a pure map at scan rate."""
    return text.script_census(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------- RAKE

def _rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction via RAKE (operators/text.rake_keywords):
    stopword-gap candidate phrases, degree/frequency word scores in
    exact fixed point, top-50 phrases."""
    return text.rake_keywords(load_table(spark, sf_dir, "documents"))


def _trigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-interpolated trigram LM typicality per document
    (operators/text.trigram_fluency) — the backoff step up from
    doc_bigram_fluency, same exact-fixed-point discipline."""
    return text.trigram_fluency(load_table(spark, sf_dir, "documents"))


def _ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the nprobe=1 IVF path vs the exact top-k
    (operators/similarity.ivf_recall_report) — the cell-count/nprobe
    tuning measurement next to `emb_ann_recall`'s band/plane one."""
    return similarity.ivf_recall_report(
        load_table(spark, sf_dir, "embeddings"), get_quantizers()[0],
        exact=_exact_topk(spark, sf_dir))


def _ivf_recall_sql() -> str:
    return f"""
WITH {_BASE_CTES},
bq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
bc AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
bscored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
            FROM bq CROSS JOIN bc WHERE neighbor_id <> query_id),
bcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM bscored),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bcos) WHERE rk <= {TOPK_K}
),
cells AS (SELECT vec_id, q, n2, {_ivf_cell_sql()} AS cell FROM wn),
iq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2, cell FROM cells
       WHERE vec_id < 10),
ic AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2, cell
       FROM cells),
iscored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
            FROM iq JOIN ic USING (cell) WHERE neighbor_id <> query_id),
icos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM iscored),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM icos) WHERE rk <= {TOPK_K}
),
hits AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) * 1000000 // {TOPK_K} AS recall_ppm
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON q.query_id = h.query_id
"""


def _pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the full IVF-PQ path vs exact
    (operators/similarity.pq_recall_report) — isolates the ADC code-
    compression cost on top of `emb_ivf_recall`'s cell miss rate."""
    cents, books = get_quantizers()
    return similarity.pq_recall_report(
        load_table(spark, sf_dir, "embeddings"), cents, books,
        exact=_exact_topk(spark, sf_dir))


def _pq_recall_sql() -> str:
    codes, adc = _pq_sql_parts()
    return f"""
WITH {_BASE_CTES},
bq AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
bc AS (SELECT vec_id AS neighbor_id, q AS cv, n2 AS cn2 FROM wn),
bscored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2
            FROM bq CROSS JOIN bc WHERE neighbor_id <> query_id),
bcos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM bscored),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM bcos) WHERE rk <= {TOPK_K}
),
cells AS (SELECT vec_id, q, {_ivf_cell_sql()} AS cell FROM wn),
pq AS (SELECT vec_id AS query_id, q AS qv, cell FROM cells
       WHERE vec_id < 10),
pc AS (SELECT vec_id AS neighbor_id, {codes} AS codes, cell FROM cells),
pscored AS (SELECT query_id, neighbor_id, CAST({adc} AS BIGINT)
                   AS adc_dist
            FROM pq JOIN pc USING (cell) WHERE neighbor_id <> query_id),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, neighbor_id ASC) AS rk
    FROM pscored) WHERE rk <= {TOPK_K}
),
hits AS (
  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx a JOIN exact e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) * 1000000 // {TOPK_K} AS recall_ppm
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON q.query_id = h.query_id
"""


# ------------------------------------------------------------------ PCA

@functools.cache
def get_pca() -> tuple[list[int], list[int]]:
    """(quantized mean, quantized top principal component), trained
    LAZILY on the same conventioned sample as the IVF quantizers and
    memoized for the process lifetime, so the Spark plan and the
    DuckDB oracle inline identical literals. Falls back to md5
    pseudo-params when the sample is absent (engine-identical)."""
    import sys
    vecs = _sample_vectors()
    if vecs is not None:
        print(f"# pca: power iteration on {len(vecs)} sample vectors "
              f"from {_training_sample_path()}", file=sys.stderr)
        return similarity.train_pca_component(vecs)
    print("# pca: sample unavailable — md5 pseudo-component",
          file=sys.stderr)
    return ([0] * similarity.EMB_DIM,
            [(similarity.py_h32(f"pca:{d}") % 2001) - 1000
             for d in range(similarity.EMB_DIM)])


def _pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection per embedding
    (operators/similarity.pca_scores): the sample-train →
    literal-inject → exact-int-project discipline of the IVF tier
    applied to PCA — the whitening/decorrelation primitive of
    embedding pipelines (outlier pruning, drift axes, SVD-lite)."""
    mean_q, comp_q = get_pca()
    return similarity.pca_scores(load_table(spark, sf_dir, "embeddings"),
                                 mean_q, comp_q)


def _pca_scores_sql() -> str:
    mean_q, comp_q = get_pca()
    m = "[" + ", ".join(str(v) for v in mean_q) + "]"
    c = "[" + ", ".join(str(v) for v in comp_q) + "]"
    score = (f"CAST(list_sum(list_transform(list_zip(q, {m}, {c}), "
             f"s -> (s[1] - s[2]) * s[3])) AS BIGINT)")
    denom = float(similarity.QUANT_SCALE) * float(similarity.PCA_SCALE)
    return f"""
WITH base AS (SELECT vec_id, {_QUANT} AS q FROM embeddings
              WHERE len(embedding) = {similarity.EMB_DIM}),
s AS (SELECT vec_id, {score} AS pc1_e10 FROM base)
SELECT vec_id, pc1_e10, CAST(pc1_e10 AS DOUBLE) / {denom} AS pc1 FROM s
"""


# ------------------------------------------------------------------ MMR


def _mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking
    (operators/similarity.mmr_rerank): greedy λ=0.5 pick-k unrolled
    into static join+window stages over a bounded per-query pool —
    the diversity-aware second stage retrieval pipelines put behind
    ANN candidates."""
    return similarity.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


def _mmr_rerank_sql() -> str:
    pool = similarity.MMR_POOL
    dotp = "CAST(list_sum(list_transform(a.cv, (x, i) -> x * b.cv[i])) AS BIGINT)"
    ctes = [f"""
qs AS (SELECT vec_id AS query_id, q AS qv, n2 AS qn2 FROM wn
       WHERE vec_id < 10),
cs AS (SELECT vec_id AS cand_id, q AS cv, n2 AS cn2 FROM wn),
pool AS (
  SELECT query_id, cand_id, cv, cn2, cos_q FROM (
    SELECT query_id, cand_id, cv, cn2, cos_q,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cos_q DESC, cand_id ASC) AS rk
    FROM (SELECT query_id, cand_id, cv, cn2,
                 CAST(dot AS DOUBLE) /
                 sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos_q
          FROM (SELECT query_id, cand_id, cv, cn2, qn2,
                       CAST(list_sum(list_transform(qv, (x, i) -> x * cv[i]))
                            AS BIGINT) AS dot
                FROM qs CROSS JOIN cs WHERE cand_id <> query_id)))
  WHERE rk <= {pool}),
pairc AS (
  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
         CAST({dotp} AS DOUBLE) /
         sqrt(CAST(a.cn2 AS DOUBLE) * CAST(b.cn2 AS DOUBLE)) AS cos_ab
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
cands AS (SELECT query_id, cand_id, cos_q FROM pool),
p1 AS (
  SELECT query_id, cand_id, cos_q, mmr, CAST(1 AS BIGINT) AS step FROM (
    SELECT query_id, cand_id, cos_q, 0.5 * cos_q AS mmr,
           row_number() OVER (PARTITION BY query_id
                ORDER BY 0.5 * cos_q DESC, cand_id ASC) AS rk
    FROM cands) WHERE rk = 1),
chosen1 AS (SELECT * FROM p1)"""]
    for i in range(2, MMR_K + 1):
        prev = f"chosen{i - 1}"
        ctes.append(f"""
p{i} AS (
  SELECT query_id, cand_id, cos_q, mmr, CAST({i} AS BIGINT) AS step FROM (
    SELECT query_id, cand_id, cos_q, mmr,
           row_number() OVER (PARTITION BY query_id
                ORDER BY mmr DESC, cand_id ASC) AS rk
    FROM (
      SELECT c.query_id, c.cand_id, c.cos_q,
             0.5 * (c.cos_q - m.max_sim) AS mmr
      FROM cands c
      JOIN (SELECT p.query_id, p.cand_id, max(p.cos_ab) AS max_sim
            FROM pairc p
            JOIN {prev} ch ON p.query_id = ch.query_id
                          AND p.other_id = ch.cand_id
            GROUP BY p.query_id, p.cand_id) m
        ON c.query_id = m.query_id AND c.cand_id = m.cand_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} ch2
                        WHERE ch2.query_id = c.query_id
                          AND ch2.cand_id = c.cand_id))) WHERE rk = 1),
chosen{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{i})""")
    return (f"WITH {_BASE_CTES}," + ",".join(ctes)
            + f"""
SELECT query_id, step, cand_id AS neighbor_id, cos_q, mmr
FROM chosen{MMR_K}
""")


# ------------------------------------------ Heaps-law vocab growth

HEAPS_BUCKETS = 10


def _heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law) — the tokenizer-sizing
    diagnostic: cumulative distinct vocabulary vs cumulative token
    count across `HEAPS_BUCKETS` equal doc_id ranges of the corpus,
    plus the running type-token ratio. Feeds "how big must the vocab
    be at 10× the data" extrapolations and catches corpus drift (a
    vocabulary that keeps growing linearly is boilerplate-free noise;
    one that flattens too fast is template spam).

    Scale shape: ONE tokenize scan. The (bucket, term) count frame —
    ≤ HEAPS_BUCKETS × |vocab| rows — is eagerly localCheckpointed
    (the MMR/entity-resolution discipline) so the token-count and
    first-bucket branches consume ONE materialization instead of
    re-tokenizing the corpus per branch (a naive three-branch DAG
    re-executed the text scan 3× — 9 parquet scans in the dumped
    plan before this cut). Bucket boundaries are pure integer
    arithmetic on a checkpointed broadcast 1-row (min, max) agg, NOT
    a global sort (ntile would pin the corpus through one
    partition); the doc census re-reads only the pruned doc_id
    column. The only SinglePartition subtree is the
    `HEAPS_BUCKETS`-row cumulative window."""
    from pyspark.sql import Window
    from ..functions import tokens
    n = HEAPS_BUCKETS
    docs = (load_table(spark, sf_dir, "documents")
            .where("text IS NOT NULL").select("doc_id", "text"))
    bounds = checkpoint(docs.agg(F.min("doc_id").alias("mn"),
                                 F.max("doc_id").alias("mx")))
    bucket = F.expr(f"least({n - 1}, ((doc_id - mn) * {n}) "
                    f"div (mx - mn + 1))")
    db = (docs.crossJoin(F.broadcast(bounds))
              .withColumn("bucket", bucket)
              .select("bucket", "text"))
    tb = checkpoint(
        db.select("bucket", F.explode(tokens("text")).alias("term"))
          .groupBy("bucket", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    tokb = tb.groupBy("bucket").agg(
        F.expr("CAST(sum(cnt) AS BIGINT)").alias("n_tokens"))
    docb = (docs.select("doc_id").crossJoin(F.broadcast(bounds))
                .withColumn("bucket", bucket)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    newb = (tb.groupBy("term").agg(F.min("bucket").alias("bucket"))
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).cast("long").alias("new_terms")))
    spine = spark.range(n).select(F.col("id").alias("bucket"))
    j = (spine.join(docb, "bucket", "left")
              .join(tokb, "bucket", "left")
              .join(newb, "bucket", "left")
              .select("bucket",
                      F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                      F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                      F.coalesce("new_terms", F.lit(0)).alias("new_terms")))
    w = (Window.orderBy("bucket")
               .rowsBetween(Window.unboundedPreceding, 0))
    out = (j.withColumn("cum_docs", F.sum("n_docs").over(w).cast("long"))
            .withColumn("cum_tokens",
                        F.sum("n_tokens").over(w).cast("long"))
            .withColumn("vocab", F.sum("new_terms").over(w).cast("long")))
    return (out.withColumn(
                "ttr", F.expr("CASE WHEN cum_tokens = 0 THEN NULL ELSE "
                              "CAST(vocab AS DOUBLE) / "
                              "CAST(cum_tokens AS DOUBLE) END"))
               .select("bucket", "n_docs", "n_tokens", "new_terms",
                       "cum_docs", "cum_tokens", "vocab", "ttr")
               .orderBy("bucket"))


def _heaps_law_sql() -> str:
    n = HEAPS_BUCKETS
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM d),
db AS (SELECT least({n - 1}, ((doc_id - mn) * {n}) // (mx - mn + 1))
         AS bucket, text
       FROM d, b),
toks AS (SELECT bucket, unnest({tokens_sql()}) AS term FROM db),
tokb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
         FROM toks GROUP BY 1),
docb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
         FROM db GROUP BY 1),
newb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms FROM
         (SELECT term, min(bucket) AS bucket FROM toks GROUP BY 1)
         GROUP BY 1),
spine AS (SELECT CAST(unnest(range({n})) AS BIGINT) AS bucket),
j AS (SELECT spine.bucket,
             coalesce(n_docs, 0) AS n_docs,
             coalesce(n_tokens, 0) AS n_tokens,
             coalesce(new_terms, 0) AS new_terms
      FROM spine LEFT JOIN docb USING (bucket)
                 LEFT JOIN tokb USING (bucket)
                 LEFT JOIN newb USING (bucket)),
c AS (SELECT bucket, n_docs, n_tokens, new_terms,
             CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
             CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
             CAST(sum(new_terms) OVER w AS BIGINT) AS vocab
      FROM j WINDOW w AS (ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT bucket, n_docs, n_tokens, new_terms, cum_docs, cum_tokens, vocab,
       CASE WHEN cum_tokens = 0 THEN NULL
            ELSE CAST(vocab AS DOUBLE) / CAST(cum_tokens AS DOUBLE) END
         AS ttr
FROM c ORDER BY bucket
"""


# ----------------------------------------------- URL canonical dedup

def _url_raw_sql(div: str, str_t: str) -> str:
    """The messy-URL fixture, shared expression text modulo the two
    engine spellings (integer division token, string cast type):
    entity = doc_id DIV 4 (so ~4 raw forms map onto each logical
    page), host = cdn{{entity%5}}.example.com in four disguises —
    scheme-case / explicit :443 port / www. prefix / trailing slash /
    utm_*+fbclid tracking params / #fragment — variant 3 carries a
    REAL query param (?page=2) that canonicalization must KEEP."""
    ent = f"CAST(doc_id {div} 4 AS {str_t})"
    k = f"CAST((doc_id {div} 4) % 5 AS {str_t})"
    return (
        "CASE doc_id % 4 "
        f"WHEN 0 THEN 'http://CDN' || {k} || '.Example.COM/item/' || {ent}"
        " || '?utm_source=feed&utm_campaign=x#frag' "
        f"WHEN 1 THEN 'https://www.cdn' || {k} || '.example.com/item/' "
        f"|| {ent} || '/' "
        f"WHEN 2 THEN 'HTTPS://CDN' || {k} || '.EXAMPLE.COM:443/item/' "
        f"|| {ent} || '?fbclid=abc123&utm_medium=y' "
        f"ELSE 'https://cdn' || {k} || '.example.com/item/' || {ent} "
        "|| '?page=2' END")


def _canon_url_sql(rr) -> str:
    """`raw_url`'s canonicalization pipeline as one nested expression;
    `rr(x, pat, rep)` is the engine's REPLACE-ALL regexp spelling (Spark
    regexp_replace replaces all; DuckDB needs the 'g' flag). Steps:
    strip scheme → strip #fragment → drop tracking params
    (utm_*/fbclid) → repair dangling ?/& separators → lowercase +
    de-www + de-port the host → strip trailing slash."""
    s = rr("raw_url", "^[A-Za-z]+://", "")      # scheme
    s = rr(s, "#.*$", "")                       # fragment
    s = rr(s, "(utm_[a-z]+|fbclid)=[^&#]*", "")  # tracking params
    s = rr(s, "[?][&]+", "?")                   # '?&' → '?'
    s = rr(s, "[&][&]+", "&")                   # '&&' → '&'
    s = rr(s, "[?&]+$", "")                     # dangling tail
    host = f"lower(regexp_extract({s}, '^[^/]+', 0))"
    host = rr(rr(host, "^www[.]", ""), ":[0-9]+$", "")
    rest = rr(f"substr({s}, length(regexp_extract({s}, '^[^/]+', 0)) + 1)",
              "/+$", "")
    return f"({host} || {rest})"


def _url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup census — the crawl-side dedup
    every web corpus runs BEFORE content dedup (CommonCrawl-style:
    the same page arrives under scheme/case/www/port/tracking-param/
    trailing-slash disguises; fetching all of them wastes the crawl
    budget and triple-counts the page downstream). Per canonical
    host: raw URLs seen, distinct raw spellings, distinct canonical
    pages, and the dedup ratio.

    The canonicalizer is pure JVM-codegen string/regexp arithmetic —
    one map-side projection, one hash-agg; at 100 TB the agg keys are
    hosts (small) and the projection never shuffles. The oracle runs
    the IDENTICAL pipeline (modulo DuckDB's replace-all flag) on the
    same synthesized raw URLs, so every regexp step is value-pinned;
    variant 3's real ?page=2 param surviving canonicalization is part
    of the hash."""
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    raw = _url_raw_sql("div", "STRING")
    canon = _canon_url_sql(rr)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    u = docs.selectExpr(f"{raw} AS raw_url").selectExpr(
        "raw_url", f"{canon} AS canon_url")
    u = u.selectExpr("raw_url", "canon_url",
                     "regexp_extract(canon_url, '^[^/]+', 0) AS host")
    return (u.groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                  F.countDistinct("raw_url").cast("long")
                   .alias("n_raw_forms"),
                  F.countDistinct("canon_url").cast("long")
                   .alias("n_pages"))
             .withColumn("dup_ratio",
                         F.expr("CAST(n_urls - n_pages AS DOUBLE) / "
                                "CAST(n_urls AS DOUBLE)"))
             .select("host", "n_urls", "n_raw_forms", "n_pages",
                     "dup_ratio")
             .orderBy("host"))


def _url_dedup_sql() -> str:
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}', 'g')"
    raw = _url_raw_sql("//", "VARCHAR")
    canon = _canon_url_sql(rr)
    return f"""
WITH u0 AS (SELECT {raw} AS raw_url FROM documents),
u AS (SELECT raw_url, {canon} AS canon_url FROM u0),
h AS (SELECT raw_url, canon_url,
             regexp_extract(canon_url, '^[^/]+', 0) AS host FROM u)
SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
       CAST(count(DISTINCT canon_url) AS BIGINT) AS n_pages,
       CAST(count(*) - count(DISTINCT canon_url) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_ratio
FROM h GROUP BY host ORDER BY host
"""


# ------------------------------------------------ HTML boilerplate strip

def _html_wrap_sql(str_t: str) -> str:
    """The HTML fixture, shared expression text modulo the string-cast
    spelling: every document's text wrapped in a deterministic page
    shell — head (title + inline style), nav, content div, script
    blob, footer — so the stripper has real boilerplate to remove and
    the oracle can rebuild the identical page."""
    did = f"CAST(doc_id AS {str_t})"
    return (
        "'<html><head><title>Doc ' || " + did +
        " || '</title><style>body{margin:0}</style></head><body>"
        "<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>"
        "<div class=\"content\"><p>' || text || '</p></div>"
        "<script>var t=42;</script>"
        "<footer>(c) 2024 Example Corp - All rights reserved</footer>"
        "</body></html>'")


def _html_strip_sql(rr) -> str:
    """`html`'s boilerplate removal as one nested expression; `rr` is
    the engine's replace-all regexp spelling. Block elements whose INNER
    TEXT must not survive (head/title/style, script, nav, footer) are
    removed wholesale BEFORE the generic tag strip — a tag-only strip
    would leak 'Home | About' and the copyright line into the
    training text, which is exactly the failure mode this op exists
    to catch. Then tags → '', whitespace collapsed, trimmed."""
    s = rr("html", "<head>.*?</head>", "")
    s = rr(s, "<script>.*?</script>", "")
    s = rr(s, "<nav>.*?</nav>", "")
    s = rr(s, "<footer>.*?</footer>", "")
    s = rr(s, "<[^>]*>", "")
    s = rr(s, "  +", " ")
    return f"trim({s})"


def _html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first content step of every
    web-corpus pipeline (CCNet/RefinedWeb lineage: drop head/nav/
    script/footer chrome, keep the article text). Graded as a
    wrap→strip ROUNDTRIP census per source: the fixture page is
    deterministic, so `n_exact_roundtrip` (stripped text == original
    text) pins that the stripper removes ALL chrome and ONLY chrome,
    and the retention ratio pins the byte accounting.

    Scale shape: pure map — six codegen regexp passes and one
    source-keyed hash agg; zero joins, zero extra scans. At crawl
    scale this is the op that turns fetched bytes into trainable
    text, and it runs at input bandwidth."""
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    wrapped = _html_wrap_sql("STRING")
    stripped = _html_strip_sql(rr)
    d = (load_table(spark, sf_dir, "documents")
         .where("text IS NOT NULL")
         .selectExpr("doc_id", "source", "text", f"{wrapped} AS html"))
    d = d.selectExpr("source", "text", "html", f"{stripped} AS stripped")
    return (d.groupBy("source")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                  F.expr("CAST(sum(CASE WHEN stripped = trim(text) "
                         "THEN 1 ELSE 0 END) AS BIGINT)")
                   .alias("n_exact_roundtrip"),
                  F.expr("CAST(sum(length(html)) AS BIGINT)")
                   .alias("html_chars"),
                  F.expr("CAST(sum(length(stripped)) AS BIGINT)")
                   .alias("text_chars"))
             .withColumn("retention",
                         F.expr("CAST(text_chars AS DOUBLE) / "
                                "CAST(html_chars AS DOUBLE)"))
             .orderBy("source"))


def _html_strip_oracle() -> str:
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}', 'g')"
    wrapped = _html_wrap_sql("VARCHAR")
    stripped = _html_strip_sql(rr)
    return f"""
WITH w AS (SELECT doc_id, source, text, {wrapped} AS html
           FROM documents WHERE text IS NOT NULL),
s AS (SELECT source, text, html, {stripped} AS stripped FROM w)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN stripped = trim(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_roundtrip,
       CAST(sum(length(html)) AS BIGINT) AS html_chars,
       CAST(sum(length(stripped)) AS BIGINT) AS text_chars,
       CAST(sum(length(stripped)) AS DOUBLE)
         / CAST(sum(length(html)) AS DOUBLE) AS retention
FROM s GROUP BY source ORDER BY source
"""


# ---------------------------------------- URL x content agreement

def _url_text_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SIGNAL dedup census: canonical URL vs content hash, the
    two dedup keys a crawl pipeline must reconcile. Same canonical
    URL + several content hashes = page churn (re-crawls caught the
    CMS changing — keep the freshest); same content under several
    canonical URLs = mirrors (keep one, remember the aliases). Per
    host: docs, pages, churn pages, mirrored pages.

    One scan of the corpus projected to (host, canon_url,
    content_key) and eagerly localCheckpointed — the page census,
    the content-spread agg, and the mirror join all consume that
    small frame, not the text column."""
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    raw = _url_raw_sql("div", "STRING")
    canon = _canon_url_sql(rr)
    u = checkpoint(
        load_table(spark, sf_dir, "documents")
        .where("text IS NOT NULL")
        .selectExpr("doc_id", "md5(text) AS ck", f"{raw} AS raw_url")
        .selectExpr("ck", f"{canon} AS canon_url")
        .selectExpr("ck", "canon_url",
                    "regexp_extract(canon_url, '^[^/]+', 0) AS host"))
    pages = (u.groupBy("host", "canon_url")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.countDistinct("ck").cast("long").alias("n_contents")))
    spread = (u.groupBy("ck")
               .agg(F.countDistinct("canon_url").cast("long")
                     .alias("n_urls")))
    mirrored = (u.join(spread.where("n_urls > 1"), "ck")
                 .select("host", "canon_url").distinct()
                 .groupBy("host")
                 .agg(F.count(F.lit(1)).cast("long")
                       .alias("n_mirrored_pages")))
    return (pages.groupBy("host")
            .agg(F.expr("CAST(sum(n_docs) AS BIGINT)").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_pages"),
                 F.expr("CAST(sum(CASE WHEN n_contents > 1 THEN 1 "
                        "ELSE 0 END) AS BIGINT)").alias("n_churn_pages"))
            .join(mirrored, "host", "left")
            .selectExpr("host", "n_docs", "n_pages", "n_churn_pages",
                        "CAST(coalesce(n_mirrored_pages, 0) AS BIGINT)"
                        " AS n_mirrored_pages")
            .orderBy("host"))


def _url_text_agreement_sql() -> str:
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}', 'g')"
    raw = _url_raw_sql("//", "VARCHAR")
    canon = _canon_url_sql(rr)
    return f"""
WITH u0 AS (SELECT md5(text) AS ck, {raw} AS raw_url
            FROM documents WHERE text IS NOT NULL),
u1 AS (SELECT ck, {canon} AS canon_url FROM u0),
u AS (SELECT ck, canon_url,
             regexp_extract(canon_url, '^[^/]+', 0) AS host FROM u1),
pages AS (SELECT host, canon_url, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT ck) AS BIGINT) AS n_contents
          FROM u GROUP BY 1, 2),
spread AS (SELECT ck, count(DISTINCT canon_url) AS n_urls
           FROM u GROUP BY 1),
mirrored AS (SELECT host, CAST(count(*) AS BIGINT) AS n_mirrored_pages
             FROM (SELECT DISTINCT host, canon_url
                   FROM u JOIN spread USING (ck) WHERE n_urls > 1)
             GROUP BY 1)
SELECT pages.host, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN n_contents > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churn_pages,
       CAST(coalesce(any_value(m.n_mirrored_pages), 0) AS BIGINT)
         AS n_mirrored_pages
FROM pages LEFT JOIN mirrored m ON pages.host = m.host
GROUP BY pages.host
ORDER BY pages.host
"""


# ------------------------------------------------ radius range search

def _range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS similarity search (operators/similarity.range_search):
    every neighbor with cosine ≥ RANGE_COS for the first 50 query
    vectors, candidates from the same 2-band LSH the graded top-k
    uses — the ANN surface's other half (top-k answers "best k",
    radius answers "everything this similar": dedup sweeps,
    recommendation pools, contamination nets). Strictly cheaper than
    top-k at equal banding: no per-query rank window at all."""
    return similarity.range_search(load_table(spark, sf_dir, "embeddings"))


def _range_search_sql() -> str:
    return f"""
WITH {_BASE_CTES},
melted AS (SELECT vec_id, q, n2,
           unnest({_banded_bucket_list_sql(RANGE_BANDS)}) AS bucket FROM wn),
q AS (SELECT vec_id AS query_id, bucket FROM melted WHERE {similarity.RANGE_QUERY_PRED}),
c AS (SELECT vec_id AS neighbor_id, bucket FROM melted),
cand AS (SELECT DISTINCT query_id, neighbor_id FROM q JOIN c USING (bucket)
         WHERE neighbor_id <> query_id),
wnp AS (SELECT cand.query_id, cand.neighbor_id,
               wq.q AS qv, wq.n2 AS qn2, wc.q AS cv, wc.n2 AS cn2
        FROM cand JOIN wn wq ON wq.vec_id = cand.query_id
                  JOIN wn wc ON wc.vec_id = cand.neighbor_id),
scored AS (SELECT query_id, neighbor_id, {_DOT} AS dot, qn2, cn2 FROM wnp),
cos AS (SELECT query_id, neighbor_id, {_COS} AS cosine FROM scored)
SELECT query_id, neighbor_id, cosine FROM cos WHERE cosine >= {RANGE_COS}
"""


# ----------------------------------------------- video near-dup pairs

def _video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-VIDEO near-duplicate pairs
    (operators/multimodal.video_neardup_pairs): demux every clip,
    aHash every decoded frame, block candidate clips on an identical
    frame hash, verify by frame-set Jaccard ≥ VIDEO_NEARDUP_J — the
    video cell of the dedup matrix. The fixture's clips are 2+id%5
    frames of rolled text bytes, so same-text docs of different clip
    lengths are genuine containment pairs (Jaccard = short/long) the
    oracle recomputes pixel-for-pixel."""
    media = multimodal.documents_as_video_media(
        load_table(spark, sf_dir, "documents"))
    return multimodal.video_neardup_pairs(media)


def _video_neardup_sql() -> str:
    """DuckDB twin: frame f's plane byte j = text byte (j+f) mod nb
    (empty text → all-zero frames via the [0] sentinel), 8×8 grid ==
    frame so gray cell k = (b[3k]+b[3k+1]+b[3k+2]) // 3, integer mean
    over 64 cells, strict-> bits packed lo(0-31)/hi(32-63), then the
    df-cut + blocking-join + Jaccard tail of the ngram-pairs shape."""
    digit = "strpos('0123456789ABCDEF', hx[{i}]) - 1"
    byte_at = (f"16 * ({digit.format(i='2*p+1')}) "
               f"+ ({digit.format(i='2*p+2')})")
    b = "vals[((3 * k + {o} + f) % nbe) + 1]"
    gray_k = (f"({b.format(o=0)} + {b.format(o=1)} + {b.format(o=2)}) // 3")
    thr = multimodal.VIDEO_NEARDUP_J
    return f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb,
         CAST(2 + doc_id % 5 AS BIGINT) AS total
  FROM documents WHERE text IS NOT NULL
), v AS (
  SELECT doc_id, total,
         CASE WHEN nb = 0 THEN 1 ELSE nb END AS nbe,
         CASE WHEN nb = 0 THEN [0]
              ELSE list_transform(range(nb), p -> {byte_at}) END AS vals
  FROM m
), fr AS (
  SELECT doc_id, f, nbe, vals
  FROM v, UNNEST(range(CAST(total AS INT))) u(f)
), g AS (
  SELECT doc_id, f,
         list_transform(range(64), k -> {gray_k}) AS gray
  FROM fr
), s AS (SELECT doc_id, gray,
                CAST(list_sum(gray) AS BIGINT) // 64 AS mean FROM g),
bits AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN gray[k + 33] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_hi,
         CAST(list_sum(list_transform(range(32), k ->
           (CASE WHEN gray[k + 1] > mean THEN CAST(1 AS BIGINT)
                 ELSE 0 END) << k)) AS BIGINT) AS hash_lo
  FROM s
),
fh AS (SELECT DISTINCT doc_id, hash_hi, hash_lo FROM bits),
keep AS (SELECT hash_hi, hash_lo FROM fh GROUP BY 1, 2
         HAVING count(*) <= {multimodal.VIDEO_HASH_MAX_DF}),
kept AS (SELECT fh.* FROM fh JOIN keep USING (hash_hi, hash_lo)),
sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM kept a JOIN kept b USING (hash_hi, hash_lo)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE)
         / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= {thr}
"""


QUERIES: dict[str, Query] = {
    "doc_html_strip": Query(_html_strip, _html_strip_oracle(),
                            "HTML boilerplate strip: block removal "
                            "before tag strip, graded as a wrap-strip "
                            "roundtrip census per source"),
    "doc_dedup_savings": Query(_dedup_savings, _dedup_savings_sql(),
                               "dedup ROI per source: docs/chars a "
                               "canonical near-dup pass removes, off "
                               "the shared cluster-label artifact"),
    "emb_mrl_recall": Query(_mrl_recall, _mrl_recall_sql(),
                            "Matryoshka prefix-dim recall@k: serving "
                            "with the first 16/32/64 components vs "
                            "the full-width exact top-k"),
    "doc_url_text_agreement": Query(_url_text_agreement,
                                    _url_text_agreement_sql(),
                                    "URL-vs-content dedup census per "
                                    "host: churn pages (same URL, "
                                    "several contents) and mirrored "
                                    "pages (same content, several "
                                    "URLs)"),
    "doc_heaps_law": Query(_heaps_law, _heaps_law_sql(),
                           "Heaps-law vocabulary growth: cumulative "
                           "vocab vs tokens over doc_id-range buckets,"
                           " one tokenize scan + term-min hash-agg"),
    "doc_url_dedup": Query(_url_dedup, _url_dedup_sql(),
                           "URL canonicalization + per-host dedup "
                           "census: scheme/www/port/tracking-param/"
                           "slash normalization, real params kept"),
    "emb_range_search": Query(_range_search, _range_search_sql(),
                              "radius similarity search: all "
                              "neighbors with cosine >= r via banded "
                              "LSH, no per-query rank window"),
    "mm_video_neardup": Query(_video_neardup, _video_neardup_sql(),
                              "cross-video near-dup: per-frame aHash "
                              "sets, blocking on identical frame "
                              "hash, frame-set Jaccard verify"),
    "mm_patch_stats": Query(_patch_stats, _patch_stats_sql(),
                            "ViT-style 2x2 patch tokenization: exact "
                            "per-channel sums + integer mean gray per "
                            "decoded patch window"),
    "mm_scene_summary": Query(_scene_summary, _scene_summary_sql(),
                              "per-clip shot segmentation stats: "
                              "cuts, scenes, longest/shortest shot "
                              "via a lag window over cut positions"),
    "doc_winnow_census": Query(_winnow_census, _winnow_census_sql(),
                               "winnowing (MOSS) fingerprint sharing "
                               "census: in-scan window-min sampling, "
                               "~1/8 the exact-substring exchange"),
    "doc_incremental_neardup": Query(_incremental_neardup,
                                     _incremental_neardup_sql(),
                                     "cross-batch near-dup gate: new "
                                     "batch vs the seen corpus's "
                                     "MinHash band index, one verdict "
                                     "row per new doc"),
    "emb_knn_linkpred": Query(_knn_linkpred, _knn_linkpred_sql(),
                              "common-neighbor link prediction over "
                              "the kNN pair graph: ANN-missed "
                              "semantic neighbors (recall repair)"),
    "doc_classifier_score": Query(_classifier_score,
                                  _classifier_score_sql(),
                                  "hashed linear quality-classifier "
                                  "inference (fastText shape, weight "
                                  "table as plan literal, pure map)"),
    "doc_dsir_weights": Query(_dsir_weights, _dsir_weights_sql(),
                              "DSIR hashed-feature importance "
                              "weights: B-bounded counting pass → "
                              "literal score table → map-only "
                              "weighting pass"),
    "emb_kmeans_assign": Query(_kmeans_cells, _kmeans_assign_sql(),
                               "distributed 3-round Lloyd k-means, "
                               "integer fixed point, unrolled-CTE "
                               "oracle"),
    "emb_knn_graph": Query(_knn_graph_memo, _knn_graph_sql(),
                           "approximate kNN graph: banded-LSH "
                           "candidates + exact rerank, every vector "
                           "a query"),
    "doc_collocations": Query(_collocations, _COLLOCATIONS_SQL,
                              "PMI-lift collocation extraction "
                              "(tokenizer-vocab candidates)"),
    "doc_mixture_weights": Query(_mixture_weights, _MIXTURE_WEIGHTS_SQL,
                                 "temperature training-mix targets, "
                                 "largest-remainder apportionment"),
    "doc_dedup_exact": Query(_dedup_exact, _DEDUP_EXACT_SQL,
                             "exact dedup via md5 hash-agg"),
    "doc_ngram_pairs": Query(_ngram_pairs, _ngram_pairs_sql(),
                             "n-gram Jaccard inverted-index near-dup"),
    "doc_minhash_pairs": Query(_lsh_pairs, _minhash_pairs_sql(),
                               "MinHash+LSH banded near-dup"),
    "doc_dedup_clusters": Query(_cc, _dedup_clusters_sql(),
                                "near-dup pairs → connected-component "
                                "clusters (iterative label propagation)"),
    "doc_dedup_canonical": Query(_dedup_canonical, _dedup_canonical_sql(),
                                 "deduped corpus: one survivor per "
                                 "cluster (broadcast left join)"),
    "doc_dedup_clusters_star": Query(_dedup_clusters_star,
                                     _dedup_clusters_sql(),
                                     "same clusters via alternating "
                                     "star contraction (O(log n) "
                                     "rounds, long-chain safe)"),
    "doc_simhash_pairs": Query(_simhash_pairs, _simhash_pairs_sql(),
                               "SimHash banded near-dup"),
    "doc_language_id": Query(_language_id, _language_id_sql(),
                             "stopword-vote language ID"),
    "doc_quality": Query(_quality, _quality_sql(), "quality heuristics"),
    "doc_token_counts": Query(_token_counts, _TOKEN_COUNTS_SQL,
                              "token/char accounting"),
    "doc_fingerprint": Query(_fingerprint, _fingerprint_sql(),
                             "positional polynomial fingerprint"),
    "doc_top_terms": Query(_top_terms, _top_terms_sql(),
                           "per-doc keyword extraction"),
    "doc_corpus_stats": Query(_corpus_stats, _CORPUS_STATS_SQL,
                              "corpus-level accounting"),
    "doc_filter_funnel": Query(_filter_funnel, _filter_funnel_sql(),
                               "per-reason training-data reject census"),
    "doc_hash_split": Query(_hash_split, _hash_split_sql(),
                            "deterministic salted train/val holdout"),
    "doc_chunk": Query(_chunk, _chunk_sql(),
                       "overlapping token-window chunking with "
                       "content fingerprints"),
    "doc_pii_scrub": Query(_pii_scrub, _PII_SCRUB_SQL,
                           "PII redaction (inject→scrub roundtrip vs "
                           "direct oracle)"),
    "doc_repetition": Query(_repetition, _REPETITION_SQL,
                            "Gopher-style repetition signals"),
    "doc_tfidf": Query(_tfidf, _tfidf_sql(),
                       "corpus-weighted TF-IDF top terms per doc"),
    "doc_pack": Query(_pack, _pack_sql(),
                      "sequence packing via distributed two-level "
                      "prefix sum"),
    "doc_mix_sample": Query(_mix_sample, _mix_sample_sql(),
                            "stratified deterministic data-mixing "
                            "sample"),
    "doc_training_manifest": Query(_training_manifest,
                                   _training_manifest_sql(),
                                   "end-to-end pipeline: gates + both "
                                   "dedup tiers + mix + split + chunks"),
    "doc_crawl_manifest": Query(_crawl_manifest, _crawl_manifest_sql(),
                                "the crawl funnel from RAW HTML: strip "
                                "+ gates + dedup tiers + decontaminate "
                                "+ mix + split + chunks, one oracle"),
    "emb_bruteforce_topk": Query(_exact_topk, _brute_topk_sql(),
                                 "exact cosine top-k baseline"),
    "emb_lsh_topk": Query(_lsh_topk, _lsh_topk_sql(),
                          "hyperplane-LSH bucketed top-k "
                          f"({LSH_TOPK_BANDS}-band OR-amplified)"),
    "emb_lsh_topk_1band": Query(_lsh_topk_1band, _lsh_topk_1band_sql(),
                                "single-band LSH top-k (labeled "
                                "weakest-recall variant)"),
    # lazy SQL thunks: the oracle literals come from the lazily-trained
    # quantizers, so the text is built on first sql_text() access
    "emb_ivf_topk": Query(_ivf_topk, _ivf_topk_sql,
                          "IVF coarse-quantizer top-k"),
    "emb_ivfpq_topk": Query(_ivfpq_topk, _ivfpq_topk_sql,
                            "IVF-PQ: cell-pruned candidates ranked by "
                            "ADC over PQ codes (30x payload compression)"),
    "emb_ivfpq_packed": Query(_ivfpq_packed, _ivfpq_packed_sql,
                              "IVF-PQ with the candidate codes packed "
                              "into ONE BIGINT (8 B on the wire); "
                              "identical ranks, packing value-pinned"),
    "emb_neardup_pairs": Query(_emb_neardup_memo,
                               _emb_neardup_banded_sql(NEARDUP_BANDS),
                               f"embedding-cosine near-dup pairs "
                               f"({NEARDUP_BANDS}-band)"),
    "emb_neardup_multiband": Query(_emb_neardup_multiband,
                                   _emb_neardup_banded_sql(MULTIBAND_BANDS),
                                   f"OR-amplified {MULTIBAND_BANDS}-band "
                                   f"LSH near-dup"),
    "emb_semantic_dedup": Query(_emb_semantic_dedup,
                                _emb_semantic_dedup_sql(),
                                "semantic dedup: LSH pairs → connected "
                                "components → kept/dropped per vector"),
    "mm_binary_stats": Query(_binary_stats, _BINARY_STATS_SQL,
                             "binary payload accounting"),
    "mm_extract_features": Query(_extract_features, _extract_features_sql(),
                                 "REAL netpbm image decode (pure-numpy "
                                 "header parse + pixel reshape) — exact "
                                 "decoded-pixel stats, hash-checked"),
    "mm_png_stats": Query(_png_stats, _extract_features_sql(False),
                          "REAL PNG decode (stdlib-zlib inflate + "
                          "numpy unfilter of all five scanline "
                          "filters, CRC-checked chunk walk) — exact "
                          "decoded-pixel stats, hash-checked"),
    "mm_jpeg_stats": Query(_jpeg_stats, _jpeg_stats_sql(),
                           "REAL baseline-JFIF decode (marker walk, "
                           "in-stream DHT Huffman, dequant + IDCT) — "
                           "exactly-lossless block-constant fixture, "
                           "decoded-pixel stats hash-checked"),
    "mm_resize": Query(_resize, _resize_sql(),
                       "REAL nearest-neighbor image resize "
                       "(decode→gather→re-encode→re-decode), "
                       "pixel-sum verified"),
    "mm_frame_sample": Query(_frame_sample, _frame_sample_sql(),
                             "REAL multi-frame demux (concatenated "
                             "netpbm stream) + evenly-spaced frame "
                             "sampling, decoded-pixel sums"),
    "mm_audio_features": Query(_audio_features, _audio_features_sql(),
                               "REAL RIFF/WAVE PCM decode (chunk-list "
                               "walk) — exact decoded-sample stats"),
    "doc_decontaminate": Query(_decontaminate, _decontaminate_sql(),
                               "benchmark n-gram decontamination "
                               "(broadcast semi join)"),
    "doc_delete_ids": Query(_delete_ids, _DELETE_IDS_SQL,
                            "targeted deletion (RTBF): partition-pruned "
                            "rewrite graded by reading the rewritten "
                            "corpus back"),
    "doc_snapshot_diff": Query(_snapshot_diff, _SNAPSHOT_DIFF_SQL,
                               "dataset-versioning diff: per-row "
                               "added/removed/changed/unchanged via "
                               "hash-projected full-outer join"),
    "doc_trade_pagerank": Query(_trade_pagerank,
                                _pagerank_sql(_TRADE_EDGES_CTE),
                                "entity-authority scoring: exact "
                                "fixed-point integer PageRank over the "
                                "supplier-customer trade graph, "
                                "5 Pregel-style iterations"),
    "doc_link_authority": Query(_link_authority, _link_authority_sql(),
                                "link-based source weighting: host "
                                "PageRank over the crawl link graph, "
                                "authority broadcast-joined back per "
                                "document"),
    "doc_rarity": Query(_rarity, _rarity_sql(),
                        "corpus-relative token rarity (df join, "
                        "hapax/mean-df quality signal)"),
    "doc_sentence_dedup": Query(_sentence_dedup, _sentence_dedup_sql(),
                                "cross-document duplicated sentences "
                                "(boilerplate detector)"),
    "doc_length_stats": Query(_length_stats, _LENGTH_STATS_SQL,
                              "per-source exact length order statistics"),
    "emb_label_centroids": Query(_label_centroids, _LABEL_CENTROIDS_SQL,
                                 "per-label exact centroid statistics "
                                 "(long-format posexplode agg)"),
    "doc_lang_confusion": Query(_lang_confusion, _lang_confusion_sql(),
                                "language-ID confusion matrix vs "
                                "ground-truth labels"),
    "doc_crossmodal_agreement": Query(_crossmodal, _crossmodal_sql(),
                                      "text near-dup pairs scored with "
                                      "embedding cosine (threshold "
                                      "calibration report)"),
    "doc_distinct_sketch": Query(_distinct_sketch,
                                 sketch.kmv_sketch_sql(),
                                 "KMV distinct-count sketch per source "
                                 "+ merged — the cross-engine-"
                                 "verifiable cardinality sketch"),
    "doc_global_rank": Query(_global_rank, _GLOBAL_RANK_SQL,
                             "exact corpus-wide ranking without a "
                             "single-task sort (range partitions + "
                             "parallel in-partition rank + offset "
                             "prefix sum)"),
    "emb_cluster_labels": Query(_cluster_labels, _cluster_labels_sql(),
                                "cluster labeling: top PMI-lift terms "
                                "per k-means cell (BERTopic-style "
                                "class-based TF-IDF corpus map)"),
    "doc_vocab_coverage": Query(_vocab_coverage,
                                text.vocab_coverage_sql(),
                                "OOV-rate audit vs the top-V corpus "
                                "vocabulary (single tokenize scan, "
                                "all-BIGINT ppm output)"),
    "emb_cell_outliers": Query(_cell_outliers, _cell_outliers_sql,
                               "embedding-space anomaly census: "
                               "dist2 vs exact cell lower-median "
                               "over the graded k-means assignment"),
    "doc_cluster_split": Query(_cluster_split, _cluster_split_sql,
                               "leakage-safe train/val split: the "
                               "assignment unit is the dup CLUSTER "
                               "(CC label), near-dups never straddle "
                               "the split"),
    "doc_curriculum": Query(_curriculum, _curriculum_sql,
                            "curriculum ordering: exact quality rank "
                            "via distributed two-level prefix sum, "
                            "equal stages by integer rank cut"),
    "emb_snapshot_drift": Query(_snapshot_drift, _snapshot_drift_sql,
                                "embedding-distribution drift between "
                                "snapshots: cell-occupancy ppm deltas "
                                "(total-variation in ppm), mergeable "
                                "k-row audit"),
    "doc_gate_agreement": Query(_gate_agreement, _gate_agreement_sql,
                                "Cohen's kappa between the classifier "
                                "and heuristic quality gates (shared "
                                "fixed-double expression, overflow-"
                                "free confusion marginals)"),
    "doc_score_calibration": Query(_score_calibration,
                                   _score_calibration_sql,
                                   "per-source quantile normalization "
                                   "of the quality score (within-"
                                   "source percentile as exact ppm)"),
    "doc_fertility": Query(_fertility, _fertility_sql,
                           "tokenizer fertility by language: BPE "
                           "tokens per word from the memoized merge "
                           "list x langid verdict"),
    "doc_dup_source_matrix": Query(_dup_source_matrix,
                                   _dup_source_matrix_sql(),
                                   "cross-source near-dup provenance "
                                   "matrix (which feeds mirror which) "
                                   "over the graded MinHash pairs"),
    "mm_scene_cuts": Query(_scene_cuts, _scene_cuts_sql(),
                           "video shot-boundary detection: per-"
                           "consecutive-frame-pair exact SAD + cut "
                           "verdicts over decoded frames"),
    "emb_density_sample": Query(_density_sample, _density_sample_sql,
                                "density-inverse diversity sampling: "
                                "per-vector keep verdicts ∝ 1/local "
                                "kNN density (redundancy thins, rare "
                                "points survive)"),
    "doc_textrank": Query(_textrank, _textrank_sql(),
                          "TextRank keyword salience: exact integer "
                          "PageRank over the adjacency-bigram word "
                          "graph (vocabulary-sized iterations)"),
    "doc_hybrid_rrf": Query(_hybrid_rrf, _hybrid_rrf_sql(),
                            "hybrid retrieval: BM25 top-20 + "
                            "LSH-ANN top-20 fused by integer "
                            "reciprocal-rank fusion"),
    "doc_phrase_search": Query(_phrase_search,
                               text.phrase_hits_sql(),
                               "exact phrase search (map-only "
                               "higher-order offset filter — the "
                               "contamination-string gate shape, "
                               "zero shuffle)"),
    "doc_blocklist_tag": Query(_blocklist_tag,
                               text.blocklist_hits_sql(),
                               "multi-phrase blocklist tagging "
                               "(content-policy gate: K banned "
                               "phrases as whole-token runs, "
                               "map-only, let-bound tokenize)"),
    "doc_pseudonymize": Query(_pseudonymize,
                              text.pseudonymize_terms_sql(),
                              "deterministic entity pseudonymization: "
                              "dictionary terms to stable per-entity "
                              "md5 surrogates (referential integrity "
                              "preserved, map-only)"),
    "emb_hard_negatives": Query(_hard_negatives, _hard_negatives_sql(),
                                "hard-negative mining: most-similar "
                                "cross-label neighbor per anchor "
                                "from the banded kNN graph"),
    "emb_semantic_decontaminate": Query(_semantic_decontaminate,
                                        _semantic_decontaminate_sql(),
                                        "embedding-space eval-leak "
                                        "audit (paraphrase leaks the "
                                        "n-gram pass misses; banded "
                                        "candidates, exact verify)"),
    "doc_hll_distinct": Query(_hll_distinct, sketch.hll_sketch_sql(),
                              "deterministic HyperLogLog vocabulary "
                              "cardinality per source + register-"
                              "merged global (integer registers, "
                              "fixed-point harmonic sum)"),
    "doc_dup_triangles": Query(_dup_triangles, _dup_triangles_sql(),
                               "per-doc triangle support on the "
                               "near-dup graph (degree-oriented wedge "
                               "enumeration)"),
    "doc_bloom_decontaminate": Query(_bloom_decontaminate,
                                     _bloom_decontaminate_sql(),
                                     "decontamination via a "
                                     "deterministic Bloom filter: "
                                     "bloom verdict vs exact verdict "
                                     "+ false-positive census"),
    "doc_token_drift": Query(_token_drift, _TOKEN_DRIFT_SQL,
                             "token-distribution drift between corpus "
                             "slices (fixed-point ppb total-variation "
                             "contributions)"),
    "doc_apply_changes": Query(_apply_changes, _APPLY_CHANGES_SQL,
                               "CDC MERGE INTO: latest-per-key change "
                               "compaction + one full-outer key join "
                               "(precedence, delete-wins, upsert)"),
    "doc_bm25": Query(_bm25, _BM25_SQL,
                      "fixed-point BM25 top-k (lexical retrieval "
                      "next to the ANN tier; exact integer "
                      "saturation + linear idf)"),
    "emb_ann_recall": Query(_ann_recall, _ann_recall_sql(),
                            "recall@k of the graded LSH config vs "
                            "exact top-k (the ANN tuning metric as "
                            "a query)"),
    "mm_audio_dedup": Query(_audio_dedup, _audio_dedup_sql(),
                            "perceptual audio fingerprint dedup "
                            "(decoded-sample envelope hash, every "
                            "bit oracle-recomputed)"),
    "mm_audio_resample": Query(_audio_resample, _audio_resample_sql(),
                               "real audio resample: decode -> "
                               "zero-order-hold gather to 6 kHz -> "
                               "re-encode -> re-decode, exact stats "
                               "of the resampled samples"),
    "mm_audio_vad": Query(_audio_vad, _audio_vad_sql,
                          "voice-activity gate: midline-band silence "
                          "runs over decoded PCM (trim offsets, "
                          "all-silence drops), gaps-and-islands "
                          "oracle"),
    "mm_image_neardup": Query(_image_neardup, _image_neardup_sql(),
                              "banded aHash image near-dup pairs "
                              "(8-band pigeonhole, popcount verify, "
                              "exact recall at the cut radius)"),
    "mm_phash_dedup": Query(_phash_dedup, _phash_dedup_sql(),
                            "perceptual aHash image dedup groups "
                            "(resize-invariant multimodal near-dup "
                            "key, every bit oracle-recomputed)"),
    "doc_bpe_merges": Query(_bpe_merges, _bpe_sql(),
                            "BPE tokenizer training: first 6 merge "
                            "rules by iterative argmax pair fusion "
                            "over the word-frequency table"),
    "doc_bpe_encode": Query(_bpe_encode, _bpe_encode_sql(),
                            "corpus re-encoded with its own BPE "
                            "merges: per-doc BPE token counts "
                            "(broadcast word-map join)"),
    "doc_reservoir_sample": Query(_stratified_reservoir,
                                  _STRATIFIED_RESERVOIR_SQL,
                                  "exact-k-per-stratum deterministic "
                                  "sample (k smallest salted hashes)"),
    "doc_length_histogram": Query(_length_histogram, _LENGTH_HISTOGRAM_SQL,
                                  "per-source equi-width length "
                                  "histogram over global bin edges"),
    "doc_length_quantile_bins": Query(_length_quantile_bins,
                                      _LENGTH_QUANTILE_BINS_SQL,
                                      "per-source equi-depth decile "
                                      "bins (quantile boundaries)"),
    "doc_length_outliers": Query(_length_outliers, _LENGTH_OUTLIERS_SQL,
                                 "per-source median/MAD robust outlier "
                                 "census (exact integer order stats)"),
    "emb_semdedup_cells": Query(_semdedup_cells, _semdedup_cells_sql,
                                "SemDeDup cluster-partitioned semantic "
                                "dedup (in-cell pairwise cosine, "
                                "greedy min-id survivor)"),
    "doc_weighted_sample": Query(_weighted_sample, _WEIGHTED_SAMPLE_SQL,
                                 "deterministic Poisson weighted "
                                 "sampling (inclusion ∝ doc length, "
                                 "no rand, no shuffle)"),
    "doc_novelty": Query(_novelty, _NOVELTY_SQL,
                         "ordered-corpus shingle novelty (the "
                         "dedup-ROI estimator, first-seen window)"),
    "doc_minhash_quality": Query(_minhash_quality, _minhash_quality_sql(),
                                 "signature-implied Jaccard vs exact "
                                 "per verified pair (the K-tuning "
                                 "metric, signed err ppm)"),
    "doc_neardup_recall": Query(_neardup_recall, _neardup_recall_sql(),
                                "LSH recall vs the exact PPJoin "
                                "ground truth per jaccard band — the "
                                "missed-pairs audit estimator quality "
                                "can't see"),
    "doc_source_overlap": Query(_source_overlap,
                                sketch.kmv_pair_overlap_sql(),
                                "pairwise source-overlap estimates "
                                "from KMV sketch algebra (union/"
                                "intersection, no per-pair rescan)"),
    "doc_containment": Query(_containment, _containment_sql(),
                             "asymmetric shingle containment (the "
                             "excerpt/superset detector Jaccard "
                             "misses; exact ppm)"),
    "doc_dup_lpa": Query(_dup_lpa, _dup_lpa_sql(),
                         "label-propagation communities on the "
                         "near-dup graph (synchronous rounds, "
                         "deterministic tie-break)"),
    "doc_dup_kcore": Query(_dup_kcore, _dup_kcore_sql(),
                           "k-core peel of the near-dup graph (dense "
                           "duplicate communities vs peel-away chains; "
                           "unrolled-peel oracle)"),
    "doc_bigram_fluency": Query(_bigram_fluency, _BIGRAM_FLUENCY_SQL,
                                "bigram-LM fluency score (CCNet-style "
                                "n-gram quality gate, fixed-point mean "
                                "conditional probability)"),
    "doc_script_census": Query(_script_census, text.script_census_sql(),
                               "character-class / encoding-rot census "
                               "(map-only, outside-ASCII ppm gate)"),
    "doc_trigram_fluency": Query(_trigram_fluency,
                                 text.trigram_fluency_sql(),
                                 "interpolated trigram-LM typicality "
                                 "(Jelinek-Mercer backoff, fixed "
                                 "point)"),
    "doc_rake_keywords": Query(_rake_keywords, text.rake_keywords_sql(),
                               "RAKE keyword extraction: stopword-gap "
                               "phrases, degree/frequency scores, "
                               "top-50"),
    "doc_heavy_hitters": Query(_heavy_hitters,
                               sketch.cms_heavy_hitters_sql(),
                               "count-min sketch heavy hitters: exact "
                               "top-k tokens vs sketch estimates (the "
                               "hash pins cms >= exact per row)"),
    "doc_substring_spans": Query(_substring_spans, _SUBSTRING_SPANS_SQL,
                                 "exact duplicated-substring census "
                                 "(Lee et al. exact substring dedup, "
                                 "inverted gram index + span merge)"),
    "emb_jl_rerank": Query(_jl_rerank, _jl_rerank_sql(),
                           "two-stage retrieval: JL-projection "
                           "candidates + exact rerank (coarse-then-"
                           "rerank ANN pattern)"),
    "emb_pq_recall": Query(_pq_recall, _pq_recall_sql,
                           "recall@k of the full IVF-PQ path — "
                           "isolates the ADC compression cost on "
                           "top of the cell miss rate"),
    "emb_ivf_recall": Query(_ivf_recall, _ivf_recall_sql,
                            "recall@k of the IVF (nprobe=1) path vs "
                            "exact — the cell-count tuning metric"),
    "emb_pca_scores": Query(_pca_scores, _pca_scores_sql,
                            "top-principal-component projection: "
                            "sample-trained power iteration, exact-"
                            "int literal-injected transform"),
    "emb_mmr_rerank": Query(_mmr_rerank, _mmr_rerank_sql,
                            "Maximal Marginal Relevance diversity "
                            "re-rank: greedy λ=0.5 pick-5, unrolled "
                            "static stages over a bounded pool"),
    "emb_sq8_recall": Query(_sq8_recall, _sq8_recall_sql(),
                            "int8 scalar-quantization recall@k: "
                            "1-byte-per-dim codes off a 1-row min/max "
                            "bounds frame, asymmetric (ADC) search "
                            "vs the exact top-k"),
    "emb_hamming_topk": Query(_hamming_topk, _hamming_topk_sql(),
                              "sign-bit binary codes + multi-index "
                              "Hamming top-k: 8-byte vectors, "
                              "XOR+popcount distance, pigeonhole-"
                              "exact within radius 7"),
    "doc_ssjoin_prefix": Query(_ssjoin_pairs, _ssjoin_prefix_sql(),
                               "EXACT token-Jaccard pairs via PPJoin "
                               "prefix filtering: df-ascending order, "
                               "rare-half candidate index, length "
                               "filter — zero recall loss"),
}
