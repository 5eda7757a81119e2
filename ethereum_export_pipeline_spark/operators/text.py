"""Text-analysis operators over a document table (north-star
extensions, BASELINE.json): language ID, quality scoring, token
counting, document fingerprinting.

Cross-engine discipline: every operator here is verified against a
DuckDB oracle, so all logic is deterministic integer/regex arithmetic
expressible in both engines — tokenization via a shared regex, hashes
via the md5-derived `functions.h32`, ratios via double arithmetic on
exact integers (IEEE-identical on both engines). No UDFs anywhere:
everything stays in whole-stage codegen.

Scale: each operator is a single narrow projection + aggregation over
the documents table — embarrassingly parallel, no shuffle except the
final group-bys. Token explosion is bounded by document length; at
100 TB the explode happens map-side and feeds partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..execution import checkpoint, spread
from ..functions import MERSENNE31, tokens

#: Tiny embedded stopword lexicons (top function words). Deliberately
#: small and inline: they are part of the operator's deterministic
#: definition (shared verbatim with the oracle SQL), not a model.
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich",
           "auf", "des", "dem", "den", "von", "zu", "sich", "sie", "er"],
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "was",
           "for", "on", "are", "as", "with", "his", "they", "at", "be"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es",
           "no", "por", "con", "para", "como", "su", "al", "lo", "se"],
    "fr": ["le", "la", "les", "et", "des", "en", "un", "une", "du", "que",
           "est", "pour", "dans", "ce", "il", "qui", "ne", "sur", "pas"],
}

TOKENS_COL = "toks"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(TOKENS_COL, tokens(text_col))


def _in_list(col: str, words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({col}, x -> x IN ({quoted})))"


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                keep: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-vote language ID. Per language: count of tokens in its
    lexicon; prediction = argmax, ties broken by language code
    ascending, 'und' when no stopword hits at all.

    `keep` carries extra input columns through unchanged — the
    streaming crawl gate needs language + quality in ONE pass (a
    stream can't self-join on doc_id the way the batch funnel does)."""
    d = with_tokens(df, text_col)
    langs = sorted(STOPWORDS)  # tie-break order: code ascending
    hits = [F.expr(_in_list(TOKENS_COL, STOPWORDS[lg])).cast("long").alias(f"hits_{lg}")
            for lg in langs]
    d = d.select(F.col(id_col), *hits, *[F.col(c) for c in keep])
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    # CASE evaluates in code order, so listing languages ascending
    # implements the tie-break (first max wins).
    cases = F.when((best > 0) & (F.col(f"hits_{langs[0]}") == best), F.lit(langs[0]))
    for lg in langs[1:]:
        cases = cases.when((best > 0) & (F.col(f"hits_{lg}") == best), F.lit(lg))
    pred = cases.otherwise(F.lit("und"))
    return d.select(
        id_col, pred.alias("pred_lang"),
        *[F.col(f"hits_{lg}") for lg in langs],
        *[F.col(c) for c in keep])


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  keep: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic document quality: length, token stats, alnum ratio,
    stopword ratio, composite score. All ratios are double arithmetic
    over exact integers → engine-identical. `keep` carries extra
    input columns through unchanged (see `language_id`)."""
    d = with_tokens(df, text_col)
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(F.col(TOKENS_COL)).cast("long")
    tok_chars = F.expr(f"aggregate({TOKENS_COL}, 0L, (a, x) -> a + length(x))")
    alnum = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""))
    stop_hits = F.expr(_in_list(TOKENS_COL, STOPWORDS["en"])).cast("long")
    d = d.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        tok_chars.cast("long").alias("n_token_chars"),
        alnum.cast("long").alias("n_alnum"),
        stop_hits.alias("n_stopwords"),
        *[F.col(c) for c in keep],
    )
    nt = F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    nc = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    avg_tok = F.col("n_token_chars") / nt
    alnum_ratio = F.col("n_alnum") / nc
    stop_ratio = F.col("n_stopwords") / nt
    score = (
        F.least(F.col("n_tokens").cast("double") / F.lit(100.0), F.lit(1.0)) * 0.25
        + alnum_ratio * 0.25
        + stop_ratio * 0.25
        + F.when((avg_tok >= 3.0) & (avg_tok <= 10.0), 0.25).otherwise(0.0)
    )
    return d.select(
        id_col, "n_chars", "n_tokens", "n_token_chars", "n_alnum", "n_stopwords",
        avg_tok.alias("avg_token_len"),
        alnum_ratio.alias("alnum_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
        *[F.col(c) for c in keep],
    )


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    ([a-z0-9]+ word pieces), plus char length — the cheap
    size-accounting pass a training-data pipeline runs first."""
    ws = F.expr(f"size(filter(split({text_col}, '\\\\s+'), x -> x <> ''))")
    return with_tokens(df, text_col).select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        ws.cast("long").alias("ws_tokens"),
        F.size(F.col(TOKENS_COL)).cast("long").alias("re_tokens"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint: a positional polynomial
    hash over word tokens, fp = Σ_i ((i+1)·h32(tok_i)) mod p. Stays in
    [0, p); products < 2^51 and the running sum < 2^48 — exact int64
    arithmetic on both engines."""
    p = MERSENNE31
    expr = (
        f"aggregate(transform({TOKENS_COL}, (x, i) -> "
        f"((CAST(i + 1 AS BIGINT) * (CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {p})) % {p})"
        f"), 0L, (a, b) -> a + b) % {p}"
    )
    return with_tokens(df, text_col).select(
        F.col(id_col),
        F.expr(expr).cast("long").alias("fingerprint"),
        F.size(F.col(TOKENS_COL)).cast("long").alias("re_tokens"),
    )


def top_terms(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", k: int = 3) -> DataFrame:
    """Keyword extraction: the k most frequent tokens per document,
    ties broken lexicographically (deterministic on both engines).
    Output: (id, term, n, rank). Explode → per-(doc,term) count →
    partitioned top-k window; the window shuffles on the doc key only."""
    from pyspark.sql import Window
    counts = (
        spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (Window.partitionBy(id_col)
               .orderBy(F.col("n").desc(), F.col("term").asc()))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
                  .where(F.col("rank") <= k))


def corpus_stats(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """One-row corpus accounting: documents, token volume, vocabulary
    size, exact-duplicate ratio — the first report a training-data
    pipeline prints. Two scans (token stats + dup grouping), both
    map-side-combining aggregates."""
    toks = spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tok_stats = toks.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("term").alias("vocab_size"))
    base = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique_texts"))
    return (base.crossJoin(tok_stats)
                .withColumn("avg_doc_tokens",
                            F.col("total_tokens") / F.col("n_docs"))
                .withColumn("dup_ratio",
                            (F.col("n_docs") - F.col("n_unique_texts"))
                            / F.col("n_docs")))


#: (name, pattern, replacement) — conservative regex syntax that Java
#: (Spark) and RE2 (DuckDB) interpret identically; applied in order,
#: each over the previous replacement's output.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
]


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII redaction — the compliance pass every training-data
    pipeline runs before text ships: emails, phone numbers, and IPv4
    addresses replaced with typed placeholder tokens, plus a per-kind
    match count. Pure codegen projection (regexp_replace chains), no
    shuffle, no UDF.

    Counts are measured per pattern on the ORIGINAL text (overlapping
    kinds would each count on pathological inputs); the scrub itself
    is sequential, so an earlier replacement wins on overlap."""
    cleaned = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.coalesce(F.size(F.regexp_extract_all(F.col(text_col),
                                                   F.lit(pat), 0)),
                       F.lit(0)).cast("long").alias(f"n_{name}"))
        cleaned = F.regexp_replace(cleaned, pat, repl)
    return df.select(F.col(id_col), *counts, cleaned.alias("clean_text"))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Repetition signals (the Gopher-style quality gates): duplicate-
    token ratio and the hottest token's frequency share, per document
    with at least one token. Explode → per-(doc,term) count → one
    per-doc aggregate; both group-bys shuffle on the doc key, ratios
    are single divisions over exact ints (engine-identical doubles)."""
    counts = (
        spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("n"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("n").cast("long").alias("top_n"))
    total = F.col("n_tokens").cast("double")
    return per_doc.select(
        id_col, "n_tokens", "n_distinct", "top_n",
        ((F.col("n_tokens") - F.col("n_distinct")) / total)
        .alias("dup_token_ratio"),
        (F.col("top_n") / total).alias("top_token_share"),
    )


def chunk_tokens(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", chunk: int = 64,
                 stride: int = 48) -> DataFrame:
    """Training-sample chunking: split each document's token sequence
    into overlapping windows of `chunk` tokens every `stride` tokens
    (the example-preparation step between cleaning and batching).
    One row per chunk: (id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_fp) where chunk_fp is the positional polynomial hash of the
    chunk's tokens — so chunk CONTENT, not just counts, is verifiable.

    All sequence arithmetic (`sequence`/`slice`/`transform`) is
    map-side codegen'd projection; the explode fans out ~T/stride rows
    per doc with no shuffle. Documents with zero tokens yield no
    chunks."""
    p = MERSENNE31
    n_chunks = (f"CASE WHEN coalesce(size({TOKENS_COL}), 0) = 0 THEN array() "
                f"ELSE sequence(0, CAST(floor((size({TOKENS_COL}) - 1) / {stride}.0) AS INT)) END")
    fp = (f"aggregate(transform(chunk, (x, i) -> "
          f"((CAST(i AS BIGINT) + 1) * "
          f"(CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {p})) % {p}"
          f"), 0L, (a, b) -> a + b) % {p}")
    return (
        with_tokens(df, text_col)
        .select(F.col(id_col), F.col(TOKENS_COL),
                F.explode(F.expr(n_chunks)).alias("chunk_idx"))
        .withColumn("chunk", F.expr(
            f"slice({TOKENS_COL}, chunk_idx * {stride} + 1, {chunk})"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
            F.size("chunk").cast("long").alias("n_chunk_tokens"),
            F.expr(fp).cast("long").alias("chunk_fp"),
        )
    )


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5) -> DataFrame:
    """Corpus-weighted keyword extraction: the k highest-TF-IDF terms
    per document. Unlike `top_terms` (raw frequency), the score folds
    in the corpus document frequency, so ubiquitous terms sink.

    idf is the LINEAR inverse document frequency N/df, not log(N/df):
    `ln` differs between engine libms in the last ulp (measured: ~3%
    of inputs), which would flap the cross-engine value hash, while
    tf·N/df is one exactly-rounded int64-ratio division — bit-identical
    by IEEE 754. Ranking is unaffected for fixed tf (both idfs are
    monotone decreasing in df).

    Scale notes: ONE tokenize scan. tf aggregates on (doc, term) with
    map-side combine; df then comes from a count window over the tf
    frame partitioned by term — NOT a tf→groupBy(term)→join-back self
    reference, which Spark plans as a second full scan+tokenize of the
    corpus (AQE stage reuse cannot canonicalize a shared exchange
    whose subtree carries partial count-aggregate buffers — measured
    on 4.1: distinct/self-join subtrees reuse, count-agg subtrees
    never do). The window shuffles tf by term once, exactly what the
    join-back would have shuffled anyway, with no probe side. A
    corpus-stopword term puts its whole df in one window partition —
    at real scale cap it with an upstream df-cut or salt, same as the
    dedup inverted index. n_docs is a 1-row broadcast cross join whose
    scan prunes to the text column with no tokenize."""
    from pyspark.sql import Window
    tf = (spread(df.where(F.col(text_col).isNotNull()))
            .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    n_docs = (df.where(F.col(text_col).isNotNull())
                .agg(F.count(F.lit(1)).alias("n_docs")))
    scored = (tf.withColumn("df",
                            F.count(F.lit(1)).over(Window.partitionBy("term")))
                .crossJoin(F.broadcast(n_docs))
                .withColumn("tfidf",
                            (F.col("tf") * F.col("n_docs")).cast("double")
                            / F.col("df")))
    w = (Window.partitionBy(id_col)
               .orderBy(F.col("tfidf").desc(), F.col("term").asc()))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .where(F.col("rank") <= k)
                  .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                          F.col("df").cast("long").alias("df"),
                          "tfidf", "rank"))


def pack_sequences(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", seq_len: int = 256,
                   bucket: int = 1024) -> DataFrame:
    """Sequence packing for training batches: lay every document's
    tokens end-to-end in id order and cut the stream into fixed
    `seq_len` bins — each doc learns its global token offset, its
    first bin, its offset inside that bin, and how many bins it spans
    (the example-packing bookkeeping an LLM pretraining pipeline
    computes before writing shards).

    The global prefix sum is computed DISTRIBUTED, not with a
    single-partition global window: per-bucket (id div `bucket`)
    running sums in parallel, a tiny per-bucket totals frame whose own
    prefix sum is one small-task window, broadcast back. Choose
    `bucket` so #buckets fits one task (or apply the same two-level
    trick again); no stage ever sees a global sort.

    Bucket totals are read OFF the per-bucket window output
    (max(running_before + n) per bucket) rather than re-aggregated
    from the corpus: both consumers then share the bucket exchange,
    which AQE reuses (its subtree carries no aggregate buffers), so
    the corpus is scanned and tokenized exactly once."""
    from pyspark.sql import Window
    n = (with_tokens(df.where(F.col(text_col).isNotNull()), text_col)
         .select(F.col(id_col),
                 F.size(F.col(TOKENS_COL)).cast("long").alias("n_tokens"),
                 F.expr(f"CAST({id_col} AS BIGINT) div {bucket}")
                 .alias("_bkt"))
         # explicit, though implied by the join: with it BOTH consumers
         # of the bucket exchange (per-bucket window, bucket totals)
         # canonicalize identically, so AQE reuses one shuffle — without
         # it the join branch alone gets an inferred isnotnull(_bkt)
         # and the corpus is scanned+tokenized twice
         .where(F.col("_bkt").isNotNull()))
    w_local = (Window.partitionBy("_bkt").orderBy(id_col)
                     .rowsBetween(Window.unboundedPreceding, -1))
    local = n.withColumn(
        "_local_before",
        F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0)).cast("long"))
    totals = local.groupBy("_bkt").agg(
        F.max(F.col("_local_before") + F.col("n_tokens")).alias("_bkt_total"))
    w_bkt = (Window.orderBy("_bkt")
                   .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.withColumn(
        "_bkt_before",
        F.coalesce(F.sum("_bkt_total").over(w_bkt), F.lit(0)).cast("long")) \
        .select("_bkt", "_bkt_before")
    packed = (local.join(F.broadcast(offsets), "_bkt")
                   .withColumn("global_start",
                               (F.col("_bkt_before") + F.col("_local_before"))
                               .cast("long")))
    return packed.select(
        id_col, "n_tokens", "global_start",
        F.expr(f"global_start div {seq_len}").cast("long").alias("bin_id"),
        (F.col("global_start") % seq_len).cast("long").alias("bin_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
            F.expr(f"(global_start + n_tokens - 1) div {seq_len}"
                   f" - global_start div {seq_len} + 1"))
         .cast("long").alias("n_bins"))


def mix_sample(df: DataFrame, id_col: str = "doc_id",
               source_col: str = "source", salt: str = "mix-v1",
               rate_salt: str = "rate-v1") -> DataFrame:
    """Stratified deterministic sampling — the data-mixing step that
    downweights or upweights sources when composing a training corpus.
    Each stratum (source) gets a keep rate in [10, 99]% derived from a
    salted hash of its name (stands in for a configured weights table
    — swap `rate_pct` for a broadcast-joined dim to use real weights);
    each document keeps or drops by its own salted hash against that
    rate. Same salt → same sample, across runs, machines, and engines.

    Scale notes: two codegen'd md5 projections and a filter — no
    shuffle, no state, no sampling RNG (rand() would break retry
    determinism); composes with any upstream dedup/quality gate."""
    from ..functions import h32
    rate = (h32(F.concat(F.lit(rate_salt + ":"), F.col(source_col))) % 90
            + 10).cast("long")
    keep = h32(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))) % 100
    return (df.select(F.col(id_col), F.col(source_col),
                      rate.alias("rate_pct"), keep.alias("_keep"))
              .where(F.col("_keep") < F.col("rate_pct"))
              .drop("_keep"))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               salt: str = "split-v1", train_pct: int = 90) -> DataFrame:
    """Deterministic train/val holdout assignment: hash the document
    id (salted, so re-splitting with a new salt is a one-line change)
    and bucket by percentile. Reproducible across runs, machines, and
    engines — the property a training pipeline needs so examples never
    migrate between train and eval as the corpus grows.

    Scale notes: pure projection (md5 + modulo, JVM codegen), no
    shuffle, no state; composes with any upstream filter/dedup."""
    from ..functions import h32
    h = h32(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    return df.select(
        F.col(id_col),
        F.when(h % 100 < train_pct, "train").otherwise("val").alias("split"),
    )


def leakage_split(df: DataFrame, clusters: DataFrame,
                  id_col: str = "doc_id",
                  salt: str = "gsplit-v1",
                  train_pct: int = 90) -> DataFrame:
    """LEAKAGE-SAFE train/val split — the correctness upgrade over
    `hash_split` that eval-set hygiene actually requires: hashing raw
    doc ids puts two near-duplicates on opposite sides of the split
    ~2·p·(1−p) of the time, so the model is evaluated on paraphrases
    of its own training data (the classic inflated-eval bug near-dup
    detection exists to prevent). Here the unit of assignment is the
    DUPLICATE CLUSTER: every member of a connected component lands on
    the same side, because the salted hash is taken over the cluster's
    canonical id (min doc id = the CC label convention), not the
    member's. Singletons (docs in no cluster) fall back to their own
    id — for them the group IS the doc.

    `clusters` is any (id_col, cluster_id) frame — typically
    `connected_components` over MinHash-LSH pairs, but anything
    group-shaped works (URL-normalized dup groups, exact-hash groups).
    Output: (id_col, group_id, split).

    Scale shape: one left equi-join corpus ⋈ clusters on the id key —
    the cluster frame is dup-graph-sized (usually ≪ corpus; AQE picks
    broadcast vs shuffle), then the same pure-projection salted-hash
    bucketing as `hash_split`. No extra exchange beyond the join."""
    from ..functions import h32
    joined = (df.select(F.col(id_col))
                .join(clusters.select(F.col(id_col),
                                      F.col("cluster_id")),
                      id_col, "left")
                .select(F.col(id_col),
                        F.coalesce(F.col("cluster_id"), F.col(id_col))
                         .cast("long").alias("group_id")))
    h = h32(F.concat(F.lit(salt + ":"), F.col("group_id").cast("string")))
    return joined.select(
        id_col, "group_id",
        F.when(h % 100 < train_pct, "train").otherwise("val").alias("split"),
    )


def token_rarity(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Corpus-relative rarity signal per document (the cheap stand-in
    for an LM-perplexity quality score, CCNet-style): document
    frequency of each of the doc's distinct tokens, aggregated to
    (n_distinct_toks, sum_df, n_hapax, mean_df). Low mean_df = the doc
    is made of words the rest of the corpus rarely uses — OCR noise,
    codes, boilerplate IDs; high n_hapax/n ≈ gibberish detector.

    Scale notes: the document-frequency table is vocabulary-sized —
    orders of magnitude smaller than the corpus — so it aggregates
    once (shuffle on token) and then BROADCASTS into the (doc, token)
    scan; the corpus side never shuffles on token. If the vocab
    outgrows broadcast, AQE falls back to a shuffle join on the same
    token key. The final per-doc aggregate is map-side-combining.
    mean_df is the single double division over exact BIGINTs
    (cross-engine exact)."""
    tok = spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq, "tok")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_distinct_toks"),
                F.sum("df").alias("sum_df"),
                F.sum((F.col("df") == 1).cast("long")).alias("n_hapax"))
           .select(id_col, "n_distinct_toks", "sum_df", "n_hapax",
                   (F.col("sum_df").cast("double")
                    / F.col("n_distinct_toks")).alias("mean_df"))
    )


def duplicated_sentences(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_chars: int = 20) -> DataFrame:
    """Sub-document exact dedup: sentences (split on '.') that occur
    in ≥2 distinct documents — the signal behind boilerplate /
    template removal (headers, disclaimers, navigation chrome repeat
    across pages while full-document hashes differ). Keyed by
    md5(normalized sentence): at 100 TB the 16-byte key shuffles, the
    sentence text never does.

    Scale notes: explode is map-side; one hash-aggregate keyed on
    sent_key with partial (map-side) combine; the ≥2-docs filter is a
    HAVING on the aggregate, so singleton sentences — the vast
    majority — die in the combiner."""
    sent = (
        spread(df).select(F.col(id_col),
                  F.explode(F.split(F.col(text_col), "[.]")).alias("s"))
          .select(id_col, F.trim(F.lower(F.col("s"))).alias("s"))
          .where(F.length("s") >= min_chars)
          .select(id_col, F.md5("s").alias("sent_key"))
    )
    return (
        sent.groupBy("sent_key")
            .agg(F.count(F.lit(1)).alias("n_occ"),
                 F.countDistinct(id_col).alias("n_docs"),
                 F.min(id_col).alias("first_doc"))
            .where(F.col("n_docs") >= 2)
            .select("sent_key", "n_docs", "n_occ", "first_doc")
    )


def length_order_stats(df: DataFrame, id_col: str = "doc_id",
                       len_col: str = "n_chars",
                       by_col: str = "source") -> DataFrame:
    """Per-source length distribution as EXACT order statistics —
    min / p25 / p50 / p75 / max of `len_col` at index
    floor((n-1)·p) of the ascending sort. Interpolating percentile
    functions differ subtly between engines (and approx_percentile is
    nondeterministic by design), so the quantile is defined by integer
    index arithmetic over BIGINTs: bit-identical everywhere, and the
    definition a data-curation report can state precisely.

    Scale notes: one shuffle on the stratum key; the rank window, the
    per-stratum count window, and the final aggregate all ride that
    same partitioning (no further exchange). Skewed strata sort more
    rows per task — at 100 TB swap the global sort-per-stratum for a
    two-pass histogram if a single source dominates."""
    from pyspark.sql import Window
    w_rank = (Window.partitionBy(by_col)
                    .orderBy(F.col(len_col).asc(), F.col(id_col).asc()))
    w_all = Window.partitionBy(by_col)
    ranked = (
        df.select(by_col, id_col, len_col)
          .where(F.col(len_col).isNotNull())
          .withColumn("rn", F.row_number().over(w_rank) - 1)
          .withColumn("n", F.count(F.lit(1)).over(w_all))
    )

    def at(pct: int) -> Column:
        # integer index arithmetic (div), never float-divide-then-floor
        idx = F.expr(f"((n - 1) * {pct}) div 100")
        return F.max(F.when(F.col("rn") == idx, F.col(len_col)))

    return (
        ranked.groupBy(by_col)
              .agg(F.max("n").alias("n_docs"),
                   F.min(len_col).alias("len_min"),
                   at(25).alias("len_p25"),
                   at(50).alias("len_p50"),
                   at(75).alias("len_p75"),
                   F.max(len_col).alias("len_max"))
    )


PPB = 1_000_000_000  # parts-per-billion fixed point for drift freqs


def token_drift(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                side_col=None) -> DataFrame:
    """Token-distribution drift between two corpus slices — the
    DISTRIBUTION-level monitor that complements `snapshot_diff`'s
    row-level one (a refreshed crawl can keep every doc_id yet shift
    its language mix; per-row diffs won't see it, frequency drift
    will).

    `side_col` is a 0/1 Column splitting the corpus (default:
    doc_id parity, standing in for snapshot tags). Per token:
    occurrence counts in each side, fixed-point ppb frequencies
    (freq = cnt·1e9 div side_total — truncating division, engine-
    identical), and `drift_ppb` = |freq_a − freq_b|. Σ drift_ppb / 2
    is the scaled total-variation distance; per-token rows rank WHAT
    drifted. Fixed point keeps every value an exact BIGINT: a float
    chi-square would sum doubles in shuffle order and flap any
    cross-engine hash.

    Scale shape: ONE corpus scan (both sides' counts are conditional
    sums in the same token aggregate — no per-side scans), one
    shuffle on the token key; the two side totals aggregate from the
    vocabulary-sized count table and enter as a broadcast cross join
    (2 ints). At 100 TB the bill is the token-key exchange, same as
    tf-idf's, bounded by vocabulary size after map-side combine."""
    side = side_col if side_col is not None \
        else (F.col(id_col) % 2 == 0).cast("int")
    occ = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
           .select(side.alias("_a"), F.explode(TOKENS_COL).alias("tok")))
    counts = (occ.groupBy("tok")
                 .agg(F.sum("_a").cast("long").alias("cnt_a"),
                      F.sum(1 - F.col("_a")).cast("long").alias("cnt_b")))
    totals = counts.agg(F.sum("cnt_a").cast("long").alias("tot_a"),
                        F.sum("cnt_b").cast("long").alias("tot_b"))
    return (counts.crossJoin(F.broadcast(totals))
                  .select("tok", "cnt_a", "cnt_b",
                          F.expr(f"cnt_a * {PPB} div tot_a")
                           .alias("freq_a_ppb"),
                          F.expr(f"cnt_b * {PPB} div tot_b")
                           .alias("freq_b_ppb"),
                          F.expr(f"abs(cnt_a * {PPB} div tot_a - "
                                 f"cnt_b * {PPB} div tot_b)")
                           .alias("drift_ppb")))


BM25_TOPK = 20
BM25_QTERMS = 3


def bm25_topk(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", k: int = BM25_TOPK,
              n_query_terms: int = BM25_QTERMS) -> DataFrame:
    """BM25-shaped retrieval scoring in EXACT fixed-point integers —
    the lexical-search counterpart of the ANN tier (the other half of
    a retrieval stack: sparse keyword scoring next to dense vectors).

    Differences from textbook BM25, both forced by cross-engine
    hashing and both rank-preserving:
      * idf is LINEAR (N/df), not log — same rationale as
        `tfidf_top_terms` (libm `ln` differs between engines in the
        last ulp);
      * the k1=1.2 / b=0.75 saturation term is computed in integer
        arithmetic: with T = total tokens, N = docs, the saturation
        tf·(k1+1) / (tf + k1(1−b) + k1·b·dl·N/T) multiplies through
        by 20·T into sat_ppm = (44·tf·T·10⁶) div
        (20·T·tf + 6·T + 18·dl·N) — truncating integer division both
        engines share, then contrib = (sat_ppm·N) div df and the
        per-doc score Σ contrib is an exact BIGINT sum (a float BM25
        would sum in shuffle order and flap the hash). Bound:
        tf·T < ~2·10¹¹ keeps 44·tf·T·10⁶ inside int64 — at larger
        corpora drop the 10⁶ to 10³.

    The query is the corpus's `n_query_terms` highest-df terms
    (deterministic fixture stand-in for a user query — swap the
    `qterms` frame for a literal list in real use; high-df terms are
    deliberately the WORST case for BM25's saturation, which the
    scores then demonstrate).

    Scale shape: identical to `tfidf_top_terms` — ONE tokenize scan
    into the (doc, term) tf aggregate; df and dl are windows over
    that frame (term-key and doc-key exchanges); the query terms
    broadcast as `n_query_terms` rows; final top-k is a TakeOrdered,
    not a global sort. N and T come from ONE 1-row scan subtree
    (optimization r12, guide §1.2: T = Σ_docs size(tokens) ≡ Σ tf, so
    the old totals subtree's second (doc, term) aggregate pass and
    the second scalar cross join are gone) broadcast by a single
    cross join.

    Tried, measured, REVERTED (optimization r12, guide §1.1): moving
    `dl` map-side (size of the token array carried through the
    explode) removes the doc-key window exchange from the plan — and
    measured consistently ~25-45% SLOWER at ×10 in three paired
    probes (stats subtree alone: 3.19 vs 2.15 s min). The removed
    exchange carries only the compact tf frame (the smallest of the
    chain's three), while the map-side form widens the full
    OCCURRENCE stream (+8 bytes × every token) through the explode,
    projection, partial aggregate and (doc, term) exchange, and adds
    a max() buffer per group — per-row cost that scales with the
    corpus, unlike the window it replaces. The two-window form is the
    measured keeper at both sf0.1 and ×10."""
    from pyspark.sql import Window
    tf = (spread(df.where(F.col(text_col).isNotNull()))
            .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf")))
    tot = (spread(df.where(F.col(text_col).isNotNull()))
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.size(tokens(text_col))).cast("long")
                 .alias("t_tokens")))
    stats = (tf.withColumn("df", F.count(F.lit(1)).over(
                 Window.partitionBy("term")).cast("long"))
               .withColumn("dl", F.sum("tf").over(
                 Window.partitionBy(id_col)).cast("long")))
    qterms = (stats.select("term", "df").distinct()
                   .withColumn("_qr", F.row_number().over(
                       Window.orderBy(F.col("df").desc(),
                                      F.col("term").asc())))
                   .where(F.col("_qr") <= n_query_terms)
                   .select("term"))
    scored = (stats.join(F.broadcast(qterms), "term")
                   .crossJoin(F.broadcast(tot))
                   .withColumn("sat_ppm", F.expr(
                       "(44 * tf * t_tokens * 1000000) div "
                       "(20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n)"))
                   .withColumn("contrib",
                               F.expr("(sat_ppm * n) div df")))
    agg = (scored.groupBy(id_col)
                 .agg(F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
                      F.max("dl").alias("dl"),
                      F.expr("CAST(sum(contrib) AS BIGINT)").alias("score")))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition
    # top-k + driver merge); the rank window then runs over the k
    # surviving rows only — never a global sort of the match set
    top = agg.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bigram_fluency(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Corpus-conditional bigram typicality score per document — the
    n-gram-LM quality signal of CCNet-style pipelines (Wenzek et al.
    2020 score documents with a KenLM 5-gram; the statistic here is
    the 2-gram, corpus-self-trained flavor): documents whose token
    transitions are RARE relative to the corpus score low (boilerplate
    and fluent prose score high; keyboard-mash, ciphertext, and
    wrong-language text score low).

    Per bigram (w1,w2): conditional probability c(w1,w2)/c(w1·) in
    truncating fixed point, prob_ppb = c2·1e9 div c1 (c2 <= c1 keeps
    it <= 1e9). Per doc: fluency_ppb = Σ prob_ppb div n_bigrams — the
    MEAN conditional probability, exact BIGINTs end to end (an actual
    log-perplexity would sum libm floats in shuffle order and flap any
    cross-engine hash; the mean-probability statistic ranks documents
    the same way for the quality-gate use).

    Int64 bound: c2·1e9 needs c2 < 9.2e9 — at corpora beyond ~10^10
    bigram occurrences per (w1,w2) pair, drop PPB to ppm (same bound
    discipline as `bm25_topk`).

    Scale shape: ONE tokenize scan into the per-occurrence bigram
    frame (transform over the token array, no self-join of the
    corpus); the two corpus-count windows exchange on (w1,w2) then
    w1 — vocabulary-bounded after map-side combine is not available
    for windows, so the exchanges carry the bigram occurrence stream
    (~2 tokens/row); the final per-doc aggregate exchanges on the doc
    key. Hot prefixes (stopwords as w1) skew the w1 window the same
    way hot terms skew tf-idf's df window — the same salt/df-cut
    mitigations apply."""
    from pyspark.sql import Window
    bg = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
          .where(F.size(TOKENS_COL) >= 2)
          .select(F.col(id_col),
                  F.explode(F.expr(
                      f"transform(sequence(0, size({TOKENS_COL}) - 2), "
                      f"i -> struct({TOKENS_COL}[i] AS w1, "
                      f"{TOKENS_COL}[i+1] AS w2))")).alias("b"))
          .select(id_col, "b.w1", "b.w2"))
    stats = (bg.withColumn("c2", F.count(F.lit(1)).over(
                  Window.partitionBy("w1", "w2")).cast("long"))
               .withColumn("c1", F.count(F.lit(1)).over(
                  Window.partitionBy("w1")).cast("long")))
    return (stats.groupBy(id_col)
                 .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                      F.expr(f"CAST(sum(c2 * {PPB} div c1) AS BIGINT)")
                       .alias("sum_prob_ppb"))
                 .select(id_col, "n_bigrams", "sum_prob_ppb",
                         F.expr("sum_prob_ppb div n_bigrams")
                          .alias("fluency_ppb")))


def weighted_sample(df: DataFrame, id_col: str = "doc_id",
                    weight_col: str = "n_chars",
                    target_ppb: int = 100_000_000,
                    salt: str = "wsample-v1") -> DataFrame:
    """Deterministic WEIGHTED (Poisson) sampling — inclusion
    probability proportional to a per-row weight, the sampling design
    behind length-proportional corpus subsets and importance-weighted
    eval slices (Hájek/Poisson πps sampling; the fixed-hash flavor of
    weighted reservoir selection à la Efraimidis–Spirakis, minus the
    RNG: same salt → same sample on every run, retry, and engine).

    Each row's inclusion probability is
        p_i = min(1, f · w_i / mean(w))      with f = target_ppb/1e9,
    computed in truncating fixed point (p_ppb = w·target_ppb div
    mean_w, capped at 1e9), so E[sample weight share] ≈ f and heavy
    rows are proportionally favored. The coin is `h60(salt:id) mod
    1e9` — uniform on [0,1e9) up to a 2^-60-level bias from 2^60 not
    dividing 1e9, identical in both engines (documented, not a
    correctness risk). Returns the kept rows as (id, w, p_ppb).

    Scale shape: ONE aggregate for (Σw, n) broadcasts as a single row
    into a codegen filter projection — no shuffle of the corpus, no
    rand(), composes with any upstream gate. (Exact-size weighted
    sampling WITHOUT replacement needs the E-S order statistic — a
    top-k by u^(1/w) — which is float-exponentiation territory;
    Poisson sampling is the standard scale substitute and what
    VarOpt/priority sampling degrade to per-partition.)"""
    from ..functions import h60
    base = (df.where(F.col(weight_col).isNotNull()
                     & (F.col(weight_col) > 0))
              .select(F.col(id_col), F.col(weight_col).cast("long")
                       .alias("w")))
    tot = base.agg(F.expr("CAST(sum(w) AS BIGINT)").alias("tw"),
                   F.count(F.lit(1)).cast("long").alias("n"))
    coin = h60(F.concat(F.lit(salt + ":"),
                        F.col(id_col).cast("string"))) % PPB
    return (base.crossJoin(F.broadcast(tot))
                .withColumn("p_ppb",
                            F.expr(f"least(CAST({PPB} AS BIGINT), "
                                   f"w * {target_ppb} div (tw div n))"))
                .where(coin < F.col("p_ppb"))
                .select(id_col, "w", "p_ppb"))


def stratified_reservoir(df: DataFrame, id_col: str = "doc_id",
                         stratum_col: str = "source", k: int = 5,
                         salt: str = "reservoir-v1") -> DataFrame:
    """EXACT-k-per-stratum deterministic sample — the fixed-size
    counterpart of `mix_sample` (rate-based) and `weighted_sample`
    (Poisson): eval sets and human-review batches need exactly k
    docs per source, not k in expectation. Selection = the k smallest
    salted hashes per stratum, which IS a simple random sample
    without replacement under the uniform-hash model, and — unlike a
    true reservoir's RNG — is identical across runs, retries, and
    engines (same salt → same sample; change the salt to redraw).

    Returns (stratum, id, pick) with pick ∈ 1..k in hash order.

    Scale shape: one shuffle on the stratum key + a per-stratum
    top-k window — rank truncation, not a global sort; strata are
    sources (thousands), so the window never sees a corpus-sized
    partition. (For millions of strata the same plan holds: the
    exchange is the group-by any per-stratum statistic pays.)"""
    from pyspark.sql import Window
    from ..functions import h60
    coin = h60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    return (df.where(F.col(stratum_col).isNotNull())
              .select(F.col(stratum_col).alias("stratum"),
                      F.col(id_col), coin.alias("_coin"))
              .withColumn("pick", F.row_number().over(
                  Window.partitionBy("stratum")
                        .orderBy(F.col("_coin").asc(),
                                 F.col(id_col).asc())).cast("long"))
              .where(F.col("pick") <= k)
              .select("stratum", id_col, "pick"))


BPE_ROUNDS = 6

def bpe_train(df: DataFrame, text_col: str = "text",
              rounds: int = BPE_ROUNDS) -> DataFrame:
    """BPE tokenizer-merge training (Sennrich et al. 2016) as an
    iterative DataFrame computation — the TOKENIZER-side artifact of
    a training-data pipeline, next to the corpus-side gates: learn
    the first `rounds` merge rules by repeatedly fusing the corpus's
    most frequent adjacent symbol pair.

    State lives in the standard BPE word-frequency table, NOT the
    corpus: (word, count) is vocabulary-sized, so after the one
    corpus-scan word count every round runs over ~|V| rows however
    big the corpus is — the reason BPE training scales at all.
    Words are delimited symbol strings (' c a t '); a merge (x, y)
    is `replace(w, ' x y ', ' xy ')`, which is left-to-right
    NON-OVERLAPPING in both engines — exactly BPE's greedy
    application (' a a a ' + (a,a) → ' aa a '). Pair counting splits
    the symbols back out and weights adjacent pairs by word count;
    the winner is argmax with (count desc, x asc, y asc) tie-break —
    deterministic, engine-identical. Returns the learned merge table
    (round, x, y, pair_n).

    Scale shape: one tokenize scan into the word-count hash-agg
    (corpus-bounded, map-side combined); per round one pair hash-agg
    over the vocabulary ending in a 1-row TakeOrdered argmax.
    Production BPE trains on a word-count SAMPLE for the same reason
    this plan never rescans the corpus.

    Per-round cost (optimization r11, guide §1.2 step 1): the argmax
    row is COLLECTED (1 row/round — bounded by construction, the
    kmeans/`train_ivf_centroids` driver-side discipline) and becomes
    string literals in the next round's rewrite projection, and the
    word-table checkpoint is LAZY (materialized by the next round's
    argmax job, stored for the one after). The old form paid three
    extra structures per round: an eager 1-row `best` checkpoint (a
    blocking job), a broadcast exchange of that row, and a
    crossJoin — with the literals all three vanish and each round is
    exactly ONE job. The learned merge table is rebuilt as a literal
    DataFrame: values identical (same argmax over the same pair
    counts), and the early-stop when no pair remains matches the old
    empty-frame fixpoint (empty `best` emptied `words`, so no later
    round could emit a row either)."""
    from pyspark.sql import types as T
    from ..functions import tokens
    words = checkpoint(
        spread(df.where(F.col(text_col).isNotNull()))
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.expr("concat(' ', regexp_replace(word, '(.)', "
                       "'$1 '))").alias("w"),
                "cnt"))
    spark = df.sparkSession
    merge_rows: list[tuple[int, str, str, int]] = []
    for r in range(rounds):
        pairs = (words
                 .select(F.expr("split(trim(w), ' ')").alias("s"), "cnt")
                 .where(F.size("s") >= 2)
                 .select(F.explode(F.expr(
                     "transform(sequence(0, size(s) - 2), "
                     "i -> struct(s[i] AS x, s[i+1] AS y))")).alias("p"),
                     "cnt")
                 .groupBy("p.x", "p.y")
                 .agg(F.expr("CAST(sum(cnt) AS BIGINT)").alias("pair_n")))
        top = (pairs.orderBy(F.col("pair_n").desc(), F.col("x").asc(),
                             F.col("y").asc())
                    .limit(1).collect())
        if not top:
            break
        x, y, pair_n = top[0]["x"], top[0]["y"], int(top[0]["pair_n"])
        merge_rows.append((r + 1, x, y, pair_n))
        words = checkpoint(
            words.select(F.replace(F.col("w"), F.lit(f" {x} {y} "),
                                   F.lit(f" {x}{y} ")).alias("w"), "cnt"),
            eager=False)
    schema = T.StructType([
        T.StructField("round", T.LongType()),
        T.StructField("x", T.StringType()),
        T.StructField("y", T.StringType()),
        T.StructField("pair_n", T.LongType())])
    return spark.createDataFrame(merge_rows, schema)


def bpe_encode_counts(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      rounds: int = BPE_ROUNDS,
                      merges: list | None = None) -> DataFrame:
    """Apply the corpus-trained BPE merges back to the corpus and
    account per-document BPE token counts — the other half of the
    tokenizer loop (`bpe_train` learns the merges; this is what a
    sequence-packing or cost-estimation pass actually consumes:
    "how many TOKENS is this document under OUR tokenizer", which
    whitespace/regex counts only approximate).

    The learned merge list (`rounds` rows) is a plan-time artifact:
    collected once (the IVF-centroid literal discipline — 6 rows, not
    data) and folded into ONE nested-`replace` codegen projection
    over the distinct-word map, applied in training order. Per doc:
    n_words (regex tokens) and n_bpe_tokens = Σ symbols of each word
    occurrence. Returns (doc_id, n_words, n_bpe_tokens).

    Scale shape: the word MAP is vocabulary-sized and broadcasts into
    the per-occurrence join — the corpus's token stream never
    shuffles on the word key; the only corpus exchange is the per-doc
    count aggregate. Training cost is `bpe_train`'s (vocabulary-sized
    rounds after one corpus scan) — pass `merges` (rows with .x/.y in
    training order) to reuse an already-trained list instead; the
    catalog memoizes it per corpus so the graded encode entry never
    re-runs the training job `doc_bpe_merges` already ran."""
    from ..functions import tokens
    if merges is None:
        merges = (bpe_train(df, text_col, rounds)
                  .orderBy("round").collect())
    expr = "concat(' ', regexp_replace(word, '(.)', '$1 '))"
    for m in merges:
        expr = (f"replace({expr}, ' {m.x} {m.y} ', ' {m.x}{m.y} ')")
    occ = (df.where(F.col(text_col).isNotNull())
             .select(F.col(id_col), F.explode(tokens(text_col))
                      .alias("word")))
    word_map = (occ.select("word").distinct()
                   .select("word",
                           F.expr(f"size(split(trim({expr}), ' '))")
                            .cast("long").alias("n_sym")))
    return (occ.join(F.broadcast(word_map), "word")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                    F.expr("CAST(sum(n_sym) AS BIGINT)")
                     .alias("n_bpe_tokens")))


def shingle_novelty(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Ordered-corpus novelty — the dedup-ROI estimator: treating
    doc_id as ingestion order, what fraction of each document's
    shingles has ALREADY appeared in an earlier document? A corpus
    whose redundant fraction climbs toward 1 as ingestion proceeds is
    telling you near-dup removal will shrink it hard (the Hills-style
    type/token saturation curve, per document instead of per token).

    Per shingle: first_seen = min(doc_id) over its postings (one
    hash-agg on the shingle key — the inverted index's own exchange);
    per doc: n_redundant = shingles with first_seen < doc_id,
    novelty_ppm = 1e6·(n − n_redundant) div n, exact BIGINTs.

    Scale shape: the shingle frame is the dedup tier's standard
    explode; first_seen rides a window partitioned by the SAME
    shingle key the frame would shuffle on anyway; the per-doc
    roll-up exchanges on the doc key. No joins, two exchanges."""
    from pyspark.sql import Window
    from ..operators.dedup import shingles
    sh = shingles(spread(df.select(id_col, text_col)), id_col, text_col)
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn("first_seen", F.min(id_col).over(w))
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.expr(f"CAST(sum(CASE WHEN first_seen < {id_col} "
                        "THEN 1 ELSE 0 END) AS BIGINT)")
                  .alias("n_redundant"))
            .select(id_col, "n_shingles", "n_redundant",
                    F.expr("(n_shingles - n_redundant) * 1000000 "
                           "div n_shingles").alias("novelty_ppm")))


def collocations(df: DataFrame, text_col: str = "text",
                 min_count: int = 5, top_k: int = 100) -> DataFrame:
    """Corpus collocation extraction — top-k bigrams by POINTWISE
    MUTUAL INFORMATION lift: lift(x,y) = p(xy) / (p(x·)·p(·y)), with
    positional marginals (x as bigram-first, y as bigram-second).
    "new york" scores high (the pair co-occurs far above chance);
    "of the" scores near 1 despite its raw count. The curation uses:
    tokenizer vocab candidates (which multi-word units deserve one
    token), boilerplate phrase discovery, and domain-drift probes
    (the collocation head turns over when the corpus mix shifts).

    lift is a DOUBLE from ONE fixed expression over exact BIGINT
    counts (the base.py discipline — log-PMI would be monotone in it,
    so ranking is unchanged; the ratio avoids libm log entirely).
    Ranking ties break (lift desc, w1 asc, w2 asc).

    Scale shape: one tokenize scan → per-occurrence bigram frame →
    ONE corpus exchange (the (w1,w2) hash-agg, map-side combined,
    vocabulary²-bounded output), MATERIALIZED once (localCheckpoint,
    the graph-ops discipline) because two consumers need it — the
    marginal windows and the corpus-total aggregate; without the
    checkpoint the total's branch re-runs the whole tokenize scan
    (verified in the physical plan). Marginals ride vocabulary-sized
    windows; the total is a 1-row broadcast cross join. The final
    top-k is rank-limit-pushed (TakeOrdered per partition feeds the
    global window) over candidates surviving the min_count cut —
    at web scale the cut is what keeps that input small."""
    from pyspark.sql import Window
    bg = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
          .where(F.size(TOKENS_COL) >= 2)
          .select(F.explode(F.expr(
                      f"transform(sequence(0, size({TOKENS_COL}) - 2), "
                      f"i -> struct({TOKENS_COL}[i] AS w1, "
                      f"{TOKENS_COL}[i+1] AS w2))")).alias("b"))
          .select("b.w1", "b.w2"))
    bgc = (bg.groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
             .localCheckpoint(eager=True))
    tot = bgc.agg(F.expr("CAST(sum(n_xy) AS BIGINT)").alias("n_bi"))
    stats = (bgc.withColumn("n_x", F.sum("n_xy")
                            .over(Window.partitionBy("w1")).cast("long"))
                .withColumn("n_y", F.sum("n_xy")
                            .over(Window.partitionBy("w2")).cast("long"))
                .crossJoin(F.broadcast(tot))
                .where(F.col("n_xy") >= min_count)
                .withColumn("lift", F.expr(
                    "CAST(n_xy AS DOUBLE) * CAST(n_bi AS DOUBLE) / "
                    "(CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))")))
    w = Window.orderBy(F.col("lift").desc(), F.col("w1").asc(),
                       F.col("w2").asc())
    return (stats.withColumn("rank", F.row_number().over(w).cast("long"))
                 .where(F.col("rank") <= top_k)
                 .select("w1", "w2", "n_xy", "n_x", "n_y", "lift", "rank"))


def mixture_weights(df: DataFrame, group_col: str = "source",
                    budget: int = 1_000_000) -> DataFrame:
    """Training-mix apportionment — temperature-flattened sampling
    targets per source with EXACT integer budget accounting: the step
    between "we have n_i documents per source" and "sample exactly
    target_i from source i" that every multi-source pretraining mix
    plans (the α=1/2 temperature of multilingual-LM sampling: raw
    proportions overfeed the head source, uniform overfeeds the tail;
    √n_i sits between).

    weight_i = floor(sqrt(n_i)) — BIGINT (IEEE sqrt is correctly
    rounded, so floor∘sqrt on exact ints is engine-identical).
    Apportionment by LARGEST REMAINDER (Hamilton): quota_i =
    budget·w_i div W, then the R = budget − Σ quota leftover seats go
    to the R largest remainders (budget·w_i mod W, ties by source
    asc) — Σ target_i == budget EXACTLY, no float shares, fully
    hashable. target_i > n_i for tiny sources means upsampling
    (repeat epochs) — reported, not clamped, so the caller sees it.

    Scale shape: one corpus exchange (the per-source hash-agg,
    map-side combined); everything after runs on the sources-sized
    frame (two unpartitioned windows over ≤ thousands of rows)."""
    from pyspark.sql import Window
    counts = (df.where(F.col(group_col).isNotNull())
                .groupBy(group_col)
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
                .withColumn("weight", F.expr(
                    "CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)")))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    wrem = Window.orderBy(F.expr(f"(weight * {budget}) % total_w").desc(),
                          F.col(group_col).asc())
    return (counts
            .withColumn("total_w", F.sum("weight").over(wall).cast("long"))
            .withColumn("quota", F.expr(f"weight * {budget} div total_w"))
            .withColumn("n_left",
                        F.lit(budget) - F.sum("quota").over(wall))
            .withColumn("seat_rank", F.row_number().over(wrem))
            .select(group_col, "n_docs", "weight",
                    F.expr("CAST(quota + CASE WHEN seat_rank <= n_left "
                           "THEN 1 ELSE 0 END AS BIGINT)")
                     .alias("target_docs")))


# ------------------------------------------- hashed linear classifier

CLF_BUCKETS = 64
CLF_BIAS = -1_500          # milli-units: threshold ≈ 1.5 mean weight


def classifier_weights(n_buckets: int = CLF_BUCKETS,
                       seed: int = 41) -> list[int]:
    """Deterministic fixed-point weight table for the hashing-trick
    classifier, in milli-units ∈ [-500, 500] via the same fixed LCG
    as `functions.hash_family`. In production these weights come from
    an offline trainer (fastText / logistic regression over hashed
    token features); the table here is a deterministic placeholder so
    the INFERENCE plan — the part that runs at 100 TB — is real and
    hash-verifiable. Swapping in trained weights changes only this
    list."""
    w, x = [], seed
    for _ in range(n_buckets):
        x = (x * 1_103_515_245 + 12_345) % MERSENNE31
        w.append(x % 1001 - 500)
    return w


def classifier_score(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     n_buckets: int = CLF_BUCKETS,
                     bias: int = CLF_BIAS) -> DataFrame:
    """Hashing-trick linear text-classifier INFERENCE (the fastText /
    Vowpal-Wabbit shape): each token hashes to one of `n_buckets`
    weight slots, logit = bias + Σ w[h(tok) mod B] in exact
    fixed-point milli-units (BIGINT — floats would make the sum
    order-sensitive), verdict = sign. This is the quality-classifier
    gate of a pretraining pipeline (keep/drop per doc) with the model
    reduced to its deterministic arithmetic.

    Scale shape: pure map — the weight table is a plan LITERAL
    (constant-folded array, the Bloom-bits discipline) indexed inside
    one `aggregate` lambda over the token array; no explode, no
    shuffle, no UDF. Per-doc cost is O(tokens); 100 TB runs as a
    single scan."""
    w = classifier_weights(n_buckets)
    arr = "array(" + ", ".join(f"{v}L" for v in w) + ")"
    h = f"(CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {MERSENNE31})"
    logit = (f"aggregate({TOKENS_COL}, CAST({bias} AS BIGINT), "
             f"(acc, x) -> acc + element_at({arr}, "
             f"CAST({h} % {n_buckets} AS INT) + 1))")
    return (with_tokens(df.where(F.col(text_col).isNotNull()), text_col)
            .select(F.col(id_col),
                    F.size(TOKENS_COL).cast("long").alias("n_tokens"),
                    F.expr(logit).alias("logit_milli"))
            .withColumn("verdict",
                        F.expr("CASE WHEN logit_milli > 0 "
                               "THEN 'keep' ELSE 'drop' END")))


# --------------------------------------------- DSIR importance weights

DSIR_BUCKETS = 128
DSIR_SCALE = 1_000_000     # ppm fixed point; see overflow note below


def dsir_bucket_scores(df: DataFrame, target_pred: str,
                       text_col: str = "text",
                       n_buckets: int = DSIR_BUCKETS) -> list[int]:
    """Bucket→score table for hashed-feature importance sampling
    (DSIR, Xie et al. 2023: weight raw-corpus docs by how target-like
    their hashed n-gram profile is). score[b] = tcnt[b]·SCALE div
    rcnt[b], both counts over ONE tokenize scan (tcnt = tokens from
    docs matching `target_pred`, rcnt = all docs). Exact integer
    ratio in ppm — the log-likelihood-ratio of real DSIR needs floats
    whose per-doc sum would be order-sensitive; the plain ratio keeps
    the same ranking signal hash-verifiable. The global
    (R_total/T_total) normalizer scales every doc identically, so it
    is dropped (rank-irrelevant).

    Returns a B-entry list collected at plan build — the bounded plan
    artifact discipline (IVF centroids, Bloom bits): B counters
    however big the corpus. Overflow: tcnt·SCALE stays in int64 up to
    ~9e12 target tokens per bucket; shrink SCALE past that."""
    d = with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
    h = f"(CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {MERSENNE31})"
    cnt = (d.select(F.expr(f"CAST({target_pred} AS INT)").alias("is_t"),
                    F.explode(F.expr(
                        f"transform({TOKENS_COL}, x -> "
                        f"CAST({h} % {n_buckets} AS INT))")).alias("bucket"))
             .groupBy("bucket")
             .agg(F.count(F.lit(1)).cast("long").alias("rcnt"),
                  F.expr("CAST(sum(is_t) AS BIGINT)").alias("tcnt")))
    rows = {r["bucket"]: (r["tcnt"], r["rcnt"]) for r in cnt.collect()}
    return [int((rows[b][0] * DSIR_SCALE) // rows[b][1]) if b in rows else 0
            for b in range(n_buckets)]


def dsir_weights(df: DataFrame, scores: list[int],
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-doc DSIR importance weight: Σ score[h(tok) mod B] over the
    doc's tokens (with repetition), exact BIGINT ppm. Docs with no
    tokens carry no evidence and are excluded (matches the oracle's
    unnest lineage).

    Scale shape: the score table enters as a constant-folded literal
    array probed inside one `aggregate` lambda — the weighting pass
    is a pure map over the corpus (the counting pass behind `scores`
    is one B-bounded hash-agg). Together: two scans, one tiny
    exchange, zero joins at scoring time."""
    arr = "array(" + ", ".join(f"{v}L" for v in scores) + ")"
    h = f"(CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT) % {MERSENNE31})"
    wexpr = (f"aggregate({TOKENS_COL}, CAST(0 AS BIGINT), "
             f"(acc, x) -> acc + element_at({arr}, "
             f"CAST({h} % {n_buckets} AS INT) + 1))")
    return (with_tokens(df.where(F.col(text_col).isNotNull()), text_col)
            .where(F.size(TOKENS_COL) > 0)
            .select(F.col(id_col),
                    F.size(TOKENS_COL).cast("long").alias("n_tokens"),
                    F.expr(wexpr).alias("dsir_weight_ppm")))


def phrase_hits(df: DataFrame, phrase: list[str],
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact phrase search — all occurrences of a consecutive-token
    phrase, entirely INSIDE the scan (the Spark-first form: a
    higher-order `filter` over candidate start offsets of the token
    array, zero joins, zero shuffle — 100 TB runs at scan rate).

    The classic alternative is a positional inverted index (posting
    (doc, term, pos) rows, adjacency self-joins per phrase term).
    That form wins only when MANY ad-hoc phrase queries amortize one
    prebuilt index; for pipeline-style gates (known phrase list at
    plan time — contamination strings, boilerplate markers) the
    map-only form is strictly better: the index costs one posting
    per corpus token up front (`substring_dup_spans`' exchange
    class), this costs nothing but the scan it rides.

    Returns (id_col, n_hits, first_pos) for documents with ≥1 hit;
    `first_pos` is the 0-based token offset of the first occurrence.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    conds = " AND ".join(
        f"_t[CAST(i + {j} AS INT)] = '{w}'" for j, w in enumerate(phrase))
    # LET-BINDING via a 1-element transform: naming the token array in
    # a projection and referencing it inside the filter lambda lets
    # CollapseProject INLINE the tokenize regex into the lambda — it
    # then re-runs per candidate offset (measured: 288 s vs ~35 s for
    # a plain tokenize scan at 500k docs). Binding `_t` as a lambda
    # variable forces single evaluation; there is no `let` in Spark
    # SQL, so transform(array(x), _t -> ...)[0] is the idiom.
    from ..functions import TOKEN_RE
    toks_sql = f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)"
    starts = (f"transform(array({toks_sql}), _t -> "
              f"CASE WHEN size(_t) < {len(phrase)} THEN array() "
              f"ELSE filter(sequence(0, size(_t) - {len(phrase)}), "
              f"i -> {conds}) END)[0]")
    # filter-fusion via explode — see blocklist_hits: a post-`where`
    # on the computed array duplicates the tokenize+filter expression
    # into the pushed-down Filter; the 0-or-1-element explode
    # evaluates it once and drops misses in the same Generate.
    row = (f"explode(transform(array({starts}), _s -> "
           f"CASE WHEN size(_s) > 0 THEN array(named_struct("
           f"'n_hits', CAST(size(_s) AS BIGINT), "
           f"'first_pos', CAST(_s[0] AS BIGINT))) "
           f"ELSE array() END)[0])")
    return (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col), F.expr(row).alias("_r"))
              .select(id_col, "_r.n_hits", "_r.first_pos"))


def phrase_hits_sql(phrase: list[str], table: str = "documents",
                    id_expr: str = "doc_id",
                    text_expr: str = "text") -> str:
    """DuckDB twin of `phrase_hits` — same candidate-offset lambda,
    1-based list indexing (i runs over 1-based starts; emitted
    first_pos converts back to the 0-based contract)."""
    from ..functions import tokens_sql
    conds = " AND ".join(
        f"_t[i + {j}] = '{w}'" for j, w in enumerate(phrase))
    return f"""
WITH toked AS (
  SELECT {id_expr} AS doc_id, {tokens_sql(text_expr)} AS _t
  FROM {table} WHERE {text_expr} IS NOT NULL
),
hits AS (
  SELECT doc_id,
         list_filter(range(1, len(_t) - {len(phrase)} + 2),
                     i -> {conds}) AS _s
  FROM toked WHERE len(_t) >= {len(phrase)}
)
SELECT doc_id AS {id_expr}, CAST(len(_s) AS BIGINT) AS n_hits,
       CAST(_s[1] - 1 AS BIGINT) AS first_pos
FROM hits WHERE len(_s) > 0
"""


def blocklist_hits(df: DataFrame, phrases: list[str],
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Multi-phrase blocklist tagging — the content-policy /
    compliance gate of a training-data pipeline: K banned phrases
    (plan-time constants: slurs, license markers, boilerplate
    fragments, contamination strings), each doc tagged with WHICH of
    them it contains as a whole-token sequence. Output: (id_col,
    n_hits, hits) for docs with ≥1 hit; `hits` is the matched
    phrases joined by '|' in blocklist order (deterministic — filter
    preserves the literal array's order on both engines).

    Matching is on the space-padded token join (' tok tok '), so a
    phrase matches exactly a consecutive token run — no substring
    false positives ('rowing' never matches phrase 'row'), same
    normalization as `phrase_hits`.

    Scale shape: map-only — one tokenize per doc (the padded string
    is LET-BOUND as a lambda variable, the `phrase_hits` lesson:
    naming it in a projection lets CollapseProject inline the
    tokenize into the phrase lambda, re-running it K times), a
    K-element literal array filter via JVM `contains`, zero joins,
    zero shuffle. At 100 TB the gate runs at scan rate; K scales to
    thousands of phrases before the per-row cost rivals tokenize."""
    if not phrases:
        raise ValueError("phrases must be non-empty")
    for p in phrases:
        if "'" in p:
            raise ValueError(f"phrase {p!r} contains a quote")
    from ..functions import TOKEN_RE
    lits = ", ".join(f"' {p} '" for p in phrases)
    padded = (f"concat(' ', array_join("
              f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0),"
              f" ' '), ' ')")
    hits = (f"transform(array({padded}), _pad -> "
            f"filter(array({lits}), p -> contains(_pad, p)))[0]")
    # FILTER-FUSION via explode: a plain `.where(size(_h) > 0)` after
    # the projection gets pushed through it, duplicating the whole
    # tokenize+probe expression into the Filter (it runs twice per
    # row). Wrapping the conditional output in explode(0-or-1-element
    # array) evaluates the expression ONCE inside the Generate and
    # drops the misses in the same pass (plan test pins single
    # regexp_extract_all, zero Exchange).
    row = (f"explode(transform(array({hits}), _h -> "
           f"CASE WHEN size(_h) > 0 THEN array(named_struct("
           f"'n_hits', CAST(size(_h) AS BIGINT), "
           f"'hits', array_join(transform(_h, p -> trim(p)), '|'))) "
           f"ELSE array() END)[0])")
    return (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col), F.expr(row).alias("_r"))
              .select(id_col, "_r.n_hits", "_r.hits"))


def vocab_coverage(df: DataFrame, vocab_size: int = 16,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Vocabulary-coverage / OOV-rate audit — the pre-tokenizer-
    training question "how much of each document does a top-V
    vocabulary actually cover?" (high OOV docs are the ones a
    whitespace/BPE vocab will shred into bytes — surfacing them
    drives vocab-size choice and flags encoding rot / wrong-language
    residue the langid pass scored borderline). Vocabulary = the V
    corpus-wide most frequent tokens (ties broken by term asc, the
    deterministic convention). Output per non-empty doc: (id_col,
    n_tokens, n_oov, oov_ppm) — all exact BIGINTs (ppm via integer
    div; no float rates to flap the cross-engine hash).

    Scale shape: ONE tokenize scan feeding a (doc, term) count agg
    that serves BOTH sides — the corpus vocabulary (term-keyed agg,
    vocabulary-sized, then a vocabulary-sized top-V sort) and the
    per-doc coverage (join against the V-row vocab — broadcast — and
    one doc-keyed agg). The corpus is never scanned twice and never
    joined to anything corpus-sized."""
    from pyspark.sql import Window
    from ..functions import tokens
    tc = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col),
                    F.explode(tokens(text_col)).alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
    vc = tc.groupBy("term").agg(F.sum("n").cast("long").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    vocab = (vc.withColumn("_rk", F.row_number().over(w))
               .where(F.col("_rk") <= vocab_size)
               .select("term", F.lit(1).alias("_in_vocab")))
    return (tc.join(F.broadcast(vocab), "term", "left")
              .groupBy(id_col)
              .agg(F.sum("n").cast("long").alias("n_tokens"),
                   F.sum(F.when(F.col("_in_vocab").isNull(), F.col("n"))
                          .otherwise(F.lit(0))).cast("long").alias("n_oov"))
              .select(F.col(id_col), "n_tokens", "n_oov",
                      F.expr("n_oov * 1000000L div n_tokens")
                       .alias("oov_ppm")))


def vocab_coverage_sql(vocab_size: int = 16, table: str = "documents",
                       id_expr: str = "doc_id",
                       text_expr: str = "text") -> str:
    """DuckDB twin of `vocab_coverage` — same top-V convention."""
    from ..functions import tokens_sql
    return f"""
WITH toked AS (
  SELECT {id_expr} AS doc_id, {tokens_sql(text_expr)} AS _t
  FROM {table} WHERE {text_expr} IS NOT NULL
),
tc AS (SELECT doc_id, unnest(_t) AS term FROM toked),
tcc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n
        FROM tc GROUP BY 1, 2),
vc AS (SELECT term, CAST(sum(n) AS BIGINT) AS cnt FROM tcc GROUP BY 1),
vocab AS (SELECT term FROM (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
  FROM vc) WHERE rk <= {vocab_size}),
agg AS (
  SELECT tcc.doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.term IS NULL THEN n ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM tcc LEFT JOIN vocab v USING (term) GROUP BY 1)
SELECT doc_id AS {id_expr}, n_tokens, n_oov,
       n_oov * 1000000 // n_tokens AS oov_ppm
FROM agg
"""


def blocklist_hits_sql(phrases: list[str], table: str = "documents",
                       id_expr: str = "doc_id",
                       text_expr: str = "text") -> str:
    """DuckDB twin of `blocklist_hits` — same padded-token-join
    containment over the same literal list."""
    from ..functions import tokens_sql
    lits = ", ".join(f"' {p} '" for p in phrases)
    return f"""
WITH pad AS (
  SELECT {id_expr} AS doc_id,
         ' ' || array_to_string({tokens_sql(text_expr)}, ' ') || ' ' AS _pad
  FROM {table} WHERE {text_expr} IS NOT NULL
),
h AS (
  SELECT doc_id,
         list_filter([{lits}], p -> contains(_pad, p)) AS _h
  FROM pad
)
SELECT doc_id AS {id_expr}, CAST(len(_h) AS BIGINT) AS n_hits,
       array_to_string(list_transform(_h, p -> trim(p)), '|') AS hits
FROM h WHERE len(_h) > 0
"""


def pseudonymize_terms(df: DataFrame, terms: list[str],
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Dictionary-driven deterministic pseudonymization — the GDPR
    Art. 4(5) release transform `blocklist_hits` only AUDITS: every
    occurrence of a dictionary term (usernames, project codenames,
    client identifiers) is REPLACED in the token stream by a stable
    surrogate `<ENT_xxxxxxxxxx>` (10 hex chars of the term's md5).
    Unlike `pii_scrub`'s fixed `<EMAIL>` tags, the surrogate is
    per-ENTITY: the same term maps to the same token in every
    document, so co-occurrence structure, entity linking, and dedup
    keys survive the scrub — pseudonymization, not redaction.
    Output per non-null doc: (id_col, n_hits, n_entities, clean_text)
    over the normalized token stream (exact BIGINT counts;
    n_entities = distinct dictionary terms present).

    Scale shape: map-only — ONE tokenize per doc (let-bound by the
    zero-arg transform, the `blocklist_hits` lesson), an IN probe
    against the literal array plus an md5 per HIT inside the lambda,
    zero joins, zero shuffle; runs at scan rate at 100 TB. The
    surrogate is deterministic ON PURPOSE (referential integrity);
    a keyed deployment swaps md5(t) for md5(secret || t) — same
    plan, the dictionary stays plan-side."""
    if not terms:
        raise ValueError("terms must be non-empty")
    for t in terms:
        if "'" in t:
            raise ValueError(f"term {t!r} contains a quote")
    from ..functions import TOKEN_RE
    lits = ", ".join(f"'{t}'" for t in terms)
    toked = (f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)")
    # One Generate-free projection: transform(array(toked), ...) [0]
    # let-binds the tokenize so CollapseProject can't duplicate it
    # into the three outputs.
    row = (f"transform(array({toked}), _t -> named_struct("
           f"'n_hits', CAST(size(filter(_t, t -> t IN ({lits}))) AS BIGINT), "
           f"'n_entities', CAST(size(array_distinct(filter(_t, "
           f"t -> t IN ({lits})))) AS BIGINT), "
           f"'clean_text', array_join(transform(_t, t -> "
           f"CASE WHEN t IN ({lits}) THEN concat('<ENT_', "
           f"substr(md5(t), 1, 10), '>') ELSE t END), ' ')))[0]")
    return (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col), F.expr(row).alias("_r"))
              .select(id_col, "_r.n_hits", "_r.n_entities",
                      "_r.clean_text"))


def pseudonymize_terms_sql(terms: list[str], table: str = "documents",
                           id_expr: str = "doc_id",
                           text_expr: str = "text") -> str:
    """DuckDB twin of `pseudonymize_terms` — same tokenize, same IN
    probe, same md5 surrogates (1-based list lambdas; empty-list
    array_to_string coalesced: DuckDB returns NULL, Spark '')."""
    from ..functions import tokens_sql
    lits = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH b AS (
  SELECT {id_expr} AS doc_id, {tokens_sql(text_expr)} AS _t
  FROM {table} WHERE {text_expr} IS NOT NULL
)
SELECT doc_id AS {id_expr},
       CAST(len(list_filter(_t, t -> t IN ({lits}))) AS BIGINT) AS n_hits,
       CAST(len(list_distinct(list_filter(_t, t -> t IN ({lits}))))
         AS BIGINT) AS n_entities,
       coalesce(array_to_string(list_transform(_t, t ->
           CASE WHEN t IN ({lits}) THEN '<ENT_' || substr(md5(t), 1, 10)
                || '>' ELSE t END), ' '), '') AS clean_text
FROM b
"""


RRF_C = 60                 # the standard Cormack/Clarke offset
RRF_SCALE = 1_000_000      # integer RRF: contribution = SCALE div (C + rank)


def rrf_fuse(sides: dict[str, DataFrame], id_col: str = "doc_id",
             k: int = 20) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the hybrid-
    retrieval combiner that merges a lexical ranking (BM25) with a
    dense ranking (ANN cosine) without score calibration: each list
    contributes SCALE div (C + rank) — EXACT integers, so the fused
    score is an order-insensitive BIGINT sum (the float 1/(60+r) form
    would sum in shuffle order and flap the cross-engine hash).

    `sides` maps a side name to a ranked frame carrying (id_col,
    rank); output is the fused top-k: (rank, id_col, rrf_score,
    n_lists, <name>_rank per side — NULL where that side missed the
    document).

    Scale shape: the inputs are top-k lists (bounded — produced by
    TakeOrdered plans), so fusion runs on Σ|list| rows however large
    the corpus: one union, one id hash-agg, one TakeOrdered."""
    from pyspark.sql import Window
    names = list(sides)
    tagged = [s.select(F.col(id_col), F.col("rank").alias("_r"),
                       F.lit(n).alias("_side"))
              for n, s in sides.items()]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    aggs = [F.expr(f"CAST(sum({RRF_SCALE} div ({RRF_C} + _r)) AS BIGINT)")
             .alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_lists")]
    aggs += [F.max(F.when(F.col("_side") == n, F.col("_r")))
              .cast("long").alias(f"{n}_rank") for n in names]
    fused = u.groupBy(id_col).agg(*aggs)
    top = fused.orderBy(F.col("rrf_score").desc(),
                        F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")) \
              .select("rank", id_col, "rrf_score", "n_lists",
                      *[f"{n}_rank" for n in names])


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      iters: int = 4, min_count: int = 3,
                      top_k: int = 30) -> DataFrame:
    """Corpus-level TextRank keyword salience (Mihalcea & Tarau,
    EMNLP'04): PageRank over the word co-occurrence graph — the
    graph-centrality complement of tf-idf/collocations (a term is
    salient when SALIENT terms co-occur with it, recursively, not
    merely when it is frequent).

    Graph: adjacent-token pairs (window 2), self-loops dropped, kept
    when the adjacency occurs ≥ `min_count` times corpus-wide (the
    hot-pair cut that bounds the graph at web scale), both directions
    (TextRank's undirected form). Ranks via the exact fixed-point
    integer `graph.pagerank_exact` recurrence, so the DuckDB
    unrolled-round twin hash-matches bit-for-bit.

    Output: (kw_rank, term, rank, rank_norm) for the top_k terms.

    Scale shape: the corpus appears ONLY in the one bigram hash-agg
    (map-side combined, vocabulary²-bounded output); every PageRank
    round then exchanges the VOCABULARY-sized graph — |E|+|V| rows
    per iteration regardless of corpus bytes."""
    from pyspark.sql import Window
    from .graph import pagerank_exact
    bg = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
          .where(F.size(TOKENS_COL) >= 2)
          .select(F.explode(F.expr(
                      f"transform(sequence(0, size({TOKENS_COL}) - 2), "
                      f"i -> struct({TOKENS_COL}[i] AS w1, "
                      f"{TOKENS_COL}[i+1] AS w2))")).alias("b"))
          .select("b.w1", "b.w2")
          .where(F.col("w1") != F.col("w2"))
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("n"))
          .where(F.col("n") >= min_count))
    edges = (bg.select(F.explode(F.array(
                F.struct(F.col("w1").alias("src"), F.col("w2").alias("dst")),
                F.struct(F.col("w2").alias("src"), F.col("w1").alias("dst"))))
                .alias("e"))
               .select("e.src", "e.dst"))
    r = pagerank_exact(edges, iters=iters)
    w = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (r.withColumn("kw_rank", F.row_number().over(w).cast("long"))
             .where(F.col("kw_rank") <= top_k)
             .select("kw_rank", F.col("node").alias("term"), "rank",
                     (F.col("rank") / F.lit(1e9)).alias("rank_norm")))


# ----------------------------------------------------------------- RAKE

RAKE_MAX_PHRASE = 4   # candidate cap (standard RAKE practice)
RAKE_TOPK = 50


def rake_keywords(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_phrase: int = RAKE_MAX_PHRASE,
                  k: int = RAKE_TOPK) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands over the
    token stream), word score = degree/frequency where degree sums
    the lengths of the phrases a word appears in, phrase score = sum
    of member word scores. Top-k corpus keywords by score.

    Fixed point: word_score_e6 = deg·10⁶ div freq (truncating int),
    phrase score = Σ word_score_e6 — exact int64 end to end, so the
    ranking is engine-identical (a float deg/freq would flap ties).

    Scale shape: ONE tokenize scan → per-doc island window (doc-key
    exchange, the sessionize shape) → three vocabulary/phrase-bounded
    hash aggs. The stopword filter happens before the window, so hot
    tokens never enter an exchange; candidate length is capped at
    `max_phrase` so no degenerate unbroken document becomes a
    mega-phrase."""
    from pyspark.sql import Window
    stop = STOPWORDS["en"]
    u = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
         .select(id_col, F.posexplode(TOKENS_COL).alias("pos", "w")))
    ns = u.where(~F.col("w").isin(*stop))
    wi = Window.partitionBy(id_col).orderBy("pos")
    isl = ns.withColumn("grp",
                        F.col("pos") - F.row_number().over(wi))
    ph = (isl.groupBy(id_col, "grp")
          .agg(F.count(F.lit(1)).cast("long").alias("plen"),
               F.expr("array_join(transform(array_sort("
                      "collect_list(struct(pos, w))), s -> s.w), ' ')")
                .alias("phrase"))
          .where(F.col("plen") <= max_phrase))
    occ = isl.join(ph, [id_col, "grp"])
    ws = (occ.groupBy("w")
             .agg(F.count(F.lit(1)).cast("long").alias("freq"),
                  F.expr("CAST(sum(plen) AS BIGINT)").alias("deg")))
    wsc = ws.select("w", F.expr("deg * 1000000 div freq")
                          .alias("wscore_e6"))
    po = (occ.join(wsc, "w")
             .groupBy(id_col, "grp", "phrase", "plen")
             .agg(F.expr("CAST(sum(wscore_e6) AS BIGINT)")
                   .alias("pscore")))
    return (po.groupBy("phrase")
              .agg(F.expr("CAST(max(plen) AS BIGINT)").alias("n_words"),
                   F.count(F.lit(1)).cast("long").alias("occurrences"),
                   F.expr("CAST(max(pscore) AS BIGINT)").alias("score_e6"))
              .orderBy(F.desc("score_e6"), F.asc("phrase"))
              .limit(k))


def rake_keywords_sql(max_phrase: int = RAKE_MAX_PHRASE,
                      k: int = RAKE_TOPK) -> str:
    """DuckDB twin of rake_keywords (same stoplist, same fixed point)."""
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents WHERE text IS NOT NULL),
u AS (
  SELECT doc_id, unnest(toks) AS w,
         unnest(range(len(toks))) AS pos
  FROM t),
ns AS (SELECT doc_id, pos, w FROM u WHERE w NOT IN ({stoplist})),
isl AS (
  SELECT doc_id, pos, w,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM ns),
ph AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen,
         string_agg(w, ' ' ORDER BY pos) AS phrase
  FROM isl GROUP BY 1, 2
  HAVING count(*) <= {max_phrase}),
occ AS (SELECT isl.doc_id, isl.grp, isl.w, ph.plen, ph.phrase
        FROM isl JOIN ph USING (doc_id, grp)),
ws AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS deg
  FROM occ GROUP BY 1),
wsc AS (SELECT w, deg * 1000000 // freq AS wscore_e6 FROM ws),
po AS (
  SELECT occ.doc_id, occ.grp, occ.phrase, occ.plen,
         CAST(sum(wsc.wscore_e6) AS BIGINT) AS pscore
  FROM occ JOIN wsc USING (w)
  GROUP BY 1, 2, 3, 4)
SELECT phrase, CAST(max(plen) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS occurrences,
       CAST(max(pscore) AS BIGINT) AS score_e6
FROM po
GROUP BY 1
ORDER BY score_e6 DESC, phrase ASC
LIMIT {k}
"""


# ------------------------------------------------- trigram fluency

TRIGRAM_W3, TRIGRAM_W2, TRIGRAM_W1 = 70, 25, 5  # interpolation ×100


def trigram_fluency(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Interpolated trigram LM typicality per document — the backoff
    step up from `bigram_fluency` (Jelinek-Mercer interpolation, the
    mechanism KenLM-style scorers rely on, in corpus-self-trained
    miniature): per trigram position,
        p_ppb = (70·P₃ + 25·P₂ + 5·P₁) div 100
    with P₃ = c(w₁w₂w₃)/c(w₁w₂·), P₂ = c(·w₂w₃)/c(·w₂·), P₁ =
    c(··w₃)/N, every count taken over the corpus trigram stream so
    the three backoff tiers are self-consistent. All fixed-point
    int64 (probability in ppb, conditionals via truncating div) —
    the same no-libm-in-aggregates discipline as bigram_fluency:
    a log-perplexity would sum floats in shuffle order and flap the
    cross-engine hash; the mean interpolated probability ranks
    documents identically for the gate use.

    Scale shape: ONE tokenize scan into the trigram stream, four
    count windows (w₁w₂w₃ / w₁w₂ / w₂w₃ / w₂) keyed by token tuples
    plus one 1-row total broadcast, then the per-doc hash agg — the
    bigram op's shape with one extra vocabulary-keyed exchange."""
    from pyspark.sql import Window
    tg = (with_tokens(spread(df.where(F.col(text_col).isNotNull())), text_col)
          .where(F.size(TOKENS_COL) >= 3)
          .select(F.col(id_col),
                  F.explode(F.expr(
                      f"transform(sequence(0, size({TOKENS_COL}) - 3), "
                      f"i -> struct({TOKENS_COL}[i] AS w1, "
                      f"{TOKENS_COL}[i+1] AS w2, "
                      f"{TOKENS_COL}[i+2] AS w3))")).alias("t"))
          .select(id_col, "t.w1", "t.w2", "t.w3"))
    stats = (tg.withColumn("c123", F.count(F.lit(1)).over(
                   Window.partitionBy("w1", "w2", "w3")).cast("long"))
               .withColumn("c12", F.count(F.lit(1)).over(
                   Window.partitionBy("w1", "w2")).cast("long"))
               .withColumn("c23", F.count(F.lit(1)).over(
                   Window.partitionBy("w2", "w3")).cast("long"))
               .withColumn("c2", F.count(F.lit(1)).over(
                   Window.partitionBy("w2")).cast("long")))
    total = stats.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    interp = (f"({TRIGRAM_W3} * (c123 * {PPB} div c12) + "
              f"{TRIGRAM_W2} * (c23 * {PPB} div c2) + "
              f"{TRIGRAM_W1} * (c3 * {PPB} div n_total)) div 100")
    c3w = (stats.withColumn("c3", F.count(F.lit(1)).over(
               Window.partitionBy("w3")).cast("long"))
                .crossJoin(F.broadcast(total)))
    return (c3w.withColumn("p_ppb", F.expr(interp))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_trigrams"),
                    F.expr("CAST(sum(p_ppb) AS BIGINT)")
                     .alias("sum_prob_ppb"))
               .select(id_col, "n_trigrams", "sum_prob_ppb",
                       F.expr("sum_prob_ppb div n_trigrams")
                        .alias("fluency_ppb")))


def trigram_fluency_sql() -> str:
    """DuckDB twin of trigram_fluency (same windows, same fixed
    point; `//` is DuckDB's truncating div twin of Spark `div`)."""
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents WHERE text IS NOT NULL),
tg AS (
  SELECT doc_id,
         toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
  FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 3),
st AS (
  SELECT doc_id,
         CAST(count(*) OVER (PARTITION BY w1, w2, w3) AS BIGINT) AS c123,
         CAST(count(*) OVER (PARTITION BY w1, w2) AS BIGINT) AS c12,
         CAST(count(*) OVER (PARTITION BY w2, w3) AS BIGINT) AS c23,
         CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS c2,
         CAST(count(*) OVER (PARTITION BY w3) AS BIGINT) AS c3,
         CAST(count(*) OVER () AS BIGINT) AS n_total
  FROM tg),
p AS (
  SELECT doc_id,
         ({TRIGRAM_W3} * (c123 * {PPB} // c12) +
          {TRIGRAM_W2} * (c23 * {PPB} // c2) +
          {TRIGRAM_W1} * (c3 * {PPB} // n_total)) // 100 AS p_ppb
  FROM st)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(p_ppb) AS BIGINT) AS sum_prob_ppb,
       CAST(sum(p_ppb) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS fluency_ppb
FROM p
GROUP BY 1
"""


# -------------------------------------------------- script census

SCRIPT_OTHER_MAX_PPM = 100_000   # >10% outside ASCII classes → suspect

_WS_CLS = "[ \\t\\r\\n]"   # whitespace class, shared literal


def script_census(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Character-class / script census per document — the
    encoding-rot and wrong-script detector that runs BEFORE language
    ID can be trusted (mojibake, binary-pasted-as-text, and
    unsupported scripts all surface as a high share of characters
    outside the ASCII letter/digit/whitespace classes): exact counts
    per class by length-difference against a replace-all, other_ppm
    in truncating fixed point, suspect flag at >10%.

    Scale shape: a pure map — three regexp projections inside the
    scan, zero joins, zero shuffle; the gate runs at scan rate at
    100 TB like the classifier/blocklist tier."""
    n = "char_length(text0)"

    def cnt(cls):
        return f"({n} - char_length(regexp_replace(text0, '{cls}', '')))"

    alpha, digit, space = cnt("[A-Za-z]"), cnt("[0-9]"), cnt(_WS_CLS)
    return (df.where(F.col(text_col).isNotNull())
              .select(F.col(id_col), F.col(text_col).alias("text0"))
              .select(
                  id_col,
                  F.expr(f"CAST({n} AS BIGINT)").alias("n_chars"),
                  F.expr(f"CAST({alpha} AS BIGINT)").alias("n_alpha"),
                  F.expr(f"CAST({digit} AS BIGINT)").alias("n_digit"),
                  F.expr(f"CAST({space} AS BIGINT)").alias("n_space"))
              .withColumn("n_other",
                          F.expr("n_chars - n_alpha - n_digit - n_space")
                           .cast("long"))
              .withColumn("other_ppm",
                          F.expr("CASE WHEN n_chars = 0 THEN 0 "
                                 "ELSE n_other * 1000000 div n_chars END"))
              .withColumn("suspect",
                          F.expr(f"CAST(other_ppm > {SCRIPT_OTHER_MAX_PPM} "
                                 f"AS BIGINT)")))


def script_census_sql() -> str:
    """DuckDB twin (regexp_replace needs the 'g' flag for
    replace-all; Spark replaces all by default)."""
    n = "length(text)"

    def cnt(cls):
        return f"({n} - length(regexp_replace(text, '{cls}', '', 'g')))"

    alpha, digit, space = cnt("[A-Za-z]"), cnt("[0-9]"), cnt(_WS_CLS)
    other = f"({n} - {alpha} - {digit} - {space})"
    ppm = f"(CASE WHEN {n} = 0 THEN 0 ELSE {other} * 1000000 // {n} END)"
    return f"""
SELECT doc_id,
       CAST({n} AS BIGINT) AS n_chars,
       CAST({alpha} AS BIGINT) AS n_alpha,
       CAST({digit} AS BIGINT) AS n_digit,
       CAST({space} AS BIGINT) AS n_space,
       CAST({other} AS BIGINT) AS n_other,
       {ppm} AS other_ppm,
       CAST({ppm} > {SCRIPT_OTHER_MAX_PPM} AS BIGINT) AS suspect
FROM documents WHERE text IS NOT NULL
"""
