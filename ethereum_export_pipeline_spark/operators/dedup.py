"""Deduplication operators over a document table (north-star
extensions): exact, n-gram Jaccard, MinHash+LSH, SimHash — plus the
detectors built on the same machinery: asymmetric containment
(excerpt/superset), exact substring spans (every-gram), winnowing
fingerprints (window-min sampled), cross-batch incremental near-dup
(new batch vs the seen corpus's band index), connected-component dup
clusters (two algorithms), benchmark decontamination, sentence-level
boilerplate, and the MinHash estimator-quality report.

All are pure DataFrame compositions (no UDFs) built on the
cross-engine md5 hashes in `functions`, so every one of them is
verifiable against a DuckDB oracle running the same arithmetic.

Scale design (the 100 TB story):
  * exact      — one hash-aggregate on md5(text): map-side combine,
                 single shuffle on a 128-bit key.
  * ngram      — inverted-index join (explode shingles → equi-join on
                 shingle → count per pair). Never O(n²): candidate
                 pairs only materialize for docs that SHARE a shingle.
                 Hot shingles are the skew risk → `max_shingle_df`
                 drops shingles shared by more than N docs (standard
                 df-cut), bounding join fan-out.
  * minhash    — K=16 permutation mins per doc (one aggregate), then
                 LSH banding (8 bands × 2 rows): candidates only for
                 band collisions, verified with exact Jaccard.
  * simhash    — 48-bit fingerprint from per-bit token votes (one
                 aggregate with 48 conditional sums), candidates via
                 4×12-bit band join, Hamming ≤ 3 verify via bit_count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..execution import checkpoint, spread
from ..functions import (MERSENNE31, affine_hash, h32, h60, hash_family,
                         tokens)

NGRAM_N = 3          # words per shingle
MINHASH_K = 16       # signature length
NGRAM_THRESHOLD = 0.5  # verified-Jaccard floor of every near-dup pair
BENCH_MOD = 97       # doc_id % 97 == 0 stands in for the eval suite
MINHASH_BANDS = 8    # 8 bands × 2 rows
SIMHASH_BITS = 48
SIMHASH_BANDS = 4    # 4 × 12 bits
SIMHASH_MAX_HAMMING = 3

#: df-cut: shingles/buckets shared by more docs than this are dropped
#: before the candidate join — bounds inverted-index fan-out (the skew
#: tail on web-scale text: stop-word shingles are quadratic in the
#: hottest shingle's doc frequency). Callers may raise it; None = off.
DEFAULT_MAX_DF = 1000

#: shared deterministic permutation family (lockstep with oracle SQL)
MINHASH_FAMILY = hash_family(MINHASH_K, seed=13)


# ------------------------------------------------------------- exact

def dedup_exact(df: DataFrame) -> DataFrame:
    """Group documents by exact content hash; keeper = min id.

    NULL-text rows are excluded up front: md5(NULL) is NULL, which would
    otherwise collapse every null document into one bogus dup cluster.
    """
    return (
        df.where(F.col("text").isNotNull())
          .groupBy(F.md5(F.col("text")).alias("content_key"))
          .agg(F.min("doc_id").alias("keep_doc_id"),
               F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------- shingles

def shingles(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles of `text` per document: (id, shingle).
    Docs with fewer than n tokens contribute no shingles.

    Dedup happens per-document with `array_distinct` BEFORE the
    explode — map-side, inside codegen — instead of a `.distinct()`
    over the exploded rows, which would shuffle the whole inverted
    index once more (cross-document duplicates are fine: every
    consumer groups by doc or joins by shingle)."""
    joined = ", ".join(f"element_at(t, i + {k + 1})" for k in range(NGRAM_N))
    expr = (
        f"CASE WHEN size(t) < {NGRAM_N} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size(t) - {NGRAM_N}), "
        f"i -> concat_ws(' ', {joined}))) END"
    )
    return (
        df.select(F.col(id_col), tokens("text").alias("t"))
          .select(id_col, F.explode(F.expr(expr)).alias("shingle"))
    )


def _sized_shingles(df: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(id, shingle, sz) — the inverted index with the df-cut and the
    per-doc size attached.

    With a df-cut, `sz` counts the SURVIVING shingles per doc, so both
    values attach VIA WINDOWS over one lineage, instead of separate
    aggregations joined back in. Two wins at scale:
      * one computation of the explode+distinct subtree (a self-join of
        this frame reuses the same shuffle — ReusedExchange — where
        separate agg branches each recompute it);
      * the df-cut window partitions by `shingle`, the same key the
        candidate join shuffles on, so its exchange is on the hot path
        anyway.

    Without a df-cut (optimization r11, guide §2.4): `sz` is just the
    size of the per-doc distinct array, known MAP-SIDE before the
    explode — emitting (shingle, sz) structs from ONE generator
    removes what was a full exchange of the inverted index
    (Window.partitionBy(doc) count) from the minhash/incremental
    verify paths. Values are identical: the window counted the
    exploded rows of the same array.

    Expression-duplication trap (measured this round, guide §1.1):
    the obvious two-step form — Project `_sharr = <distinct-shingle
    expr over t>` then `explode(_sharr), size(_sharr)` — ran ~10×
    SLOWER (doc_ngram_pairs 2.2 → 24 s): CollapseProject inlines the
    lower Project's aliases into every reference site, so `tokens()`
    re-evaluates inside `size(t)`, the `sequence` bound and EVERY
    `element_at` of the transform lambda. A Project directly under a
    Generate is NOT collapsed (the fast shape `shingles` already
    uses), and the array reference is let-bound through a 1-element
    `transform(array(..), a -> ..)` lambda, which Catalyst never
    inlines — so tokenize and the shingle array each evaluate exactly
    once per row."""
    from pyspark.sql import Window
    if max_shingle_df is None:
        joined = ", ".join(f"element_at(t, i + {k + 1})"
                           for k in range(NGRAM_N))
        arr = (
            f"CASE WHEN size(t) < {NGRAM_N} THEN array() "
            f"ELSE array_distinct(transform(sequence(0, size(t) - {NGRAM_N}), "
            f"i -> concat_ws(' ', {joined}))) END"
        )
        gen = (f"element_at(transform(array({arr}), a -> "
               f"transform(a, x -> named_struct("
               f"'shingle', x, 'sz', CAST(size(a) AS BIGINT)))), 1)")
        return (df.select(F.col("doc_id"), tokens("text").alias("t"))
                  .select("doc_id", F.explode(F.expr(gen)).alias("_s"))
                  .select("doc_id", F.col("_s.shingle").alias("shingle"),
                          F.col("_s.sz").alias("sz")))
    sh = shingles(df, "doc_id")
    w_sh = Window.partitionBy("shingle")
    sh = (sh.withColumn("df", F.count(F.lit(1)).over(w_sh))
            .where(F.col("df") <= max_shingle_df).drop("df"))
    w_doc = Window.partitionBy("doc_id")
    return sh.withColumn("sz", F.count(F.lit(1)).over(w_doc))


def _jaccard_from_pairs(inter: DataFrame, threshold: float) -> DataFrame:
    return (
        inter.withColumn("jaccard",
                         (F.col("n_common")
                          / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")))
                         .cast("double"))
             .where(F.col("jaccard") >= threshold)
             .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def ssjoin_prefix_pairs(df: DataFrame) -> DataFrame:
    """EXACT shingle-Jaccard pairs via PREFIX FILTERING (PPJoin
    family — Xiao/Wang/Lin/Yu, "Efficient Similarity Joins for Near
    Duplicate Detection", public): the exact twin of
    `ngram_jaccard_pairs` over the SAME n-gram universe — but where
    the df-cut DROPS hot shingles (and can miss pairs whose overlap
    lives in them) and MinHash is probabilistic, this join has NO
    recall loss; pruning comes from ordering alone.

    Three phases, each shaped for the corpus where exact near-dup
    matters (boilerplate-heavy web text):

    PHASE 0 — exact-duplicate collapse. Documents are grouped by
    md5(text) and ONE representative per group runs the join;
    group-mate pairs are Jaccard 1.0 BY CONSTRUCTION (identical
    text ⇒ identical shingle set) and are emitted directly, and
    each representative-level pair expands to all cross-group member
    pairs with the same (n_common, jaccard). Zero recall loss, and
    it deflates the hot prefix keys that identical boilerplate
    clusters would otherwise contribute quadratically to the
    candidate join.

    PHASE 1 — candidate generation. Shingles get a total order by
    ascending document frequency (ties by shingle): key =
    lpad(df, 10, '0') || ':' || shingle, sorted as plain ASCII
    strings. Four filters apply, each exact:
      * prefix filter with ASYMMETRIC prefixes (Xiao et al. §4):
        records are size-ordered ((sz, doc) lexicographic); the
        smaller record is INDEXED under its first
        sz − ⌈2t·sz/(1+t)⌉ + l keys, the larger PROBES with its
        first sz − ⌈t·sz⌉ + l — for any qualifying pair the l
        globally-smallest shared keys lie in both windows (order
        prefixes in one global order: whatever is ≤ an in-window
        element is itself in-window), so no pair is missed;
      * ADAPTIVE l-extended prefix count (Wang/Li/Feng, "Can we
        beat the prefix filtering?", SIGMOD'12): with prefixes
        extended by l − 1 = 1 key, a qualifying pair must share
        ≥ min(l, α) keys within them (if fewer, ≥ α − l + 1 common
        elements would hide in a suffix of α − l — impossible).
        Counting shared keys per pair replaces the pair `distinct`
        with a same-shuffle-size groupBy, and on a corpus whose
        false candidates share exactly ONE rare shingle by chance,
        it is the filter that matters: measured at sf0.1 it cuts
        surviving candidates 124,979 → 2,799 (45×) against 256
        true pairs, with recall still provably lossless;
      * length filter — Jaccard ≥ t needs t·max(|a|,|b|) ≤ min;
      * positional filter — the pair's first shared key at 1-based
        prefix positions (p_a, p_b) bounds the overlap by
        min(|a|−p_a, |b|−p_b) + 1, which must reach
        α = ⌈t·(|a|+|b|)/(1+t)⌉. Applied as a per-pair EXISTS
        (max over join rows), NOT as a row filter — dropping
        extended-prefix rows before the adaptive count could
        undercount a qualifying pair's shared keys. On
        near-identical (but not byte-identical) cluster members
        this is the filter that matters: shared hot keys sit near
        the prefix END, where the bound collapses.

    PHASE 2 — verify, Vernica/Carey/Li style ("Efficient Parallel
    Set-Similarity Joins Using MapReduce", SIGMOD'10, public): each
    doc's shingle set rides as ONE array<bigint> of 60-bit md5
    prefixes (`h60`, 8 B/shingle) attached to the candidate pair by
    two id-keyed joins, and n_common = size(array_intersect(..))
    evaluates map-side on `array_intersect`'s primitive-long fast
    path (struct elements fall back to interpreted ordering —
    measured 38× slower at ×10). The round-8 implementation instead
    expanded candidate pairs × tokens and re-shuffled that frame for
    a (doc, token) equi-join — fine while the token index fit a
    broadcast, but past the threshold it fell off a broadcast→SMJ
    cliff measured at 21 GB of shuffle at amplification ×100. The
    array form shuffles O(pairs × avg_doc × 8 B) once, with no
    cliff: shuffle grows linearly with the corpus for a fixed
    near-dup density. Hash honesty: the PAIR SET is exact (candidate
    generation never hashes); a 60-bit collision between two
    distinct shingles across a candidate pair (p < 52²/2^60 ≈ 1e-15
    per pair) could perturb that pair's n_common — and would surface
    immediately as a grading mismatch, because the DuckDB oracle
    counts the raw shingle strings.

    Output (doc_a, doc_b, n_common, jaccard) — the ngram-pairs
    shape; doc_a < doc_b by id. All integer until the final
    division."""
    tn, td = 1, 2  # Jaccard threshold tn/td, kept as exact integers

    # ---- phase 0: collapse exact duplicates (one rep per md5(text))
    # scan-width spread first (optimization r11, guide §2.5): the md5
    # grouping and the rep-doc tokenize both run in the scan stage; a
    # one-file input would serialize them onto one core (no-op on
    # well-split input — the 100 TB case)
    base = spread(df.where(F.col("text").isNotNull())
                    .select(F.col("doc_id").alias("doc"),
                            "text"))
    grp = base.select("doc", F.md5(F.col("text")).alias("ck"))
    reps = grp.groupBy("ck").agg(F.min("doc").alias("rep"))
    # (member, rep): consumed three times (semi-join + both expansion
    # sides) — eager checkpoint per the multi-consumer discipline;
    # O(docs × 16 B), far smaller than re-scanning text. rep is 1:1
    # with the md5 group key, so the group self-join below keys on
    # the 8-byte rep, not the 32-byte digest.
    members = checkpoint(grp.join(reps, "ck")
                            .select(F.col("doc").alias("member"), "rep"))
    rep_docs = base.join(reps.select(F.col("rep").alias("doc")),
                         "doc", "left_semi")

    # ---- phase 1: candidates over representatives
    tok = (shingles(rep_docs, "doc")
           .select("doc", F.col("shingle").alias("token")))
    dfc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfc"))
    keyed = (tok.join(dfc, "token")
                .select("doc",
                        F.expr("concat(lpad(CAST(dfc AS STRING), 10, '0'), "
                               "':', token)").alias("k"),
                        h60(F.col("token")).alias("h")))
    # consumed three times (prefix index + both verify array joins):
    # without the checkpoint the shingle→df-join→groupBy subtree
    # re-executes per consumer (no automatic exchange reuse across
    # self-joins of derived frames — see CLAUDE.md); payload is
    # O(docs × avg_doc × ~60 B), executor-local.
    per_doc = checkpoint(
        keyed.groupBy("doc")
             .agg(F.array_sort(F.collect_list("k")).alias("ks"),
                  F.collect_list("h").alias("hs")))
    # probe prefix for Jaccard ≥ tn/td, l-extended: sz − ⌈sz·tn/td⌉ + l;
    # index prefix: sz − ⌈2·sz·tn/(tn+td)⌉ + l (≤ probe prefix)
    ext = 2  # the adaptive-filter l
    pre = (per_doc
           .withColumn("sz", F.size("ks").cast("long"))
           .withColumn("plen", F.expr(
               f"least(sz, sz - ((sz * {tn} + {td} - 1) div {td}) + {ext})"))
           .withColumn("ilen", F.expr(
               f"least(sz, sz - ((sz * 2 * {tn} + {tn + td} - 1) "
               f"div {tn + td}) + {ext})"))
           .select("doc", "sz", "ilen",
                   F.posexplode(F.expr("slice(ks, 1, CAST(plen AS INT))"))
                    .alias("p0", "k"))
           .withColumn("p", (F.col("p0") + 1).cast("long"))
           .drop("p0"))
    a = (pre.where(F.col("p") <= F.col("ilen"))  # indexed: smaller side
            .select(F.col("doc").alias("doc_a"),
                    F.col("sz").alias("sz_a"), F.col("p").alias("pa"), "k"))
    b = pre.select(F.col("doc").alias("doc_b"),  # probing: larger side
                   F.col("sz").alias("sz_b"), F.col("p").alias("pb"), "k")
    alpha = (f"(({tn} * (sz_a + sz_b)) + {tn + td} - 1) div {tn + td}"
             )  # ⌈t·(|a|+|b|)/(1+t)⌉ as exact integers
    cand = (a.join(b, "k")
             .where(F.expr("sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b)"))
             .where(F.expr(f"least(sz_a, sz_b) * {td} >= "
                           f"greatest(sz_a, sz_b) * {tn}"))
             # the pair groupBy replaces the pair `distinct` (same
             # shuffle), accumulating the adaptive count and the
             # positional EXISTS together
             .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
             .agg(F.count(F.lit(1)).alias("op"),
                  F.max(F.expr(f"CASE WHEN least(sz_a - pa, sz_b - pb) + 1"
                               f" >= {alpha} THEN 1 ELSE 0 END"))
                   .alias("pos_ok"))
             .where(F.expr(f"op >= least({ext}, {alpha}) AND pos_ok = 1"))
             .select("doc_a", "doc_b"))

    # ---- phase 2: array-attach verify (map-side intersect)
    arrays = per_doc.select("doc", "hs", F.size("ks").cast("long").alias("sz"))
    rpairs = (cand
              .join(arrays.select(F.col("doc").alias("doc_a"),
                                  F.col("hs").alias("hs_a"),
                                  F.col("sz").alias("sz_a")), "doc_a")
              .join(arrays.select(F.col("doc").alias("doc_b"),
                                  F.col("hs").alias("hs_b"),
                                  F.col("sz").alias("sz_b")), "doc_b")
              .select(F.least("doc_a", "doc_b").alias("doc_a"),
                      F.greatest("doc_a", "doc_b").alias("doc_b"),
                      "sz_a", "sz_b",
                      F.size(F.array_intersect("hs_a", "hs_b"))
                       .cast("long").alias("n_common")))
    rep_out = _jaccard_from_pairs(rpairs, tn / td)

    # ---- phase 0 expansion: rep-level pairs → member-level pairs
    ma = members.select(F.col("rep").alias("doc_a"), F.col("member").alias("ma"))
    mb = members.select(F.col("rep").alias("doc_b"), F.col("member").alias("mb"))
    cross = (rep_out.join(ma, "doc_a").join(mb, "doc_b")
                    .select(F.least("ma", "mb").alias("doc_a"),
                            F.greatest("ma", "mb").alias("doc_b"),
                            "n_common", "jaccard"))
    # group-mate pairs: Jaccard exactly 1.0, n_common = |shingle set|
    # (reps with zero shingles — <n tokens — are absent from `arrays`,
    # so the inner join drops their groups, matching the uncollapsed
    # semantics where such docs never enter the index)
    m1 = members.select("rep", F.col("member").alias("doc_a"))
    m2 = members.select("rep", F.col("member").alias("doc_b"))
    within = (m1.join(m2, "rep")
                .where(F.col("doc_a") < F.col("doc_b"))
                .join(arrays.select(F.col("doc").alias("rep"),
                                    F.col("sz").alias("n_common")), "rep")
                .select("doc_a", "doc_b", "n_common",
                        F.lit(1.0).alias("jaccard")))
    return cross.unionByName(within)


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs (Jaccard ≥ `NGRAM_THRESHOLD`) by exact n-gram
    Jaccard via an inverted-index self-join over the `DEFAULT_MAX_DF`
    df-cut shingles. Output: (doc_a, doc_b, n_common, jaccard).
    Tokenize runs at scan width (spread-first, no-op on well-split
    input)."""
    df = spread(df.select("doc_id", "text"))
    sh = _sized_shingles(df, DEFAULT_MAX_DF)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("sz").alias("sz_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle",
                  F.col("sz").alias("sz_b"))
    inter = (
        a.join(b, "shingle")
         .where(F.col("doc_a") < F.col("doc_b"))
         .groupBy("doc_a", "doc_b", "sz_a", "sz_b")  # sizes ride the group key
         .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_pairs(inter, NGRAM_THRESHOLD)


# ----------------------------------------------------------- minhash

def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    """K minhash values per doc from an already-built (id, shingle)
    frame: m_k = min over shingles of (a_k·h32(shingle) + b_k) mod p.
    Split out (optimization r12) so the LSH pair/incremental paths can
    feed the SAME materialized shingle frame to both the signature agg
    and the exact-Jaccard verify, instead of tokenizing the corpus
    once per consumer."""
    hashed = sh.select("doc_id", h32(F.col("shingle")).alias("h"))
    aggs = [
        F.min(affine_hash(F.col("h"), a, b)).alias(f"m{k}")
        for k, (a, b) in enumerate(MINHASH_FAMILY)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _banded_buckets(sig: DataFrame) -> DataFrame:
    """(id, bucket) band postings from a K-column signature frame —
    the LSH index rows: md5 over each band's signature slice, melted
    to one posting per (doc, band)."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    band_cols = []
    for band in range(MINHASH_BANDS):
        ms = [f"m{band * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws(",", F.lit(str(band)), *ms)).alias(f"band{band}"))
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(MINHASH_BANDS)]))
         .alias("bucket"))


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """MinHash LSH near-dup pairs, verified with exact Jaccard.
    Output: (doc_a, doc_b, n_common, jaccard) for candidates whose
    verified Jaccard ≥ `NGRAM_THRESHOLD`.

    Scan width (optimization r11, guide §2.5 input skew): the
    tokenize+shingle pass runs in the SCAN stage, so a narrow input
    (one small parquet file = one task) serializes the whole
    tokenize+md5 bill onto one core while the rest idle.
    `execution.spread` round-robins the (id, text) projection up to
    default parallelism FIRST; on a well-split input (the 100 TB
    case) it is a no-op. Since optimization r12 that pass runs ONCE:
    the shingle index is materialized (eager localCheckpoint) and
    shared by the signature aggregate and both verify join sides —
    before, each of the three consumers re-ran tokenize+shingle+
    distinct above the shared repartition exchange."""
    df = spread(df.select("doc_id", "text"))
    # ONE tokenize+shingle pass (optimization r12, guide §2.4): the
    # inverted index is materialized once (eager localCheckpoint, the
    # multi-consumer discipline) and feeds all three consumers — the
    # signature aggregate and both verify join sides. Before, each
    # consumer re-ran tokenize+shingle+distinct above the shared scan
    # exchange (three full text passes; count-agg subtrees never
    # canonicalize for AQE stage reuse).
    # 100 TB caveat: the index is (doc, shingle, sz) per distinct
    # shingle, ~3-4x the corpus text bytes, held in executor block
    # storage; and a localCheckpoint truncates lineage without a
    # reliable copy, so a lost executor fails the job instead of
    # recomputing. At that scale use a reliable `checkpoint()` to a
    # checkpoint dir sized for it.
    sh = checkpoint(_sized_shingles(df, max_shingle_df=None))
    sig = _signatures_from_shingles(sh)
    melted = _banded_buckets(sig)
    l = melted.select(F.col("doc_id").alias("doc_a"), "bucket")
    r = melted.select(F.col("doc_id").alias("doc_b"), "bucket")
    cand = (l.join(r, "bucket").where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())

    # verify candidates with exact Jaccard (inverted index restricted
    # to candidate docs — semi-join pushdown keeps this cheap)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("sz").alias("sz_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle",
                  F.col("sz").alias("sz_b"))
    inter = (
        a.join(cand.select("doc_a").distinct(), "doc_a", "left_semi")
         .join(b.join(cand.select("doc_b").distinct(), "doc_b", "left_semi"),
               "shingle")
         .join(cand, ["doc_a", "doc_b"], "left_semi")
         .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
         .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_pairs(inter, NGRAM_THRESHOLD)


def incremental_neardup(new_df: DataFrame, seen_df: DataFrame) -> DataFrame:
    """CROSS-BATCH near-dup gate — the operator an INCREMENTAL
    ingest pipeline actually runs: today's batch (`new_df`) checked
    against the already-ingested corpus (`seen_df`), per-new-doc
    verdict (is_dup, best matched seen doc, exact Jaccard). In-batch
    duplicates are `minhash_lsh_pairs`' job; this op only answers
    "have we ingested this before?".

    Candidates come from the same 8×2 MinHash band index
    (`_banded_buckets`) — in production the seen side's postings are
    PERSISTED (the LSH index is itself incremental: new docs' postings
    append after the batch commits), so each run hashes only the new
    batch and equi-joins |new postings| against the index; nothing
    rescans the seen corpus except the Jaccard verify, which touches
    only candidate seen docs (semi-join pushdown). Verification is
    exact n-gram Jaccard on the (new × seen) candidate pairs,
    never new × new or seen × seen.

    Returns ONE row per new doc (NULL-text docs included, never dup):
    (id, is_dup 0/1, matched_seen, n_common, jaccard) — match columns
    NULL for clean docs; ties broken (jaccard desc, seen id asc).

    Each side tokenizes ONCE at scan width (spread-first discipline,
    no-op on well-split input): the side's shingle index is
    materialized and shared by its signature aggregate and its verify
    join side (optimization r12 — see `minhash_lsh_pairs`)."""
    new_s = spread(new_df.select("doc_id", "text"))
    seen_s = spread(seen_df.select("doc_id", "text"))
    # ONE tokenize+shingle pass per side (optimization r12, guide
    # §2.4 — same shared-index discipline as `minhash_lsh_pairs`):
    # each side's inverted index is materialized once and feeds both
    # its signature aggregate and its verify join side, instead of
    # re-tokenizing per consumer (was 4 full text passes, 2 per side).
    sh_new = checkpoint(_sized_shingles(new_s, max_shingle_df=None))
    sh_seen = checkpoint(_sized_shingles(seen_s, max_shingle_df=None))
    mn = (_banded_buckets(_signatures_from_shingles(sh_new))
          .select(F.col("doc_id").alias("new_id"), "bucket"))
    ms = (_banded_buckets(_signatures_from_shingles(sh_seen))
          .select(F.col("doc_id").alias("seen_id"), "bucket"))
    cand = (mn.join(ms, "bucket")
              .select("new_id", "seen_id").distinct())
    a = (sh_new.select(F.col("doc_id").alias("new_id"), "shingle",
                       F.col("sz").alias("sz_a"))
               .join(cand.select("new_id").distinct(), "new_id",
                     "left_semi"))
    b = (sh_seen.select(F.col("doc_id").alias("seen_id"), "shingle",
                        F.col("sz").alias("sz_b"))
                .join(cand.select("seen_id").distinct(), "seen_id",
                      "left_semi"))
    inter = (a.join(b, "shingle")
              .join(cand, ["new_id", "seen_id"], "left_semi")
              .groupBy("new_id", "seen_id", "sz_a", "sz_b")
              .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    jac = (inter.withColumn(
        "jaccard",
        (F.col("n_common")
         / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")))
        .cast("double"))
        .where(F.col("jaccard") >= NGRAM_THRESHOLD))
    from pyspark.sql import Window
    w = (Window.partitionBy("new_id")
               .orderBy(F.col("jaccard").desc(), F.col("seen_id").asc()))
    best = (jac.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") == 1)
               .select("new_id", F.col("seen_id").alias("matched_seen"),
                       "n_common", "jaccard"))
    return (new_df.select(F.col("doc_id"))
            .join(best, F.col("doc_id") == F.col("new_id"), "left")
            .select("doc_id",
                    F.expr("CAST(matched_seen IS NOT NULL AS BIGINT)")
                     .alias("is_dup"),
                    F.col("matched_seen").cast("long").alias("matched_seen"),
                    "n_common", "jaccard"))


# ----------------------------------------------------------- simhash

def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """Per-doc simhash: bit b of the fingerprint is the sign of the
    vote Σ_tokens (±1 per token's hash bit b) over distinct tokens.

    The tokenize + per-token md5 runs in the scan stage — scan-width
    spread first (optimization r11, guide §2.5; no-op on well-split
    input)."""
    df = spread(df.select("doc_id", "text"))
    # per-doc token dedup map-side (array_distinct) — no shuffle
    toks = (
        df.select(F.col("doc_id"),
                  F.explode(F.array_distinct(tokens("text"))).alias("tok"))
          .select("doc_id", h60(F.col("tok")).alias("h"))
    )
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1)
               .otherwise(-1)).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.alias("fingerprint"))


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs with Hamming(fingerprint) ≤ SIMHASH_MAX_HAMMING.
    Candidates via 4×12-bit band collisions (any identical band —
    sound for ≤3 flipped bits over 4 bands by pigeonhole).
    `DEFAULT_MAX_DF` drops buckets shared by more docs than the cut —
    the hot-bucket skew guard (boilerplate text makes one 12-bit band
    value quadratic at web scale).

    The fingerprint frame (one 48-bit int per doc — tiny) is eagerly
    localCheckpointed: both join sides consume it, and without the
    cut each side re-runs the tokenize + 48-vote aggregation (two
    full corpus scans in the dumped plan; measured 2.9 → 2.5 s at
    sf0.1, and at 100 TB the second tokenize scan is the whole
    bill)."""
    fps = checkpoint(simhash_fingerprints(df))
    width = SIMHASH_BITS // SIMHASH_BANDS
    melted = fps.select(
        F.col("doc_id"), F.col("fingerprint"),
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(c)),
                        (F.shiftright(F.col("fingerprint"), c * width)
                          .bitwiseAND((1 << width) - 1)).cast("string"))
            for c in range(SIMHASH_BANDS)])).alias("bucket"))
    # window df-cut: partitions by `bucket`, the join key below, so the
    # exchange is shared with the candidate join (no separate count +
    # anti-join branch recomputing the fingerprints)
    from pyspark.sql import Window
    melted = (melted.withColumn(
                  "df", F.count(F.lit(1)).over(Window.partitionBy("bucket")))
                    .where(F.col("df") <= DEFAULT_MAX_DF).drop("df"))
    l = melted.select(F.col("doc_id").alias("doc_a"),
                      F.col("fingerprint").alias("fp_a"), "bucket")
    r = melted.select(F.col("doc_id").alias("doc_b"),
                      F.col("fingerprint").alias("fp_b"), "bucket")
    return (
        l.join(r, "bucket").where(F.col("doc_a") < F.col("doc_b"))
         .select("doc_a", "doc_b", "fp_a", "fp_b").distinct()
         .withColumn("hamming",
                     F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long"))
         .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
         .select("doc_a", "doc_b", "hamming")
    )


# ----------------------------------------------- duplicate clusters

CC_MAX_ITER = 20  # propagation rounds before `connected_components` raises


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         id_out: str = "doc_id") -> DataFrame:
    """Collapse near-dup PAIRS into duplicate CLUSTERS: connected
    components of the undirected pair graph, labelled by the minimum
    member id. Output: (id_out, cluster_id) for every node that
    appears in a pair (singletons are trivially their own cluster and
    are left out — the caller left-joins and coalesces if it wants
    keep-one-per-cluster semantics).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbours' labels, so after k rounds
    a node carries the min id within graph distance k — convergence in
    diameter(G) rounds, detected by a changed-label count. Dup
    clusters are short-diameter (near-cliques from LSH banding), so
    this terminates in 2-4 rounds in practice; `CC_MAX_ITER` bounds
    pathological chains. This is the simple half of the large-star /
    small-star MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14); at 100 TB swap the
    per-round join for the star-contraction steps if diameters grow.

    Scale notes: one Spark job per round — the old label rides the
    min-agg as a second aggregate (`min(lbl) FILTER is_old`), so the
    same shuffle that updates the labels also materializes the
    old-vs-new comparison; the convergence probe is then a scan-count
    over the just-checkpointed partitions (no join, no shuffle, no
    recompute). An eager `execution.checkpoint` truncates the growing
    lineage each round so the plan stays O(1) deep. The graph that
    reaches this operator is already pair-pruned by LSH, orders of
    magnitude smaller than the corpus.

    Raises RuntimeError if the propagation has not reached its fixpoint
    after `CC_MAX_ITER` rounds — partial labels would silently disagree
    with the exact-fixpoint oracle (and with themselves across runs)."""
    # materialize the edge list ONCE before iterating: the pair frame's
    # lineage is the whole upstream candidate pipeline (LSH banding +
    # verify), and it is referenced twice per round — without this the
    # entire pair generation would re-execute every iteration
    edges = checkpoint(
        pairs.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
             .union(pairs.select(F.col(dst).cast("long").alias("u"),
                                 F.col(src).cast("long").alias("v")))
             .distinct())
    # iteration rounds exchange frames sized to the PRUNED graph, not
    # the corpus; AQE's runtime coalesce shrinks those exchanges on its
    # own (measured: no wall-clock delta vs a shuffle.partitions
    # clamp), so no session-global conf mutation — a concurrent query
    # on the shared session must never plan under a clamped width.
    # seed with the DISTANCE-1 minimum (min of self and direct
    # neighbours) instead of self: same fixpoint, one fewer
    # propagation round for free — the init's groupBy(u) exchange
    # is the same size as the select-distinct it replaces
    labels = (edges.groupBy("u")
                   .agg(F.min("v").alias("mv"))
                   .select(F.col("u").alias("node"),
                           F.least("u", "mv").alias("lbl")))
    changed = None
    for _ in range(CC_MAX_ITER):
        nbr = (edges.join(labels, edges.v == labels.node)
                    .select(F.col("u").alias("node"), "lbl",
                            F.lit(False).alias("is_old")))
        new = checkpoint(
            labels.select("node", "lbl", F.lit(True).alias("is_old"))
                  .union(nbr)
                  .groupBy("node")
                  .agg(F.min("lbl").alias("lbl"),
                       F.min(F.when(F.col("is_old"), F.col("lbl")))
                        .alias("old_lbl")))
        changed = (new.where(F.col("lbl") != F.col("old_lbl"))
                      .limit(1).count())
        labels = new.select("node", "lbl")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge "
            f"within {CC_MAX_ITER} rounds (graph diameter exceeds the "
            f"bound); raise CC_MAX_ITER or switch to star-contraction")
    return labels.select(F.col("node").alias(id_out),
                         F.col("lbl").alias("cluster_id"))


STAR_MAX_ROUNDS = 25  # star contraction halves components per round


def connected_components_star(pairs: DataFrame, src: str = "doc_a",
                              dst: str = "doc_b",
                              id_out: str = "doc_id") -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    the O(log n)-round alternative to `connected_components` for
    graphs with LONG CHAINS, where min-label propagation needs
    O(diameter) rounds and raises past `CC_MAX_ITER`. Same contract:
    (id_out, cluster_id = component min) for every node appearing in
    a pair.

    Per round, two relational steps over the edge list:
      * large-star — every node's LARGER neighbours re-attach to the
        minimum of its neighbourhood (min(Γ(u) ∪ {u}));
      * small-star — edges directed large→small; every node's smaller
        neighbours (and itself) attach to their minimum.
    Each is a groupBy-min + self-join — the same shuffle budget as one
    propagation round — but component heights halve geometrically, so
    a 10^6-long chain converges in ~20 rounds instead of 10^6.
    Convergence = edge set reaches a fixpoint (checked exactly with
    two anti joins — a checksum could false-stop); the fixpoint is a
    star forest rooted at each component's min.

    Kept alongside `connected_components` (the default: dup graphs
    from LSH banding are near-cliques where 2-4 label rounds beat
    2-per-round star shuffles); the catalog grades BOTH against the
    same recursive-CTE oracle."""
    e = (pairs.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
              .where(F.col("u") != F.col("v"))
              .distinct()
              .transform(checkpoint))
    nodes = (e.select(F.col("u").alias("node"))
              .union(e.select(F.col("v").alias("node"))).distinct()
              .transform(checkpoint))

    # iteration rounds exchange tiny frames; AQE's runtime
    # coalesce already shrinks those exchanges (measured: no
    # wall-clock delta vs a shuffle.partitions clamp), so no
    # session-global conf mutation — a concurrent query on
    # the shared session must never plan under a clamped
    # width.
    cur = e
    converged = False
    for _ in range(STAR_MAX_ROUNDS):
        # ---- large star: sym neighbours; larger ones → min
        sym = (cur.select("u", "v")
                  .union(cur.select(F.col("v").alias("u"),
                                    F.col("u").alias("v"))))
        mins = (sym.groupBy("u")
                   .agg(F.min("v").alias("mn"))
                   .select("u", F.least("u", F.col("mn")).alias("m")))
        ls = (sym.join(mins, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
        # ---- small star: direct large→small, attach to min
        d = ls.select(F.greatest("u", "v").alias("a"),
                      F.least("u", "v").alias("b"))
        mins2 = d.groupBy("a").agg(F.min("b").alias("m"))
        joined = d.join(mins2, "a")
        ss = (joined.select(F.col("b").alias("u"),
                            F.col("m").alias("v"))
                    .union(joined.select(F.col("a").alias("u"),
                                         F.col("m").alias("v")))
                    .where(F.col("u") != F.col("v"))
                    .distinct()
                    .transform(checkpoint))
        # exact fixpoint check: set equality via two anti joins
        if (ss.join(cur, ["u", "v"], "left_anti").limit(1).count() == 0
                and cur.join(ss, ["u", "v"], "left_anti")
                       .limit(1).count() == 0):
            cur = ss
            converged = True
            break
        cur = ss
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no fixpoint within "
            f"{STAR_MAX_ROUNDS} rounds (components halve per round — "
            f"this bounds graphs up to ~2^{STAR_MAX_ROUNDS} nodes)")
    # fixpoint is a star forest: non-roots point at their component
    # min; roots (and mid-contraction isolated nodes) label themselves
    mapping = cur.groupBy("u").agg(F.min("v").alias("lbl"))
    return (nodes.join(mapping, nodes.node == mapping.u, "left")
                 .select(F.col("node").alias(id_out),
                         F.coalesce("lbl", "node").alias("cluster_id")))


def keep_canonical(df: DataFrame, clusters: DataFrame) -> DataFrame:
    """Materialize the deduped corpus: keep every document that is
    either outside the pair graph (singleton) or the canonical
    (minimum-id) member of its duplicate cluster. This is the step a
    training-data pipeline actually ships — pairs → clusters →
    one-survivor-per-cluster.

    Scale notes: `clusters` is LSH-pruned (pair-graph nodes only), so
    it broadcasts into the full corpus scan — one broadcast left join
    + filter, no shuffle of the 100 TB side."""
    c = clusters.select(F.col("doc_id").alias("_cc_id"),
                        F.col("cluster_id").alias("_cc_lbl"))
    return (df.join(F.broadcast(c), df["doc_id"] == c._cc_id, "left")
              .where(F.col("_cc_lbl").isNull()
                     | (F.col("_cc_lbl") == df["doc_id"]))
              .drop("_cc_id", "_cc_lbl"))


def decontaminate(df: DataFrame) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its word n-gram shingles also appear in the held-out benchmark
    set. Docs whose n-grams overlap an eval benchmark leak test data
    into training — the standard mitigation is n-gram-overlap removal.
    The "benchmark" here is the deterministic slice id % BENCH_MOD == 0
    (stands in for a real eval-suite table: swap the predicate for a
    join against it).

    Output per training doc: n_shingles, n_hits (shingles present in
    the benchmark), contaminated (0/1), hit_rate (single double
    division over exact BIGINTs).

    Scale notes: the benchmark shingle set is eval-suite-sized (tiny
    vs the corpus) → broadcast LEFT join marks each corpus shingle
    with a hit flag in-scan, so the 100 TB side is scanned ONCE and
    shuffles exactly once — a single map-side-combining aggregate on
    the doc key computes totals and hits together (a semi-join +
    separate aggregates would scan and shuffle the corpus twice)."""
    sh = shingles(spread(df.select("doc_id", "text")))
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    bench_sh = (sh.where(is_bench).select("shingle").distinct()
                  .withColumn("_hit", F.lit(1)))
    return (
        sh.where(~is_bench)
          .join(F.broadcast(bench_sh), "shingle", "left")
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("n_shingles"),
               F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
          .select(F.col("doc_id"),
                  F.col("n_shingles"),
                  F.col("n_hits"),
                  (F.col("n_hits") > 0).cast("long").alias("contaminated"),
                  (F.col("n_hits").cast("double")
                   / F.col("n_shingles")).alias("hit_rate"))
    )


# ----------------------------------------------- exact substring spans

SUBSTR_GRAM_LEN = 20  # chars per gram (the "min duplicated length")


def substring_dup_spans(df: DataFrame) -> DataFrame:
    """EXACT duplicated-substring census — per document, the merged
    character spans covered by any length-`SUBSTR_GRAM_LEN` (L)
    substring that
    occurs at least twice anywhere in the corpus (including twice in
    the same document: self-repetition is duplication too).

    This is the "exact substring deduplication" signal of Lee et al.
    2022 (Deduplicating Training Data Makes Language Models Better),
    re-expressed for a shared-nothing engine: where the paper builds
    a single-machine suffix array, here every overlapping character
    gram becomes an inverted-index posting — the standard MapReduce
    equivalent. A span duplicated for >= L chars necessarily
    contains a duplicated gram, so merged gram hits recover the
    duplicated regions (granularity: span boundaries are gram-aligned,
    the standard over-approximation by < L chars per edge).

    Pipeline (exact integer arithmetic; the OUTPUT spans are
    oracle-twinned — the posting key is engine-internal, so it uses
    the fastest JVM hash rather than a cross-engine md5):
      1. positions: explode 1..len-L+1, key = TWO independent
         xxhash64 values of the gram (128 bits total: a 32-char md5
         hex STRING key measured 11.4 GB shuffle at the ×100 smoke
         and md5+conv dominated CPU; xxhash64 is codegen-native and
         the limb pair ~2.5× smaller on the wire; 128 bits keeps the
         corpus-wide collision expectation ≪ 1 even at 10^14 grams —
         a collision would only ever ADD a false dup span, the same
         direction as the gram-alignment over-approximation).
         Only the limbs + (doc_id, pos) ever shuffle — the text stays
         in the scan.
      2. duplicated keys: hash-agg on key HAVING count >= 2.
      3. hit positions: semi join positions x duplicated keys.
      4. span merge per doc: ascending positions, new-island flag when
         the gap >= L (equal-length spans: the running island
         end is lag(pos)+L-1), island id = running sum, then
         min/max per island.
    Returns one row per doc: (doc_id, n_chars, n_dup_spans, dup_chars,
    dup_frac_ppm) — truncating-division ppm, exact BIGINTs throughout.

    Scale shape: the honest cost of exactness is an exchange of ONE
    POSTING PER CORPUS CHARACTER (~24 B each), i.e. O(corpus bytes)
    shuffle — same asymptotics as the paper's suffix-array build, but
    embarrassingly parallel. Map-side combine collapses within-
    partition repeats of hot grams; the semi join shuffles the same
    posting table again on the same key, so AQE plans it as one
    exchange reuse. The span merge partitions by doc — bounded by the
    longest document, not the corpus.
    """
    from pyspark.sql import Window
    L = SUBSTR_GRAM_LEN
    # the posting explosion (one row per corpus char) happens in the
    # scan stage — a one-file fixture would serialize it on one task
    df = spread(df)
    base = df.where(F.col("text").isNotNull()
                    & (F.length("text") >= L))
    pos = base.select(
        F.col("doc_id"), F.col("text"),
        F.explode(F.sequence(
            F.lit(1), F.length("text") - L + 1)).alias("pos"))
    gram = F.expr(f"substr(text, pos, {L})")
    keyed = pos.select(
        F.col("doc_id"), F.col("pos"),
        F.xxhash64(gram).alias("g1"),
        F.xxhash64(F.lit(1), gram).alias("g2"))
    dup_keys = (keyed.groupBy("g1", "g2")
                     .agg(F.count(F.lit(1)).alias("c"))
                     .where(F.col("c") >= 2)
                     .select("g1", "g2"))
    hits = keyed.join(dup_keys, ["g1", "g2"], "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (hits.withColumn(
               "_nf", F.when(F.lag("pos").over(w).isNull()
                             | (F.col("pos") - F.lag("pos").over(w) >= L),
                             1).otherwise(0))
               .withColumn("_iid", F.sum("_nf").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (isl.groupBy("doc_id", "_iid")
                .agg(F.min("pos").alias("s"),
                     (F.max("pos") + L - 1).alias("e")))
    per_doc = (spans.groupBy("doc_id")
                    .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
                         F.expr("CAST(sum(e - s + 1) AS BIGINT)")
                          .alias("dup_chars")))
    all_docs = df.where(F.col("text").isNotNull()).select(
        F.col("doc_id"), F.length("text").cast("long").alias("n_chars"))
    return (all_docs.join(per_doc, "doc_id", "left")
            .select("doc_id", "n_chars",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                     .alias("n_dup_spans"),
                    F.coalesce("dup_chars", F.lit(0)).cast("long")
                     .alias("dup_chars"),
                    F.expr("coalesce(dup_chars, 0) * 1000000 div n_chars")
                     .alias("dup_frac_ppm")))


WINNOW_K = 8    # char-gram length
WINNOW_W = 16   # window (in grams): guaranteed detection ≥ w + k - 1
KR_BASE = 131           # Karp-Rabin polynomial base (> max char code
                        # of interest; any base works, 131 is classic)
KR_MOD = 1_000_000_007  # 31-bit prime modulus: keeps every Horner
                        # step < 1.4e11 (no int64 overflow even for
                        # astral-plane codepoints), same collision
                        # regime as MERSENNE31-reduced h32


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every overlapping k-char
    gram (k = `WINNOW_K`), slide a window of w = `WINNOW_W` hashes,
    select each window's MINIMUM (rightmost on ties, the paper's
    rule); the selected (pos, hash) set is the fingerprint.
    Guarantees: any exact substring match of length ≥ w + k − 1
    shares a fingerprint (local window minima agree), and expected
    density is 2/(w+1) — the SAMPLED exact-match
    detector between the two extremes already in the engine: hashing
    EVERY gram (`substring_dup_spans` — exact spans, one posting per
    corpus char) and one hash per doc (`dedup_exact`).

    Scale shape: this is the op's reason to exist at 100 TB — the
    gram hashing and window minima all happen INSIDE the scan
    (nested higher-order transforms, whole-stage codegen, no explode
    of the gram stream); only the ~2n/(w+1) selected fingerprints
    leave as rows. vs substring_dup_spans' O(corpus chars) exchange
    that's a ~(w+1)/2 ≈ 8× smaller shuffle, traded for gram-exact →
    (w+k−1)-guaranteed granularity. The gram hash is a Karp-Rabin
    polynomial over the char codes, Horner form (…(c₁·B+c₂)·B+…) mod
    M with B=131, M=10⁹+7 — pure codegen'd integer arithmetic both
    engines compute bit-identically (the round-5 md5+conv version
    spent most of the query's CPU inside md5, one digest per corpus
    char; this is the substring-spans xxhash64 lesson, kept
    oracle-recomputable). Same 31-bit collision regime as the
    md5-derived h32 it replaces — a collision only ever merges a
    window minimum, never breaks the ≥(w+k−1) shared-match
    guarantee.

    Returns one row per selected fingerprint: (id, pos, fp) — pos is
    the 1-based gram position, fp the gram hash. Docs shorter than
    `k` chars yield no rows; docs with fewer than `w` grams winnow a
    single window over all their grams."""
    hexpr = (f"aggregate(slice(cs, CAST(p AS INT), {WINNOW_K}), "
             f"CAST(0 AS BIGINT), "
             f"(a, c) -> (a * {KR_BASE} + c) % {KR_MOD})")
    # the whole op is compute-bound INSIDE the scan — a one-file
    # fixture would pin it to a single task (same knob as ivf_topk)
    df = spread(df)
    base = (df.where(F.col("text").isNotNull()
                     & (F.length("text") >= WINNOW_K))
              .select(F.col("doc_id"),
                      F.expr("transform(split(text, ''), "
                             f"c -> CAST(ascii(c) AS BIGINT))")
                       .alias("cs"))
              .select(F.col("doc_id"),
                      F.expr(f"transform(sequence(1, size(cs) "
                             f"- {WINNOW_K} + 1), p -> {hexpr})")
                       .alias("hs")))
    # slice + array_min per window: measured FASTER than the
    # "allocation-free" struct-accumulator aggregate (whose per-step
    # named_struct allocation cost 8× the slice form at ×10) —
    # array_min/slice are specialized codegen, interpreted lambdas
    # are not. Rightmost tie via reverse+array_position (paper rule).
    wins = (f"transform(sequence(1, greatest(size(hs) - {WINNOW_W} + 1, 1)), "
            f"i -> named_struct('i', i, 's', slice(hs, CAST(i AS INT), "
            f"CAST(least({WINNOW_W}, size(hs) - i + 1) AS INT))))")
    fps = (f"array_distinct(transform({wins}, x -> named_struct("
           f"'pos', CAST(x.i + size(x.s) "
           f"- array_position(reverse(x.s), array_min(x.s)) AS BIGINT), "
           f"'fp', array_min(x.s))))")
    return (base.select("doc_id", F.explode(F.expr(fps)).alias("f"))
                .select("doc_id",
                        F.col("f.pos").cast("long").alias("pos"),
                        F.col("f.fp").cast("long").alias("fp")))


def winnow_shared_census(df: DataFrame) -> DataFrame:
    """Per-doc cross-document fingerprint-sharing census over the
    winnowed fingerprints: n_fp distinct fingerprint hashes per doc,
    n_shared of them appearing in ≥ 2 DISTINCT docs (cross-doc reuse
    — the plagiarism/boilerplate signal; self-repetition is
    substring_dup_spans' axis), shared_ppm in truncating fixed point.
    One (fp → distinct-doc) window over the fingerprint rows — the
    same first_seen shape as shingle_novelty, on an 8×-sampled
    stream."""
    from pyspark.sql import Window
    fp = winnow_fingerprints(df).select("doc_id", "fp").distinct()
    w_fp = Window.partitionBy("fp")
    flagged = fp.withColumn(
        "shared", (F.count(F.lit(1)).over(w_fp) >= 2).cast("long"))
    per_doc = (flagged.groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_fp"),
                    F.expr("CAST(sum(shared) AS BIGINT)")
                     .alias("n_shared")))
    all_docs = (df.where(F.col("text").isNotNull())
                  .select(F.col("doc_id")))
    return (all_docs.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_fp", F.lit(0)).cast("long")
                     .alias("n_fp"),
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                     .alias("n_shared"),
                    F.expr("CASE WHEN coalesce(n_fp, 0) = 0 THEN 0 "
                           "ELSE coalesce(n_shared, 0) * 1000000 "
                           "div n_fp END").alias("shared_ppm")))


CONTAINMENT_PPM = 800_000  # flag pairs where ≥80% of one side is shared


def containment_pairs(df: DataFrame) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |S_A ∩ S_B| / |S_A| — the excerpt/superset signal Jaccard
    structurally misses (a 100-shingle quote inside a 10,000-shingle
    page has Jaccard ~0.01 but containment 1.0; in a training corpus
    that's a benchmark excerpt, a syndicated article inside a
    scraper page, a quoted document). Broder's containment sketch
    semantics, computed exactly on the inverted index.

    Same candidate machinery as `ngram_jaccard_pairs` (one sized-
    shingle lineage, df-cut, equi-join — ReusedExchange pinned by the
    jaccard twin's plan test), but thresholded on the MAX directional
    containment, in exact ppm fixed point (≥ `CONTAINMENT_PPM`).
    Output per (a<b) pair:
    (doc_a, doc_b, n_common, sz_a, sz_b, cont_a_ppm, cont_b_ppm)
    where cont_a_ppm = 1e6·n_common div sz_a (share of A inside B).

    Scale shape: identical to the jaccard pair generator — candidate
    pairs only materialize for docs sharing a shingle, hot shingles
    bounded by the df-cut; the directional division adds two codegen
    expressions to the same aggregate."""
    sh = _sized_shingles(spread(df.select("doc_id", "text")), DEFAULT_MAX_DF)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("sz").alias("sz_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle",
                  F.col("sz").alias("sz_b"))
    inter = (a.join(b, "shingle")
              .where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    return (inter
            .withColumn("cont_a_ppm",
                        F.expr("n_common * 1000000 div sz_a"))
            .withColumn("cont_b_ppm",
                        F.expr("n_common * 1000000 div sz_b"))
            .where(F.greatest("cont_a_ppm", "cont_b_ppm")
                   >= CONTAINMENT_PPM)
            .select("doc_a", "doc_b",
                    F.col("n_common").cast("long").alias("n_common"),
                    F.col("sz_a").cast("long").alias("sz_a"),
                    F.col("sz_b").cast("long").alias("sz_b"),
                    "cont_a_ppm", "cont_b_ppm"))


def minhash_estimator_quality(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """MinHash estimator-quality report — `emb_ann_recall`'s text-side
    twin: for every verified near-dup pair, the Jaccard ESTIMATE the
    signatures imply (matching components / K — the statistic whose
    expectation IS the Jaccard, the reason MinHash works) next to the
    exact value, plus the signed error in ppm fixed point. This is
    the K-tuning metric: widen K until |err| is acceptable, and the
    report proves what the current K=16 buys.

    Output per pair: (doc_a, doc_b, sig_matches, est_jaccard_ppm,
    exact_jaccard_ppm, err_ppm) — all exact BIGINTs (the exact ppm is
    1e6·n_common div (union), truncating).

    Scale shape: rides `minhash_lsh_pairs`' machinery (signature agg,
    banded candidates, semi-join-restricted exact verify) and adds
    two broadcast-ish joins of the K-column signature frame onto the
    (small) verified pair list — the pair list never re-scans the
    corpus. `pairs` is the `minhash_lsh_pairs(df)` frame (the
    catalog's memoized pair graph), so the candidate list is not
    rebuilt here."""
    df = spread(df.select("doc_id", "text"))
    # ONE tokenize+shingle pass (optimization r12, guide §2.4): the
    # materialized index feeds the two sz join sides AND the signature
    # aggregate (was 3 full text passes — sz consumed twice, sig once)
    sh = checkpoint(_sized_shingles(df, max_shingle_df=None))
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (pairs
             .join(sz.select(F.col("doc_id").alias("doc_a"),
                             F.col("sz").alias("sz_a")), "doc_a")
             .join(sz.select(F.col("doc_id").alias("doc_b"),
                             F.col("sz").alias("sz_b")), "doc_b"))
    sig = _signatures_from_shingles(sh)
    k = MINHASH_K
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
                 .withColumn("sig_matches", matches.cast("long"))
                 .withColumn("est_jaccard_ppm",
                             F.expr(f"sig_matches * 1000000 div {k}"))
                 .withColumn("exact_jaccard_ppm",
                             F.expr("n_common * 1000000 div "
                                    "(sz_a + sz_b - n_common)"))
                 .select("doc_a", "doc_b", "sig_matches",
                         "est_jaccard_ppm", "exact_jaccard_ppm",
                         F.expr("est_jaccard_ppm - exact_jaccard_ppm")
                          .alias("err_ppm")))
