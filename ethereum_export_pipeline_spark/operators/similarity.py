"""Similarity search over an embedding column (array<float>).

Three paths, as a training-data pipeline needs them:
  * brute-force cosine top-k — the exactness baseline; O(Q·N) dot
    products as a broadcast nested-loop join, guarded by `max_queries`.
  * random-hyperplane LSH — the hash scale path: n_planes signed
    projections → bucket per band; `n_bands` OR-amplifies recall.
    At 100 TB the bucket join is an equi-shuffle on a small key
    (salt-able), never O(N²).
  * IVF — the data-adaptive scale path: plan-time k-means on a sample,
    candidates share the query's nearest-centroid cell.

Cross-engine determinism: embeddings are float32; float sums are
order-sensitive, so engines could disagree in the last bits and flip
top-k ranks. We therefore QUANTIZE to integers (round(x·10⁴)) and
compute dot/norm as exact int64 arithmetic; the final cosine is then
a pure function of exact integers — bit-identical on Spark and DuckDB.
The hyperplanes are ±1 vectors derived from md5 (functions.h32
semantics) computed AT PLAN-BUILD TIME in Python and inlined as
literals, so both engines see the same planes.

No UDFs: dot products are `aggregate(zip_with(...))` — Catalyst
higher-order functions, fully codegen'd.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, functions as F

from ..execution import spread


def _freeze(x):
    return tuple(_freeze(v) for v in x) if isinstance(x, (list, tuple)) else x


def _thaw(x):
    return [_thaw(v) for v in x] if isinstance(x, tuple) else x


@lru_cache(maxsize=64)
def _matrix_lit_cached(frozen) -> Column:
    return F.lit(_thaw(frozen))


def matrix_lit(m) -> Column:
    """One nested-array Literal Column for a constant matrix, memoized:
    `F.lit` recursively py4j-round-trips per element (a 16×64 matrix
    costs ~1s of plan-build PER QUERY BUILD), while the cached Column
    is free on re-use and stays valid for the JVM's lifetime."""
    return _matrix_lit_cached(_freeze(m))

QUANT_SCALE = 10_000
N_PLANES = 16
EMB_DIM = 64


def py_h32(s: str) -> int:
    """Python twin of functions.h32 (same md5-prefix definition)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647


def plane_signs(n_planes: int = N_PLANES, dim: int = EMB_DIM,
                offset: int = 0) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign(p,d) from md5('plane:p:d').
    `offset` shifts the plane indices — band b of a multi-band scheme
    uses planes [b·n, (b+1)·n), so bands are independent projections."""
    return [[1 if py_h32(f"plane:{p + offset}:{d}") % 2 == 0 else -1
             for d in range(dim)]
            for p in range(n_planes)]


def quantize_expr(col: str) -> str:
    """array<float> → array<bigint> of round(x·10⁴)."""
    return (f"transform({col}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {QUANT_SCALE}.0) AS BIGINT))")


def dot_expr(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, "
            f"(acc, v) -> acc + v)")


def with_quantized(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Adds qvec (quantized ints) and n2 (exact squared norm)."""
    return (
        df.withColumn("qvec", F.expr(quantize_expr(emb_col)))
          .withColumn("n2", F.expr(dot_expr("qvec", "qvec")))
    )


def _cosine(dot: Column, n2a: Column, n2b: Column) -> Column:
    # n2a*n2b can exceed int64 → multiply as doubles (identical IEEE on
    # both engines since the inputs are exact integers).
    return dot.cast("double") / F.sqrt(n2a.cast("double") * n2b.cast("double"))


def brute_force_topk(df: DataFrame, id_col: str = "vec_id",
                     emb_col: str = "embedding", k: int = 5,
                     query_pred: str | None = None,
                     max_queries: int = 10_000) -> DataFrame:
    """Exact cosine top-k for the rows matching `query_pred` (default:
    ``{id_col} < 10``) against the whole table. Output: (query_id,
    neighbor_id, cosine, rank).

    This is the O(Q·N) exactness BASELINE — the broadcast side is the
    query set, which MUST stay small. `max_queries` enforces that with
    a cheap bounded count before the broadcast cross join is built
    (a predicate that accidentally selects a million rows would
    otherwise OOM the driver); use `lsh_topk` as the scale path.

    The candidate side's Q·dim multiply-adds per row evaluate in the
    scan stage — same scan-width spread as `lsh_topk` (no-op on
    well-split input)."""
    query_pred = query_pred or f"{id_col} < 10"
    base = with_quantized(
        spread(df.select(id_col, emb_col)),
        emb_col).select(id_col, "qvec", "n2")
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"), F.col("n2").alias("qn2")))
    if max_queries is not None:
        n_q = q.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"brute_force_topk: query_pred selects > {max_queries} rows; "
                f"this path broadcasts the query set — use lsh_topk instead "
                f"or raise max_queries explicitly")
    c = (base.select(F.col(id_col).alias("neighbor_id"),
                     F.col("qvec").alias("cv"), F.col("n2").alias("cn2")))
    scored = (
        F.broadcast(q).crossJoin(c)
         .where(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("dot", F.expr(dot_expr("qv", "cv")))
         .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))
    )


def lsh_bucket_expr(qvec_col: str = "qvec",
                    planes: list[list[int]] | None = None) -> str:
    """bucket = Σ_p [proj_p ≥ 0]·2^p with proj_p = Σ_d sign(p,d)·qvec[d]."""
    planes = planes or plane_signs()
    terms = []
    for p, signs in enumerate(planes):
        lit = "array(" + ", ".join(f"{s}L" for s in signs) + ")"
        proj = (f"aggregate(zip_with({qvec_col}, {lit}, (x, s) -> x * s), 0L, "
                f"(acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << p}L ELSE 0L END)")
    return " + ".join(terms)


def banded_buckets(base: DataFrame, dim: int, n_planes: int,
                   n_bands: int) -> DataFrame:
    """Melt a quantized frame into one row per band with a string
    bucket 'band:value' — OR-amplified LSH (candidates share ANY
    band's bucket). `n_bands` is the recall knob (independent
    projections), `n_planes` the per-band selectivity knob."""
    buckets = [
        F.concat_ws(":", F.lit(str(b)),
                    F.expr(lsh_bucket_expr(
                        planes=plane_signs(n_planes, dim, offset=b * n_planes)))
                     .cast("string"))
        for b in range(n_bands)
    ]
    return base.withColumn("bucket", F.explode(F.array(*buckets)))


def lsh_topk(df: DataFrame, id_col: str = "vec_id",
             emb_col: str = "embedding", k: int = 5,
             query_pred: str | None = None, dim: int = EMB_DIM,
             n_planes: int = N_PLANES, n_bands: int = 1) -> DataFrame:
    """Approximate top-k: exact cosine, but only among candidates that
    share an LSH bucket in ≥1 band. Output: (query_id, neighbor_id,
    cosine, rank).

    `dim` must match the embedding width: rows of any other size are
    filtered out up front (zip_with against the plane literals would
    NULL-pad and silently send every row to bucket 0 — a degenerate
    cross join — instead of erroring).

    `n_planes` trades recall for bucket size per band: 2^n_planes
    buckets (default 16 suits 10^7+ rows); `n_bands` multiplies recall
    (and candidate count) by OR-ing independent projections.

    Scan width (optimization r11, guide §2.5): the quantize + plane
    projections (n_bands·n_planes·dim multiply-adds per row) evaluate
    in the SCAN stage, so a narrow input (one small file = one task)
    runs them on one core; `execution.spread` spreads the (id, emb)
    projection first — a no-op when file splits already provide the
    parallelism (the 100 TB case)."""
    query_pred = query_pred or f"{id_col} < 10"
    narrowed = spread(
        df.where(F.size(F.col(emb_col)) == dim).select(id_col, emb_col))
    base = banded_buckets(
        with_quantized(narrowed, emb_col)
        .select(id_col, "qvec", "n2"), dim, n_planes, n_bands)
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"), F.col("qvec").alias("qv"),
                     F.col("n2").alias("qn2"), "bucket"))
    c = (base.select(F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cv"),
                     F.col("n2").alias("cn2"), "bucket"))
    scored = q.join(c, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
    if n_bands > 1:
        # a pair colliding in several bands must score once, not occupy
        # several ranks (all duplicate rows are value-identical)
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    scored = (
        scored.withColumn("dot", F.expr(dot_expr("qv", "cv")))
              .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))
    )


def range_search(df: DataFrame, id_col: str = "vec_id",
                 emb_col: str = "embedding", radius: float = 0.8,
                 query_pred: str | None = None, dim: int = EMB_DIM,
                 n_planes: int = N_PLANES, n_bands: int = 2) -> DataFrame:
    """RADIUS similarity search — the ANN surface's other half: all
    neighbors with cosine ≥ `radius` for each query row, not a fixed
    top-k. Candidates come from the same OR-amplified LSH banding as
    `lsh_topk`; exact cosine verifies each candidate against the
    radius. Output: (query_id, neighbor_id, cosine).

    Scale shape: identical to `lsh_topk` minus the per-query window —
    no rank means no partitionBy-query sort at all, just the bucket
    join + a filter, so the radius path is strictly cheaper than
    top-k at the same banding and never materializes more than the
    bucket-join candidates. Recall follows the banding knobs; a
    production radius query tightens/widens `n_bands`, never falls
    back to all-pairs."""
    query_pred = query_pred or f"{id_col} < 10"
    narrowed = spread(
        df.where(F.size(F.col(emb_col)) == dim).select(id_col, emb_col))
    base = banded_buckets(
        with_quantized(narrowed, emb_col)
        .select(id_col, "qvec", "n2"), dim, n_planes, n_bands)
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"),
                     F.col("n2").alias("qn2"), "bucket"))
    c = (base.select(F.col(id_col).alias("neighbor_id"),
                     F.col("qvec").alias("cv"),
                     F.col("n2").alias("cn2"), "bucket"))
    cand = q.join(c, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
    if n_bands > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return (
        cand.withColumn("dot", F.expr(dot_expr("qv", "cv")))
            .withColumn("cosine",
                        _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
            .where(F.col("cosine") >= radius)
            .select("query_id", "neighbor_id", "cosine")
    )


def knn_graph(df: DataFrame, id_col: str = "vec_id",
              emb_col: str = "embedding", k: int = 5,
              dim: int = EMB_DIM, n_planes: int = N_PLANES,
              n_bands: int = 3) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: `lsh_topk` with EVERY
    vector as a query — the corpus-wide neighbor structure that
    graph-based semantic dedup, diversity-aware sampling, and
    label-propagation-over-embeddings consume (each of those starts
    from "who are my k closest points", not from a handful of query
    rows). Output: (vec_id, neighbor_id, cosine, rank), k rows per
    vector that shares ≥1 band bucket with anything.

    Scale shape: identical to `lsh_topk` — candidates exist only
    within band buckets (2^n_planes buckets per band bounds bucket
    population; n_bands OR-amplifies recall), so the pair space is
    Σ_buckets |b|², never N². The rerank is exact integer dot
    products; the per-node top-k window partitions on the SAME key
    the candidate join emits. An all-queries graph at 100 TB is the
    one case where bucket skew matters most — `n_planes` is the knob
    that keeps the hottest bucket sub-quadratic."""
    out = lsh_topk(df, id_col, emb_col, k=k, query_pred="true",
                   dim=dim, n_planes=n_planes, n_bands=n_bands)
    return out.withColumnRenamed("query_id", id_col)


def hard_negatives(df: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding", label_col: str = "label",
                   k: int = 5, dim: int = EMB_DIM,
                   n_planes: int = N_PLANES,
                   n_bands: int = 3,
                   graph: DataFrame | None = None) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    every labeled vector, the single most-similar neighbor carrying a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; the hard ones sit
    just across the decision boundary). Output: (vec_id, label,
    neg_id, neg_label, cosine), one row per anchor whose kNN list
    contains at least one cross-label neighbor.

    Scale shape: rides `knn_graph` (banded LSH candidates, exact
    integer rerank), so the pair space is Σ_buckets |b|², never N².
    On top of the N·k-row graph: two id-equi shuffle joins to attach
    both endpoints' labels (label table = the corpus, NOT broadcast)
    and one per-anchor top-1 window partitioned on the same anchor
    key the graph already carries. Widening `k` is the recall knob —
    an anchor whose entire k-list shares its label yields no row.

    `graph` (optimization r11, guide §2.4 reuse): an already-computed
    `knn_graph(df, k=k, ...)` frame — callers holding the memoized
    catalog graph skip re-running the banded-candidate + rerank pass."""
    from pyspark.sql import Window
    g = graph if graph is not None else knn_graph(
        df, id_col, emb_col, k=k, dim=dim,
        n_planes=n_planes, n_bands=n_bands)
    lab = df.select(F.col(id_col), F.col(label_col).cast("long"))
    anchored = (
        g.join(lab.select(F.col(id_col),
                          F.col(label_col).alias("_lab_a")), id_col)
         .join(lab.select(F.col(id_col).alias("neighbor_id"),
                          F.col(label_col).alias("_lab_n")), "neighbor_id")
         .where(F.col("_lab_a") != F.col("_lab_n")))
    w = (Window.partitionBy(id_col)
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    return (anchored.withColumn("_rk", F.row_number().over(w))
                    .where(F.col("_rk") == 1)
                    .select(F.col(id_col),
                            F.col("_lab_a").alias(label_col),
                            F.col("neighbor_id").alias("neg_id"),
                            F.col("_lab_n").alias("neg_label"),
                            "cosine"))


def semantic_decontaminate(df: DataFrame, id_col: str = "vec_id",
                           emb_col: str = "embedding",
                           bench_mod: int = 97, threshold: float = 0.3,
                           dim: int = EMB_DIM, n_planes: int = N_PLANES,
                           n_bands: int = 3) -> DataFrame:
    """EMBEDDING-space train/eval decontamination — the leak the
    n-gram pass (`dedup.decontaminate`) cannot see: a paraphrased or
    re-worded benchmark item shares no 5-gram with its source but
    sits right next to it in embedding space. Rows with
    `{id_col} % bench_mod == 0` stand in for the eval suite (the
    `BENCH_MOD` convention of the n-gram twin); every OTHER vector is
    audited: contaminated iff some benchmark vector in a shared LSH
    band bucket has cosine ≥ threshold. Output: one row per corpus
    vector — (vec_id, contaminated 0/1, n_matches, top_bench_id,
    max_cosine); misses carry (0, 0, -1, 0.0).

    Scale shape: both sides melt through the SAME banded projection;
    candidates exist only on bucket collision (equi-shuffle on the
    band:bucket key), and the benchmark side is eval-suite-sized, so
    the join output is bounded by bench-bucket occupancy — never
    corpus × bench. The verdict re-attaches to the corpus with one
    left join on id."""
    from pyspark.sql import Window
    narrowed = spread(
        df.where(F.size(F.col(emb_col)) == dim).select(id_col, emb_col))
    base = banded_buckets(
        with_quantized(narrowed, emb_col)
        .select(id_col, "qvec", "n2"), dim, n_planes, n_bands)
    bench = base.where(F.col(id_col) % bench_mod == 0).select(
        F.col(id_col).alias("bench_id"), F.col("qvec").alias("cv"),
        F.col("n2").alias("cn2"), "bucket")
    corp = base.where(F.col(id_col) % bench_mod != 0).select(
        id_col, F.col("qvec").alias("qv"), F.col("n2").alias("qn2"),
        "bucket")
    cand = (corp.join(bench, "bucket")
                .dropDuplicates([id_col, "bench_id"]))
    hits = (cand.withColumn("dot", F.expr(dot_expr("qv", "cv")))
                .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"),
                                              F.col("cn2")))
                .where(F.col("cosine") >= threshold))
    w = (Window.partitionBy(id_col)
               .orderBy(F.col("cosine").desc(), F.col("bench_id").asc()))
    per = (hits.withColumn("_rk", F.row_number().over(w))
               .withColumn("n_matches",
                           F.count(F.lit(1)).over(Window.partitionBy(id_col))
                            .cast("long"))
               .where(F.col("_rk") == 1)
               .select(id_col, "n_matches",
                       F.col("bench_id").alias("top_bench_id"),
                       F.col("cosine").alias("max_cosine")))
    corpus_ids = (df.where(F.size(F.col(emb_col)) == dim)
                    .where(F.col(id_col) % bench_mod != 0)
                    .select(id_col))
    return (corpus_ids.join(per, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("n_matches").isNotNull(), F.lit(1))
                     .otherwise(F.lit(0)).cast("long").alias("contaminated"),
                    F.coalesce(F.col("n_matches"), F.lit(0)).cast("long")
                     .alias("n_matches"),
                    F.coalesce(F.col("top_bench_id"), F.lit(-1)).cast("long")
                     .alias("top_bench_id"),
                    F.coalesce(F.col("max_cosine"), F.lit(0.0).cast("double"))
                     .alias("max_cosine")))


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            emb_col: str = "embedding",
                            threshold: float = 0.9,
                            dim: int = EMB_DIM,
                            n_planes: int = N_PLANES,
                            n_bands: int = 1) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets: pairs
    sharing a bucket in ≥1 band with cosine ≥ threshold (the scale
    path — exact all-pairs would be O(N²)). Output: (id_a, id_b,
    cosine). Same `dim` guard and `n_planes`/`n_bands` trade-offs as
    `lsh_topk`, and the same scan-width spread before the quantize +
    plane projections."""
    narrowed = spread(
        df.where(F.size(F.col(emb_col)) == dim).select(id_col, emb_col))
    base = banded_buckets(
        with_quantized(narrowed, emb_col)
        .select(id_col, "qvec", "n2"), dim, n_planes, n_bands)
    a = base.select(F.col(id_col).alias("id_a"), F.col("qvec").alias("va"),
                    F.col("n2").alias("na"), "bucket")
    b = base.select(F.col(id_col).alias("id_b"), F.col("qvec").alias("vb"),
                    F.col("n2").alias("nb"), "bucket")
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    if n_bands > 1:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return (
        pairs.withColumn("dot", F.expr(dot_expr("va", "vb")))
             .withColumn("cosine", _cosine(F.col("dot"), F.col("na"), F.col("nb")))
             .where(F.col("cosine") >= threshold)
             .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------------------ IVF

IVF_CELLS = 16
IVF_KMEANS_ITERS = 8


# ------------------------------------------------------------------- PQ

PQ_SUBSPACES = 8     # M: 64-dim vector → 8 subvectors of 8 dims
PQ_CODEBOOK = 16     # K: centroids per subspace (4-bit codes)


def train_ivf_centroids(vectors: "list[list[float]]",
                        n_cells: int = IVF_CELLS,
                        iters: int = IVF_KMEANS_ITERS) -> list[list[int]]:
    """Plan-time k-means coarse quantizer (numpy, deterministic:
    fixed seed-free init = first-k distinct points, fixed iteration
    count). Returns QUANTIZED int centroids so cell assignment is
    exact integer arithmetic on both engines.

    At 100 TB this runs on a driver-side sample (IVF training is
    always a sample); the centroids are inlined as plan literals
    exactly like the LSH planes."""
    import numpy as np
    x = np.asarray(vectors, dtype=np.float64)
    c = x[:n_cells].copy()                      # deterministic init
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(n_cells):
            m = assign == j
            if m.any():
                c[j] = x[m].mean(axis=0)
    q = np.rint(c * QUANT_SCALE).astype(np.int64)
    return [[int(v) for v in row] for row in q]


def ivf_cell_col(centroids: list[list[int]],
                 qvec_col: str = "qvec") -> Column:
    """cell = 1-based argmin over centroids of exact int ||q - c||²
    (ties → first minimum, identical in both engines).

    The centroid matrix enters the plan as ONE nested-array Literal
    (not a tree of per-centroid CreateArray nodes): with 16×64 values
    the per-centroid-aggregate form costs ~1s of analysis/codegen per
    invocation and re-allocates the literal arrays per row, while a
    single Literal + `transform` is a constant."""
    C = matrix_lit(centroids)
    dists = F.transform(
        C, lambda c: F.aggregate(
            F.zip_with(F.col(qvec_col), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, v: acc + v))
    return F.array_position(dists, F.array_min(dists))


def ivf_topk(df: DataFrame, centroids: list[list[int]],
             id_col: str = "vec_id", emb_col: str = "embedding",
             k: int = 5, query_pred: str | None = None,
             dim: int = EMB_DIM) -> DataFrame:
    """IVF(nprobe=1) top-k: exact cosine among candidates in the
    query's coarse-quantizer cell. The data-adaptive sibling of
    `lsh_topk`: cells follow the density of the corpus instead of
    random hyperplanes, so candidate lists are balanced where the
    data is. The cell join is an equi-shuffle on a small int key.

    Cell assignment (n_cells × dim lambda evals per row; Catalyst
    higher-order functions run interpreted, not codegen'd) is the
    compute-bound step and happens BEFORE any shuffle, so it runs at
    the SCAN's parallelism: `execution.spread` widens a one-small-file
    scan and leaves an already-well-split input untouched — no
    shuffle at 100 TB."""
    query_pred = query_pred or f"{id_col} < 10"
    narrowed = spread(df.where(F.size(F.col(emb_col)) == dim))
    base = (with_quantized(narrowed, emb_col)
            .withColumn("cell", ivf_cell_col(centroids).cast("long"))
            .select(id_col, "qvec", "n2", "cell"))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"), F.col("qvec").alias("qv"),
                     F.col("n2").alias("qn2"), "cell"))
    c = (base.select(F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cv"),
                     F.col("n2").alias("cn2"), "cell"))
    scored = (
        q.join(c, "cell")
         .where(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("dot", F.expr(dot_expr("qv", "cv")))
         .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"), F.col("cn2")))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))
    )


def train_pq_codebooks(vectors: "list[list[float]]",
                       m: int = PQ_SUBSPACES,
                       k: int = PQ_CODEBOOK) -> list[list[list[int]]]:
    """Plan-time product-quantization codebooks: the vector is split
    into `m` subvectors and each subspace gets its own `k`-centroid
    k-means (deterministic, same regime as `train_ivf_centroids`).
    Returns QUANTIZED int centroids, shape m × k × (dim/m), inlined as
    one literal in both engines' plans."""
    dim = len(vectors[0])
    sub = dim // m
    return [
        train_ivf_centroids([v[s * sub:(s + 1) * sub] for v in vectors],
                            n_cells=k)
        for s in range(m)
    ]


def pq_codes_col(codebooks: list[list[list[int]]],
                 qvec_col: str = "qvec") -> Column:
    """array<int> of 1-based per-subspace code assignments: code_s =
    argmin_k ||subvec_s - codebook[s][k]||², exact int arithmetic with
    first-minimum ties — identical on both engines. One nested Literal
    + transforms, no per-centroid expression trees."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    CB = matrix_lit(codebooks)  # array<array<array<bigint>>>, one Literal
    s_idx = F.sequence(F.lit(1), F.lit(m))

    def code_for(s):  # s is a 1-based Column
        subv = F.slice(F.col(qvec_col), (s - 1) * sub + 1, sub)
        cb_s = F.element_at(CB, s)
        dists = F.transform(
            cb_s, lambda c: F.aggregate(
                F.zip_with(subv, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"), lambda a, v: a + v))
        return F.array_position(dists, F.array_min(dists))

    return F.transform(s_idx, code_for)


def pq_adc_col(codebooks: list[list[list[int]]],
               qvec_col: str = "qv", codes_col: str = "codes") -> Column:
    """Asymmetric distance: Σ_s ||query_subvec_s − codebook[s][code_s]||²
    — the query side stays exact, the candidate side is represented by
    its codes ONLY (the compression that lets 100 TB of vectors sit in
    memory as m bytes each)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    CB = matrix_lit(codebooks)
    s_idx = F.sequence(F.lit(1), F.lit(m))

    def dist_for(s):
        subv = F.slice(F.col(qvec_col), (s - 1) * sub + 1, sub)
        # array_position yields BIGINT; element_at wants an INT index
        cent = F.element_at(F.element_at(CB, s),
                            F.element_at(F.col(codes_col), s).cast("int"))
        return F.aggregate(
            F.zip_with(subv, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, v: a + v)

    return F.aggregate(F.transform(s_idx, dist_for),
                       F.lit(0).cast("long"), lambda a, v: a + v)


def pq_packed_col(codebooks: list[list[list[int]]],
                  qvec_col: str = "qvec") -> Column:
    """The m per-subspace codes packed into ONE BIGINT: Horner fold
    acc·16 + (code−1), so code_1 lands in the highest nibble. With
    m=8 / k=16 a candidate's entire PQ representation is 8 bytes on
    the wire and in state — the last factor of the PQ compression
    ladder (512 B raw vector → ~72 B serialized int array → 8 B
    packed). DuckDB twin: list_reduce seeds with the first element,
    which equals Spark's 0-seeded fold here (0·16 + c₁' = c₁')."""
    codes = pq_codes_col(codebooks, qvec_col)
    return F.aggregate(
        F.transform(codes, lambda c: c - 1),
        F.lit(0).cast("long"),
        lambda acc, c: acc * F.lit(16) + c).cast("long")


def pq_adc_packed_col(codebooks: list[list[list[int]]],
                      qvec_col: str = "qv",
                      packed_col: str = "packed") -> Column:
    """`pq_adc_col` over the PACKED code word: code_s is unpacked
    with a compile-time shift (nibble s of m sits at bit 4·(m−s)),
    so the per-subspace loop unrolls statically — no column-valued
    shift amounts, everything stays in codegen."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    CB = matrix_lit(codebooks)
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        subv = F.slice(F.col(qvec_col), (s - 1) * sub + 1, sub)
        code = (F.shiftright(F.col(packed_col), 4 * (m - s))
                 .bitwiseAND(F.lit(15)) + 1).cast("int")
        cent = F.element_at(F.element_at(CB, s), code)
        total = total + F.aggregate(
            F.zip_with(subv, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, v: a + v)
    return total


def ivfpq_packed_topk(df: DataFrame, centroids: list[list[int]],
                      codebooks: list[list[list[int]]],
                      id_col: str = "vec_id", emb_col: str = "embedding",
                      k: int = 5, query_pred: str | None = None,
                      dim: int = EMB_DIM) -> DataFrame:
    """`ivfpq_topk` with the candidate side compressed to ONE BIGINT
    per row: the cell join ships (neighbor_id, packed, cell) — 8 B of
    code payload instead of the m-int array (~72 B serialized) or the
    raw quantized vector (512 B). Ranks are IDENTICAL to ivfpq_topk
    (the ADC arithmetic is the same after unpacking); only the wire
    format changes, which is the whole point at 100 TB where exchange
    and state size — not CPU — bind. Output adds the neighbor's
    packed word so the oracle must reproduce the packing bit-for-bit:
    (query_id, neighbor_id, packed, adc_dist, rank)."""
    query_pred = query_pred or f"{id_col} < 10"
    narrowed = spread(df.where(F.size(F.col(emb_col)) == dim))
    base = (with_quantized(narrowed, emb_col)
            .withColumn("cell", ivf_cell_col(centroids).cast("long")))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"), "cell"))
    c = (base.withColumn("packed", pq_packed_col(codebooks))
             .select(F.col(id_col).alias("neighbor_id"), "packed", "cell"))
    scored = (
        q.join(c, "cell")
         .where(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("adc_dist",
                     pq_adc_packed_col(codebooks).cast("long"))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc()))
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "packed", "adc_dist",
                      F.col("rank").cast("long").alias("rank"))
    )


def ivfpq_topk(df: DataFrame, centroids: list[list[int]],
               codebooks: list[list[list[int]]],
               id_col: str = "vec_id", emb_col: str = "embedding",
               k: int = 5, query_pred: str | None = None,
               dim: int = EMB_DIM) -> DataFrame:
    """IVF-PQ top-k — the memory-compressed scale path: candidates are
    pruned to the query's IVF cell (equi-join on a small int key, as in
    `ivf_topk`) and then RANKED BY ADC distance computed from the
    candidates' PQ codes alone. The candidate side never ships its
    vectors past the code assignment: at 100 TB the shuffled payload is
    m small ints per row (~8 bytes at m=8/k=16) instead of dim floats
    (256 bytes) — a 30× shuffle/state compression, which is the entire
    point of PQ. Output: (query_id, neighbor_id, adc_dist, rank), rank
    by ADC ascending then neighbor id (exact ints, engine-identical).
    """
    query_pred = query_pred or f"{id_col} < 10"
    narrowed = spread(df.where(F.size(F.col(emb_col)) == dim))
    base = (with_quantized(narrowed, emb_col)
            .withColumn("cell", ivf_cell_col(centroids).cast("long")))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"), "cell"))
    c = (base.withColumn("codes", pq_codes_col(codebooks))
             .select(F.col(id_col).alias("neighbor_id"), "codes", "cell"))
    scored = (
        q.join(c, "cell")
         .where(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("adc_dist", pq_adc_col(codebooks).cast("long"))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc()))
    return (
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "adc_dist",
                      F.col("rank").cast("long").alias("rank"))
    )


def crossmodal_agreement(pairs: DataFrame, emb: DataFrame,
                         cos_threshold: float,
                         id_a: str = "doc_a", id_b: str = "doc_b",
                         emb_id: str = "vec_id") -> DataFrame:
    """Cross-modal dedup diagnostic: for every TEXT near-dup candidate
    pair, the EMBEDDING cosine of the same items and whether the two
    signals agree — the report a curation pipeline uses to calibrate
    thresholds before trusting one tier to prune for the other.

    Scale notes: the pair list is LSH-pruned (orders of magnitude
    smaller than the corpus), so it BROADCASTS into two hash joins
    against the embedding table keyed on id — the hint below PINS that
    plan (without it the planner may estimate the pair side large and
    shuffle the 100 TB embedding table on both sides). The embedding
    side never shuffles and is scanned once per side. Cosine is the
    exact-integer quantized form (`with_quantized`), bit-identical
    across engines."""
    pairs = F.broadcast(pairs)
    base = with_quantized(emb).select(F.col(emb_id).alias("_id"),
                                      "qvec", "n2")
    a = base.select(F.col("_id").alias("_ida"),
                    F.col("qvec").alias("qa"), F.col("n2").alias("n2a"))
    b = base.select(F.col("_id").alias("_idb"),
                    F.col("qvec").alias("qb"), F.col("n2").alias("n2b"))
    return (
        pairs.join(a, F.col(id_a) == F.col("_ida"))
             .join(b, F.col(id_b) == F.col("_idb"))
             .withColumn("dot", F.expr(dot_expr("qa", "qb")))
             .withColumn("cosine",
                         _cosine(F.col("dot"), F.col("n2a"), F.col("n2b")))
             .select(id_a, id_b, "jaccard", "cosine",
                     (F.col("cosine") >= cos_threshold).cast("long")
                     .alias("emb_agrees"))
    )


# --------------------------------------------- JL projection + rerank

JL_DIM = 32    # projected dimensions (64 → 32: 2× cheaper candidates;
               # ε ≈ √(ln n / 32) — the synthetic corpus's near-orthogonal
               # vectors are JL's worst case, so the fixture default favors
               # recall; clustered real embedding corpora tolerate 8-16)
JL_CAND = 80   # stage-1 candidates per query fed to the exact rerank


def jl_signs(out_dim: int = JL_DIM, dim: int = EMB_DIM) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix from
    md5('jl:j:d') — the sign-matrix (Achlioptas) JL variant: integer
    dot products, exact on both engines. Namespaced apart from
    `plane_signs` so LSH buckets and JL projections are independent."""
    return [[1 if py_h32(f"jl:{j}:{d}") % 2 == 0 else -1
             for d in range(dim)]
            for j in range(out_dim)]


def jl_rerank_topk(df: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding", k: int = 5,
                   n_cand: int = JL_CAND, query_pred: str | None = None,
                   out_dim: int = JL_DIM, dim: int = EMB_DIM,
                   max_queries: int = 10_000) -> DataFrame:
    """Two-stage retrieval: rank candidates on a low-dim JL PROJECTION
    (cheaper dot products, ±1 sign matrix — distances preserved to
    1±ε with ε ≈ √(ln n / out_dim)), keep `n_cand` per query, then
    EXACT-rerank only those on the full vectors — the coarse-then-
    rerank pattern every production ANN stack uses (IVF-PQ's ADC is
    the quantization flavor; this is the projection flavor, and the
    two compose).

    Output (query_id, neighbor_id, cosine, p_rank, rank): `cosine`
    is EXACT (same expression as `brute_force_topk`, so overlapping
    pairs score identically); `p_rank` is the stage-1 position —
    p_rank ≠ rank rows are exactly the reorderings the rerank exists
    to fix.

    Scale shape: stage 1 scans the corpus once computing the
    projection in-scan (out_dim × dim integer lambda ops per row) and
    ranks per query on 16-int dots; stage 2 broadcasts the pruned
    (Q × n_cand) candidate list back into ONE corpus scan for full
    vectors — the 64-dim arithmetic runs on Q × n_cand rows, not
    Q × N. The stage-1 candidate join is the same broadcast-queries
    shape as `brute_force_topk` (and shares its `max_queries` guard);
    at corpus scale compose with `ivf_topk`/`lsh_topk` cells for
    candidate generation and keep this operator's rerank stage."""
    from pyspark.sql import Window
    query_pred = query_pred or f"{id_col} < 10"
    S = matrix_lit(jl_signs(out_dim, dim))
    narrowed = spread(
        df.where(F.size(F.col(emb_col)) == dim).select(id_col, emb_col))
    base = (with_quantized(narrowed, emb_col)
            .withColumn("p", F.transform(
                S, lambda s: F.aggregate(
                    F.zip_with(F.col("qvec"), s, lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda a, v: a + v)))
            .withColumn("pn2", F.expr(dot_expr("p", "p")))
            .select(id_col, "qvec", "n2", "p", "pn2"))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("p").alias("pq"), F.col("pn2").alias("pqn2")))
    if max_queries is not None:
        # guard job counts on the PRE-projection frame (optimization
        # r11, guide §1.2 step 2): same rows pass the dim filter +
        # query_pred, but the JL transform / quantize columns are
        # never computed just to count them
        n_q = (narrowed.where(query_pred)
                       .limit(max_queries + 1).count())
        if n_q > max_queries:
            raise ValueError(
                f"jl_rerank_topk: query_pred selects > {max_queries} rows; "
                f"stage 1 broadcasts the query set — prune the predicate "
                f"or compose with ivf_topk/lsh_topk for candidates")
    c1 = base.select(F.col(id_col).alias("neighbor_id"),
                     F.col("p").alias("pc"), F.col("pn2").alias("pcn2"))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("pcos").desc(), F.col("neighbor_id").asc())
    cands = (F.broadcast(q).crossJoin(c1)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("pdot", F.expr(dot_expr("pq", "pc")))
              .withColumn("pcos", _cosine(F.col("pdot"), F.col("pqn2"),
                                          F.col("pcn2")))
              .withColumn("p_rank", F.row_number().over(w1).cast("long"))
              .where(F.col("p_rank") <= n_cand)
              .select("query_id", "neighbor_id", "p_rank"))
    qfull = (base.where(query_pred)
                 .select(F.col(id_col).alias("query_id"),
                         F.col("qvec").alias("qv"), F.col("n2").alias("qn2")))
    cfull = base.select(F.col(id_col).alias("neighbor_id"),
                        F.col("qvec").alias("cv"), F.col("n2").alias("cn2"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (F.broadcast(cands.join(F.broadcast(qfull), "query_id"))
             .join(cfull, "neighbor_id")
             .withColumn("dot", F.expr(dot_expr("qv", "cv")))
             .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"),
                                           F.col("cn2")))
             .withColumn("rank", F.row_number().over(w2).cast("long"))
             .where(F.col("rank") <= k)
             .select("query_id", "neighbor_id", "cosine", "p_rank", "rank"))


def semdedup_cells(df: DataFrame, centroids: list[list[int]],
                   id_col: str = "vec_id", emb_col: str = "embedding",
                   threshold: float = 0.3, dim: int = EMB_DIM) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    assign every vector to its k-means cell, compare pairs ONLY
    within a cell, and greedily drop any vector that has an
    over-threshold neighbor with a smaller id — the keep-one-per-
    ε-ball pruning the paper applies inside each cluster, with the
    paper's random representative replaced by the min-id one
    (deterministic, engine-identical). The LSH-graph flavor lives in
    `plans/llm._semantic_dedup`; this is the cluster-partitioned
    flavor — the two bracket the recall/cost trade: k-means cells
    adapt to density, LSH bands are data-independent.

    Returns one row per vector: (vec_id, cell, n_dups, keep) —
    n_dups = over-threshold in-cell neighbors (either direction),
    keep = 0 iff some over-threshold neighbor has a smaller id.

    Scale shape: cell assignment is a pre-shuffle codegen/interpreted
    projection at the scan's own width (not `execution.spread`: the
    graded `emb_semdedup_cells` plan has no round-robin exchange); the
    pair join is an equi-shuffle on the small int cell key, quadratic
    only WITHIN a cell — the whole point of clustering first (at 100
    TB: cap cell population via more centroids, the paper's k ∝ √n).
    One cosine per candidate pair, one hash-agg back to vectors."""
    narrowed = df.where(F.size(F.col(emb_col)) == dim)
    base = (with_quantized(narrowed, emb_col)
            .withColumn("cell", ivf_cell_col(centroids).cast("long"))
            .select(id_col, "qvec", "n2", "cell")
            .localCheckpoint(eager=True))  # referenced by 3 consumers
    a = base.select(F.col(id_col).alias("id_a"), F.col("qvec").alias("qv"),
                    F.col("n2").alias("qn2"), "cell")
    b = base.select(F.col(id_col).alias("id_b"), F.col("qvec").alias("cv"),
                    F.col("n2").alias("cn2"), "cell")
    pairs = (a.join(b, "cell")
              .where(F.col("id_a") < F.col("id_b"))
              .withColumn("dot", F.expr(dot_expr("qv", "cv")))
              .withColumn("cosine", _cosine(F.col("dot"), F.col("qn2"),
                                            F.col("cn2")))
              .where(F.col("cosine") >= threshold)
              .select("id_a", "id_b"))
    dup_counts = (pairs.select(F.col("id_a").alias("node"))
                       .unionAll(pairs.select(F.col("id_b").alias("node")))
                       .groupBy("node")
                       .agg(F.count(F.lit(1)).cast("long").alias("n_dups")))
    dropped = pairs.select(F.col("id_b").alias("node")).distinct()
    return (base.select(F.col(id_col), "cell")
                .join(dup_counts, F.col(id_col) == dup_counts.node, "left")
                .drop("node")
                .join(dropped.withColumn("_drop", F.lit(1)),
                      F.col(id_col) == dropped.node, "left")
                .drop("node")
                .select(id_col, "cell",
                        F.coalesce("n_dups", F.lit(0)).cast("long")
                         .alias("n_dups"),
                        F.when(F.col("_drop").isNull(), 1).otherwise(0)
                         .cast("long").alias("keep")))


def _recall_vs_exact(exact: DataFrame, approx: DataFrame,
                     k: int) -> DataFrame:
    """Shared recall@k tail for the three recall reports (LSH bands /
    IVF cells / PQ codes): set-membership hits per query, recall_ppm
    = n_hits·10⁶ div k, missing queries surfaced as zero."""
    hits = (approx.join(exact.select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"], "left_semi")
                  .groupBy("query_id")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    qs = exact.select("query_id").distinct()
    return (qs.join(hits, "query_id", "left")
              .select("query_id",
                      F.coalesce("n_hits", F.lit(0)).cast("long")
                       .alias("n_hits"),
                      F.expr(f"coalesce(n_hits, 0) * 1000000 div {k}")
                       .alias("recall_ppm")))


def ann_recall_report(df: DataFrame, k: int = 5,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      query_pred: str | None = None,
                      dim: int = EMB_DIM, n_planes: int = N_PLANES,
                      n_bands: int = 1,
                      exact: DataFrame | None = None) -> DataFrame:
    """recall@k of the LSH path against the exact top-k — the metric
    that TUNES an ANN deployment (how many bands/planes buy how much
    recall) turned into a first-class query: per query,
    (n_hits, recall_ppm) where n_hits = |LSH top-k ∩ exact top-k|.
    Run it on a query SAMPLE next to any config change; the existing
    recall-domination TESTS assert ordering, this measures the value.

    Set membership, not rank agreement: a hit is the same neighbor id
    in both top-k lists (ranks may permute under cosine ties).
    recall_ppm = n_hits·1e6 div k — exact integers.

    Scale shape: the exact side is `brute_force_topk`, O(Q·N) by
    definition — this is an EVALUATION harness for a bounded query
    sample (inherits brute force's `max_queries` guard), not a
    production path; the LSH side and the final per-query join/agg
    are the production plans themselves.

    `exact` (optimization r11, guide §2.4 reuse): an already-computed
    `brute_force_topk(df, k=k, query_pred=query_pred)` frame — the
    recall trio (LSH / IVF / PQ) shares ONE ground-truth computation
    instead of each report re-running the O(Q·N) pass."""
    query_pred = query_pred or f"{id_col} < 10"
    if exact is None:
        exact = brute_force_topk(df, id_col, emb_col, k=k,
                                 query_pred=query_pred)
    approx = lsh_topk(df, id_col, emb_col, k=k, query_pred=query_pred,
                      dim=dim, n_planes=n_planes, n_bands=n_bands)
    return _recall_vs_exact(exact, approx, k)


MRL_PREFIXES = (16, 32, 64)   # Matryoshka evaluation points


def matryoshka_recall_report(df: DataFrame, k: int = 5,
                             id_col: str = "vec_id",
                             emb_col: str = "embedding",
                             query_pred: str | None = None,
                             dim: int = EMB_DIM,
                             prefixes: tuple = MRL_PREFIXES,
                             exact: DataFrame | None = None) -> DataFrame:
    """recall@k of PREFIX-dimension retrieval against the full-width
    exact top-k — the Matryoshka-representation question ("how many
    leading dims does serving actually need?") as a first-class
    query. For each prefix p the candidate ranking uses exact cosine
    over the first p components only; a hit is the same neighbor id
    in the full-width exact top-k. Output one row per (prefix_dim,
    query_id): n_hits, recall_ppm — exact integers, the recall-trio
    report shape (`_recall_vs_exact`).

    Scale shape: evaluation harness over a bounded query sample (the
    brute-force guard applies); per prefix the candidate side scans
    once map-side against broadcast queries — the slice shortens the
    zip_with, it never adds an exchange. Production then serves at
    the cheapest prefix whose recall clears the bar, cutting vector
    state and wire bytes proportionally.

    `exact` (optimization r11, guide §2.4 reuse): an already-computed
    `brute_force_topk(df.where(size(emb) = dim), k=k,
    query_pred=query_pred)` frame — the DIM-FILTERED ground truth
    (same expression this function builds itself), so callers holding
    the memoized filtered exact pass skip the O(Q·N) rebuild."""
    query_pred = query_pred or f"{id_col} < 10"
    # the ground-truth frame is Q·k rows consumed by every prefix's
    # recall tail (2 consumers each) — eager-checkpoint it or each
    # consumer re-runs the full-width brute-force corpus pass
    # (measured: 21 parquet scans / 9 nested-loop joins in the dumped
    # plan without the cut)
    # filter the exact pass to full-width rows, matching the prefix
    # sides and the oracle's len(embedding)=dim guard — otherwise a
    # wrong-dim/NULL embedding row makes ground truth diverge
    if exact is None:
        exact = (brute_force_topk(df.where(F.size(F.col(emb_col)) == dim),
                                  id_col, emb_col, k=k,
                                  query_pred=query_pred)
                 .localCheckpoint(eager=True))
    reports = []
    for p in prefixes:
        if p == dim:
            # slice(emb, 1, dim) of a dim-guard-passing row is the
            # identity, so the full-width "prefix" ranking IS the
            # ground truth — reuse the frame instead of re-running
            # the brute-force pass (its rows are the recall-100%
            # sanity floor either way)
            approx = exact
            reports.append(
                _recall_vs_exact(exact, approx, k)
                .select(F.lit(p).cast("long").alias("prefix_dim"),
                        "query_id", "n_hits", "recall_ppm"))
            continue
        sliced = (df.where(F.size(F.col(emb_col)) == dim)
                    .select(id_col,
                            F.slice(F.col(emb_col), 1, p).alias(emb_col)))
        approx = brute_force_topk(sliced, id_col, emb_col, k=k,
                                  query_pred=query_pred)
        reports.append(
            _recall_vs_exact(exact, approx, k)
            .select(F.lit(p).cast("long").alias("prefix_dim"),
                    "query_id", "n_hits", "recall_ppm"))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("prefix_dim", "query_id")


# --------------------------------------------- scalar quantization (SQ8)

SQ8_LEVELS = 255   # int8 code range 0..255 (one unsigned byte per dim)


def sq8_code_expr() -> str:
    """The SQ8 encoder as a SQL fragment over columns `qvec` (the
    quantized vector) and `mn`/`mx` (the per-dimension bounds arrays
    from `sq8_bounds`): code_i = (x_i − mn_i)·255 div (mx_i − mn_i),
    0 where the dimension is constant. Single source of truth — the
    operator and the byte-range test both evaluate THIS string, so an
    encoding change can't leave the test validating a stale copy."""
    return (f"transform(qvec, (x, i) -> CASE WHEN mx[i] > mn[i] "
            f"THEN ((x - mn[i]) * {SQ8_LEVELS}) div (mx[i] - mn[i]) "
            f"ELSE 0 END)")


def sq8_bounds(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """One-row frame of per-dimension (mn, mx) arrays over the
    quantized corpus — the int8 scalar quantizer's ENTIRE training
    state. One corpus scan, 2·dim integers out (~1 KB): broadcast it
    anywhere. Unlike the IVF/PQ codebooks (sampled, driver-trained,
    literal-injected) these bounds stay a live 1-row plan node — at
    100 TB the min/max agg is an embarrassingly parallel map-side
    combine and the cross-join below broadcasts one row."""
    expl = (with_quantized(df, emb_col)
            .select(F.posexplode("qvec").alias("d", "v")))
    per_dim = expl.groupBy("d").agg(F.min("v").alias("mn"),
                                    F.max("v").alias("mx"))
    # array_sort on struct(d, …) orders by the leading field d, so the
    # collected arrays are position-aligned with the embedding dims
    return (per_dim.agg(
        F.array_sort(F.collect_list(F.struct("d", "mn"))).alias("mns"),
        F.array_sort(F.collect_list(F.struct("d", "mx"))).alias("mxs"))
        .select(F.expr("transform(mns, s -> s.mn)").alias("mn"),
                F.expr("transform(mxs, s -> s.mx)").alias("mx")))


def sq8_recall_report(df: DataFrame, k: int = 5,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      query_pred: str | None = None,
                      dim: int = EMB_DIM,
                      exact: DataFrame | None = None) -> DataFrame:
    """recall@k of int8 SCALAR-quantized serving against the exact
    top-k — the quantization tier between full-width floats and PQ
    codes (4 B/dim → 1 B/dim, no codebook training): per dimension,
    code = (x−mn)·255 div (mx−mn); search is asymmetric (exact query
    vs reconstructed candidates), the standard ADC trade. Output one
    row per query: (query_id, n_hits, recall_ppm) — exact integers,
    the recall-trio report shape (`_recall_vs_exact`).

    Every division has a non-negative numerator (x ≥ mn, code ≥ 0),
    so Spark's truncating `div` and DuckDB's floor `//` agree.

    Scale shape: evaluation harness over a bounded query sample (the
    brute-force guard applies); the production path is the candidate
    side — one scan that encodes against a broadcast 1-row bounds
    frame, 16× smaller vector state, no exchange added."""
    query_pred = query_pred or f"{id_col} < 10"
    full = df.where(F.size(F.col(emb_col)) == dim)
    # ground truth consumed by the recall tail twice — checkpoint the
    # Q·k frame or each consumer re-runs the brute-force corpus pass.
    # `exact` (optimization r11, guide §2.4 reuse): callers holding
    # the memoized DIM-FILTERED ground truth (the same
    # brute_force_topk(full, ...) expression) skip the rebuild.
    if exact is None:
        exact = brute_force_topk(full, id_col, emb_col, k=k,
                                 query_pred=query_pred
                                 ).localCheckpoint(eager=True)
    base = with_quantized(full, emb_col).select(id_col, "qvec", "n2")
    bounds = sq8_bounds(full, emb_col)
    recon_expr = (f"transform(code, (c, i) -> mn[i] + "
                  f"(c * (mx[i] - mn[i])) div {SQ8_LEVELS})")
    coded = (base.crossJoin(F.broadcast(bounds))
                 .withColumn("code", F.expr(sq8_code_expr()))
                 .withColumn("rv", F.expr(recon_expr))
                 .withColumn("rn2", F.expr(dot_expr("rv", "rv"))))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"), F.col("n2").alias("qn2")))
    c = coded.select(F.col(id_col).alias("neighbor_id"),
                     F.col("rv").alias("cv"), F.col("rn2").alias("cn2"))
    scored = (
        F.broadcast(q).crossJoin(c)
         .where(F.col("neighbor_id") != F.col("query_id"))
         .withColumn("dot", F.expr(dot_expr("qv", "cv")))
         .withColumn("cosine",
                     _cosine(F.col("dot"), F.col("qn2"), F.col("cn2"))))
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    approx = (scored.withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") <= k)
                    .select("query_id", "neighbor_id"))
    return _recall_vs_exact(exact, approx, k).orderBy("query_id")


# ------------------------------------- binary codes / Hamming serving

HAM_BAND_BITS = 8                     # substring width (multi-index)
HAM_BANDS = EMB_DIM // HAM_BAND_BITS  # 8 bands cover all 64 bits


def hamming_band_expr(qvec_col: str, band: int,
                      band_bits: int = HAM_BAND_BITS) -> str:
    """SQL for one band's key: bit j of band b is [qvec[b·w+j] > 0]
    packed at position j — static expression text (no lambdas), the
    `lsh_bucket_expr` discipline, parses in Spark SQL and (with
    1-based indexing handled by the caller) DuckDB."""
    terms = [
        f"(CASE WHEN element_at({qvec_col}, "
        f"{band * band_bits + j + 1}) > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(band_bits)
    ]
    return " + ".join(terms)


def with_binary_codes(df: DataFrame, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      dim: int = EMB_DIM) -> DataFrame:
    """Sign-bit binary quantization: bit d = [x_d > 0] (the corpus is
    zero-centered; the threshold is applied to the shared quantized
    ints so both engines agree at the rounding boundary), packed as
    two 32-bit words hash_lo (bits 0–31) / hash_hi (bits 32–63) plus
    the 8 one-byte band keys. 64 dims × 4 B floats → 8 B of code:
    a 32× cut in vector state — THE serving-tier story at 100 TB."""
    assert dim == HAM_BANDS * HAM_BAND_BITS, dim
    base = with_quantized(
        spread(df.where(F.size(F.col(emb_col)) == dim)
                 .select(id_col, emb_col)),
        emb_col)
    band_cols = [F.expr(hamming_band_expr("qvec", b)).alias(f"band{b}")
                 for b in range(HAM_BANDS)]
    coded = base.select(id_col, *band_cols)
    half = HAM_BANDS // 2
    lo = sum((F.col(f"band{b}") * F.lit(1 << (b * HAM_BAND_BITS))
              for b in range(1, half)),
             start=F.col("band0"))
    hi = sum((F.col(f"band{b}") *
              F.lit(1 << ((b - half) * HAM_BAND_BITS))
              for b in range(half + 1, HAM_BANDS)),
             start=F.col(f"band{half}"))
    return (coded.withColumn("hash_lo", lo.cast("long"))
                 .withColumn("hash_hi", hi.cast("long")))


def hamming_topk(df: DataFrame, id_col: str = "vec_id",
                 emb_col: str = "embedding", k: int = 5,
                 query_pred: str | None = None,
                 dim: int = EMB_DIM) -> DataFrame:
    """Approximate top-k in HAMMING space over sign-bit codes —
    multi-index hashing (Norouzi/Punjani/Fleet, "Fast Search in
    Hamming Space with Multi-Index Hashing", public): candidates must
    share at least one of the 8 one-byte substrings, which by
    pigeonhole is EXACT for any neighbor within Hamming radius 7;
    beyond that recall decays gracefully. Distance itself is two
    XOR+popcount words (`bit_count`), wholly JVM codegen.

    Output (query_id, neighbor_id, hamming, rank) — all exact
    integers, rank ties broken by neighbor_id.

    Scale shape: the band join is the LSH-bucket join shape (never
    all-pairs — candidates only inside shared 1-byte buckets, skew
    bounded by 256 keys per band over a hash-uniform code space);
    per-candidate work is 2 xor + 2 popcount on 16 B of state. This
    is the cheapest serving tier the engine offers: 32× less vector
    state than floats, integer-only distance."""
    query_pred = query_pred or f"{id_col} < 10"
    coded = with_binary_codes(df, id_col, emb_col, dim)
    bands = F.array(*[
        F.struct(F.lit(b).cast("int").alias("band_id"),
                 F.col(f"band{b}").alias("key"))
        for b in range(HAM_BANDS)])
    melted = (coded.withColumn("bk", F.explode(bands))
                   .select(id_col, "hash_hi", "hash_lo",
                           F.col("bk.band_id").alias("band_id"),
                           F.col("bk.key").alias("key")))
    q = melted.where(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col("hash_hi").alias("q_hi"), F.col("hash_lo").alias("q_lo"),
        "band_id", "key")
    c = melted.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("hash_hi").alias("c_hi"), F.col("hash_lo").alias("c_lo"),
        "band_id", "key")
    cand = (q.join(c, ["band_id", "key"])
             .where(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id",
                     "q_hi", "q_lo", "c_hi", "c_lo")
             .distinct())
    scored = cand.withColumn(
        "hamming",
        (F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi"))) +
         F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo"))))
        .cast("long"))
    from pyspark.sql import Window
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("hamming").asc(),
                        F.col("neighbor_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "hamming",
                          F.col("rank").cast("long").alias("rank")))


#: shift making every per-component mean numerator non-negative, so
#: floor div (DuckDB //) and truncating div (Spark div) agree
KMEANS_MEAN_OFF = 4 * QUANT_SCALE


def kmeans_assign(df: DataFrame, id_col: str = "vec_id",
                  emb_col: str = "embedding", k: int = 8,
                  rounds: int = 3, dim: int = EMB_DIM) -> DataFrame:
    """DISTRIBUTED Lloyd k-means over the full corpus — the training
    loop itself as DataFrame ops, complementing `train_ivf_centroids`
    (which k-means a driver-side SAMPLE into plan literals; right for
    quantizer training, wrong when the clustering IS the product,
    e.g. SemDeDup cells or topic-bucketing the whole corpus at
    100 TB, where a sample-trained model must still be APPLIED by a
    distributed pass anyway and clustering quality tracks the data
    actually seen).

    Exact integer arithmetic end to end: vectors quantize to ints
    (QUANT_SCALE), distances are Σ(x−c)² on BIGINTs, new centroids
    are per-component integer means computed as
    (sum + n·OFF) div n − OFF with OFF large enough to make the
    numerator non-negative — floor and truncating division agree on
    non-negative ints, so the mean is bit-identical on any engine
    regardless of its negative-division convention, and a 3-round run
    is hash-gradable against an unrolled-CTE oracle (float k-means
    never is: mean order flaps the hash).

    Init: first k vectors by id (deterministic, the
    `train_ivf_centroids` convention). Per round:
      1. assign — the k·dim centroid INTS are plan literals (the
         `ivf_cell_col` convention): argmin over a k-element literal
         struct array via array_min on struct(dist2, cell), ties →
         smallest cell id. Map-only: no join, no window, no exchange;
      2. update — posexplode the assigned vectors, one (cell, pos)
         hash-agg (map-side combined), k·dim rows collected to the
         driver to become the next round's literals (bounded by
         construction: 8 cells × 64 dims = 512 ints, the same
         driver-side-quantizer discipline as `train_ivf_centroids`).
    Returns (vec_id, cell, dist2) for the FINAL assignment — a pure
    map over the corpus (zero exchanges in the returned plan).

    Scale shape (optimization r11, guide §2.4/§3.1): per round ONE
    corpus-sized exchange — the (cell, pos) update agg, whose input
    is dim rows per vector, the classic Spark k-means cost. The old
    form paid a SECOND corpus-sized exchange per round: assignment
    via crossJoin(k-row centroid frame) + row_number over
    Window.partitionBy(vid) shuffled k rows per vector every round
    just to take the argmin; with literal centroids the argmin
    evaluates inside the scan projection. Empty cells keep their
    previous centroid (the driver-side merge defaults), so the cell
    count never silently shrinks."""
    vecs = (with_quantized(
                spread(df.where(F.size(F.col(emb_col)) == dim)
                         .select(id_col, emb_col)),
                emb_col)
            .select(F.col(id_col).alias("vid"), "qvec")
            .localCheckpoint(eager=True))  # scanned once per round
    init = vecs.orderBy("vid").limit(k).select("qvec").collect()
    cents: list[tuple[int, list[int]]] = [
        (i + 1, [int(v) for v in row["qvec"]]) for i, row in enumerate(init)]

    def argmin_expr(centroids: list[tuple[int, list[int]]]) -> Column:
        structs = ", ".join(
            "named_struct('dist2', aggregate(zip_with(qvec, array(%s), "
            "(x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b), "
            "'cell', %dL)" % (", ".join(f"{v}L" for v in c), cell)
            for cell, c in centroids)
        # array_min on struct(dist2, cell) = lexicographic min —
        # smallest dist2, ties to the smallest cell id
        return F.expr(f"array_min(array({structs}))")

    def assign(centroids) -> DataFrame:
        return (vecs.withColumn("_am", argmin_expr(centroids))
                    .select("vid", "qvec",
                            F.col("_am.cell").alias("cell"),
                            F.col("_am.dist2").alias("dist2")))

    for _ in range(rounds):
        comp = (assign(cents)
                .select("cell", F.posexplode("qvec").alias("pos", "v"))
                .groupBy("cell", "pos")
                .agg(F.expr(f"(sum(v) + count(*) * {KMEANS_MEAN_OFF}) "
                            f"div count(*) - {KMEANS_MEAN_OFF}")
                      .cast("long").alias("m")))
        got: dict[int, dict[int, int]] = {}
        for r in comp.collect():                      # ≤ k·dim rows
            got.setdefault(r["cell"], {})[r["pos"]] = int(r["m"])
        cents = [(cell, [got[cell][p] for p in range(len(c))]
                        if cell in got else c)
                 for cell, c in cents]
    return (assign(cents)
            .select(F.col("vid").alias(id_col), "cell", "dist2"))


DENSITY_TARGET_PPB = 500_000_000   # keep ~half the corpus, density-tilted
DENSITY_SALT = "dsample-v1"


def density_sample(df: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding", k: int = 5,
                   dim: int = EMB_DIM, n_planes: int = N_PLANES,
                   n_bands: int = 3,
                   target_ppb: int = DENSITY_TARGET_PPB,
                   salt: str = DENSITY_SALT,
                   graph: DataFrame | None = None) -> DataFrame:
    """DENSITY-INVERSE diversity sampling — the soft cousin of
    SemDeDup's hard drop: instead of deleting near-duplicates, keep
    every vector with probability inversely proportional to its local
    embedding density, so redundant regions thin out and isolated
    (rare) points survive — the diversity-aware corpus subsetting of
    DoReMi/D4-style curation.

    density(v) = mean cosine to v's approximate kNN (the `knn_graph`
    edges), in ppm fixed point via the OFFSET-MEAN trick
    ((Σ(10⁶+round(cos·10⁶))) div n − 10⁶ — the numerator stays
    non-negative, so Spark's truncating `div` and DuckDB's flooring
    `//` agree; round first, THEN sum, keeping the sum exact).
    Vectors with no kNN edges (no band collision) take density 0 —
    maximally isolated, maximally kept. weight = max(1, 10⁶ −
    dens_ppm); inclusion follows `weighted_sample`'s πps coin:
    p_ppb = min(10⁹, w·target_ppb div mean_w), keep iff
    h60(salt:id) mod 10⁹ < p_ppb.

    Returns ONE VERDICT ROW PER VECTOR: (id, n_nbrs, dens_ppm, w,
    p_ppb, keep 0/1) — the auditable form; filter keep=1 downstream.

    Scale shape: `knn_graph`'s banded-candidate exchange dominates;
    density is one vec-keyed agg over the k·N edge rows; the weight
    normalizer is a 1-row broadcast; the coin is a map-side filter.
    `graph` (optimization r11, guide §2.4 reuse): an already-computed
    `knn_graph(df, k=k, ...)` frame — callers holding the memoized
    catalog graph skip re-running the banded-candidate + rerank pass.
    """
    from ..functions import h60
    g = graph if graph is not None else knn_graph(
        df, id_col, emb_col, k=k, dim=dim,
        n_planes=n_planes, n_bands=n_bands)
    dens = (g.groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_nbrs"),
                  F.expr("CAST(sum(1000000 + CAST(round(cosine * 1000000)"
                         " AS BIGINT)) div count(*) - 1000000 AS BIGINT)")
                   .alias("dens_ppm")))
    base = (df.where(F.size(F.col(emb_col)) == dim)
              .select(id_col)
              .join(dens, id_col, "left")
              .select(F.col(id_col),
                      F.coalesce("n_nbrs", F.lit(0)).cast("long")
                       .alias("n_nbrs"),
                      F.coalesce("dens_ppm", F.lit(0)).cast("long")
                       .alias("dens_ppm"))
              .withColumn("w", F.expr(
                  "greatest(CAST(1 AS BIGINT), 1000000 - dens_ppm)")))
    tot = base.agg(F.expr("CAST(sum(w) AS BIGINT)").alias("tw"),
                   F.count(F.lit(1)).cast("long").alias("n"))
    coin = h60(F.concat(F.lit(salt + ":"),
                        F.col(id_col).cast("string"))) % 1_000_000_000
    return (base.crossJoin(F.broadcast(tot))
                .withColumn("p_ppb", F.expr(
                    f"least(CAST(1000000000 AS BIGINT), "
                    f"w * {target_ppb} div (tw div n))"))
                .withColumn("keep", (coin < F.col("p_ppb"))
                             .cast("long"))
                .select(id_col, "n_nbrs", "dens_ppm", "w", "p_ppb",
                        "keep"))


# ------------------------------------------------------------------ PCA

PCA_SCALE = 1_000_000   # component quantization (1e-6 resolution)
PCA_ITERS = 32          # fixed power-iteration count (deterministic)


def train_pca_component(vectors: "list[list[float]]",
                        iters: int = PCA_ITERS
                        ) -> tuple[list[int], list[int]]:
    """Plan-time top principal component via power iteration on the
    centered sample (numpy float64, deterministic: max-energy-axis
    start, fixed iteration count, sign canonicalized so the first
    non-negligible loading is positive). Returns (mean at QUANT_SCALE,
    component at PCA_SCALE) as ints, so the projection over the full
    table is exact integer arithmetic on both engines — the same
    sample-train → literal-inject discipline as the IVF centroids.

    At 100 TB the sample stays driver-sized (PCA of a corpus is
    always estimated from a sample); the distributed part is the
    projection scan, one codegen'd pass with no shuffle."""
    import numpy as np
    x = np.asarray(vectors, dtype=np.float64)
    mu = x.mean(axis=0)
    xc = x - mu
    # start on the max-energy coordinate axis (ties → first): a fixed
    # e₀ start can be exactly orthogonal to the data and never leave
    v = np.zeros(x.shape[1], dtype=np.float64)
    v[int((xc * xc).sum(axis=0).argmax())] = 1.0
    for _ in range(iters):
        w = xc.T @ (xc @ v)
        n = float(np.linalg.norm(w))
        if n == 0.0:
            break
        v = w / n
    for c in v:
        if abs(c) > 1e-9:
            if c < 0:
                v = -v
            break
    mean_q = np.rint(mu * QUANT_SCALE).astype(np.int64)
    comp_q = np.rint(v * PCA_SCALE).astype(np.int64)
    return ([int(a) for a in mean_q], [int(a) for a in comp_q])


def pca_scores(df: DataFrame, mean_q: list[int], comp_q: list[int],
               id_col: str = "vec_id", emb_col: str = "embedding",
               dim: int = EMB_DIM) -> DataFrame:
    """Project every embedding onto the trained top component:
    score_e10 = Σᵢ (qᵢ − meanᵢ)·compᵢ, exact int64 (|q−mean| ≤ 2·10⁴,
    |comp| ≤ 10⁶, dim 64 → ≤ 1.3·10¹² per row). The double `pc1` is
    the single final division by QUANT_SCALE·PCA_SCALE.

    Scale: one narrow projection scan, zero shuffles — whole-stage
    codegen over two plan literals."""
    m, c = matrix_lit(mean_q), matrix_lit(comp_q)
    base = (with_quantized(
                df.where(F.size(emb_col) == dim), emb_col)
            .select(id_col, "qvec"))
    diff = F.zip_with(F.col("qvec"), m, lambda x, y: x - y)
    score = F.aggregate(F.zip_with(diff, c, lambda x, y: x * y),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
    denom = float(QUANT_SCALE) * float(PCA_SCALE)
    return (base.withColumn("pc1_e10", score)
                .select(id_col, "pc1_e10",
                        (F.col("pc1_e10").cast("double") / F.lit(denom))
                        .alias("pc1")))


# ------------------------------------------------------------------ MMR

MMR_POOL = 20   # stage-1 candidate pool per query (top-`pool` cosine)


def mmr_rerank(df: DataFrame, id_col: str = "vec_id",
               emb_col: str = "embedding", k: int = 5,
               pool: int = MMR_POOL, query_pred: str | None = None,
               dim: int = EMB_DIM) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998), λ = 0.5: greedily pick k results per query trading
    relevance against redundancy — step 1 takes the top-cosine
    candidate, step i maximizes 0.5·(cos(q,c) − max over picked p of
    cos(c,p)). Output: (query_id, step, neighbor_id, cosine, mmr).

    The greedy loop is UNROLLED into k−1 static stages (no driver
    iteration on data): each stage is a bounded join — candidates ×
    picked within a query, both ≤ `pool` rows per query — followed by
    a row_number pick. All cosines derive from exact int dots, so the
    double comparisons are bit-identical cross-engine; ties break on
    neighbor_id.

    Scale: the pairwise-similarity frame is |Q|·pool² rows built once
    and reused by every stage; per-query state is O(pool), so the op
    scales linearly in the number of queries with no wide shuffle —
    the stage-1 pool bound is what keeps MMR's quadratic term local."""
    query_pred = query_pred or f"{id_col} < 10"
    from pyspark.sql import Window
    base = (with_quantized(
                spread(df.where(F.size(emb_col) == dim)
                         .select(id_col, emb_col)),
                emb_col)
            .select(id_col, "qvec", "n2"))
    q = (base.where(query_pred)
             .select(F.col(id_col).alias("query_id"),
                     F.col("qvec").alias("qv"), F.col("n2").alias("qn2")))
    c = (base.select(F.col(id_col).alias("cand_id"),
                     F.col("qvec").alias("cv"), F.col("n2").alias("cn2")))
    w = (Window.partitionBy("query_id")
               .orderBy(F.col("cos_q").desc(), F.col("cand_id").asc()))
    pool_df = (
        F.broadcast(q).crossJoin(c)
         .where(F.col("cand_id") != F.col("query_id"))
         .withColumn("dot", F.expr(dot_expr("qv", "cv")))
         .withColumn("cos_q", _cosine(F.col("dot"), F.col("qn2"),
                                      F.col("cn2")))
         .withColumn("rk", F.row_number().over(w))
         .where(F.col("rk") <= pool)
         .select("query_id", "cand_id", "cv", "cn2", "cos_q")
         # |Q|·pool rows, re-read by every unrolled stage: without the
         # cut, stage i re-evaluates the pool subtree 2i+1 times and
         # the plan grows combinatorially (19 s → ~2 s at sf0.01).
         # LAZY (optimization r11, guide §1.2 step 1): the lineage is
         # truncated at plan-build either way (LogicalRDD); eager
         # materialization was one blocking job per checkpoint — with
         # all of them lazy the whole unrolled greedy loop fuses into
         # the ONE job of the final action, each persisted frame
         # computing exactly once inside it.
         .localCheckpoint(eager=False))
    a = pool_df.select("query_id", "cand_id", "cv", "cn2")
    b = pool_df.select(F.col("query_id").alias("query_id_b"),
                       F.col("cand_id").alias("other_id"),
                       F.col("cv").alias("ov"), F.col("cn2").alias("on2"))
    pairs = (a.join(b, (a.query_id == b.query_id_b)
                       & (a.cand_id != b.other_id))
              .withColumn("pdot", F.expr(dot_expr("cv", "ov")))
              .withColumn("cos_ab", _cosine(F.col("pdot"), F.col("cn2"),
                                            F.col("on2")))
              .select("query_id", "cand_id", "other_id", "cos_ab")
              .localCheckpoint(eager=False))  # |Q|·pool² rows, reused k−1×
    cands = pool_df.select("query_id", "cand_id", "cos_q")
    wp = (Window.partitionBy("query_id")
                .orderBy(F.col("mmr").desc(), F.col("cand_id").asc()))
    picked = (cands.withColumn("mmr", F.lit(0.5) * F.col("cos_q"))
                   .withColumn("rk", F.row_number().over(wp))
                   .where(F.col("rk") == 1)
                   .select("query_id", "cand_id", "cos_q", "mmr",
                           F.lit(1).cast("long").alias("step")))
    steps = [picked]
    for step in range(2, k + 1):
        chosen = steps[0]
        for s in steps[1:]:
            chosen = chosen.unionByName(s)
        chosen_ids = chosen.select("query_id",
                                   F.col("cand_id").alias("other_id"))
        remaining = cands.join(
            chosen.select("query_id", "cand_id"),
            ["query_id", "cand_id"], "left_anti")
        msim = (pairs.join(chosen_ids, ["query_id", "other_id"])
                     .groupBy("query_id", "cand_id")
                     .agg(F.max("cos_ab").alias("max_sim")))
        nxt = (remaining.join(msim, ["query_id", "cand_id"])
               .withColumn("mmr", F.lit(0.5) * (F.col("cos_q")
                                                - F.col("max_sim")))
               .withColumn("rk", F.row_number().over(wp))
               .where(F.col("rk") == 1)
               .select("query_id", "cand_id", "cos_q", "mmr",
                       F.lit(step).cast("long").alias("step"))
               # |Q| rows; later stages re-read every earlier pick
               .localCheckpoint(eager=False))
        steps.append(nxt)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.select("query_id", "step",
                      F.col("cand_id").alias("neighbor_id"),
                      "cos_q", "mmr")


def ivf_recall_report(df: DataFrame, centroids: list[list[int]],
                      k: int = 5, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      query_pred: str | None = None,
                      dim: int = EMB_DIM,
                      exact: DataFrame | None = None) -> DataFrame:
    """`ann_recall_report`'s IVF sibling — recall@k of the nprobe=1
    IVF path against the exact top-k, the measurement that tunes the
    CELL COUNT / nprobe trade the way the LSH report tunes bands and
    planes (IVF loses exactly the neighbors whose nearest centroid
    differs from the query's; this counts them). Same evaluation
    contract: bounded query sample, set membership not rank
    agreement, recall_ppm = n_hits·10⁶ div k, exact integers — and
    the same shared-ground-truth `exact` hook as `ann_recall_report`."""
    query_pred = query_pred or f"{id_col} < 10"
    if exact is None:
        exact = brute_force_topk(df, id_col, emb_col, k=k,
                                 query_pred=query_pred)
    approx = ivf_topk(df, centroids, id_col, emb_col, k=k,
                      query_pred=query_pred, dim=dim)
    return _recall_vs_exact(exact, approx, k)


def pq_recall_report(df: DataFrame, centroids: list[list[int]],
                     codebooks: list[list[list[int]]],
                     k: int = 5, id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     query_pred: str | None = None,
                     dim: int = EMB_DIM,
                     exact: DataFrame | None = None) -> DataFrame:
    """Completes the recall-measurement trio (LSH bands →
    `ann_recall_report`, IVF cells → `ivf_recall_report`, PQ codes →
    THIS): recall@k of the full IVF-PQ path — cell pruning PLUS the
    ADC approximation, so the number isolates how much the 8-byte
    code compression costs on top of the cell miss rate (compare
    against `ivf_recall_report` at the same centroids). Same
    contract: bounded query sample, set membership, exact ppm — and
    the same shared-ground-truth `exact` hook as `ann_recall_report`."""
    query_pred = query_pred or f"{id_col} < 10"
    if exact is None:
        exact = brute_force_topk(df, id_col, emb_col, k=k,
                                 query_pred=query_pred)
    approx = ivfpq_topk(df, centroids, codebooks, id_col, emb_col,
                        k=k, query_pred=query_pred, dim=dim)
    return _recall_vs_exact(exact, approx, k)
