"""×10 shuffle-byte envelopes for the historically-worst operators.

SCALE.md's amplification measurements killed two superlinear cliffs
(the ssjoin verify's broadcast→SMJ fall-off, the bucketed-join probe)
— but prose tables don't stop a future edit from silently
reintroducing one. These tests re-run the five worst ops at ×10
amplification in an event-logged session and assert each op's shuffle
WRITE stays inside an envelope pinned at ~1.5× the figure measured
when the op's plan was last tuned (round 9 for ssjoin, round 8 for
the rest; see SCALE.md). A >1.5× jump at ×10 has been, every time it
happened, the small-scale shadow of a ×100 cliff (round-8 ssjoin: ×10
+42% while ×100 went +340%).

Opt-in via `pytest -m scale` (deselected by default in pytest.ini:
the suite needs its own event-logged SparkSession and ~4 minutes).
Envelope constants are BYTES of per-job-group shuffle write read from
the event log by `tools.scale_smoke.read_group_bytes` — the same
extraction the SCALE.md tables came from.

Known constants worth a sentence (also in SCALE.md): ssjoin's ×10
shuffle ROSE 142 → 201 MB in round 9 while ×100 FELL 5.8× — the
adaptive l=2 extended prefix posts more keys at small scale to kill
the candidate blowup at large scale. The envelope pins the l=2
constant (≤300 MB) so it can't silently grow either.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

pytestmark = pytest.mark.scale

SF_DIR = "/root/testdata/sf0.1"
AMPLIFY = 10

#: op → max shuffle-write bytes at ×10 (measured × ~1.5 headroom).
#: Measured figures (this code, round 10, local[32]): ssjoin 201 MB
#: (SCALE.md round-9 table — the l=2 extended-prefix constant),
#: kmeans_assign 17.7 MB, trade_pagerank 1.06 GB (SCALE.md's 1.27 GB
#: round-3 note was read+write), hierarchy rollup 17.6 MB (matches
#: SCALE.md round-8 exactly).
#:
#: minhash_pairs and crawl_manifest were RE-PINNED in the round-11
#: optimization pass, per this test's own protocol (×100 re-measure
#: before accepting a new envelope): the `execution.spread` spread
#: adds ONE deliberate round-robin exchange of the (id, text) corpus
#: before the tokenize-heavy scan stages — linear by construction
#: (~33 MB at ×10, the corpus once) and a measured wall-clock WIN
#: where it fires (×10 one-row-group fixture: minhash 12.55 → 6.25 s,
#: crawl 26.3 → 17.2 s; a well-split 100 TB input skips it entirely).
#: Re-measured ×10 → ×100 with the spread (tools/scale_smoke.py,
#: round 11): minhash 77.2 MB → 1013 MB (13.1×/10× rows, wall 38.4 s),
#: crawl 83.2 MB → 1067 MB (12.8×, wall 116.8 s) — the same mild
#: cross-copy-collision superlinearity SCALE.md already documents for
#: the PRE-spread crawl (13.4×), so no new cliff; envelopes re-pinned
#: at measured × ~1.5.
ENVELOPES = {
    "ssjoin_prefix": 300 * 1024 * 1024,
    "minhash_pairs": 110 * 1024 * 1024,
    "kmeans_assign": 27 * 1024 * 1024,
    "trade_pagerank": 1600 * 1024 * 1024,
    "hierarchy_aggregates": 27 * 1024 * 1024,
    # the composed crawl→manifest flagship (round-11 addition to the
    # suite): 48.2 MB measured at ×10 pre-spread, 83.2 MB with it
    "crawl_manifest": 120 * 1024 * 1024,
}


@pytest.fixture(scope="module")
def measured():
    """Amplify ×10, run the five ops under job groups, stop the
    session (finalizes the event log), return {op: bytes}."""
    from pyspark.sql import SparkSession, functions as F

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    import scale_smoke

    from ethereum_export_pipeline_spark.session import RUNTIME_CONFS

    # getOrCreate silently REUSES any live session (its eventLog
    # configs then never apply: every envelope would read -1 bytes),
    # and spark.stop() below would kill that shared session for the
    # rest of a mixed pytest run. Fail fast instead of poisoning.
    from pyspark import SparkContext
    if (SparkContext._active_spark_context is not None
            or SparkSession.getActiveSession() is not None):
        pytest.fail(
            "a SparkContext/SparkSession already exists in this "
            "process: the scale-envelope suite needs its OWN "
            "event-logged session built before any other Spark test "
            "runs. Run it alone (`pytest -m scale`), not in a mixed "
            "-m expression with fixture-backed tests.")

    cpus = (int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
            or os.cpu_count() or 4)
    event_dir = tempfile.mkdtemp(prefix="spark_graft_envlog_")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale_envelopes")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", event_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.warehouse.dir",
                tempfile.mkdtemp(prefix="spark_graft_wh_")))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext

    out = tempfile.mkdtemp(prefix="spark_graft_envdata_")
    copies = spark.range(AMPLIFY).select(F.col("id").alias("copy"))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    (docs.crossJoin(copies)
         .select((F.col("doc_id") + F.col("copy") * n_docs)
                 .alias("doc_id"),
                 F.element_at(
                     scale_smoke.amplified_text_variants(AMPLIFY),
                     F.col("copy").cast("int") + 1).alias("text"))
         .write.mode("overwrite").parquet(f"{out}/documents"))
    big_docs = spark.read.parquet(f"{out}/documents")

    from ethereum_export_pipeline_spark.operators import (dedup,
                                                          similarity)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_emb = emb.count()
    dim = similarity.EMB_DIM
    rot = F.expr(
        f"concat(slice(embedding, (copy % {dim}) + 1, "
        f"{dim} - (copy % {dim})), slice(embedding, 1, copy % {dim}))")
    (emb.crossJoin(copies)
        .select((F.col("vec_id") + F.col("copy") * n_emb).alias("vec_id"),
                rot.cast("array<float>").alias("embedding"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(f"{out}/embeddings"))
    big_emb = spark.read.parquet(f"{out}/embeddings")

    def trade_pagerank():
        # same density-preserving amplification as tools/scale_smoke
        from ethereum_export_pipeline_spark.operators.graph import (
            pagerank_exact)
        li = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
                   .select("l_orderkey", "l_suppkey"))
        o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
                  .select("o_orderkey", "o_custkey"))
        li2 = (li.crossJoin(copies)
                 .select((F.col("l_orderkey") + F.col("copy") * 200_000)
                         .alias("ok"),
                         (F.col("l_suppkey") + F.col("copy") * 1_000)
                         .alias("sk")))
        o2 = (o.crossJoin(copies)
               .select((F.col("o_orderkey") + F.col("copy") * 200_000)
                       .alias("okk"),
                       (F.col("o_custkey") + F.col("copy") * 2_000)
                       .alias("ck")))
        pairs = (li2.join(o2, F.col("ok") == F.col("okk"))
                    .select(F.concat(F.lit("S"), F.col("sk")).alias("s"),
                            F.concat(F.lit("C"), F.col("ck")).alias("c"))
                    .distinct())
        edges = (pairs.select(F.explode(F.array(
                     F.struct(F.col("s").alias("src"),
                              F.col("c").alias("dst")),
                     F.struct(F.col("c").alias("src"),
                              F.col("s").alias("dst")))).alias("e"))
                      .select("e.src", "e.dst"))
        return pagerank_exact(edges, iters=5)

    def hierarchy_aggregates():
        from ethereum_export_pipeline_spark.operators.graph import (
            hierarchy_aggregates as ha)
        n = 10_000 * AMPLIFY
        parents = (spark.range(n).where("id % 64 != 0")
                        .selectExpr("id AS child", "id - 1 AS parent"))
        vals = spark.range(n).selectExpr("id AS node", "id % 97 AS val")
        return ha(parents, vals, rounds=6)

    # the composed crawl→manifest flagship wants a CORPUS DIR with a
    # source column (its plan takes sf_dir) — amplify one beside the
    # main corpus, source re-attached from the originals by id-mod
    crawl_sf = f"{out}/crawl_sf"
    (big_docs.withColumn("src_doc", F.col("doc_id") % n_docs)
             .join(docs.selectExpr("doc_id AS src_doc", "source"),
                   "src_doc")
             .select("doc_id", "source", "text")
             .write.mode("overwrite").parquet(f"{crawl_sf}/documents.parquet"))

    def crawl_manifest():
        from ethereum_export_pipeline_spark.plans.llm import (
            _crawl_manifest)
        return _crawl_manifest(spark, crawl_sf)

    ops = {
        "ssjoin_prefix": lambda: dedup.ssjoin_prefix_pairs(big_docs),
        "minhash_pairs": lambda: dedup.minhash_lsh_pairs(big_docs),
        "kmeans_assign": lambda: similarity.kmeans_assign(big_emb),
        "trade_pagerank": trade_pagerank,
        "hierarchy_aggregates": hierarchy_aggregates,
        "crawl_manifest": crawl_manifest,
    }
    import time
    secs = {}
    for name, thunk in ops.items():
        sc.setJobGroup(name, name)
        t0 = time.time()
        thunk().write.mode("overwrite").format("noop").save()
        secs[name] = round(time.time() - t0, 2)
        sc.setJobGroup("other", "other")
    spark.stop()

    per_group = scale_smoke.read_group_bytes(event_dir)
    got = {name: per_group.get(name, {}).get("shuffle_write", -1)
           for name in ops}
    for name in ops:
        print(f"# {name}: {got[name] / 1e6:.1f} MB shuffle write, "
              f"{secs[name]}s")

    import shutil
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(event_dir, ignore_errors=True)
    return got


@pytest.mark.parametrize("op", sorted(ENVELOPES))
def test_x10_shuffle_within_envelope(measured, op):
    got = measured[op]
    assert got >= 0, f"{op}: no event-log rows attributed"
    limit = ENVELOPES[op]
    assert got <= limit, (
        f"{op}: ×10 shuffle write {got / 1e6:.1f} MB exceeds the "
        f"{limit / 1e6:.0f} MB envelope — a superlinear exchange is "
        f"creeping back in; re-measure at ×100 (tools/scale_smoke.py) "
        f"before accepting a new envelope (see SCALE.md)")
