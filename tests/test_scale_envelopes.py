"""×10 shuffle-byte envelopes for the historically-worst operators.

SCALE.md's amplification measurements killed two superlinear cliffs
(the ssjoin verify's broadcast→SMJ fall-off, the bucketed-join probe)
— but prose tables don't stop a future edit from silently
reintroducing one. These tests re-run the six worst ops on the ×10
derivation of sf0.1 (tools/make_corpus.py: disjoint key ranges and
vocabularies per copy) in an event-logged session — ssjoin, minhash
and k-means as direct operator calls, trade_pagerank and
crawl_manifest as their catalog rows — and assert each op's shuffle
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
def measured(tmp_path_factory):
    """Derive ×10 of sf0.1 (tools/make_corpus.py), run the six ops
    under job groups in one event-logged session, stop the session
    (finalizes the event log), return {op: bytes}."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    import make_corpus
    import scale_smoke

    # the suite needs its OWN event-logged JVM, so run it alone
    # (`pytest -m scale`): event_logged_spark raises if another Spark
    # test already started one in this process
    event_dir = tempfile.mkdtemp(prefix="spark_graft_envlog_")
    spark = scale_smoke.event_logged_spark("scale_envelopes", event_dir)
    out = make_corpus.derive(spark, SF_DIR, AMPLIFY,
                             str(tmp_path_factory.mktemp("x10")))

    import __spark_entry__ as entry
    from ethereum_export_pipeline_spark.operators import (dedup,
                                                          similarity)
    from ethereum_export_pipeline_spark.operators.graph import (
        hierarchy_aggregates as ha)
    from ethereum_export_pipeline_spark.sources.tables import load_table
    big_docs = load_table(spark, out, "documents").select("doc_id", "text")
    big_emb = load_table(spark, out, "embeddings").select("vec_id",
                                                          "embedding")

    def hierarchy_aggregates():
        n = 10_000 * AMPLIFY
        # chains of depth 15 < 2^HIERARCHY_ROUNDS
        parents = (spark.range(n).where("id % 16 != 0")
                        .selectExpr("id AS child", "id - 1 AS parent"))
        vals = spark.range(n).selectExpr("id AS c_custkey",
                                         "id % 97 AS bal_cents")
        return ha(parents, vals)

    qs = entry.queries()
    ops = {
        "ssjoin_prefix": lambda: dedup.ssjoin_prefix_pairs(big_docs),
        "minhash_pairs": lambda: dedup.minhash_lsh_pairs(big_docs),
        "kmeans_assign": lambda: similarity.kmeans_assign(big_emb),
        "trade_pagerank": lambda: qs["doc_trade_pagerank"](spark, out),
        "hierarchy_aggregates": hierarchy_aggregates,
        "crawl_manifest": lambda: qs["doc_crawl_manifest"](spark, out),
    }
    runs = scale_smoke.run_rows(
        spark, out, {name: (lambda s, d, op=op: op())
                     for name, op in ops.items()})
    spark.stop()

    per_group = scale_smoke.read_group_bytes(event_dir)
    got = {name: per_group.get(name, {}).get("shuffle_write", -1)
           if "secs" in runs[name] else runs[name]["error"]
           for name in ops}
    for name in ops:
        print(f"# {name}: {runs[name]}, shuffle write {got[name]}")

    import shutil
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(event_dir, ignore_errors=True)
    return got


@pytest.mark.parametrize("op", sorted(ENVELOPES))
def test_x10_shuffle_within_envelope(measured, op):
    got = measured[op]
    assert not isinstance(got, str), f"{op} raised: {got}"
    assert got >= 0, f"{op}: no event-log rows attributed"
    limit = ENVELOPES[op]
    assert got <= limit, (
        f"{op}: ×10 shuffle write {got / 1e6:.1f} MB exceeds the "
        f"{limit / 1e6:.0f} MB envelope — a superlinear exchange is "
        f"creeping back in; re-measure on a ×100 tools/make_corpus.py "
        f"corpus (tools/scale_smoke.py) "
        f"before accepting a new envelope (see SCALE.md)")
