"""The shared-artifact registry (`artifacts.py`): every memoized
corpus artifact is a registry entry, each artifact keeps at most
`MAX_ENTRIES` corpora (oldest evicted first), and evicted scratch is
parked while its owning application is live and reclaimed once it is
not (checked per scratch-owning artifact by the `scratch_eviction`
fixture in conftest.py)."""

from __future__ import annotations

import os

from __spark_entry__ import SMOKE_SF_DIR as SF


def test_every_memo_is_a_bounded_registry_artifact(spark):
    """No memo is unbounded: every bench/perfbench `artifact:` row is
    a registry getter, and filling one — BPE merges, formerly keyed by
    path alone with no bound — past 8 corpora evicts the oldest."""
    import bench
    from ethereum_export_pipeline_spark import artifacts
    from ethereum_export_pipeline_spark.plans import llm

    names = set(artifacts.builders())
    assert names == {f"artifact:{n}" for n in artifacts._MEMOS}
    assert {"artifact:minhash_pair_graph", "artifact:cc_labels",
            "artifact:exact_topk", "artifact:bpe_merges",
            "artifact:dsir_scores"} <= names
    assert set(bench._artifact_builders()) == names | {
        "artifact:quantizers"}

    memo = artifacts._MEMOS["bpe_merges"]
    saved = dict(memo)
    try:
        memo.clear()
        for i in range(artifacts.MAX_ENTRIES):
            memo[("dead-app", f"/corpus{i}")] = []
        merges = llm._get_bpe_merges(spark, SF)
        key = (spark.sparkContext.applicationId, os.path.abspath(SF))
        assert merges and memo[key] is merges
        assert len(memo) == artifacts.MAX_ENTRIES
        assert ("dead-app", "/corpus0") not in memo
        assert ("dead-app", "/corpus1") in memo
    finally:
        memo.clear()
        memo.update(saved)

