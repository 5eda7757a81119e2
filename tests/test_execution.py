"""`execution.checkpoint` is the one lineage-durability decision: with
a context checkpoint dir set, every iterative operator truncates into
it (reliably) and returns what the executor-local run returns, without
touching the context's dir."""

from __future__ import annotations

import os

import pytest

from ethereum_export_pipeline_spark.operators import dedup, graph, reorg, text

#: a triangle, a 4-cycle bridged to it, and a 10-node tail — enough for
#: every graph loop to iterate past `execution.PERIOD` where it can
EDGES = ([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 4)]
         + [(i, i + 1) for i in range(10, 20)])


def _edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def _pairs(spark):
    return spark.createDataFrame(EDGES, "doc_a long, doc_b long")


def _parents(spark):
    return spark.createDataFrame(
        [(i + 1, i) for i in range(10)] + [(20, 3), (21, 20)],
        "child long, parent long")


def _blocks(spark):
    rows = ([(h, f"m{h}", f"m{h - 1}") for h in range(8)]
            + [(6, "f6", "m5"), (7, "f7", "f6")])
    return spark.createDataFrame(rows,
                                 "height long, hash string, parent string")


def _hierarchy(spark):
    vals = spark.createDataFrame(
        [(n, n * 10) for n in list(range(11)) + [20, 21]],
        "c_custkey long, bal_cents long")
    return graph.hierarchy_aggregates(_parents(spark), vals)


def _bpe(spark):
    df = spark.createDataFrame([(1, "aaab aaab abab"), (2, "ab ba")],
                               "doc_id long, text string")
    return text.bpe_train(df)


ITERATIVE = {
    "pagerank_exact": lambda s: graph.pagerank_exact(
        _edges(s).selectExpr("CAST(src AS STRING) AS src",
                             "CAST(dst AS STRING) AS dst"), iters=9),
    "triangle_counts": lambda s: graph.triangle_counts(_edges(s)),
    "kcore_peel": lambda s: graph.kcore_peel(_edges(s)),
    "lpa_communities": lambda s: graph.lpa_communities(_edges(s)),
    "ancestor_closure": lambda s: graph.ancestor_closure(_parents(s),
                                                         rounds=4),
    "hierarchy_aggregates": _hierarchy,
    "connected_components": lambda s: dedup.connected_components(_pairs(s)),
    "connected_components_star": lambda s: dedup.connected_components_star(
        _pairs(s)),
    "resolve_reorgs": lambda s: reorg.resolve_reorgs(_blocks(s)),
    "bpe_train": _bpe,
}


@pytest.mark.parametrize("name", sorted(ITERATIVE))
def test_iterative_operator_reliable_checkpoint(spark, request, name):
    run = ITERATIVE[name]
    local = sorted(run(spark).collect())
    assert local
    ck = request.getfixturevalue("reliable_checkpoint_dir")
    sc = spark.sparkContext
    before = sc.getCheckpointDir()
    rel = sorted(run(spark).collect())
    assert rel == local
    assert any(files for _, _, files in os.walk(ck)), "no checkpoint data"
    assert sc.getCheckpointDir() == before
