"""tools/make_corpus.py: a ×N derivation keeps the source's schema and
join structure exactly, copy by copy, and the catalog stays correct on
it."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import make_corpus  # noqa: E402

from ethereum_export_pipeline_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR)

CORPORA = os.path.dirname(DEFAULT_SF_DIR)
SRC = f"{CORPORA}/sf0.001"
N = 3

#: (child table, fk column, parent table, key column)
FOREIGN_KEYS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


@pytest.fixture(scope="module")
def derived(spark, tmp_path_factory):
    return make_corpus.derive(spark, SRC, N,
                              str(tmp_path_factory.mktemp("x3")))


def _read(spark, d, t):
    return spark.read.parquet(f"{d}/{t}.parquet")


def test_schema_and_row_counts(spark, derived):
    for t in make_corpus.SHARED + tuple(make_corpus.KEYS):
        src = pq.read_schema(f"{SRC}/{t}.parquet").remove_metadata()
        got = pq.read_schema(f"{derived}/{t}.parquet").remove_metadata()
        assert got.equals(src), (t, src, got)
        want = _read(spark, SRC, t).count()
        if t not in make_corpus.SHARED:
            want *= N
        assert _read(spark, derived, t).count() == want, t


def test_keys_stay_distinct_and_joins_scale_exactly(spark, derived):
    for t, keys in make_corpus.KEYS.items():
        for k in keys:
            n_src = _read(spark, SRC, t).select(k).distinct().count()
            n_got = _read(spark, derived, t).select(k).distinct().count()
            assert n_got == N * n_src, (t, k, n_src, n_got)
    for child, fk, parent, key in FOREIGN_KEYS:
        def matched(d):
            c, p = _read(spark, d, child), _read(spark, d, parent)
            return c.join(p, c[fk] == p[key]).count()
        assert matched(derived) == N * matched(SRC), (child, fk)


def test_copies_share_no_token_and_keep_norms(derived):
    def max_id(t, k):
        return int(pq.read_table(f"{SRC}/{t}.parquet", columns=[k])
                   .column(k).to_pandas().max())

    docs = pq.read_table(f"{derived}/documents.parquet").to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()
    doc_off = max_id("documents", "doc_id") + 1
    owner: dict[str, int] = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        copy = int(doc_id) // doc_off
        for tok in text.split():
            assert owner.setdefault(tok, copy) == copy, tok
    assert len(set(owner.values())) == N

    src = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
    emb = pq.read_table(f"{derived}/embeddings.parquet").to_pandas()
    norm = {int(v): np.linalg.norm(np.asarray(e, dtype=np.float64))
            for v, e in zip(src.vec_id, src.embedding)}
    vec_off = max_id("embeddings", "vec_id") + 1
    for v, e in zip(emb.vec_id, emb.embedding):
        got = np.linalg.norm(np.asarray(e, dtype=np.float64))
        assert got == pytest.approx(norm[int(v) % vec_off], rel=1e-9)


def test_emb_semantic_dedup_matches_oracle_at_x10(spark, tmp_path):
    """×10 of sf0.01 (5,000 vectors): the 0.3-cosine pair graph grows
    chains that min-label propagation does not settle in its rounds."""
    import oracle_check

    import __spark_entry__ as e
    d = make_corpus.derive(spark, f"{CORPORA}/sf0.01", 10,
                           str(tmp_path / "x10"))
    name = "emb_semantic_dedup"
    r = oracle_check.compare(name, e.queries()[name](spark, d),
                             e.oracle_sql()[name],
                             oracle_check.duck_connect(d))
    assert r["status"] == "OK", r
    assert r["rows_spark"] == 5000


def test_zero_copies_is_the_empty_corpus(spark, tmp_path):
    d = make_corpus.derive(spark, SRC, 0, str(tmp_path / "x0"))
    for t in make_corpus.SHARED + tuple(make_corpus.KEYS):
        src = pq.read_schema(f"{SRC}/{t}.parquet").remove_metadata()
        got = pq.ParquetFile(f"{d}/{t}.parquet")
        assert got.schema_arrow.remove_metadata().equals(src), t
        want = (pq.ParquetFile(f"{SRC}/{t}.parquet").metadata.num_rows
                if t in make_corpus.SHARED else 0)
        assert got.metadata.num_rows == want, t
