"""Derive a ×N corpus from a corpus dir, so every catalog query can run
at scale on the same 10 tables it is graded on.

`region` and `nation` are copied once. Every other table is written N
times into one parquet file of the source's schema (same column order
and types). Copy c offsets each key column by c × (max of its key
domain + 1), read from the data, so copies never share a key while
every foreign-key join keeps its source match count per copy:

* customer / orders / lineitem / part / supplier keys, event and user
  ids, doc ids and vec ids all stay disjoint across copies;
* `documents.text` takes copy c's disjoint-vocabulary variant
  (`amplified_text_variants`), so copies share no token and near-dup
  density stays that of the source; `n_chars` is recomputed;
* `embeddings.embedding` is rotated by c dimensions: norms are kept,
  cosine across copies is close to random.

Copy 0 is the source itself. N = 0 writes the empty corpus (only
`region` and `nation` keep rows). `out` may not lie inside `src` or
the directory holding the committed corpora, which are read-only.

Usage: python tools/make_corpus.py <src> <N> <out>
"""

from __future__ import annotations

import os
import shutil
import sys

#: tables every copy shares
SHARED = ("region", "nation")

#: table → {key column: key domain}; one offset per domain keeps each
#: foreign key on its referenced key
KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}


def amplified_text_variants(amplify: int):
    """One text variant per copy with pairwise-DISJOINT vocabulary:
    within a 26-copy group, a Caesar shift of the letters; across
    groups, a per-group token suffix (regexp appended to every token).
    Copies therefore share no shingles with each other OR with other
    groups, so document density (near-dup structure, shingle df
    profile) matches the original corpus — the honest way to amplify
    for dedup ops. (A naive suffix perturbation makes every copy a
    near-dup of its original: candidate pairs grow N², which is
    output, not overhead.)"""
    from pyspark.sql import functions as F
    alpha = "abcdefghijklmnopqrstuvwxyz"
    variants = []
    for c in range(amplify):
        shift, group = c % 26, c // 26
        v = F.translate("text", alpha, alpha[shift:] + alpha[:shift])
        if group > 0:
            v = F.regexp_replace(v, "([a-z0-9]+)", f"$1zq{group}")
        variants.append(v)
    return F.array(*variants)


def key_offsets(spark, src: str) -> dict[str, int]:
    """Per key domain, max over every column in it + 1."""
    from pyspark.sql import functions as F
    top: dict[str, int] = {}
    for table, keys in KEYS.items():
        row = (spark.read.parquet(f"{src}/{table}.parquet")
               .agg(*[F.max(k).alias(k) for k in keys]).first())
        for k, domain in keys.items():
            top[domain] = max(top.get(domain, -1), row[k] or 0)
    return {domain: m + 1 for domain, m in top.items()}


def amplify(df, table: str, n: int, offsets: dict[str, int]):
    """`table` ×`n` in the source's column order and types, each
    source row followed by its copies (the order the envelope figures
    in SCALE.md were measured on)."""
    from pyspark.sql import functions as F

    from ethereum_export_pipeline_spark.operators.similarity import EMB_DIM
    dim = EMB_DIM
    keys = KEYS[table]
    rot = F.expr(
        f"concat(slice(embedding, (copy % {dim}) + 1, "
        f"{dim} - (copy % {dim})), slice(embedding, 1, copy % {dim}))")
    cols = []
    for name, dtype in df.dtypes:
        if name in keys:
            col = F.col(name) + F.col("copy") * offsets[keys[name]]
        elif table == "documents" and name == "text":
            # one variant even at N = 0, so `text` keeps its type
            col = F.element_at(amplified_text_variants(max(n, 1)),
                               F.col("copy").cast("int") + 1)
        elif table == "embeddings" and name == "embedding":
            col = rot
        else:
            col = F.col(name)
        cols.append(col.cast(dtype).alias(name))
    copies = df.sparkSession.range(n).select(F.col("id").alias("copy"))
    out = df.crossJoin(copies).select(*cols)
    if table == "documents":
        out = out.withColumn("n_chars",
                             F.length("text").cast(dict(df.dtypes)["n_chars"]))
    return out


def _write_one_file(df, path: str) -> None:
    """`df` as the single parquet file `path` (the source layout)."""
    tmp = f"{path}.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part, = [p for p in os.listdir(tmp) if p.endswith(".parquet")]
    os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)


def derive(spark, src: str, n: int, out: str) -> str:
    """Write the ×`n` derivation of corpus `src` to `out`; return `out`."""
    from ethereum_export_pipeline_spark.sources.tables import DEFAULT_SF_DIR
    src, out = os.path.realpath(src), os.path.realpath(out)
    for ro in (src, os.path.realpath(os.path.dirname(DEFAULT_SF_DIR))):
        if os.path.commonpath([out, ro]) == ro:
            raise ValueError(f"{out} is inside the read-only corpus root {ro}")
    if n < 0:
        raise ValueError(f"N must be >= 0, got {n}")
    os.makedirs(out, exist_ok=True)
    for table in SHARED:
        shutil.copyfile(f"{src}/{table}.parquet", f"{out}/{table}.parquet")
    offsets = key_offsets(spark, src)
    for table in KEYS:
        df = spark.read.parquet(f"{src}/{table}.parquet")
        _write_one_file(amplify(df, table, n, offsets),
                        f"{out}/{table}.parquet")
    return out


def main() -> int:
    if len(sys.argv) != 4:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    src, n, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from ethereum_export_pipeline_spark.session import get_spark
    spark = get_spark("make_corpus")
    derive(spark, src, n, out)
    spark.stop()
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
