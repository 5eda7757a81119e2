"""Data-retention operators: targeted deletion from a partitioned
corpus (takedown requests / right-to-be-forgotten) with
partition-pruned rewrites.

A training corpus at 100 TB cannot rewrite itself to drop a handful
of documents. The discipline: find the partitions that actually
contain victims (a semi join), rewrite ONLY those directories
(dynamic partition overwrite), and leave every other file untouched —
the delete cost scales with the affected partitions, not the corpus.
With a table format (Delta/Iceberg) this is DELETE + compaction; the
plumbing here is the same decision structure on plain parquet.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..execution import checkpoint

#: Spark/Hive's directory name for a NULL partition value.
HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition(name: str):
    """Invert Spark's Hive partition-path escaping for the VALUE part
    of a `col=value` directory name: ``__HIVE_DEFAULT_PARTITION__`` is
    NULL, ``%XX`` is a percent-encoded byte (Spark escapes ``/ : = %``
    etc. this way when writing partition dirs)."""
    if name == HIVE_NULL_PART:
        return None
    return re.sub("%([0-9A-Fa-f]{2})",
                  lambda m: chr(int(m.group(1), 16)), name)


def _null_last(values):
    """Deterministic partition-value ordering that tolerates NULL
    (sorted() on mixed None/str raises TypeError)."""
    return sorted(values, key=lambda p: (p is None, "" if p is None else str(p)))


def snapshot_diff(cur: DataFrame, prev: DataFrame) -> DataFrame:
    """Corpus snapshot diff — dataset versioning's core query: which
    rows were added, removed, changed, or unchanged between two corpus
    snapshots. Output: (doc_id, status).

    Scale notes: each side is projected to (id, md5(content)) BEFORE
    the full-outer join, so wide text/binary columns never travel —
    the exchange carries 8+16 bytes per row. One shuffle per side on
    the id; with both snapshots bucketed by id it is shuffle-free.
    Presence is tracked with explicit flags (not id-NULL checks) so
    NULL content and NULL-id corner rows cannot masquerade as
    absence; content equality is null-safe (NULL content on both
    sides compares as unchanged)."""
    a = cur.select(F.col("doc_id").alias("_id"),
                   F.md5(F.col("text")).alias("_h_cur"),
                   F.lit(1).alias("_in_cur"))
    b = prev.select(F.col("doc_id").alias("_id"),
                    F.md5(F.col("text")).alias("_h_prev"),
                    F.lit(1).alias("_in_prev"))
    j = a.join(b, "_id", "full_outer")
    status = (
        F.when(F.col("_in_prev").isNull(), F.lit("added"))
         .when(F.col("_in_cur").isNull(), F.lit("removed"))
         .when(F.col("_h_cur").eqNullSafe(F.col("_h_prev")),
               F.lit("unchanged"))
         .otherwise(F.lit("changed")))
    return j.select(F.col("_id").alias("doc_id"), status.alias("status"))


def delete_ids(spark: SparkSession, corpus_dir: str, ids: DataFrame) -> dict:
    """Delete every row whose `doc_id` appears in `ids` from the
    Hive-partitioned parquet corpus at `corpus_dir`, rewriting only
    the partitions that contain at least one victim.

    Returns {"partitions_rewritten": [...], "rows_deleted": n}.

    Scale notes: the victim id list is takedown-sized → broadcast
    semi/anti joins; the rewrite reads and writes only the affected
    partition directories (plus their lineage-breaking checkpoint —
    required because Spark refuses to overwrite a path it is reading);
    untouched partitions are never opened. Dynamic partition
    overwrite swaps each rewritten directory atomically.

    NULL partition values are supported: membership uses a null-safe
    branch (`isin` never matches NULL — victims in the NULL partition
    would otherwise be reported deleted while surviving on disk), and
    emptied-directory cleanup resolves directory names from the actual
    filesystem listing via Spark's own partition-path escaping
    (`__HIVE_DEFAULT_PARTITION__`, percent-encoded specials) instead of
    naive f-string formatting."""
    import shutil
    corpus = spark.read.parquet(corpus_dir)
    affected = [r[0] for r in
                (corpus.join(F.broadcast(ids), "doc_id", "left_semi")
                       .select("source").distinct().collect())]
    if not affected:
        return {"partitions_rewritten": [], "rows_deleted": 0}

    non_null = [p for p in affected if p is not None]
    cond = (F.col("source").isin(non_null) if non_null
            else F.lit(False))
    if any(p is None for p in affected):
        cond = cond | F.col("source").isNull()
    hit = corpus.where(cond)
    n_before = hit.count()
    # break source lineage
    remaining = checkpoint(hit.join(F.broadcast(ids), "doc_id", "left_anti"))
    n_after = remaining.count()

    # dynamic overwrite replaces only partitions PRESENT in the output:
    # a partition whose every row is a victim contributes no rows, so
    # its directory must be removed explicitly or the victims survive
    survivors = {r[0] for r in
                 remaining.select("source").distinct().collect()}
    emptied = {p for p in affected if p not in survivors}
    # per-write scoping via the DataFrameWriter option — no session
    # conf mutation, so a concurrent writer on the same session never
    # sees a flipped global overwrite mode
    if n_after > 0:
        (remaining.write.mode("overwrite")
                  .option("partitionOverwriteMode", "dynamic")
                  .partitionBy("source").parquet(corpus_dir))
    # emptied partitions contribute no rows to the dynamic overwrite,
    # so their directories must go explicitly — resolved from the real
    # listing (NULL and escaped values don't round-trip through
    # f"{col}={value}")
    import os
    prefix = "source="
    # compare as strings: Spark may have inferred a non-string type for
    # the partition column, while directory names are always text
    emptied_str = {None if p is None else str(p) for p in emptied}
    for d in os.listdir(corpus_dir):
        full = os.path.join(corpus_dir, d)
        if (d.startswith(prefix) and os.path.isdir(full)
                and _unescape_partition(d[len(prefix):]) in emptied_str):
            shutil.rmtree(full, ignore_errors=True)
    return {"partitions_rewritten": _null_last(affected),
            "rows_deleted": n_before - n_after}


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """CDC MERGE: apply a change feed (I/U/D rows with a sequence
    number) to a base snapshot and return the next snapshot — the
    Delta/Iceberg ``MERGE INTO`` shape on plain DataFrames, and the
    batch twin of the streaming `incremental_rollup` upsert.

    Semantics: per key, the HIGHEST-`seq` change wins (late feed
    entries supersede earlier ones — the multi-batch CDC compaction
    rule; seq ties broken by op ascending; the feed contract is
    unique seq per key — full-tie rows must be payload-identical or
    the pick among them is undefined, as in any CDC compactor);
    'D' drops the row,
    'I'/'U' take the change's payload (an 'U' for an absent key
    behaves as insert, an 'I' for a present key as update — the
    idempotent upsert convention); keys without changes pass
    through. Output adds `action` ('kept'/'inserted'/'updated') for
    audit. Presence is tracked with explicit flags, never payload
    nullness — NULL payloads are legal data.

    Scale shape: the change feed aggregates to latest-per-key (one
    shuffle of the CHANGES, which are deltas — small), then ONE
    full-outer hash join against the base on the key. The base
    shuffles once on its key; with both sides bucketed on the key
    (operators/skew bucketing) the exchange disappears entirely. No
    windows over the base, no iteration."""
    from pyspark.sql import Window
    w = Window.partitionBy("_k").orderBy(F.col("seq").desc(),
                                         F.col("_op").asc())
    latest = (changes.select(F.col("doc_id").alias("_k"),
                             F.col("op").alias("_op"),
                             F.col("seq"), F.col("text").alias("_c_text"))
                     .withColumn("_rn", F.row_number().over(w))
                     .where(F.col("_rn") == 1)
                     .drop("_rn", "seq")
                     .withColumn("_in_changes", F.lit(1)))
    b = (base.select(F.col("doc_id").alias("_k"), F.col("text"))
             .withColumn("_in_base", F.lit(1)))
    j = b.join(latest, "_k", "full_outer")
    return (j.where(F.col("_op").isNull() | (F.col("_op") != "D"))
             .select(
                 F.col("_k").alias("doc_id"),
                 F.when(F.col("_in_changes").isNotNull(), F.col("_c_text"))
                  .otherwise(F.col("text")).alias("text"),
                 F.when(F.col("_in_changes").isNull(), F.lit("kept"))
                  .when(F.col("_in_base").isNull(), F.lit("inserted"))
                  .otherwise(F.lit("updated")).alias("action")))
