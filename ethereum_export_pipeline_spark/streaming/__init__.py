"""Structured Streaming surface.

The reference's only incremental story is "rerun the pipeline for new
block ranges" (ondemand scheduling, SURVEY O6) plus Glue job bookmarks
(convert_blocks_to_parquet.py:21,67). In Spark terms that maps to the
file source + ``trigger(availableNow=True)``: each run processes
exactly the files not seen by the checkpoint, then stops — bookmark
parity with exactly-once file tracking for free.

For the batch-bounded verification path (no checkpoint, memory sink)
`run_available_now` executes a windowed aggregation over a parquet
directory as a real streaming query and returns the result table —
semantically identical to the batch aggregate, which is what the
DuckDB oracle checks.

Custom stateful operators use `applyInPandasWithState`
(streaming/sessions.py). Spark 4's newer `transformWithStateInPandas`
API is NOT used: its Python driver worker needs google.protobuf,
which this environment does not ship (verified: the runner crashes
with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE on import). The
sessionizer's logic is API-agnostic and ports to a StatefulProcessor
(ValueState holding the same 4-field open-session tuple) when
protobuf is available.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..execution import checkpoint
from ..session import isolated_session

WINDOW_US = 600_000_000  # 10-minute tumbling windows, µs
HOP_US = WINDOW_US // 2  # hopping windows advance by half a window
TRENDING_K = 2  # stream_trending keeps the top 2 event types per window
CHAIN_BUCKET = 100  # stream_chain_counts groups blocks by number div this
CHAIN_HEAD = 999  # stream_chain_counts aggregates blocks 0..999
EXPORT_HEAD = 249  # stream_chain_export lands blocks 0..249
IJ_DELAY_S = 7200  # the interval joins' watermark delay
IJ_GAP_S = 3600  # the interval joins' click → purchase window, seconds
WM_DELAY_S = 1800  # stream_watermark_counts' watermark delay
SW_GAP_US = 1_800_000_000  # stream_session_window_counts' session gap, µs
SW_DELAY_S = 1800  # stream_session_window_counts' watermark delay
ROLLUP_RANGE = 25  # incremental_rollup partitions windows by win div this
#: a bounded stream gets one state partition per this many input bytes
STREAM_BYTES_PER_PARTITION = 4 << 20


def _chain_session(spark: SparkSession) -> tuple[SparkSession, bool]:
    """Session for a chain-source stream: an isolated child when the
    Python data source can register there, else the caller's session.

    The fallback exists because the Python data-source registry
    snapshot a child inherits from an already-registered parent is
    POISONED (verified on Spark 4.1: re-register raises
    DATA_SOURCE_ALREADY_EXISTS, yet load still fails with
    DATA_SOURCE_NOT_FOUND) — so when the caller registered
    `ethereum_chain` on their own session first, the stream must run
    there. Returns (session, isolated): callers must not clamp
    session confs when `isolated` is False."""
    from ..sources import datasource
    child = isolated_session(spark)
    try:
        child.dataSource.register(datasource.ChainDataSource)
        return child, True
    except Exception as ex:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(ex):
            raise
    datasource.register(spark)  # idempotent
    return spark, False


def read_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over parquet, schema pinned from a static
    read (streaming sources must never infer per-batch).

    Spark's FileStreamSource forces ``basePath`` to the given path, so
    a single .parquet FILE cannot be streamed directly; we stage a
    symlink inside a temp directory and stream that directory — the
    production layout (a directory files land in) needs none of this.

    The stream is built on an ISOLATED child session: the stateful
    entry points clamp ``spark.sql.shuffle.partitions`` around query
    start (`run_available_now`) and upsert sinks flip
    ``partitionOverwriteMode`` — on a child session those mutations
    cannot race a query concurrently planning on the caller's session
    (cross-session joins against the caller's static frames still
    work: same SparkContext, execution resolves on one session)."""
    spark = isolated_session(spark)
    static = spark.read.parquet(path)
    if path.rstrip("/").endswith(".parquet") and os.path.isfile(path):
        from ..util import scratch_dir
        staged = scratch_dir("spark_graft_stream_")
        os.symlink(os.path.abspath(path),
                   os.path.join(staged, os.path.basename(path)))
        path = staged
    return spark.readStream.schema(static.schema).parquet(path)


def bounded_stream_width(spark: SparkSession, path: str) -> int | None:
    """State-partition width for a BOUNDED streaming run, sized to the
    input: every stateful operator commits one state store PER SHUFFLE
    PARTITION per micro-batch, so running a 2 MB fixture at the
    session's 32-wide default pays 32 store commits × operators for a
    handful of keys — measured 7.4 s → 2.0 s on the sf0.1 interval
    join. Large inputs keep the session width (returns None). On a
    production stream the checkpoint pins the width at first start and
    the operator sizes it to expected key cardinality explicitly; this
    heuristic only shapes fresh checkpointless runs."""
    try:
        if os.path.isdir(path):
            size = sum(os.path.getsize(os.path.join(r, f))
                       for r, _, fs in os.walk(path) for f in fs)
        else:
            size = os.path.getsize(path)
    except OSError:
        return None
    sess_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(4, size // STREAM_BYTES_PER_PARTITION)
    return int(width) if width < sess_width else None


def run_available_now(agg: DataFrame, output_mode: str = "complete",
                      width: int | None = None) -> DataFrame:
    """Run a (possibly aggregating) streaming DataFrame to completion
    with availableNow + memory sink; return the result. ``width``
    overrides the state-partition count for this query (read from
    spark.sql.shuffle.partitions at query START; restored after)."""
    spark = agg.sparkSession
    name = f"stream_sink_{uuid.uuid4().hex[:8]}"
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    if width is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        q = (agg.writeStream.format("memory").queryName(name)
                .outputMode(output_mode).trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_width)
    return spark.table(name)


def stream_tumbling_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Tumbling-window event counts computed BY THE STREAMING ENGINE —
    integer microsecond arithmetic on the normalized `ts_ns` (see
    `sources.tables.with_event_time`), grouped per window.
    Complete-mode output equals the batch answer."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    agg = (
        sdf.groupBy(F.expr(f"(ts_ns div 1000) div {WINDOW_US}").alias("win"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("first_event"),
                F.max("event_id").alias("last_event"))
    )
    return run_available_now(agg,
                             width=bounded_stream_width(spark, events_path))


def stream_hopping_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Hopping (sliding) window counts by the streaming engine: each
    event lands in WINDOW_US/HOP_US overlapping windows, expressed as
    an integer-arithmetic explode BEFORE the keyed aggregation (the
    same fan-out `F.window(slideDuration=...)` performs internally,
    kept in µs integers so the DuckDB oracle is exact)."""
    n = WINDOW_US // HOP_US
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    fanned = sdf.select(
        "event_id",
        F.explode(F.expr(
            f"transform(sequence(0, {n - 1}), "
            f"k -> ((ts_ns div 1000) div {HOP_US} - k) * {HOP_US})"))
         .alias("win_start"),
    ).where(F.col("win_start") >= 0)
    agg = (fanned.groupBy("win_start")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.min("event_id").alias("first_event"),
                      F.max("event_id").alias("last_event")))
    return run_available_now(agg,
                             width=bounded_stream_width(spark, events_path))


def stream_watermark_counts(spark: SparkSession,
                            events_path: str) -> DataFrame:
    """APPEND-mode tumbling counts behind a watermark — the
    bounded-state recipe for infinite streams (complete mode keeps
    every window forever). A window only emits once the watermark
    (max seen event time − `WM_DELAY_S`) passes its end; rows later than
    the watermark would be dropped. With availableNow the engine runs
    a final no-data micro-batch that advances the watermark and
    flushes every closed window, so the output is deterministic:
    exactly the windows whose end ≤ max_event_time − delay — the
    still-open tail windows are withheld (measured on 4.1; the DuckDB
    oracle encodes the same cutoff, ms-truncated the way Spark tracks
    event time)."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    evt = sdf.select(F.expr("timestamp_micros(ts_ns div 1000)").alias("evt_ts"),
                     "event_id")
    agg = (evt.withWatermark("evt_ts", f"{WM_DELAY_S} seconds")
              .groupBy(F.window("evt_ts", f"{WINDOW_US // 1_000_000} seconds")
                        .alias("w"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min("event_id").alias("first_event"),
                   F.max("event_id").alias("last_event"))
              .select(F.unix_micros("w.start").alias("win_start"),
                      "n", "first_event", "last_event"))
    return run_available_now(agg, output_mode="append",
                             width=bounded_stream_width(spark, events_path))


def stream_session_window_counts(spark: SparkSession,
                                 events_path: str) -> DataFrame:
    """Per-user session aggregation with Spark's BUILT-IN
    `session_window` — the declarative sibling of the
    applyInPandasWithState sessionizer in `streaming.sessions` (same
    semantics, engine-managed merge state instead of hand-written
    state code; both are catalog entries so the two implementations
    are pinned against each other through their oracles).

    Merge rule measured on 4.1 and encoded in the oracle: an event
    within OR AT exactly `SW_GAP_US` of the previous one extends the
    session (split strictly beyond the gap) — matching the batch
    sessionizer's `diff > gap` new-session flag. APPEND mode behind a
    watermark: a session only emits once the watermark (max event
    time − `SW_DELAY_S`, ms-truncated) passes its end (last event +
    gap), so the output is exactly the CLOSED sessions — open tails
    are withheld, which is what bounds state on an infinite stream.
    Returns (user_id, start_us, n_events, first_event, last_event).

    Scale shape: one shuffle on user_id into the session-merge state
    store; state is per OPEN session, evicted at emission — the
    watermark is the memory bound. Width sized to the bounded input
    via `bounded_stream_width` (production: size to expected
    concurrent-session cardinality)."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    evt = sdf.select(F.expr("timestamp_micros(ts_ns div 1000)").alias("evt_ts"),
                     "user_id", "event_id")
    agg = (evt.withWatermark("evt_ts", f"{SW_DELAY_S} seconds")
              .groupBy("user_id",
                       F.session_window("evt_ts",
                                        f"{SW_GAP_US // 1_000_000} seconds")
                        .alias("sw"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.min("event_id").alias("first_event"),
                   F.max("event_id").alias("last_event"))
              .select("user_id",
                      F.unix_micros("sw.start").alias("start_us"),
                      "n_events", "first_event", "last_event"))
    return run_available_now(agg, output_mode="append",
                             width=bounded_stream_width(spark, events_path))


def stream_exact_dedup(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming exact deduplication: `dropDuplicates` on the content
    hash INSIDE a streaming query — documents arriving in any batch
    are emitted once per distinct content (state = one entry per key;
    in production add a watermark via `dropDuplicatesWithinWatermark`
    to bound state for unbounded streams). availableNow output equals
    the batch distinct, which is what the oracle checks."""
    sdf = read_stream(spark, docs_path)
    keyed = (sdf.where("text IS NOT NULL")
                .selectExpr("md5(text) AS content_key")
                .dropDuplicates(["content_key"]))
    return run_available_now(keyed, output_mode="append",
                             width=bounded_stream_width(spark, docs_path))


def incremental_convert(spark: SparkSession, src_dir: str, dest_dir: str,
                        checkpoint_dir: str) -> int:
    """Checkpointed incremental file conversion — the exactly-once
    bookmark path (Glue `transformation_ctx`/`job.commit()` parity,
    reference convert_blocks_to_parquet.py:21,67): each call processes
    ONLY files the checkpoint has not seen, appends them to `dest_dir`,
    and stops (availableNow). Returns the number of rows written this
    run.

    At scale this is the convert job run from cron: no manifest
    bookkeeping in user code, the stream checkpoint IS the bookmark."""
    sdf = read_stream(spark, src_dir)
    n_before = 0
    try:
        n_before = spark.read.parquet(dest_dir).count()
    except Exception:
        pass
    q = (sdf.writeStream.format("parquet")
            .option("path", dest_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(dest_dir).count() - n_before


def windowed_counts_with_watermark(sdf: DataFrame) -> DataFrame:
    """Append-mode 10-minute window counts with a 30-minute watermark:
    rows later than that behind the max seen event time are dropped, and a
    window only emits once the watermark passes its end — the bounded-
    state recipe for infinite streams (complete mode would keep every
    window forever). Expects an event-time `ts` TIMESTAMP column."""
    return (sdf.withWatermark("ts", "30 minutes")
               .groupBy(F.window("ts", "10 minutes").alias("win"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("win.start").alias("win_start"), "n"))


def stream_chain_export(spark: SparkSession, dest_dir: str,
                        checkpoint_dir: str,
                        plan: list[tuple[int, int]] | None = None,
                        timeout_s: float = 120.0) -> None:
    """Streaming form of the whole export (S1-stream → A2 layout):
    tail the chain source up to `EXPORT_HEAD` and land blocks into the
    reference's Hive range layout with exactly-once checkpointing. Blocks keep
    arriving → new partition dirs appear; a restart resumes from the
    committed offset.

    Raises TimeoutError if the synthetic head has not fully landed
    within `timeout_s` — a partial export must never return silently
    (the checkpoint still holds the committed offset, so a retry with
    a larger timeout resumes, not restarts)."""
    from ..partitioning import default_export_plan, range_cols
    spark, _ = _chain_session(spark)
    sdf = (spark.readStream.format("ethereum_chain")
                .option("start", 0).option("head", EXPORT_HEAD)
                .option("batch_size", 100).load())
    start, end = range_cols("number", plan or default_export_plan())
    q = (sdf.select("*", start, end)
            .writeStream.format("parquet")
            .option("path", dest_dir)
            .option("checkpointLocation", checkpoint_dir)
            .partitionBy("start_block", "end_block")
            .outputMode("append").start())
    # the synthetic head is finite: stop once everything committed
    import time
    deadline = time.time() + timeout_s
    landed = 0
    while time.time() < deadline:
        try:
            landed = spark.read.parquet(dest_dir).count()
        except Exception:
            landed = 0
        if landed >= EXPORT_HEAD + 1:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    if landed < EXPORT_HEAD + 1:
        raise TimeoutError(
            f"stream_chain_export: only {landed}/{EXPORT_HEAD + 1} blocks "
            f"landed within {timeout_s}s; the checkpoint holds the committed "
            f"offset — rerun with a larger timeout_s to resume")


def stream_static_enrich(spark: SparkSession, events_path: str,
                         dim: DataFrame) -> DataFrame:
    """STREAM-STATIC enrichment join — the production shape where a
    fact stream is joined to a slowly-changing dimension table held as
    a broadcast (no state store involved: the static side is re-read
    per micro-batch, so dimension updates between batches are picked
    up), then aggregated per dimension attribute. The batch twin over
    the same inputs is the oracle."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    joined = sdf.join(F.broadcast(dim), "user_id")
    agg = (joined.groupBy("segment")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.min("event_id").alias("first_event"),
                      F.max("event_id").alias("last_event")))
    return run_available_now(agg,
                             width=bounded_stream_width(spark, events_path))


def stream_chain_counts(spark: SparkSession) -> DataFrame:
    """Streaming aggregation whose source is NOT a file directory: the
    registered `ethereum_chain` Python DataSourceStreamReader
    (sources/datasource.py) tails the chain — offsets are block
    numbers, each micro-batch covers (committed, CHAIN_HEAD] split into
    range partitions — and the streaming engine aggregates per
    block-range bucket. Proves the stateful operators compose with a
    custom streaming source, not just the parquet file source.

    The synthetic blocks are deterministic integer functions of the
    block number, so the batch-equivalent oracle recomputes the exact
    aggregate from `range(CHAIN_HEAD + 1)` — a full value-hash check
    with no files involved on either side."""
    spark, isolated = _chain_session(spark)
    sdf = (spark.readStream.format("ethereum_chain")
                .option("start", 0).option("head", CHAIN_HEAD)
                .option("batch_size", 100).load())
    agg = (sdf.groupBy(F.expr(f"number div {CHAIN_BUCKET}").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n_blocks"),
                   F.sum("gas_used").cast("long").alias("gas_used"),
                   F.sum("transaction_count").cast("long").alias("tx_count"),
                   F.max("size").cast("long").alias("max_size")))
    # bounded synthetic head: size the state width to the row count —
    # but ONLY when the stream runs on an isolated child (the clamp
    # mutates session conf; on the caller's session it would race a
    # concurrently-planning query)
    sess_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(4, (CHAIN_HEAD + 1) // 100_000)
    return run_available_now(
        agg, width=width if isolated and width < sess_w else None)


def stream_interval_join(spark: SparkSession, events_path: str) -> DataFrame:
    """STREAM-STREAM inner join with watermarks and a time-interval
    condition: click events joined to the same user's purchase events
    landing within `IJ_GAP_S` after the click — the attribution join, run
    by the streaming engine. Both sides carry watermarks and the join
    condition bounds event time in both directions, so state for rows
    older than the watermark is evicted — the recipe that keeps a
    stream-stream join's state finite on infinite streams.

    Inner-join matches emit as they are found (no output delay);
    with availableNow over a bounded input the result equals the batch
    interval self-join, which is what the oracle checks.

    Scale notes: the join shuffles both sides on user_id; the interval
    residual evaluates post-match. Skewed hot users concentrate state
    the same way any keyed stateful op does."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    base = sdf.select("event_id", "user_id", "event_type",
                      F.expr("timestamp_micros(ts_ns div 1000)")
                       .alias("evt_ts"))
    clicks = (base.where("event_type = 'click'")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("click_user"),
                          F.col("evt_ts").alias("click_ts"))
                  .withWatermark("click_ts", f"{IJ_DELAY_S} seconds"))
    buys = (base.where("event_type = 'purchase'")
                .select(F.col("event_id").alias("buy_id"),
                        F.col("user_id").alias("buy_user"),
                        F.col("evt_ts").alias("buy_ts"))
                .withWatermark("buy_ts", f"{IJ_DELAY_S} seconds"))
    j = clicks.join(
        buys,
        F.expr(f"click_user = buy_user AND buy_ts >= click_ts AND "
               f"buy_ts <= click_ts + INTERVAL {IJ_GAP_S} SECONDS"),
        "inner")
    out = j.select("click_id", "buy_id",
                   F.col("click_user").alias("user_id"),
                   (F.unix_micros("buy_ts") - F.unix_micros("click_ts"))
                   .alias("delta_us"))
    return run_available_now(out, output_mode="append",
                             width=bounded_stream_width(spark, events_path))


def stream_interval_join_outer(spark: SparkSession,
                               events_path: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the attribution join
    that also reports the NON-converting clicks (the rows an inner
    join silently drops are usually the business question). Same
    watermarked interval condition as `stream_interval_join`; the
    engine emits an unmatched click with NULL buy columns only once
    the watermark proves no matching purchase can still arrive
    (watermark past click_ts + gap — measured on 4.1: the cutoff is
    the FINAL watermark, max event time ms-truncated − delay, and
    clicks closer than `IJ_GAP_S` to it stay withheld). Emitted columns
    carry `matched` ∈ {0,1} and delta_us NULL for non-conversions.

    Scale notes: identical state shape to the inner join (both sides
    keyed on user, interval-bounded eviction); the outer rows add no
    state — they are emitted exactly at eviction time."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    base = sdf.select("event_id", "user_id", "event_type",
                      F.expr("timestamp_micros(ts_ns div 1000)")
                       .alias("evt_ts"))
    clicks = (base.where("event_type = 'click'")
                  .select(F.col("event_id").alias("click_id"),
                          F.col("user_id").alias("click_user"),
                          F.col("evt_ts").alias("click_ts"))
                  .withWatermark("click_ts", f"{IJ_DELAY_S} seconds"))
    buys = (base.where("event_type = 'purchase'")
                .select(F.col("event_id").alias("buy_id"),
                        F.col("user_id").alias("buy_user"),
                        F.col("evt_ts").alias("buy_ts"))
                .withWatermark("buy_ts", f"{IJ_DELAY_S} seconds"))
    j = clicks.join(
        buys,
        F.expr(f"click_user = buy_user AND buy_ts >= click_ts AND "
               f"buy_ts <= click_ts + INTERVAL {IJ_GAP_S} SECONDS"),
        "leftOuter")
    out = j.select("click_id",
                   F.col("click_user").alias("user_id"),
                   F.col("buy_id"),
                   F.when(F.col("buy_id").isNotNull(), 1).otherwise(0)
                    .cast("long").alias("matched"),
                   (F.unix_micros("buy_ts") - F.unix_micros("click_ts"))
                   .alias("delta_us"))
    return run_available_now(out, output_mode="append",
                             width=bounded_stream_width(spark, events_path))


def stream_dedup_within_watermark(spark: SparkSession,
                                  events_path: str) -> DataFrame:
    """Bounded-state streaming dedup via `dropDuplicatesWithinWatermark`
    — the production form of `stream_exact_dedup`: state for a key is
    DROPPED once the watermark passes its event time + delay, so an
    infinite stream holds finite dedup state (a key recurring after
    expiry re-emits — the deliberate trade for boundedness). Keyed on
    (user_id, event_type); only the key columns are emitted because
    WHICH physical row survives per key is an engine choice.

    With a single availableNow batch nothing expires mid-run, so the
    output equals DISTINCT (user_id, event_type) — the oracle."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    keyed = (sdf.select("user_id", "event_type",
                        F.expr("timestamp_micros(ts_ns div 1000)")
                         .alias("evt_ts"))
                .withWatermark("evt_ts", "3600 seconds")
                .dropDuplicatesWithinWatermark(["user_id", "event_type"])
                .select("user_id", "event_type"))
    return run_available_now(keyed, output_mode="append",
                             width=bounded_stream_width(spark, events_path))


def incremental_rollup(spark: SparkSession, src_dir: str, dest_dir: str,
                       checkpoint_dir: str) -> None:
    """Incrementally-maintained rollup table (materialized-view
    maintenance without a table format): a streaming tumbling-count in
    UPDATE mode emits, per micro-batch, the windows whose totals
    changed — with their FULL cumulative values, because the agg state
    (restored from the checkpoint across runs) carries prior batches —
    and `foreachBatch` upserts exactly those keys into a parquet
    rollup PARTITIONED BY `win_range` (`win div ROLLUP_RANGE`).

    The upsert physically rewrites ONLY the partition directories
    containing a touched window: read back just those partitions
    (partition-pruned scan), anti-join out the stale rows, union the
    new ones, dynamic-partition-overwrite — untouched directories are
    never opened, never rewritten, so the write cost scales with the
    batch's window spread, not the rollup's total history. Crash
    safety is replay idempotency: the micro-batch only commits to the
    checkpoint AFTER upsert returns, so a crash mid-write replays the
    same deterministic batch and the per-partition overwrite
    converges. With a table format (Delta/Iceberg) this is MERGE INTO;
    on an object store the directory commit becomes a manifest flip
    (see sources/staged_sink.py for that two-phase pattern).

    Each availableNow run reads ONLY files the checkpoint has not
    seen: the incremental convert job's discipline applied to an
    AGGREGATE."""
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, src_dir))
    agg = (sdf.groupBy(F.expr(f"(ts_ns div 1000) div {WINDOW_US}")
                        .alias("win"))
              .agg(F.count(F.lit(1)).alias("n")))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        new = (batch_df.select("win", "n")
                       .withColumn("win_range",
                                   F.expr(f"win div {ROLLUP_RANGE}")))
        if os.path.isdir(dest_dir):
            ranges = [r[0] for r in
                      new.select("win_range").distinct().collect()]
            if not ranges:
                return
            cur = (sess.read.parquet(dest_dir)
                       .where(F.col("win_range").isin(ranges)))
            # localCheckpoint breaks lineage back to dest_dir — Spark
            # refuses to overwrite a path a plan is reading from
            out = checkpoint(cur.join(new.select("win"), "win", "left_anti")
                                .unionByName(new))
        else:
            if new.isEmpty():
                return
            out = new
        old_mode = sess.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        sess.conf.set("spark.sql.sources.partitionOverwriteMode",
                      "dynamic")
        try:
            (out.write.mode("overwrite").partitionBy("win_range")
                .parquet(dest_dir))
        finally:
            sess.conf.set("spark.sql.sources.partitionOverwriteMode",
                          old_mode)

    q = (agg.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
    q.awaitTermination()


def stream_decontaminate(spark: SparkSession, docs_path: str,
                         bits: list[int]) -> DataFrame:
    """STATELESS streaming decontamination: documents stream in, each
    doc's distinct word n-gram shingles are built map-side as an
    ARRAY (no explode — the batch twin's exploded inverted index
    would force a per-doc re-aggregation, i.e. state), and every
    shingle is probed against the benchmark Bloom filter baked into
    the plan as a literal (operators/sketch.bloom_hit_pred inside a
    higher-order `filter` lambda). Output per doc: shingle count,
    Bloom-hit count, contamination verdict.

    This is the production shape for "check everything we ingest
    against the eval suites, live": the filter is ~512 B however
    large the benchmark set, the query keeps ZERO state between
    micro-batches (pure projection — no watermark, no state store,
    nothing to evict), and throughput is the file-source scan rate.
    Benchmark docs themselves (doc_id % BENCH_MOD == 0) are excluded
    from the stream: they define the filter."""
    from ..operators.dedup import BENCH_MOD, NGRAM_N
    from ..operators.sketch import bloom_hit_pred
    sdf = read_stream(spark, docs_path)
    n = NGRAM_N  # the batch `shingles` width the benchmark filter holds
    joined = ", ".join(f"element_at(t, i + {k + 1})" for k in range(n))
    sh = (f"CASE WHEN size(t) < {n} THEN array() "
          f"ELSE array_distinct(transform(sequence(0, size(t) - {n}), "
          f"i -> concat_ws(' ', {joined}))) END")
    pred = bloom_hit_pred("s", bits)
    out = (sdf.where(f"text IS NOT NULL AND doc_id % {BENCH_MOD} != 0")
              .selectExpr("doc_id",
                          "regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS t")
              .selectExpr("doc_id", f"{sh} AS sh")
              .selectExpr("doc_id",
                          "CAST(size(sh) AS BIGINT) AS n_shingles",
                          f"CAST(size(filter(sh, s -> {pred})) AS BIGINT) "
                          "AS n_bloom_hits")
              .withColumn("contaminated",
                          F.expr("CAST(n_bloom_hits > 0 AS BIGINT)")))
    return run_available_now(out, output_mode="append",
                             width=bounded_stream_width(spark, docs_path))


def stream_crawl_gate(spark: SparkSession, docs_path: str,
                      wrap_sql: str, strip_sql: str) -> DataFrame:
    """STATELESS streaming crawl gate — the live-ingest shape of the
    `doc_crawl_manifest` funnel head: every arriving RAW page is
    boilerplate-stripped and language/quality-gated in ONE pass.
    Strip, tokenize, both gate scores and the verdicts are all
    projections, so the query keeps ZERO state (no watermark, no
    state store) and runs at file-source scan rate; the dedup /
    decontamination tiers that need cross-doc state live in their own
    streaming ops (`stream_dedup`, `stream_decontaminate`).

    A stream cannot self-join on doc_id the way the batch funnel
    composes its gate frames (stream-stream equi joins need
    watermarks), so `quality_score` / `language_id` carry the needed
    columns through their `keep` parameter instead — the scoring
    expressions stay the operators' own, byte-identical to what the
    batch funnel grades."""
    from ..operators.text import (FUNNEL_MIN_QUALITY, FUNNEL_MIN_TOKENS,
                                  language_id, quality_score)
    sdf = read_stream(spark, docs_path)
    d = (sdf.where("text IS NOT NULL")
            .selectExpr("doc_id", "source", f"{wrap_sql} AS html")
            .selectExpr("doc_id", "source", f"{strip_sql} AS text"))
    q = quality_score(d, keep=("source", "text"))
    lang = language_id(q, keep=("source", "n_tokens", "quality_score"))
    out = lang.selectExpr(
        "doc_id", "source", "n_tokens", "pred_lang", "quality_score",
        f"CAST(n_tokens >= {FUNNEL_MIN_TOKENS} AS BIGINT) AS pass_tokens",
        "CAST(pred_lang = 'en' AS BIGINT) AS pass_lang",
        f"CAST(quality_score >= {FUNNEL_MIN_QUALITY!r} AS BIGINT) "
        "AS pass_quality",
        f"CAST(n_tokens >= {FUNNEL_MIN_TOKENS} AND pred_lang = 'en' AND "
        f"quality_score >= {FUNNEL_MIN_QUALITY!r} AS BIGINT) AS admitted")
    return run_available_now(out, output_mode="append",
                             width=bounded_stream_width(spark, docs_path))


def stream_value_histogram(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming histogram SKETCH — the streaming form of
    `q_sketch_percentiles`: per tumbling window, the log2-bucket
    histogram of the event's cents amount (bucket = bit length of the
    exact integer — no float log to disagree at boundaries), computed
    incrementally BY the streaming engine. The state the engine holds
    is (windows × ≤64 buckets) counters — bounded and MERGEABLE, which
    is the whole point: the serving layer reads any percentile off the
    cumulative counts of the latest window without the stream ever
    sorting or retaining raw values (the p99-latency-dashboard shape).
    Complete-mode output equals the batch answer (the oracle)."""
    from ..sources.tables import with_event_time
    sdf = (with_event_time(read_stream(spark, events_path))
           .where(F.col("value").isNotNull()))
    agg = (sdf.groupBy(
              F.expr(f"(ts_ns div 1000) div {WINDOW_US}").alias("win"),
              F.length(F.expr("bin(greatest("
                              "CAST(round(value * 100) AS BIGINT), 0L))"))
               .cast("long").alias("b"))
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return run_available_now(agg,
                             width=bounded_stream_width(spark, events_path))


def stream_trending(spark: SparkSession, events_path: str) -> DataFrame:
    """TRENDING detector — per tumbling window, the top-k event types
    by count (the "trending hashtags" product shape). Two layers, as
    production runs it:

      * STREAMED: the (window, type) count aggregate — state bounded
        by windows × types; the engine computes it incrementally
        across micro-batches.
      * SERVING: the per-window top-k rank over the MATERIALIZED
        aggregate — ranking is not incrementally maintainable in
        append mode (a late row can demote an already-emitted rank),
        so it belongs in the post-stream/foreachBatch layer, on the
        windows×types-sized result, never the event stream.

    Complete-mode output equals the batch answer (the oracle)."""
    from pyspark.sql import Window
    from ..sources.tables import with_event_time
    sdf = with_event_time(read_stream(spark, events_path))
    agg = (sdf.groupBy(
              F.expr(f"(ts_ns div 1000) div {WINDOW_US}").alias("win"),
              F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n")))
    out = run_available_now(agg,
                            width=bounded_stream_width(spark, events_path))
    w = Window.partitionBy("win").orderBy(F.col("n").desc(),
                                          F.col("event_type").asc())
    return (out.withColumn("rnk", F.row_number().over(w).cast("long"))
               .where(F.col("rnk") <= TRENDING_K)
               .select("win", "event_type",
                       F.col("n").cast("long").alias("n"), "rnk"))
