"""Tests for the round-2 reference-parity additions: S5 topic-filtered
log decoding, S9 catalog registration, incremental bookmarks, and the
streaming availableNow path."""

from __future__ import annotations

import decimal

import pytest

from pyspark.sql import Row

from ethereum_export_pipeline_spark.operators.logs import (
    TRANSFER_SIG, token_transfers_from_logs)


def _topic_addr(addr_hex40: str) -> str:
    return "0x" + "0" * 24 + addr_hex40


def _data_uint(v: int) -> str:
    return "0x" + format(v, "064x")


def make_logs(spark, rows):
    return spark.createDataFrame(
        rows,
        "transaction_hash string, log_index long, address string, "
        "data string, topics string, block_number long")


def test_token_transfers_from_logs_decodes_transfer(spark):
    frm, to = "a" * 40, "b" * 40
    rows = [
        # a Transfer event
        Row(transaction_hash="0xt1", log_index=0, address="0xtoken1",
            data=_data_uint(123_456),
            topics=",".join([TRANSFER_SIG, _topic_addr(frm), _topic_addr(to)]),
            block_number=7),
        # wrong topic0 → dropped
        Row(transaction_hash="0xt2", log_index=1, address="0xtoken1",
            data=_data_uint(1), topics=",".join(["0x" + "9" * 64,
                                                 _topic_addr(frm),
                                                 _topic_addr(to)]),
            block_number=7),
        # Transfer sig but only 1 topic (ERC-20 w/o indexed args) → dropped
        Row(transaction_hash="0xt3", log_index=2, address="0xtoken1",
            data=_data_uint(5), topics=TRANSFER_SIG, block_number=8),
    ]
    out = token_transfers_from_logs(make_logs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.token_address == "0xtoken1"
    assert r.from_address == "0x" + frm
    assert r.to_address == "0x" + to
    assert r.value == decimal.Decimal(123_456)
    assert (r.transaction_hash, r.log_index, r.block_number) == ("0xt1", 0, 7)


def test_token_transfers_value_beyond_int64_exact(spark):
    big = 2 ** 100 + 12345   # needs both 64-bit limbs
    too_big = 2 ** 130       # above 2^128 → NULL, never wrapped
    rows = [
        Row(transaction_hash="0xa", log_index=0, address="0xtok",
            data=_data_uint(big),
            topics=",".join([TRANSFER_SIG, _topic_addr("1" * 40),
                             _topic_addr("2" * 40)]), block_number=1),
        Row(transaction_hash="0xb", log_index=1, address="0xtok",
            data=_data_uint(too_big),
            topics=",".join([TRANSFER_SIG, _topic_addr("1" * 40),
                             _topic_addr("2" * 40)]), block_number=1),
    ]
    got = {r.transaction_hash: r.value
           for r in token_transfers_from_logs(make_logs(spark, rows)).collect()}
    assert got["0xa"] == decimal.Decimal(big)
    assert got["0xb"] is None


def test_catalog_registration_sql_surface(spark, eth_fixture_dir):
    from ethereum_export_pipeline_spark.sources.catalog import (
        drop_database, register_fixture_tables)
    register_fixture_tables(spark, eth_fixture_dir, database="eth_test")
    try:
        n = spark.sql("""
            SELECT count(*) AS n FROM eth_test.transactions t
            JOIN eth_test.blocks b ON t.block_number = b.number
        """).collect()[0].n
        assert n == 200  # 40 blocks × 5 txs
        # wei type survives catalog round trip
        dt = dict(spark.table("eth_test.blocks").dtypes)["difficulty"]
        assert dt == "decimal(38,0)"
    finally:
        drop_database(spark, "eth_test")


def test_catalog_partitioned_tables_prune(spark, eth_fixture_dir, tmp_path):
    from ethereum_export_pipeline_spark.operators.convert import convert_to_parquet
    from ethereum_export_pipeline_spark.sources.catalog import (
        drop_database, register_converted_tables)
    from ethereum_export_pipeline_spark.sources.csv_source import write_partition_csv
    from ethereum_export_pipeline_spark.sources.chain import FixtureChain

    csv_root, pq_root = str(tmp_path / "csv"), str(tmp_path / "pq")
    chain = FixtureChain(spark, eth_fixture_dir)
    for s, e in [(0, 19), (20, 39)]:
        blocks, _ = chain.export_blocks_and_transactions(s, e)
        write_partition_csv(blocks, csv_root, "blocks", s, e)
    convert_to_parquet(spark, csv_root, "blocks", pq_root)

    register_converted_tables(spark, pq_root, database="eth_part",
                              tables=("blocks",))
    try:
        q = spark.sql("SELECT count(*) AS n FROM eth_part.blocks "
                      "WHERE start_block = '00000000'")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert q.collect()[0].n == 20
        assert "start_block" in plan  # partition filter present
    finally:
        drop_database(spark, "eth_part")


def test_incremental_bookmarks_skip_processed(spark, tmp_path):
    from ethereum_export_pipeline_spark.incremental import run_incremental
    manifest = str(tmp_path / "manifest")
    plan = [(0, 9), (10, 19), (20, 29)]
    seen: list[tuple[int, int]] = []

    first = run_incremental(spark, manifest, "blocks", plan,
                            lambda s, e: seen.append((s, e)))
    assert first == plan and seen == plan

    second = run_incremental(spark, manifest, "blocks", plan,
                             lambda s, e: seen.append((s, e)))
    assert second == [] and seen == plan  # bookmark: nothing reprocessed

    # a new range → only it is processed
    third = run_incremental(spark, manifest, "blocks", plan + [(30, 39)],
                            lambda s, e: seen.append((s, e)))
    assert third == [(30, 39)]
    # another table is independent
    other = run_incremental(spark, manifest, "transactions", plan[:1],
                            lambda s, e: seen.append((s, e)))
    assert other == [(0, 9)]


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.streaming import (
        WINDOW_US, stream_tumbling_counts)
    path = str(tmp_path / "events")
    n = 1000
    (spark.range(n)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") * 90_000_000_000).alias("ts"))  # 90 s apart, ns
          .write.parquet(path))
    got = {r.win: (r.n, r.first_event, r.last_event)
           for r in stream_tumbling_counts(spark, path).collect()}
    exp = {}
    for i in range(n):
        w = (i * 90_000_000_000 // 1000) // WINDOW_US
        lo, hi, cnt = exp.get(w, (i, i, 0))
        exp[w] = (min(lo, i), max(hi, i), cnt + 1)
    assert got == {w: (c, lo, hi) for w, (lo, hi, c) in exp.items()}


def test_stateful_stream_sessionize_equals_batch(spark, tmp_path):
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.streaming.sessions import stream_sessionize
    path = str(tmp_path / "sess_events")
    # 3 users × 200 events, gaps engineered around the 30-min cut
    (spark.range(600)
          .select((F.col("id") % 3).alias("user_id"),
                  F.col("id").alias("event_id"),
                  # every 20th event jumps 2h → new session
                  (F.col("id") * 60_000_000_000
                   + (F.col("id") / 20).cast("long") * 7_200_000_000_000)
                  .alias("ts"))
          .write.parquet(path))
    got = {(r.user_id, r.session_seq): (r.n_events, r.start_us, r.dur_us)
           for r in stream_sessionize(spark, path).collect()}

    # batch twin via the catalog sessionizer logic
    from pyspark.sql import Window
    e = (spark.read.parquet(path)
              .select("user_id", "event_id", F.expr("ts div 1000").alias("ts_us")))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (e.withColumn("prev", F.lag("ts_us").over(w))
              .withColumn("new", F.when(F.col("prev").isNull()
                                        | (F.col("ts_us") - F.col("prev") > 1_800_000_000), 1)
                                  .otherwise(0))
              .withColumn("seq", F.sum("new").over(run))
              .groupBy("user_id", "seq")
              .agg(F.count("*").alias("n"), F.min("ts_us").alias("s"),
                   (F.max("ts_us") - F.min("ts_us")).alias("d")))
    exp = {(r.user_id, r.seq): (r.n, r.s, r.d) for r in batch.collect()}
    assert got == exp


def test_sessionize_key_carries_state_across_batches():
    """A session continuing across micro-batches must resume with the
    carried start/n_events (not crash on a None start), and a session
    closed untouched must not be re-emitted."""
    import pandas as pd
    from ethereum_export_pipeline_spark.streaming.sessions import (
        SESSION_GAP_US, _sessionize_key)

    class FakeState:
        def __init__(self, v=None):
            self._v = v

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    def run(state, ts_list):
        out = list(_sessionize_key(
            (7,), iter([pd.DataFrame({"ts_us": ts_list})]), state))
        return pd.concat(out).itertuples(index=False) if out else []

    # batch 1: two events, one open session
    st = FakeState()
    rows = [tuple(r) for r in run(st, [0, 60_000_000])]
    assert rows == [(7, 1, 2, 0, 60_000_000)]
    assert st._v == (0, 60_000_000, 2, 1)

    # batch 2a: event CONTINUES the open session (within the gap) —
    # the pre-fix crash path; start/n_events must carry over
    st2 = FakeState((0, 60_000_000, 2, 1))
    rows = [tuple(r) for r in run(st2, [120_000_000])]
    assert rows == [(7, 1, 3, 0, 120_000_000)]
    assert st2._v == (0, 120_000_000, 3, 1)

    # batch 2b: event OPENS a new session — the closed carried session
    # was already emitted with identical values, so only the new one
    # is emitted
    st3 = FakeState((0, 60_000_000, 2, 1))
    t = 60_000_000 + SESSION_GAP_US + 1
    rows = [tuple(r) for r in run(st3, [t])]
    assert rows == [(7, 2, 1, t, 0)]
    assert st3._v == (t, t, 1, 2)


def test_incremental_convert_processes_only_new_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ethereum_export_pipeline_spark.streaming import incremental_convert
    src = tmp_path / "src"; src.mkdir()
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")

    pq.write_table(pa.table({"id": list(range(100))}),
                   src / "batch1.parquet")
    assert incremental_convert(spark, str(src), dest, ckpt) == 100

    # re-run with nothing new: checkpoint skips everything
    assert incremental_convert(spark, str(src), dest, ckpt) == 0

    # add a file: only it is processed
    pq.write_table(pa.table({"id": list(range(100, 130))}),
                   src / "batch2.parquet")
    assert incremental_convert(spark, str(src), dest, ckpt) == 30
    assert spark.read.parquet(dest).count() == 130


def test_python_datasource_chain_scan():
    from ethereum_export_pipeline_spark.sources.datasource import (
        ChainDataSource, ChainRange)
    source = ChainDataSource({"batch_size": 100})
    schema = source.schema()
    reader = source.streamReader(schema)
    # one InputPartition per batch_size blocks of a micro-batch (ragged
    # last): blocks [0, 250) in batches of 100
    assert [(p.start, p.end) for p in
            reader.partitions({"block": 0}, {"block": 250})] == [
        (0, 99), (100, 199), (200, 249)]
    # deterministic chain linkage: parent_hash(n) == hash(n-1)
    idx = [f.name for f in schema.fields].index
    rows = list(reader.read(ChainRange(0, 1)))
    assert rows[1][idx("parent_hash")] == rows[0][idx("hash")]
    assert rows[0][idx("parent_hash")] == "0x" + "0" * 64
    # wei schema survives (decimal(38,0) columns present, null here)
    assert schema["difficulty"].dataType.simpleString() == "decimal(38,0)"
    assert rows[0][idx("difficulty")] is None


def test_python_datasource_chain_stream(spark):
    from ethereum_export_pipeline_spark.session import isolated_session
    from ethereum_export_pipeline_spark.sources.datasource import (
        ChainDataSource)
    # registered on a child: a session created after its parent
    # registered the source inherits a poisoned registry entry
    spark = isolated_session(spark)
    spark.dataSource.register(ChainDataSource)
    sdf = (spark.readStream.format("ethereum_chain")
                .option("start", 0).option("head", 249)
                .option("batch_size", 100).load())
    q = (sdf.writeStream.format("memory").queryName("chain_tail")
             .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("chain_tail")
    assert got.count() == 250
    assert got.selectExpr("max(number)").collect()[0][0] == 249


def test_chain_export_token_transfers_from_logs(spark, eth_fixture_dir):
    import decimal
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.operators.logs import TRANSFER_SIG
    from ethereum_export_pipeline_spark.sources.chain import FixtureChain
    chain = FixtureChain(spark, eth_fixture_dir)

    decoded = chain.export_token_transfers_from_logs(0, 19)
    raw = chain._table("logs").where(
        (F.col("block_number").between(0, 19))
        & F.col("topics").startswith(TRANSFER_SIG + ","))
    assert decoded.count() == raw.count() > 0
    r = decoded.orderBy("transaction_hash", "log_index").first()
    assert r.from_address.startswith("0x") and len(r.from_address) == 42
    assert isinstance(r.value, decimal.Decimal) and r.value >= 0
    # decoded value round-trips the hex data of its source log
    src = raw.where((F.col("transaction_hash") == r.transaction_hash)
                    & (F.col("log_index") == r.log_index)).first()
    assert int(src.data[2:], 16) == int(r.value)


def test_watermarked_window_drops_late_rows(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ethereum_export_pipeline_spark.streaming import (
        WINDOW_US, stream_watermark_counts)
    src = tmp_path / "wm"; src.mkdir()
    base = 1_700_000_000_000_000  # µs epoch

    def write(name, rows):
        pq.write_table(pa.table({
            "event_id": [r[0] for r in rows],
            "ts": pa.array([base + r[1] for r in rows],
                           pa.timestamp("us", tz="UTC"))}), src / name)

    minute = 60_000_000
    write("b1.parquet", [(1, 0), (2, 5 * minute),
                         (3, 120 * minute)])  # advances watermark far ahead
    # append mode: only windows fully below the watermark emit
    emitted = {r.win_start: r.n
               for r in stream_watermark_counts(spark, str(src)).collect()}
    first_win = base // WINDOW_US * WINDOW_US  # epoch-aligned 10-min window
    head_win = (base + 120 * minute) // WINDOW_US * WINDOW_US
    assert emitted.get(first_win) == 2  # the closed early window emitted
    assert head_win not in emitted      # open head window withheld


def test_stream_chain_export_reference_layout(spark, tmp_path):
    import os
    from ethereum_export_pipeline_spark.streaming import stream_chain_export
    dest, ckpt = str(tmp_path / "chain_pq"), str(tmp_path / "chain_ckpt")
    plan = [(0, 99), (100, 199), (200, 299)]
    stream_chain_export(spark, dest, ckpt, plan=plan)
    df = spark.read.parquet(dest)
    assert df.count() == 250
    assert os.path.isdir(f"{dest}/start_block=00000200/end_block=00000299")
    # partition pruning works on the streamed layout
    assert (df.where("start_block = '00000100'").count() == 100)


def test_incremental_commit_each_survives_midplan_crash(spark, tmp_path):
    from ethereum_export_pipeline_spark.incremental import run_incremental
    manifest = str(tmp_path / "crash_manifest")
    plan = [(0, 9), (10, 19), (20, 29)]
    seen = []

    def boom(s, e):
        if s == 20:
            raise RuntimeError("node died")
        seen.append((s, e))

    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        run_incremental(spark, manifest, "blocks", plan, boom)
    # per-range commits survived: only the failed range re-runs
    redo = run_incremental(spark, manifest, "blocks", plan,
                           lambda s, e: seen.append((s, e)))
    assert redo == [(20, 29)]
    assert seen == [(0, 9), (10, 19), (20, 29)]


def test_malformed_long_data_decodes_to_null(spark):
    rows = [Row(transaction_hash="0xm", log_index=0, address="0xtok",
                data="0x" + "f" * 128,  # 64 bytes: malformed for ERC-20
                topics=",".join([TRANSFER_SIG, _topic_addr("1" * 40),
                                 _topic_addr("2" * 40)]), block_number=1)]
    [r] = token_transfers_from_logs(make_logs(spark, rows)).collect()
    assert r.value is None  # NULL, never a silently wrong number


def test_streaming_watermark_withholds_open_windows(spark, tmp_path):
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.streaming import (
        WINDOW_US, WM_DELAY_S, stream_watermark_counts)
    path = str(tmp_path / "wm_events")
    n = 100
    (spark.range(n)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") * 90_000_000_000).alias("ts"))  # 90 s apart, ns
          .write.parquet(path))
    delay_s = WM_DELAY_S
    got = {r.win_start: r.n
           for r in stream_watermark_counts(spark, path).collect()}
    # append mode: only windows closed by the final watermark emit
    max_us = (n - 1) * 90_000_000
    cutoff = (max_us // 1000 - delay_s * 1000) * 1000
    exp = {}
    for i in range(n):
        w = (i * 90_000_000 // WINDOW_US) * WINDOW_US
        exp[w] = exp.get(w, 0) + 1
    exp = {w: c for w, c in exp.items() if w + WINDOW_US <= cutoff}
    assert got == exp
    assert exp  # emits something...
    # ...and genuinely withholds the open tail windows
    assert len(exp) < len({(i * 90_000_000 // WINDOW_US) for i in range(n)})


def test_stream_interval_join_boundaries(spark, tmp_path):
    import pyspark.sql.functions as F
    from pyspark.sql import Row
    from ethereum_export_pipeline_spark.streaming import stream_interval_join
    path = str(tmp_path / "ij_events")
    m = 60_000_000_000  # 1 min in ns
    # base > 0: a watermarked join drops rows at event time <= the
    # INITIAL watermark (epoch 0), so ts=0 fixtures silently vanish
    b = 86_400 * 1_000_000_000
    rows = [
        Row(event_id=1, user_id=1, event_type="click",    ts=b + 0 * m),
        Row(event_id=2, user_id=1, event_type="purchase", ts=b + 10 * m),
        Row(event_id=3, user_id=1, event_type="purchase", ts=b + 60 * m),  # == gap
        Row(event_id=4, user_id=1, event_type="purchase", ts=b + 61 * m),  # > gap
        Row(event_id=5, user_id=2, event_type="purchase", ts=b + 5 * m),   # other user
        Row(event_id=6, user_id=3, event_type="click",    ts=b + 100 * m),  # no buy
    ]
    spark.createDataFrame(rows).write.parquet(path)
    got = sorted((r.click_id, r.buy_id, r.delta_us)
                 for r in stream_interval_join(spark, path).collect())
    # inclusive upper bound (<= click_ts + gap); cross-user never joins
    assert got == [(1, 2, 600_000_000), (1, 3, 3_600_000_000)]


def test_stream_dedup_within_watermark_one_row_per_key(spark, tmp_path):
    import pyspark.sql.functions as F
    from ethereum_export_pipeline_spark.streaming import (
        stream_dedup_within_watermark)
    path = str(tmp_path / "ddw_events")
    n = 300
    (spark.range(n)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 7).alias("user_id"),
                  F.concat(F.lit("t"), (F.col("id") % 3).cast("string"))
                   .alias("event_type"),
                  (F.col("id") * 1_000_000_000).alias("ts"))
          .write.parquet(path))
    out = stream_dedup_within_watermark(spark, path).collect()
    keys = {(r.user_id, r.event_type) for r in out}
    assert len(out) == len(keys) == 21  # 7 users × 3 types, no dup rows


def test_staged_csv_writer_two_phase_commit(spark, tmp_path):
    import json, os
    from ethereum_export_pipeline_spark.sources import staged_sink
    dest = str(tmp_path / "staged_out")
    df = (spark.range(100)
               .selectExpr("id AS number", "concat('0x', id) AS hash",
                           "CASE WHEN id = 7 THEN 'a,\"b\"' END AS memo")
               .repartition(4))
    # append into a directory with no export yet starts one
    staged_sink.write_staged_csv(df, dest, "append")
    man = staged_sink.read_manifest(dest)
    # manifest totals match, staging is gone, files exist as listed
    assert man["total_rows"] == 100
    assert man["columns"] == ["number", "hash", "memo"]
    assert sum(f["rows"] for f in man["files"]) == 100
    assert not os.path.isdir(os.path.join(dest, "_staging"))
    for f in man["files"]:
        assert os.path.isfile(os.path.join(dest, f["file"]))
    # the CSV round-trips through Spark's reader (RFC-4180 doubled
    # quotes → escape='"'; Spark's default escape is backslash)
    back = (spark.read.option("header", "true")
                 .option("escape", '"').csv(dest))
    assert back.count() == 100
    assert back.where("number = 7").collect()[0].memo == 'a,"b"'
    # overwrite mode replaces the previous export atomically
    staged_sink.write_staged_csv(
        spark.range(10).selectExpr("id AS number", "'h' AS hash",
                                   "'m' AS memo").repartition(2),
        dest, "overwrite")
    man2 = staged_sink.read_manifest(dest)
    assert man2["total_rows"] == 10
    assert spark.read.option("header", "true").csv(dest).count() == 10
    # append ACCUMULATES: run-unique part names never collide with a
    # prior run's files, and the manifest merges both runs
    staged_sink.write_staged_csv(
        spark.range(5).selectExpr("id AS number", "'h2' AS hash",
                                  "'m2' AS memo").repartition(1),
        dest, "append")
    man3 = staged_sink.read_manifest(dest)
    assert man3["total_rows"] == 15
    assert len(man3["files"]) == 3  # 2 from overwrite run + 1 appended
    assert spark.read.option("header", "true").csv(dest).count() == 15

    # crash-orphan reconciliation: a run that died between renaming a
    # part in and writing the manifest leaves an unlisted CSV — the
    # next commit must remove it so plain directory reads agree with
    # the manifest instead of double-counting forever
    orphan = os.path.join(dest, "part-deadbeef-00000000.csv")
    with open(orphan, "w") as f:
        f.write("number,hash,memo\n1,0xdead,zombie\n")
    staged_sink.write_staged_csv(
        spark.range(2).selectExpr("id AS number", "'h3' AS hash",
                                  "'m3' AS memo").repartition(1),
        dest, "append")
    man4 = staged_sink.read_manifest(dest)
    assert man4["total_rows"] == 17
    assert not os.path.exists(orphan)
    assert spark.read.option("header", "true").csv(dest).count() == 17


def test_staged_csv_quoted_newline_counts_one_row(spark, tmp_path):
    """A quoted cell may hold a newline: the per-file `rows` count
    records, not lines, and the value round-trips."""
    import os
    from ethereum_export_pipeline_spark.sources.staged_sink import (
        read_manifest, write_staged_csv)
    dest = str(tmp_path / "nl_out")
    df = (spark.range(40)
               .selectExpr("id AS number",
                           "CASE WHEN id % 10 = 3 THEN concat('x', char(10), "
                           "'y,\"z\"') ELSE 'plain' END AS memo")
               .repartition(2, "number"))
    write_staged_csv(df, dest, "overwrite")
    man = read_manifest(dest)
    assert man["total_rows"] == 40
    lines = 0
    for f in man["files"]:
        back = (spark.read.option("header", True).option("escape", '"')
                     .option("multiLine", True)
                     .csv(os.path.join(dest, f["file"])))
        assert back.count() == f["rows"]
        with open(os.path.join(dest, f["file"])) as fh:
            lines += fh.read().count("\n")
    # 4 rows span two lines each, beside one header line per file
    assert lines == len(man["files"]) + 40 + 4
    got = {int(r.number): r.memo for r in
           spark.read.option("header", True).option("escape", '"')
                .option("multiLine", True).csv(dest).collect()}
    assert got[13] == 'x\ny,"z"' and got[14] == "plain" and len(got) == 40


def test_staged_csv_failed_write_leaves_prior_export(spark, tmp_path):
    """A task that raises aborts the run: the prior files and manifest
    stay byte-identical and no `_staging` is left."""
    import os
    import pyspark.sql.functions as F
    import pytest
    from ethereum_export_pipeline_spark.sources.staged_sink import (
        write_staged_csv)
    dest = str(tmp_path / "abort_out")
    write_staged_csv(spark.range(20).selectExpr("id AS number"), dest,
                     "overwrite")

    def snapshot():
        out = {}
        for name in sorted(os.listdir(dest)):
            full = os.path.join(dest, name)
            if os.path.isfile(full):
                with open(full, "rb") as fh:
                    out[name] = fh.read()
            else:
                out[name] = None  # a directory: `_staging` left behind
        return out

    before = snapshot()
    bad = spark.range(30).select(
        F.when(F.col("id") == 17, F.raise_error(F.lit("boom")))
         .otherwise(F.col("id")).alias("number"))
    for mode in ("overwrite", "append"):
        with pytest.raises(Exception, match="boom"):
            write_staged_csv(bad, dest, mode)
        assert snapshot() == before
        assert not os.path.exists(os.path.join(dest, "_staging"))


def test_staged_csv_zero_rows(spark, tmp_path):
    """A 0-row export commits: total_rows 0, reads back as 0 rows."""
    import os
    from ethereum_export_pipeline_spark.sources.staged_sink import (
        read_manifest, write_staged_csv)
    dest = str(tmp_path / "empty_out")
    write_staged_csv(spark.range(10).where("id > 100")
                          .selectExpr("id AS number", "'h' AS hash"),
                     dest, "overwrite")
    man = read_manifest(dest)
    assert man["total_rows"] == 0
    assert man["columns"] == ["number", "hash"]
    assert all(f["rows"] == 0 for f in man["files"])
    paths = [os.path.join(dest, f["file"]) for f in man["files"]]
    assert spark.read.option("header", True).csv(paths).count() == 0
    assert not os.path.isdir(os.path.join(dest, "_staging"))


def _read_one_file_per_trigger(spark, path):
    """`streaming.read_stream` over a directory, one file per
    micro-batch: the multi-batch runs that exercise cross-batch state."""
    from ethereum_export_pipeline_spark.session import isolated_session
    child = isolated_session(spark)
    return (child.readStream.schema(child.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def test_stream_interval_join_cross_batch_state(spark, tmp_path,
                                                monkeypatch):
    """One file per trigger forces clicks (batch 1) and purchases
    (batch 2) into separate micro-batches: every match below requires
    the join to CARRY click state across the batch boundary — a
    stateless per-batch join would emit nothing. (WHEN evicted state
    stops matching is engine-internal timing — cleanup runs after a
    batch — so only retention, the guaranteed property, is pinned.)"""
    import time
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ethereum_export_pipeline_spark import streaming
    monkeypatch.setattr(streaming, "read_stream", _read_one_file_per_trigger)
    src = tmp_path / "ij_batches"; src.mkdir()
    s = 1_000_000_000  # 1 s in ns
    day = 86_400 * s

    def write(name, rows):  # rows: (event_id, user_id, type, ts_ns)
        pq.write_table(pa.table({
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
            "ts": [r[3] for r in rows]}), src / name)

    write("f1.parquet", [
        (1, 1, "click", day + 0 * s),
        (2, 2, "click", day + 10_000 * s),
    ])
    time.sleep(1.1)  # distinct mtime → deterministic batch order
    write("f2.parquet", [
        (3, 1, "purchase", day + 300 * s),     # in click 1's gap
        (4, 2, "purchase", day + 10_100 * s),  # in click 2's gap
        (5, 2, "purchase", day + 20_000 * s),  # beyond IJ_GAP_S (1 h)
    ])
    got = sorted((r.click_id, r.buy_id, r.delta_us) for r in
                 streaming.stream_interval_join(spark, str(src)).collect())
    assert got == [(1, 3, 300_000_000), (2, 4, 100_000_000)]


def test_session_window_boundary_and_withheld_tail(spark, tmp_path):
    """Built-in session_window: exactly-gap events merge; sessions not
    closed by the final watermark are withheld in append mode."""
    import datetime
    from ethereum_export_pipeline_spark.streaming import (
        stream_session_window_counts)
    base = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, secs):
        return (eid, base + datetime.timedelta(seconds=secs), uid,
                "click", 0.0, "{}")

    # SW_GAP_US = 30 min, SW_DELAY_S = 30 min
    rows = [ev(1, 1, 0), ev(2, 1, 1_800),     # merge at exactly the gap
            ev(3, 2, 0), ev(4, 2, 1_801),     # split beyond gap
            ev(5, 3, 9_000)]                  # open tail at stream end
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path / "events_dir")      # plain dir: the production
    df.coalesce(1).write.parquet(p)       # file-stream layout
    out = stream_session_window_counts(spark, p)
    got = [(r.user_id, r.n_events) for r in out.collect()]
    # watermark = max(9000s) - 1800s → closes every session but user 3's
    assert (1, 2) in got                      # exact-gap pair merged
    assert got.count((2, 1)) == 2             # split into two singletons
    assert all(u != 3 for u, _ in got)        # open tail withheld


def test_interval_join_outer_unmatched_and_withheld(spark, tmp_path):
    """LEFT OUTER interval join: matched pairs carry delta, closed
    unmatched clicks emit NULL-padded, boundary/late clicks are
    withheld until the watermark proves no match can arrive."""
    import datetime
    from ethereum_export_pipeline_spark.streaming import (
        stream_interval_join_outer)
    base = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, secs, typ):
        return (eid, base + datetime.timedelta(seconds=secs), uid, typ,
                0.0, "{}")

    # IJ_GAP_S = 1 h, IJ_DELAY_S = 2 h
    rows = [ev(1, 1, 0, "click"), ev(2, 1, 60, "purchase"),   # match
            ev(3, 2, 0, "click"),                              # no buy
            ev(4, 3, 80_000, "click"),                         # near end
            ev(5, 9, 100_000, "purchase"),                     # advances wm
            ev(6, 9, 100_000, "click"),                        # matches 5
            ev(7, 10, 100_000, "click")]                       # open tail
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    p = str(tmp_path / "ev_outer")
    df.coalesce(1).write.parquet(p)
    out = {r.click_id: r for r in stream_interval_join_outer(
        spark, p).collect()}
    assert out[1].matched == 1 and out[1].delta_us == 60_000_000
    assert out[3].matched == 0 and out[3].buy_id is None
    # wm = min(click max, buy max) - 7_200 s = 100_000 - 7_200 = 92_800 s;
    # click 4 at 80_000: 80_000+3_600 < 92_800 → closed, emits unmatched;
    # click 6 matches purchase 5 instantly (matches ignore the wm);
    # click 7 at 100_000 unmatched: 103_600 > wm → withheld
    assert out[4].matched == 0
    assert out[6].matched == 1 and out[6].delta_us == 0
    assert 7 not in out


def test_cusum_cross_batch_state_carry(spark, tmp_path):
    """CUSUM state must CARRY across micro-batches: an alarm whose
    accumulation spans two batches fires only if s survived batch 1."""
    import datetime, os
    from ethereum_export_pipeline_spark.streaming.sessions import (
        CUSUM_H, CUSUM_K0, stream_cusum_alerts)
    base = datetime.datetime(2024, 1, 1)

    def ev(eid, secs, cents):
        return (eid, base + datetime.timedelta(seconds=secs), 1,
                "click", cents / 100.0, "{}")

    # each event adds (16000 - k0) = 10000; alarm needs s > 20000 →
    # third event fires (s = 30000), with events 1-2 in batch 1 and
    # event 3 in batch 2
    p = str(tmp_path / "cusum")
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    spark.createDataFrame([ev(1, 0, 16_000), ev(2, 10, 16_000)],
                          schema).coalesce(1).write.parquet(p)
    import glob, shutil
    b2 = str(tmp_path / "b2")
    spark.createDataFrame([ev(3, 20, 16_000)], schema
                          ).coalesce(1).write.parquet(b2)
    for f in glob.glob(f"{b2}/part-*.parquet"):
        shutil.move(f, os.path.join(p, "zz-" + os.path.basename(f)))

    from ethereum_export_pipeline_spark.sources.tables import (
        with_event_time)
    from pyspark.sql.streaming.state import GroupStateTimeout
    # force two batches: one file per trigger (file order = name order,
    # so batch 1 = events 1-2, batch 2 = event 3)
    sdf = with_event_time(_read_one_file_per_trigger(spark, p))
    from ethereum_export_pipeline_spark.streaming.sessions import (
        ALERT_SCHEMA, CUSUM_STATE, _cusum_key)
    from ethereum_export_pipeline_spark.streaming import (
        run_available_now)
    keyed = (sdf.selectExpr("user_id", "(ts_ns div 1000) AS ts_us",
                            "event_id",
                            "CAST(round(value * 100) AS BIGINT) AS x")
                .groupBy("user_id"))
    agg = keyed.applyInPandasWithState(
        _cusum_key, ALERT_SCHEMA, CUSUM_STATE,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
    out = run_available_now(agg, output_mode="update").collect()
    assert [(r.event_id, r.s_cents) for r in out] == [(3, 30_000)]
