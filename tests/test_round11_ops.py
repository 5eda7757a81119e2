"""Round-11 operator tests: same-application bucketed-table eviction
parks the entry (tables included) instead of DROPping tables a
still-live lazy frame scans; and the heavy-Arrow py-path step fix — the
Int.MaxValue maxBytesPerBatch sentinel is applied everywhere, and a
type-diverse Arrow batch no longer multiplies the JVM CPU of later
mapInPandas stages (the round-10 open item, bisected and closed this
round; see SCALE.md and session.RUNTIME_CONFS).
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


# ----------------- same-app bucketed eviction parks, never DROPs

def test_bucketed_same_app_eviction_parks_orphan(spark, scratch_eviction):
    """Filling the bucketed memo past its cap inside ONE application
    must not DROP/rmtree the evicted entry (a lazy `_bucketed_join`
    frame over another corpus still scans it): the entry parks with
    its tables, live-app sweeps leave it alone, and it is reclaimed
    once a different application touches the registry."""
    from ethereum_export_pipeline_spark.plans import eth

    (ot, _, _), orphan = scratch_eviction(
        "bucketed_tables", eth._bucketed_tables,
        lambda d: ("bkt_orders_live0", "bkt_lineitem_live0", d))
    assert orphan[2] == ("bkt_orders_live0", "bkt_lineitem_live0")
    # the freshly built entry works
    assert spark.table(ot).count() > 0


# ---------------- the heavy-Arrow py-path step (r10 open item)

def test_arrow_bytecap_sentinel_applied(spark):
    """RUNTIME_CONFS must carry the Int.MaxValue maxBytesPerBatch
    sentinel (the only value at which Spark 4.1's JVM→Python writer
    skips the per-row ArrowWriter.sizeInBytes walk — the surface the
    type-pollution step acted on), and ensure_conf must deliver it to
    externally created sessions."""
    from ethereum_export_pipeline_spark.session import (RUNTIME_CONFS,
                                                        ensure_conf)
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    assert RUNTIME_CONFS[key] == "2147483647"
    assert ensure_conf(spark).conf.get(key) == "2147483647"


def test_ensure_conf_keeps_caller_width_and_aqe(spark):
    """A table load must not reset the shuffle width or AQE the caller
    chose (speed defaults fill only unset keys), must still force the
    correctness confs, and a bare external session still receives
    every conf."""
    from ethereum_export_pipeline_spark.session import (RUNTIME_CONFS,
                                                        ensure_conf,
                                                        local_cpus)
    from ethereum_export_pipeline_spark.sources.tables import load_table
    width = "spark.sql.shuffle.partitions"
    aqe = "spark.sql.adaptive.enabled"
    tz = "spark.sql.session.timeZone"
    caller = spark.newSession()
    caller.conf.set(width, "7")
    caller.conf.set(aqe, "false")
    caller.conf.set(tz, "America/New_York")
    load_table(caller, SF, "region")
    assert caller.conf.get(width) == "7"
    assert caller.conf.get(aqe) == "false"
    assert caller.conf.get(tz) == "UTC"

    expect = {width: str(max(local_cpus(), 4)), aqe: "true",
              "spark.sql.adaptive.coalescePartitions.enabled": "true",
              "spark.sql.adaptive.skewJoin.enabled": "true",
              **RUNTIME_CONFS}
    bare = spark.newSession()
    for k in expect:
        bare.conf.unset(k)
    ensure_conf(bare)
    assert {k: bare.conf.get(k) for k in expect} == expect


def test_stream_child_keeps_caller_width_and_aqe(spark):
    """A stream row's isolated child starts from the caller's shuffle
    width and AQE keys, not the SparkConf's; the caller's confs stay
    as set, and the answer equals the default-width one. The caller's
    width is below the stream width rule's floor of 4, so the rule
    leaves it as it is."""
    import __spark_entry__ as e
    row = e.queries()["stream_tumbling_counts"]
    width = "spark.sql.shuffle.partitions"
    aqe = "spark.sql.adaptive.enabled"
    caller = spark.newSession()
    caller.conf.set(width, "3")
    caller.conf.set(aqe, "false")
    got = row(caller, SF)
    child = got.sparkSession
    assert child is not caller
    assert (child.conf.get(width), child.conf.get(aqe)) == ("3", "false")
    assert (caller.conf.get(width), caller.conf.get(aqe)) == ("3", "false")
    assert sorted(got.collect()) == sorted(row(spark, SF).collect())


def test_type_diverse_arrow_batch_does_not_inflate_py_path(spark):
    """The step's mechanism, pinned by CPU TIME (robust to co-tenant
    wall-clock noise): a fixed mapInPandas workload's JVM CPU must not
    multiply after one tiny type-diverse Arrow batch (binary + string
    + double + array columns). Without the sentinel this ratio
    measured ~6× (5.7 → 33 CPU-s on the 8M-row canary); with it,
    ~1.0-1.3×. Threshold 2.5× leaves room for JIT warm-up noise while
    catching any regression of the fix."""
    def _jvm_cpu() -> float:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[-1].split()
        return (int(parts[11]) + int(parts[12])) / 100.0

    def _canary_cpu() -> float:
        def f(pdfs):
            for pdf in pdfs:
                yield pdf.assign(v=(pdf["id"] * 2654435761 % 1000003))
        best = float("inf")
        for _ in range(2):
            c0 = _jvm_cpu()
            spark.range(0, 4_000_000, 1, 8) \
                 .mapInPandas(f, "id long, v long") \
                 .selectExpr("sum(v)").collect()
            best = min(best, _jvm_cpu() - c0)
        return best

    _canary_cpu()  # warm the codegen + worker pool
    before = _canary_cpu()

    def gen(pdfs):
        import pandas as pd
        for pdf in pdfs:
            yield pd.DataFrame({
                "id": pdf["id"], "b": [b"x" * 1024] * len(pdf),
                "s": ["y" * 64] * len(pdf), "d": [1.5] * len(pdf),
                "arr": [[1, 2, 3]] * len(pdf)})

    def rd(pdfs):
        for pdf in pdfs:
            yield pdf[["id"]].assign(n=pdf["b"].str.len())

    (spark.range(0, 64, 1, 8)
          .mapInPandas(gen, "id long, b binary, s string, d double,"
                            " arr array<long>")
          .mapInPandas(rd, "id long, n long")
          .selectExpr("sum(n)").collect())

    after = _canary_cpu()
    assert after < max(before, 0.5) * 2.5, \
        (f"type-diverse Arrow batch re-inflated the py path: "
         f"{before:.2f} → {after:.2f} JVM CPU-s")
