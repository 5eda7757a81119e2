"""Streaming catalog entries — executed by Structured Streaming,
verified against the batch-equivalent DuckDB SQL (the strongest
correctness statement available for a stream: its complete-mode output
must equal the batch answer over the same inputs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming import (CHAIN_BUCKET, CHAIN_HEAD, HOP_US, IJ_DELAY_S,
                         IJ_GAP_S, SW_DELAY_S, SW_GAP_US, TRENDING_K,
                         WINDOW_US, WM_DELAY_S, stream_chain_counts,
                         stream_dedup_within_watermark,
                         stream_exact_dedup, stream_hopping_counts,
                         stream_interval_join,
                         stream_session_window_counts,
                         stream_static_enrich, stream_trending,
                         stream_tumbling_counts,
                         stream_value_histogram,
                         stream_watermark_counts)
from .analytics import _EVENTS_SESSIONS_SQL
from .base import Query


def _stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_tumbling_counts(spark,
                                  f"{sf_dir.rstrip('/')}/events.parquet")


def _stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_exact_dedup(spark,
                              f"{sf_dir.rstrip('/')}/documents.parquet")


_STREAM_DEDUP_SQL = """
SELECT DISTINCT md5(text) AS content_key
FROM documents WHERE text IS NOT NULL
"""


def _stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_hopping_counts(spark,
                                 f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_HOPPING_SQL = f"""
SELECT win_start, count(*) AS n,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM (SELECT event_id,
             (epoch_us(ts) // {HOP_US} - k) * {HOP_US} AS win_start
      FROM events, UNNEST(range({WINDOW_US // HOP_US})) u(k))
WHERE win_start >= 0
GROUP BY 1
"""


def _stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionization, verified against the SAME
    SQL oracle as the batch window sessionizer — custom stateful
    streaming with a full value-hash check."""
    from ..streaming.sessions import stream_sessionize
    return stream_sessionize(spark, f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_TUMBLING_SQL = f"""
SELECT epoch_us(ts) // {WINDOW_US} AS win, count(*) AS n,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events GROUP BY 1
"""


def _stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_watermark_counts(spark,
                                   f"{sf_dir.rstrip('/')}/events.parquet")


#: append-mode semantics: only windows closed by the final watermark
#: (max event time, ms-truncated as Spark tracks it, minus the delay)
#: are emitted — the oracle applies the same cutoff
_STREAM_WATERMARK_SQL = f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
m AS (SELECT max(us) AS max_us FROM e)
SELECT (us // {WINDOW_US}) * {WINDOW_US} AS win_start, count(*) AS n,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM e GROUP BY 1
HAVING win_start + {WINDOW_US} <=
       (SELECT (max_us // 1000 - {WM_DELAY_S * 1000}) * 1000 FROM m)
"""


def _stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_interval_join(spark,
                                f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_INTERVAL_JOIN_SQL = f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events)
SELECT a.event_id AS click_id, b.event_id AS buy_id,
       a.user_id AS user_id, b.us - a.us AS delta_us
FROM e a JOIN e b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND b.us >= a.us AND b.us <= a.us + {IJ_GAP_S * 1_000_000}
"""


def _stream_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-file streaming source: the `ethereum_chain` Python
    DataSourceStreamReader aggregated by the streaming engine;
    `sf_dir` is unused — the chain IS the source."""
    return stream_chain_counts(spark)


#: batch twin of the chain-source aggregate: the synthetic block at
#: height n has gas_used = n % 8_000_000, transaction_count = n % 200,
#: size = 500 + n % 1000 (sources/datasource.py _fake_block) — pure
#: integer functions DuckDB recomputes from range()
_STREAM_CHAIN_SQL = f"""
SELECT n // {CHAIN_BUCKET} AS bucket,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(n % 8000000) AS BIGINT) AS gas_used,
       CAST(sum(n % 200) AS BIGINT) AS tx_count,
       CAST(max(500 + n % 1000) AS BIGINT) AS max_size
FROM (SELECT unnest(range({CHAIN_HEAD + 1})) AS n)
GROUP BY 1
"""


def _stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream joined to
    the static customer dimension on user_id, aggregated per market
    segment by the streaming engine."""
    from ..sources.tables import load_table
    from pyspark.sql import functions as F
    dim = (load_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    return stream_static_enrich(spark,
                                f"{sf_dir.rstrip('/')}/events.parquet", dim)


_STREAM_ENRICH_SQL = """
SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


def _stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_dedup_within_watermark(
        spark, f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_DEDUP_WM_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def _stream_interval_join_outer(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked interval join — conversions AND the
    non-converting clicks. Cutoff semantics measured on 4.1 and
    encoded in the oracle: the global watermark is the MIN across
    both inputs' (max event time ms-truncated − delay), and an
    unmatched click emits iff click_ts + gap < wm STRICTLY (the
    fixture's last unmatched click lands exactly on the boundary and
    is withheld — the oracle pins that row)."""
    from ..streaming import stream_interval_join_outer
    return stream_interval_join_outer(
        spark, f"{sf_dir.rstrip('/')}/events.parquet")


def _stream_interval_join_outer_sql() -> str:
    gap_us = IJ_GAP_S * 1_000_000
    return f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events),
m AS (SELECT least(
        (SELECT (max(us) // 1000 - {IJ_DELAY_S * 1000}) * 1000
         FROM e WHERE event_type = 'click'),
        (SELECT (max(us) // 1000 - {IJ_DELAY_S * 1000}) * 1000
         FROM e WHERE event_type = 'purchase')) AS wm),
c AS (SELECT event_id AS click_id, user_id, us FROM e
      WHERE event_type = 'click'),
b AS (SELECT event_id AS buy_id, user_id, us FROM e
      WHERE event_type = 'purchase'),
matched AS (
  SELECT c.click_id, c.user_id, b.buy_id, CAST(1 AS BIGINT) AS matched,
         b.us - c.us AS delta_us
  FROM c JOIN b ON c.user_id = b.user_id
              AND b.us >= c.us AND b.us <= c.us + {gap_us}),
unmatched AS (
  SELECT c.click_id, c.user_id, CAST(NULL AS BIGINT) AS buy_id,
         CAST(0 AS BIGINT) AS matched, CAST(NULL AS BIGINT) AS delta_us
  FROM c, m
  WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = c.user_id
                    AND b.us >= c.us AND b.us <= c.us + {gap_us})
    AND c.us + {gap_us} < wm)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


def _stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful CUSUM drift alarms (streaming/sessions.py
    `stream_cusum_alerts`) — a sequential recurrence no window form
    expresses, verified VALUE-exactly against a per-user recursive-CTE
    oracle running the same integer recurrence."""
    from ..streaming.sessions import stream_cusum_alerts
    return stream_cusum_alerts(spark,
                               f"{sf_dir.rstrip('/')}/events.parquet")


def _stream_cusum_sql() -> str:
    from ..streaming.sessions import CUSUM_H, CUSUM_K0
    return f"""
WITH RECURSIVE e AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
c AS (
  SELECT user_id, event_id, rn,
         greatest(0, x - {CUSUM_K0}) AS raw,
         CASE WHEN greatest(0, x - {CUSUM_K0}) > {CUSUM_H} THEN 0
              ELSE greatest(0, x - {CUSUM_K0}) END AS s
  FROM e WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.rn,
         greatest(0, c.s + o.x - {CUSUM_K0}),
         CASE WHEN greatest(0, c.s + o.x - {CUSUM_K0}) > {CUSUM_H}
              THEN 0 ELSE greatest(0, c.s + o.x - {CUSUM_K0}) END
  FROM c JOIN e o ON o.user_id = c.user_id AND o.rn = c.rn + 1
)
SELECT user_id, event_id, CAST(raw AS BIGINT) AS s_cents
FROM c WHERE raw > {CUSUM_H}
"""


def _stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in `session_window` sessionization, append mode behind a
    watermark — the declarative twin of the applyInPandasWithState
    entry; only CLOSED sessions (end = last event + gap ≤ final
    watermark) emit."""
    return stream_session_window_counts(
        spark, f"{sf_dir.rstrip('/')}/events.parquet")


#: same gap sessionization as _EVENTS_SESSIONS_SQL plus the append-mode
#: emission cutoff: session end (last event + gap) ≤ watermark (max
#: event time ms-truncated − delay), measured on 4.1
_STREAM_SESSION_WINDOW_SQL = f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
m AS (SELECT (max(us) // 1000 - {SW_DELAY_S * 1000}) * 1000 AS wm FROM e),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {SW_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, event_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
agg AS (
  SELECT user_id, sid, min(us) AS start_us,
         CAST(count(*) AS BIGINT) AS n_events,
         min(event_id) AS first_event, max(event_id) AS last_event,
         max(us) + {SW_GAP_US} AS send
  FROM sess GROUP BY 1, 2
)
SELECT user_id, start_us, n_events, first_event, last_event
FROM agg, m WHERE send <= wm
"""


def _stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming Bloom decontamination (streaming.
    stream_decontaminate): the benchmark set's ~512 B filter is built
    batch-side at plan build (the benchmark is static; the corpus is
    the stream) and probed per incoming doc as a literal-filter
    lambda — zero state, scan-rate throughput."""
    from ..operators.dedup import BENCH_MOD, shingles
    from ..operators.sketch import bloom_bits, bloom_build
    from ..sources.tables import load_table
    from ..streaming import stream_decontaminate
    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (shingles(docs.where(F.col("doc_id") % BENCH_MOD == 0))
                .select("shingle").distinct())
    bits = bloom_bits(bloom_build(bench_sh))
    return stream_decontaminate(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet", bits)


def _stream_decontaminate_sql() -> str:
    from ..operators.sketch import bloom_positions_sql
    from ..operators.dedup import BENCH_MOD
    from .llm import SHINGLES_CTE, TOKS_CTE
    pos = bloom_positions_sql()
    return f"""
WITH toks AS ({TOKS_CTE}),
sh AS ({SHINGLES_CTE}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
limbs AS (
  SELECT p // 32 AS limb, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM (SELECT unnest({pos}) AS p FROM bench) GROUP BY 1
),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
probe AS (
  SELECT doc_id, shingle, p // 32 AS limb,
         1::BIGINT << CAST(p % 32 AS INT) AS mask
  FROM (SELECT doc_id, shingle, unnest({pos}) AS p FROM corpus)
),
verdict AS (
  SELECT p.doc_id, p.shingle,
         min(CASE WHEN (coalesce(l.bits, 0) & p.mask) = p.mask
                  THEN 1 ELSE 0 END) AS hit
  FROM probe p LEFT JOIN limbs l USING (limb)
  GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(hit) AS BIGINT) AS n_bloom_hits
  FROM verdict GROUP BY 1
)
SELECT t.doc_id,
       coalesce(a.n_shingles, 0) AS n_shingles,
       coalesce(a.n_bloom_hits, 0) AS n_bloom_hits,
       CAST(coalesce(a.n_bloom_hits, 0) > 0 AS BIGINT) AS contaminated
FROM toks t LEFT JOIN agg a USING (doc_id)
WHERE t.doc_id % {BENCH_MOD} <> 0
"""


def _stream_crawl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming strip + language/quality gate per arriving raw page
    (streaming.stream_crawl_gate) — the live-ingest head of the
    `doc_crawl_manifest` funnel, zero state, one pass. The wrap/strip
    expressions and gate thresholds are the batch funnel's own, so
    the DuckDB twin re-derives every verdict from the same stripped
    relation."""
    from ..streaming import stream_crawl_gate
    from .llm import _html_strip_sql, _html_wrap_sql
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"
    return stream_crawl_gate(
        spark, f"{sf_dir.rstrip('/')}/documents.parquet",
        wrap_sql=_html_wrap_sql("STRING"),
        strip_sql=_html_strip_sql(rr))


def _stream_crawl_gate_sql() -> str:
    from .llm import (FUNNEL_MIN_QUALITY, FUNNEL_MIN_TOKENS,
                      _html_strip_sql, _html_wrap_sql, _language_id_sql,
                      _quality_sql)
    rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}', 'g')"
    wrapped = _html_wrap_sql("VARCHAR")
    stripped = _html_strip_sql(rr)
    return f"""
WITH crawl AS (
  SELECT doc_id, source, {stripped} AS text FROM (
    SELECT doc_id, source, {wrapped} AS html
    FROM documents WHERE text IS NOT NULL)
), q AS ({_quality_sql('crawl')}), l AS ({_language_id_sql('crawl')})
SELECT c.doc_id, c.source, q.n_tokens, l.pred_lang, q.quality_score,
       CAST(q.n_tokens >= {FUNNEL_MIN_TOKENS} AS BIGINT) AS pass_tokens,
       CAST(l.pred_lang = 'en' AS BIGINT) AS pass_lang,
       CAST(q.quality_score >= {FUNNEL_MIN_QUALITY!r} AS BIGINT)
         AS pass_quality,
       CAST(q.n_tokens >= {FUNNEL_MIN_TOKENS} AND l.pred_lang = 'en'
            AND q.quality_score >= {FUNNEL_MIN_QUALITY!r} AS BIGINT)
         AS admitted
FROM crawl c JOIN q ON c.doc_id = q.doc_id JOIN l ON c.doc_id = l.doc_id
"""


def _stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed trending top-k: the streamed (window, type) count
    aggregate + the serving-layer per-window rank (streaming/
    __init__.stream_trending) — ranking runs post-stream on the
    windows x types-sized materialized result by design (append mode
    cannot retract an already-emitted rank)."""
    return stream_trending(spark, f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_TRENDING_SQL = f"""
SELECT win, event_type, n, rnk FROM (
  SELECT win, event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(row_number() OVER (PARTITION BY win
              ORDER BY count(*) DESC, event_type ASC) AS BIGINT) AS rnk
  FROM (SELECT epoch_us(ts) // {WINDOW_US} AS win, event_type FROM events)
  GROUP BY 1, 2)
WHERE rnk <= {TRENDING_K}
"""


def _stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log2-bucket value histogram per tumbling window
    (streaming/__init__.stream_value_histogram) — the streaming form
    of `q_sketch_percentiles`: bounded (windows x <=64) counter state,
    mergeable, percentiles read off cumulative counts downstream."""
    return stream_value_histogram(spark,
                                  f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_HISTOGRAM_SQL = f"""
SELECT epoch_us(ts) // {WINDOW_US} AS win,
       CAST(length(format('{{:b}}',
                          greatest(CAST(round(value * 100) AS BIGINT), 0)))
            AS BIGINT) AS b,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
"""


def _stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→purchase-within-30-min CEP matching
    (streaming/sessions.stream_pattern_match): the MATCH_RECOGNIZE /
    funnel-on-the-stream shape with one-int-per-user state."""
    from ..streaming.sessions import stream_pattern_match
    return stream_pattern_match(spark,
                                f"{sf_dir.rstrip('/')}/events.parquet")


_STREAM_PATTERN_SQL = """
WITH o AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view
  FROM events)
SELECT user_id, event_id,
       CAST(ts_us - last_view AS BIGINT) AS latency_us
FROM o
WHERE event_type = 'purchase' AND last_view IS NOT NULL
  AND ts_us - last_view <= 1800000000
"""


def _stream_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness census per event type
    (streaming/sessions.stream_ooo_census): lateness vs the running
    max of event time in arrival order — the measurement every
    watermark delay in this catalog is tuned against."""
    from ..streaming.sessions import stream_ooo_census
    return stream_ooo_census(spark, f"{sf_dir.rstrip('/')}/events.parquet")


def _stream_ooo_sql() -> str:
    from ..functions import h32_sql
    from ..streaming.sessions import OOO_JITTER_US
    key = "'ooo:' || CAST(event_id AS VARCHAR)"
    jitter = f"({h32_sql(key)} % {OOO_JITTER_US})"
    return f"""
WITH a AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) + {jitter} AS arrival_us
  FROM events),
o AS (
  SELECT event_type, ts_us,
         max(ts_us) OVER (PARTITION BY event_type
              ORDER BY arrival_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM a),
l AS (
  SELECT event_type,
         CASE WHEN prev_max IS NULL OR prev_max <= ts_us THEN 0
              ELSE prev_max - ts_us END AS late
  FROM o)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (late > 0) AS BIGINT) AS n_late,
       CAST(max(late) AS BIGINT) AS max_late_us,
       CAST(count(*) FILTER (late > 0 AND late <= 1000000) AS BIGINT)
         AS late_le_1s,
       CAST(count(*) FILTER (late > 1000000 AND late <= 10000000)
            AS BIGINT) AS late_le_10s,
       CAST(count(*) FILTER (late > 10000000 AND late <= 60000000)
            AS BIGINT) AS late_le_60s,
       CAST(count(*) FILTER (late > 60000000 AND late <= 600000000)
            AS BIGINT) AS late_le_600s,
       CAST(count(*) FILTER (late > 600000000) AS BIGINT) AS late_gt_600s
FROM l
GROUP BY 1
"""


QUERIES: dict[str, Query] = {
    "stream_pattern_match": Query(_stream_pattern, _STREAM_PATTERN_SQL,
                                  "CEP view→purchase-within-30-min "
                                  "matcher: 4th custom stateful op, "
                                  "one-int-per-user state, full "
                                  "value oracle"),
    "stream_ooo_census": Query(_stream_ooo, _stream_ooo_sql,
                               "out-of-orderness census: lateness vs "
                               "arrival-order running max — the "
                               "watermark-delay tuning measurement "
                               "(custom stateful op, full oracle)"),
    "stream_histogram": Query(_stream_histogram, _STREAM_HISTOGRAM_SQL,
                              "streaming log2-bucket value histogram "
                              "(mergeable percentile sketch held as "
                              "windowed counter state)"),
    "stream_trending": Query(_stream_trending, _STREAM_TRENDING_SQL,
                             "trending top-k per tumbling window: "
                             "streamed (win,type) counts + serving-"
                             "layer rank"),
    "stream_decontaminate": Query(_stream_decontaminate,
                                  _stream_decontaminate_sql(),
                                  "stateless streaming Bloom "
                                  "decontamination (benchmark filter "
                                  "as plan literal, zero state)"),
    "stream_tumbling_counts": Query(_stream_tumbling, _STREAM_TUMBLING_SQL,
                                    "availableNow streaming window agg"),
    "stream_sessions": Query(_stream_sessions, _EVENTS_SESSIONS_SQL,
                             "stateful applyInPandasWithState sessions"),
    "stream_dedup": Query(_stream_dedup, _STREAM_DEDUP_SQL,
                          "streaming dropDuplicates exact dedup"),
    "stream_chain_scan": Query(_stream_chain, _STREAM_CHAIN_SQL,
                               "streaming agg over the NON-FILE chain "
                               "data source (custom stream reader)"),
    "stream_static_enrich": Query(_stream_enrich, _STREAM_ENRICH_SQL,
                                  "stream-static broadcast dimension "
                                  "enrichment + per-segment agg"),
    "stream_hopping_counts": Query(_stream_hopping, _STREAM_HOPPING_SQL,
                                   "overlapping hopping-window counts"),
    "stream_watermark_counts": Query(_stream_watermark,
                                     _STREAM_WATERMARK_SQL,
                                     "append-mode watermarked windows "
                                     "(late-data cutoff semantics)"),
    "stream_interval_join": Query(_stream_interval_join,
                                  _STREAM_INTERVAL_JOIN_SQL,
                                  "stream-stream interval join "
                                  "(watermarked attribution join)"),
    "stream_dedup_watermarked": Query(_stream_dedup_wm,
                                      _STREAM_DEDUP_WM_SQL,
                                      "bounded-state dedup "
                                      "(dropDuplicatesWithinWatermark)"),
    "stream_session_window": Query(_stream_session_window,
                                   _STREAM_SESSION_WINDOW_SQL,
                                   "built-in session_window sessions, "
                                   "append mode (closed sessions only)"),
    "stream_cusum_alerts": Query(_stream_cusum, _stream_cusum_sql(),
                                 "custom stateful CUSUM drift alarms "
                                 "(sequential recurrence, exact-value "
                                 "recursive-CTE oracle)"),
    "stream_interval_join_outer": Query(_stream_interval_join_outer,
                                        _stream_interval_join_outer_sql(),
                                        "LEFT OUTER watermarked interval "
                                        "join (non-converting clicks, "
                                        "strict min-watermark cutoff)"),
    "stream_crawl_gate": Query(_stream_crawl_gate, _stream_crawl_gate_sql,
                               "streaming strip + language/quality "
                               "gate per raw page (stateless one-pass "
                               "crawl-funnel head)"),
}
