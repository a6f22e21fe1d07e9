"""Streaming workloads: the stream is driven to completion
(availableNow trigger -> memory sink) and its output is compared to
the batch SQL oracle — stream/batch parity is the correctness
contract of Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark.loaders import read_parquet
from samyama_graph_spark.streaming.windows import (
    events_stream,
    hourly_windows,
    run_stream_to_memory,
    stateful_running_totals,
)
from samyama_graph_spark.workloads import query

_COUNTER = {"n": 0}


def _qname(base: str) -> str:
    _COUNTER["n"] += 1
    return f"{base}_{_COUNTER['n']}"


@query(
    "streaming_windows",
    """
    WITH sess_e AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    sess_m AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts > prev + INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS ns
        FROM sess_e
    ),
    sess_s AS (
        SELECT user_id, ts,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM sess_m
    ),
    slide_e AS (
        SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) AS t30
        FROM events
    ),
    slide_w AS (
        SELECT event_type, t30 AS window_start FROM slide_e
        UNION ALL
        SELECT event_type, t30 - INTERVAL 30 MINUTE FROM slide_e
    )
    SELECT 'tumbling' AS kind, event_type, NULL::BIGINT AS user_id,
           date_trunc('hour', ts) AS window_start,
           NULL::TIMESTAMP AS window_end,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    UNION ALL
    SELECT 'sliding', event_type, NULL, window_start, NULL,
           count(*), NULL::DOUBLE
    FROM slide_w GROUP BY event_type, window_start
    UNION ALL
    SELECT 'session', NULL::VARCHAR, user_id, min(ts),
           max(ts) + INTERVAL 10 MINUTE, count(*), NULL::DOUBLE
    FROM sess_s GROUP BY user_id, sid
    """,
)
def streaming_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1h) + sliding (1h/30min) + gap-based session (10min)
    windowed aggregations in one gate row — each driven readStream ->
    withWatermark -> window()/session_window() -> availableNow ->
    memory sink, compared against a batch SQL sessionization /
    window-enumeration oracle (stream-vs-batch parity, the Structured
    Streaming correctness contract).  The per-operator REGISTRY twins
    stay for pytest."""
    from samyama_graph_spark.streaming.windows import (
        run_windowed_sinks_fused,
    )

    path = f"{sf_dir}/events.parquet"
    # ONE streaming query, not three (r11: two, r12: one): the
    # tumbling and sliding views both re-aggregate from one 30-minute
    # base-bucket view (their size/slide are bucket multiples), and
    # the base buckets + session windows are now BOTH fed by a single
    # availableNow query whose foreachBatch appends each micro-batch's
    # batch-mode aggregates to two sinks (exact algebraic /
    # interval-merge recombination — see run_windowed_sinks_fused).
    # r11 measured ~1.3-1.8 s of micro-batch + state-store machinery
    # PER availableNow query; this halves that bill.
    base_t, sess_t = run_windowed_sinks_fused(
        events_stream(spark, path), bucket="30 minutes", gap="10 minutes"
    )
    tumb = (
        base_t.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("bucket_start")).alias("window_start"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("total_raw"), 4).alias("total"),
        )
        .select(
            F.lit("tumbling").alias("kind"), "event_type",
            F.lit(None).cast("long").alias("user_id"),
            "window_start", F.lit(None).cast("timestamp").alias("window_end"),
            F.col("n").cast("long").alias("n"), F.col("total"),
        )
    )
    half = F.expr("INTERVAL 30 MINUTES")
    slide = (
        base_t.select(
            "event_type", F.col("bucket_start").alias("window_start"), "n"
        )
        .unionAll(
            base_t.select(
                "event_type",
                (F.col("bucket_start") - half).alias("window_start"),
                "n",
            )
        )
        .groupBy("event_type", "window_start")
        .agg(F.sum("n").alias("n"))
        .select(
            F.lit("sliding").alias("kind"), "event_type",
            F.lit(None).cast("long").alias("user_id"),
            "window_start", F.lit(None).cast("timestamp").alias("window_end"),
            F.col("n").cast("long").alias("n"),
            F.lit(None).cast("double").alias("total"),
        )
    )
    sess = sess_t.select(
        F.lit("session").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        "user_id",
        F.col("session_start").alias("window_start"),
        F.col("session_end").alias("window_end"),
        F.col("n_events").cast("long").alias("n"),
        F.lit(None).cast("double").alias("total"),
    )
    return tumb.unionByName(slide).unionByName(sess)


@query(
    "streaming_hourly_windows",
    """
    SELECT event_type, date_trunc('hour', ts) AS window_start,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream -> watermark -> tumbling window agg -> memory sink;
    1-hour window starts coincide with date_trunc('hour')."""
    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_stream_to_memory(
        hourly_windows(stream), _qname("wl_hourly"), "complete"
    )


@query(
    "streaming_stateful_totals",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals; the final per-user state
    must equal the batch aggregate."""
    from pyspark.sql import Window

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    got = run_stream_to_memory(
        stateful_running_totals(stream), _qname("wl_totals"), "update"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        got.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )


@query(
    "streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the event stream: per-key
    state evicted at the watermark horizon (bounded state — the 100TB
    property).  The 90-day horizon covers the synthetic 30-day span,
    so within-horizon dedup equals global DISTINCT for the oracle."""
    from samyama_graph_spark.streaming.windows import stream_dedup

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    dd = stream_dedup(stream, ["user_id", "event_type"], watermark="90 days")
    got = run_stream_to_memory(dd, _qname("wl_dedup"), "append")
    return got.select("user_id", "event_type")


@query(
    "streaming_session_windows",
    """
    WITH e AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    m AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts > prev + INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS ns
        FROM e
    ),
    s AS (
        SELECT user_id, ts,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (session_window, gap 10 min) per user.
    A session extends while the next event is <= gap after the previous
    one; session_end = last event + gap.  The oracle sessionizes with
    lag + cumulative-sum in plain SQL — identical boundary semantics."""
    from samyama_graph_spark.streaming.windows import session_windows

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_stream_to_memory(
        session_windows(stream, gap="10 minutes"), _qname("wl_sessions"),
        "complete",
    )


@query(
    "streaming_sliding_windows",
    """
    WITH e AS (
        SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) AS t30
        FROM events
    ),
    w AS (
        SELECT event_type, t30 AS window_start FROM e
        UNION ALL
        SELECT event_type, t30 - INTERVAL 30 MINUTE FROM e
    )
    SELECT event_type, window_start, count(*) AS n
    FROM w GROUP BY event_type, window_start
    """,
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour / 30 min slide): every event lands in
    exactly two windows whose starts are the 30-minute buckets at and
    before it — which is precisely how the oracle enumerates them."""
    from samyama_graph_spark.streaming.windows import sliding_windows

    stream = events_stream(spark, f"{sf_dir}/events.parquet")
    return run_stream_to_memory(
        sliding_windows(stream, "1 hour", "30 minutes"),
        _qname("wl_sliding"), "complete",
    )


@query(
    "streaming_enriched_windows",
    """
    WITH dim AS (SELECT DISTINCT user_id,
                        CASE WHEN user_id % 3 = 0 THEN 'gold'
                             WHEN user_id % 3 = 1 THEN 'silver'
                             ELSE 'bronze' END AS grp
                 FROM events)
    SELECT d.grp, date_trunc('hour', e.ts) AS window_start,
           count(*) AS n, round(sum(e.value), 4) AS total
    FROM events e JOIN dim d ON d.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def streaming_enriched_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the event stream joins a
    static user-tier dimension (broadcast; no streaming state for the
    static side) before watermarked tumbling windows — compared to the
    batch join+window oracle (stream/batch parity)."""
    from samyama_graph_spark.streaming.windows import (
        enriched_windows,
        run_stream_to_memory,
    )

    path = f"{sf_dir}/events.parquet"
    dim = (
        read_parquet(spark, path)[0]
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze")
            .alias("grp"),
        )
    )
    out = run_stream_to_memory(
        enriched_windows(events_stream(spark, path), dim, "user_id"),
        _qname("wm_enriched"),
        "complete",
    )
    return out.select(
        "grp", "window_start", F.col("n").cast("long"), "total"
    )


@query(
    "streaming_interval_join",
    """
    SELECT a.user_id, a.event_id AS left_id, b.event_id AS right_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_s
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (conversion funnel): views joined to
    purchases by the same user within 30 minutes, both sides
    watermarked so join state stays bounded.  The oracle is the same
    interval join over the batch table — stream-vs-batch parity, the
    Structured Streaming correctness contract."""
    from samyama_graph_spark.streaming.windows import interval_join

    path = f"{sf_dir}/events.parquet"
    views = events_stream(spark, path).filter(F.col("event_type") == "view")
    buys = events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    joined = interval_join(views, buys, key="user_id", within="30 minutes")
    got = run_stream_to_memory(
        joined, _qname("wl_ivjoin"), "append"
    )
    return got.select(
        "user_id",
        "left_id",
        "right_id",
        (F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts"))
        .cast("long")
        .alias("gap_s"),
    )
