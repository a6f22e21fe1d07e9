"""Windowed / stateful streaming operators over the events stream.

Patterns: readStream -> withWatermark -> window()/session_window()
aggregations -> writeStream; custom stateful logic via
applyInPandasWithState.  Each transformation is expressed on a plain
DataFrame so it runs identically in batch mode (used by tests and
oracles) and streaming mode.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samyama_graph_spark import lifecycle
from samyama_graph_spark.loaders import read_parquet

EVENTS_SCHEMA = T.StructType(
    [
        # ts as nanos-long is the DEFAULT (parquet TIMESTAMP(NANOS)
        # under the legacy conf); events_stream swaps in the probed
        # batch dtype when the source is MICROS/timestamp instead
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """The events parquet directory as a file-source stream.

    The timestamp unit is taken from the batch schema of the same path
    (``loaders.read_parquet``, read from the footers without a Spark
    job: TIMESTAMP(NANOS) arrives as long under the legacy conf and is
    truncated to micros exactly like the batch loader; TIMESTAMP(MICROS)
    is already a timestamp), so stream and batch rows agree.
    """
    from pyspark.errors import AnalysisException

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        probed = read_parquet(spark, sf_dir)[0].schema
        ts_type = next(
            (f.dataType for f in probed.fields if f.name == "ts"),
            T.LongType(),
        )
    except AnalysisException:
        # empty / not-yet-populated source dir: start the stream with
        # the default nanos-long assumption; batch parity holds once
        # matching data arrives
        ts_type = T.LongType()
    if isinstance(ts_type, T.TimestampNTZType):
        # watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP
        # _TYPE); under the engine's fixed UTC session timezone the
        # instant values are identical
        ts_type = T.TimestampType()
    ts_is_nanos_long = isinstance(ts_type, T.LongType)
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", ts_type)
            for f in EVENTS_SCHEMA.fields
        ]
    )
    path = sf_dir
    if path.endswith(".parquet") and os.path.isfile(path):
        # file-source streams require a directory: stage a symlink dir
        staging = tempfile.mkdtemp(prefix="samyama_stream_")
        os.symlink(path, os.path.join(staging, os.path.basename(path)))
        path = staging
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if ts_is_nanos_long:
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw


def hourly_windows(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windows per event type with late-data watermark:
    ``(event_type, window_start, n, total)``."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "event_type", F.col("w.start").alias("window_start"), "n", "total"
        )
    )


def sliding_windows(
    events: DataFrame, size: str = "1 hour", slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows: ``(event_type, window_start, n)``."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy("event_type", F.window("ts", size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("window_start"), "n")
    )


def tumbling_base(
    events: DataFrame, bucket: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Algebraic base aggregation for window rollups: fine-grained
    tumbling buckets carrying count + RAW sum —
    ``(event_type, bucket_start, n, total_raw)``.

    Coarser tumbling windows and sliding windows whose size/slide are
    bucket multiples re-aggregate from this sink WITHOUT a second pass
    over the stream (the timeseries.py hypertable-rollup pattern
    applied to streaming): one stateful query feeds many views."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy("event_type", F.window("ts", bucket).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_raw"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bucket_start"),
            "n",
            "total_raw",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based): ``(user_id, session_start,
    session_end, n_events)``."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_running_totals(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator: per-user running event count + value
    total via applyInPandasWithState — the pattern for operators that
    windowed aggregation can't express (per-key accumulators, custom
    eviction).  Emits one row per user per micro-batch:
    ``(user_id, n_events, total_value)``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    from samyama_graph_spark.session import ensure_shipped

    ensure_shipped(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# The stream runners scope spark.sql.shuffle.partitions while their
# queries are PLANNED (the stateful-operator partition count is fixed
# at plan time).  Stateful streaming cost scales with the state-store
# partition count — every micro-batch touches (snapshot + delta +
# commit) files per partition — so partitions should be sized to the
# STATE volume, not to the session's batch-join parallelism.  On a
# real cluster the same knob is sized to keep per-partition state in
# the low-GB range; the scope restores the batch setting on exit.
_SHUFFLE = "spark.sql.shuffle.partitions"


def _unload_idle_state_stores(spark: SparkSession) -> None:
    """Unload every loaded state-store provider when NO streaming query
    is active.  availableNow runs leave their providers resident in the
    executor singleton (plus a maintenance thread scanning them); in a
    session that drives many such runs — test suites, benchmarks, batch
    jobs using streaming operators — the accumulation taxes every later
    run 2-3x.  Safe at idle: the next streaming query reloads its
    providers from the checkpoint as usual.  Never raises."""
    try:
        if spark.streams.active:
            return
        spark.streams.resetTerminated()
        jvm = spark.sparkContext._jvm
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.streaming.state.StateStore$"
        )
        cls.getField("MODULE$").get(None).stop()
    except Exception:  # noqa: BLE001 — hygiene only
        pass


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Drive a streaming frame to completion with availableNow and
    return the in-memory sink contents as a batch DataFrame."""
    spark = stream_df.sparkSession
    # hold the scope through awaitTermination: micro-batches plan
    # asynchronously after start(), so the conf must stay pinned until
    # the availableNow run has fully drained
    with lifecycle.scope(spark, {_SHUFFLE: shuffle_partitions}):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()  # release state-store/source resources promptly
    _unload_idle_state_stores(spark)
    return spark.table(query_name)


def run_streams_to_memory(
    jobs: "list[tuple[DataFrame, str, str]]",
    shuffle_partitions: int | None = 8,
) -> "list[DataFrame]":
    """Drive several independent streaming frames CONCURRENTLY to
    completion (each ``(stream_df, query_name, output_mode)`` gets its
    own availableNow query + memory sink) and return the sink tables.
    Wall time is the max of the queries, not the sum — the natural
    shape when several windowed views of one source are materialized
    together."""
    if not jobs:
        return []
    qs = []
    spark = jobs[0][0].sparkSession
    # conf stays pinned until every availableNow run has drained (the
    # micro-batches plan asynchronously after start())
    with lifecycle.scope(spark, {_SHUFFLE: shuffle_partitions}):
        try:
            for df, name, mode in jobs:
                qs.append(
                    df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(mode)
                    .trigger(availableNow=True)
                    .start()
                )
            for q in qs:
                q.awaitTermination()
        finally:
            for q in qs:
                q.stop()  # release state-store/source resources promptly
    _unload_idle_state_stores(spark)
    return [spark.table(name) for _, name, _ in jobs]


def merge_session_fragments(frags: DataFrame) -> DataFrame:
    """Merge per-batch session fragments into corpus-wide sessions.

    Each fragment is a valid session over ONE micro-batch's events:
    ``(user_id, session_start, session_end, n_events)`` with
    ``session_end = last_event_ts + gap``.  Sessionization over the
    union of all batches equals interval-merging the per-event windows
    ``[ts, ts+gap]``, and interval merging is associative — so merging
    the already-merged fragment intervals reproduces it exactly, for
    ANY assignment of events to micro-batches (files can interleave
    timestamps arbitrarily).  Merge rule matches the batch oracle: a
    fragment joins the current session iff its start is <= the running
    max end (an event exactly ``gap`` after the previous one continues
    the session).

    Cost shape: one shuffle on user_id, per-user windows over FRAGMENT
    rows (already aggregated — bounded by sessions, not events)."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("session_start", "session_end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = frags.select(
        "*",
        F.when(
            F.col("session_start") > F.max("session_end").over(w_prev), 1
        )
        .otherwise(0)  # first row: max over empty frame is NULL -> 0;
        # island ids then start at 0, which groupBy handles fine
        .alias("__new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("session_start", "session_end")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "*", F.sum("__new").over(w_run).alias("__island")
    )
    return (
        islands.groupBy("user_id", "__island")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").alias("n_events"),
        )
        .drop("__island")
    )


_BASE_SCHEMA = (
    "event_type string, bucket_start timestamp, n bigint, total_raw double"
)
_SESS_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp,"
    " n_events bigint"
)


def run_windowed_sinks_fused(
    stream: DataFrame,
    bucket: str = "30 minutes",
    gap: str = "10 minutes",
    shuffle_partitions: int | None = 8,
) -> "tuple[DataFrame, DataFrame]":
    """ONE availableNow query feeding BOTH window sinks via
    foreachBatch: per micro-batch, the 30-minute tumbling base buckets
    and the per-user session windows are computed as batch
    aggregations of the batch frame and appended to two parquet sinks;
    batch results merge algebraically afterwards (bucket counts/sums
    re-aggregate by key; session fragments interval-merge in
    :func:`merge_session_fragments`, exact for any batch split).

    Replaces two CONCURRENT stateful availableNow queries (complete
    mode: memory sink + state store + maintenance thread EACH): the
    micro-batch machinery, source log and state-store lifecycle are
    paid once, and the per-batch aggregations carry no streaming state
    at all — the standard foreachBatch multi-sink idiom.  Returns
    ``(base_buckets, sessions)`` as batch frames.

    The two sink writes run CONCURRENTLY from a 2-thread pool (guide
    §2.6 job overlap: each is a small agg+commit whose tail leaves the
    executors idle; overlapping them hides one commit behind the
    other — A/B'd 1.5 s sequential vs ~0.9 s overlapped per batch at
    sf0.1).  The batch frame is deliberately NOT persisted: each write
    re-scans the micro-batch's files, and two scans of a batch are
    cheaper than the cache-materialization lock the concurrent writes
    would otherwise serialize on (A/B'd: persist=True 1.9-2.4 s,
    persist=False 1.0-1.3 s stream phase)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    spark = stream.sparkSession
    out_root = tempfile.mkdtemp(prefix="samyama_wsink_")
    base_dir = os.path.join(out_root, "base")
    sess_dir = os.path.join(out_root, "sess")
    os.makedirs(base_dir)
    os.makedirs(sess_dir)

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        def _wbase() -> None:
            tumbling_base(batch_df, bucket).write.mode("append").parquet(
                base_dir
            )

        def _wsess() -> None:
            session_windows(batch_df, gap).write.mode("append").parquet(
                sess_dir
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            for _ in pool.map(
                lambda f: inheritable_thread_target(f)(), [_wbase, _wsess]
            ):
                pass

    with lifecycle.scope(spark, {_SHUFFLE: shuffle_partitions}):
        q = (
            stream.writeStream.foreachBatch(_process)
            .option(
                "checkpointLocation", os.path.join(out_root, "_checkpoint")
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    _unload_idle_state_stores(spark)
    base = (
        spark.read.schema(_BASE_SCHEMA)
        .parquet(base_dir)
        .groupBy("event_type", "bucket_start")
        .agg(F.sum("n").alias("n"), F.sum("total_raw").alias("total_raw"))
    )
    sess = merge_session_fragments(
        spark.read.schema(_SESS_SCHEMA).parquet(sess_dir)
    )
    return base, sess


def stream_dedup(
    events: DataFrame,
    key_cols: list[str] | tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication on ``key_cols``.

    Streaming mode uses ``dropDuplicatesWithinWatermark``: per-key
    state is evicted once the watermark passes, so state size is
    bounded by the dedup horizon rather than the full key cardinality —
    the property that makes streaming dedup viable at 100TB/day (a
    plain dropDuplicates on an unbounded stream accumulates state
    forever).  Batch mode degrades to dropDuplicates for the
    stream-vs-batch parity oracles.  A key recurring farther apart than
    the watermark re-emits (correct within-horizon semantics).
    """
    cols = list(key_cols)
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(cols)
    return events.dropDuplicates(cols)


def enriched_windows(
    events: DataFrame,
    dim: DataFrame,
    dim_key: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment + tumbling aggregation: join the event
    stream against a STATIC dimension (broadcast — stream-static joins
    never buffer state for the static side), then 1-hour windows per
    dimension attribute: ``(grp, window_start, n, total)``.

    The standard "enrich events with reference data" shape; the static
    side is re-resolved per micro-batch, so slowly-changing dims pick
    up new snapshots without restarting the query.
    """
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    joined = e.join(F.broadcast(dim), e["user_id"] == dim[dim_key])
    return (
        joined.groupBy("grp", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .select("grp", F.col("w.start").alias("window_start"), "n", "total")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join with event-time interval bounds:
    left row l matches right rows r with the same key and
    ``l.ts < r.ts <= l.ts + within`` — the canonical conversion-funnel
    join (view followed by purchase within N minutes).

    Both sides are watermarked and the time-range condition is part of
    the join predicate, so the engine can bound per-side join state:
    buffered rows age out once the watermark passes their eligibility
    window (state O(rate x (within + watermark)), never O(stream) —
    the 100 TB property).  Expressed on plain DataFrames, so the same
    function runs in batch mode for the oracle twin.
    """
    l = left.withWatermark("ts", watermark) if left.isStreaming else left
    r = right.withWatermark("ts", watermark) if right.isStreaming else right
    l = l.alias("l")
    r = r.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )
