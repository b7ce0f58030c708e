"""Structured-Streaming window semantics (SURVEY.md §2B S35–S38).

S35–S37 are written as *batch-equivalent* windowed aggregations — the
same `F.window`/`F.session_window` expressions run unchanged under
`readStream`, which is exactly how Spark unifies the two modes; the
DuckDB oracle can therefore value-check the windowing logic.

S38 is a *real* streaming query: file source → withWatermark →
tumbling window → append-mode memory sink, driven to completion by
the availableNow trigger (`source.run_available`). Append mode only emits windows closed by
the final watermark (max event time − 10 min); the oracle mirrors that
eviction rule in SQL.

Scale notes: streaming state is keyed by (window, group) and evicted
by watermark — state size is bounded by active windows × groups, not
by input volume; `session_window` merges per-key sessions in the state
store the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.exact import dec2, exact_sum
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.streaming.source import (
    events_file_stream,
    run_to_memory,
    stream_run,
)


@query(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events,
           CAST(sum(TRY_CAST(nullif(value, 'NaN'::DOUBLE) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S35: tumbling 1-hour event-time windows (streaming-ready
    `F.window`, epoch-aligned exactly like date_trunc).

    NULL event times: Spark's TimeWindowing rule silently filters rows
    with NULL ts out of every window aggregate — the documented engine
    semantic for this whole window family (a NULL event time cannot be
    assigned a window) — and the oracles mirror it with an explicit
    `WHERE ts IS NOT NULL` (review r5; previously latent because the
    fuzz generator never nulled ts)."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return ev.groupBy(w).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(dec2("value")).alias("total_value"),
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_events",
        "total_value",
    )


@query(
    "stream_sliding",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
                          - CAST(k AS BIGINT) * 900000000) AS window_start,
           count(*) AS n_events,
           CAST(sum(TRY_CAST(nullif(value, 'NaN'::DOUBLE) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S36: sliding windows (1 h length, 15 min slide) — every event
    lands in exactly 4 overlapping windows; the oracle reproduces
    Spark's epoch-aligned window assignment with integer µs math."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return ev.groupBy(w).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(dec2("value")).alias("total_value"),
    ).select(
        F.col("window.start").alias("window_start"),
        "n_events",
        "total_value",
    )


@query(
    "stream_session_window",
    oracle="""
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM (
        SELECT user_id, event_id, ts,
               CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM (
            SELECT user_id, event_id, ts,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events
            WHERE ts IS NOT NULL
        )
    )
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S37: `F.session_window(ts, '30 minutes')` — Spark's native
    merging session windows; session end = last event + gap, which the
    oracle reproduces via the lag/cumsum sessionization (S34)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_watermark_late",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
           <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38: real Structured Streaming — parquet file source, 10-minute
    watermark, 1-h tumbling window per event_type, append-mode memory
    sink, driven to completion with availableNow.

    Append mode emits a window only once the watermark (max seen event
    time − 10 min) passes its end — the oracle's HAVING clause is that
    eviction rule. Windows still open at end-of-stream stay in state
    and are not emitted, exactly as they would on a live stream.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        stream = (
            raw
            # watermarks need the tz-aware type; the session time zone
            # is UTC, so the instants equal the naive wall clock
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("window.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
            )
        )
        return run_to_memory(stream, run, "append")


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38c: streaming exact deduplication — dropDuplicates on the key
    columns over a file stream (state = one entry per distinct key; on
    a live stream dropDuplicatesWithinWatermark bounds that state).
    Only the key columns are projected so the emitted set is
    deterministic regardless of which physical row arrived first.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        stream = raw.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
        return run_to_memory(stream, run, "append")


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, e.event_type,
           CAST(TRY_CAST(nullif(e.value, 'NaN'::DOUBLE) AS DECIMAL(12,2))
                * TRY_CAST(nullif(c.c_acctbal, 'NaN'::DOUBLE) AS DECIMAL(12,2))
                AS DOUBLE) AS weighted_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38b: stream-static enrichment join — the standard streaming
    pattern of decorating an event stream with a slowly-changing
    dimension. The static side is a plain batch DataFrame joined into
    every micro-batch (Spark re-plans it per batch, so dim updates
    between batches are picked up); no watermark is needed because a
    stream-static inner join is stateless — each event matches against
    the current dim snapshot and is emitted immediately. Append mode +
    availableNow makes the result batch-equivalent, so the oracle is
    the plain SQL join. At scale the dim side broadcasts below the
    threshold exactly as in batch.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
        stream = (
            raw.join(cust, raw.user_id == cust.c_custkey)
            .select(
                "event_id",
                "user_id",
                "c_name",
                "event_type",
                (dec2("value") * dec2("c_acctbal")).cast("double").alias("weighted_value"),
            )
        )
        return run_to_memory(stream, run, "append")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
           a.ts AS view_ts, b.ts AS purchase_ts,
           CAST(b.value AS DOUBLE) AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38d: stream-stream interval join — attribute each purchase to
    the views by the same user in the preceding 30 minutes.

    Both sides carry a watermark and the join condition bounds event
    time on both ends, which is what lets Spark EVICT join state: a
    buffered view can be dropped once the purchase-side watermark
    passes view_ts + 30 min (state is bounded by the interval × rate,
    not the stream length). An inner stream-stream join emits each
    match exactly once as both sides arrive, so driving the single
    availableNow batch to completion is batch-equivalent and the
    oracle is the plain self-join. At scale both sides shuffle on
    user_id into the same state-store partitioning — one exchange
    each, same as a batch shuffle join.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        # tz-aware for the watermarks (session time zone UTC)
        ev = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        views = (
            ev.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "10 minutes")
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        joined = views.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select(
            "view_id",
            "purchase_id",
            "user_id",
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
            "purchase_value",
        )
        return run_to_memory(joined, run, "append")
