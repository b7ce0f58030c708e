"""Streaming sinks beyond the memory sink: foreachBatch.

foreachBatch is the exactly-once escape hatch — each micro-batch
arrives as a regular DataFrame plus an epoch id, and any batch writer
(parquet, JDBC, MERGE on a lakehouse table) can be applied per batch,
idempotently keyed by epoch. Here: parquet-append delivery of a file
stream, the streaming version of the reference's convert pipeline
(stream in → clean → append to sink).
"""

from __future__ import annotations

import functools
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.operators.cleaning import clean_numeric
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.streaming.source import (
    conf_scope,
    events_file_stream,
    run_available,
    run_to_memory,
    stream_run,
)

#: what `merge_epoch` writes to every rollup snapshot, and so what every
#: snapshot is read back with
_SNAP_SCHEMA = "event_type string, n_events bigint, cents bigint"


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT
        coalesce(event_id, 0) AS event_id,
        ts,
        coalesce(user_id, 0) AS user_id,
        event_type,
        CASE WHEN value IS NULL OR isnan(value) OR isinf(value)
             THEN 0 ELSE value END AS value,
        props
    FROM events
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38d: streaming convert — file stream → clean_numeric →
    foreachBatch parquet append → read the sink back. The oracle is the
    source table under the SAME cleaning projection the batch convert
    pipeline declares (convert_sink_events): on the driver's clean
    generator it reduces to SELECT *, but a stream carrying NaN/Inf/
    null numerics must come out CLEANED, not raw — the earlier
    `SELECT * FROM events` oracle silently assumed clean input and
    flipped on the first dirty row (caught by the dirty fuzz sweep)."""
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        out_dir = os.path.join(run, "out")
        # the schema every epoch is written with (each batch has raw's schema)
        sink_schema = clean_numeric(raw).schema

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # idempotence comes from keying the write by epoch: a replayed
            # batch OVERWRITES its own epoch directory instead of appending
            # duplicates (plain append would double rows on retry/restart)
            clean_numeric(batch_df).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch_{epoch_id}")
            )

        run_available(spark, raw.writeStream.foreachBatch(write_batch), run)
        # an empty/missing source produces zero epochs — no epoch_* dirs —
        # and reading none would raise an unrelated error; return an empty
        # frame with the sink schema instead. The epoch directories are
        # read by name: a glob pattern makes the parquet source probe it
        # as a streaming-sink metadata path first, which logs a WARN with
        # a FileNotFoundException stack trace on every run. The read-back
        # is detached from the run directory, which the block removes
        epochs = sorted(glob.glob(os.path.join(out_dir, "epoch_*")))
        if not epochs:
            out = spark.createDataFrame([], sink_schema)
        else:
            out = spark.read.schema(sink_schema).parquet(*epochs).localCheckpoint(eager=True)
    return out


@query(
    "stream_incremental_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(TRY_CAST(nullif(value, 'NaN'::DOUBLE) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate table via foreachBatch — the
    lakehouse MERGE pattern: each micro-batch's partial aggregate folds
    into a persistent running table instead of recomputing the full
    GROUP BY, so a continuously-arriving 100 TB stream maintains a
    small always-fresh rollup with per-batch work proportional to the
    BATCH, not the history.

    Mechanics: per epoch, aggregate the batch (count + integer-cents
    sum — order-independent), union with the previous snapshot,
    re-aggregate the (tiny, one row per group) union, and write a NEW
    snapshot directory keyed by epoch id — an idempotent
    read-merge-write, the file-based equivalent of MERGE INTO (on a
    lakehouse table the union+rewrite becomes the engine's MERGE). A
    replayed epoch overwrites its own snapshot, and the final result
    is the LAST snapshot, so retries cannot double-count. The final
    table equals the batch GROUP BY — the oracle.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        return run_incremental_agg(spark, raw, run, os.path.join(run, "snap"))


def merge_epoch(batch_df: DataFrame, epoch_id: int, out_dir: str) -> None:
    """One epoch of the incremental rollup: fold the batch's partial
    aggregate into the latest EARLIER snapshot and write snap_<epoch>.

    Module-level (not a closure) so tests can replay an epoch directly:
    merging only with snapshots from STRICTLY earlier epochs makes a
    replay idempotent — if this epoch is re-delivered after its own
    snapshot write succeeded (crash between snapshot write and
    checkpoint commit), snap_<epoch_id> already contains this batch,
    and merging with it would double-count.
    """
    part = batch_df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        # decimal-first cents: cast through DECIMAL(12,2) BEFORE scaling
        # so NaN/±Inf/overflow degrade to NULL (dropped from the sum)
        # exactly like the oracle's TRY_CAST — a direct double→long cast
        # is non-ANSI CLAMPING (Inf → Long.MaxValue would poison the
        # running cents forever; caught by the dirty fuzz sweep)
        F.sum((F.col("value").cast("decimal(12,2)") * 100).cast("long")).alias("cents"),
    )
    prior = sorted(
        p
        for p in glob.glob(os.path.join(out_dir, "snap_*"))
        if int(p.rsplit("_", 1)[1]) < epoch_id
    )
    if prior:
        prev = batch_df.sparkSession.read.schema(_SNAP_SCHEMA).parquet(prior[-1])
        part = (
            part.unionByName(prev)
            .groupBy("event_type")
            .agg(F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents"))
        )
    # snapshot keyed by epoch: a replayed batch overwrites itself
    part.write.mode("overwrite").parquet(os.path.join(out_dir, f"snap_{epoch_id:012d}"))


def run_incremental_agg(
    spark: SparkSession, raw: DataFrame, run: str, out_dir: str
) -> DataFrame:
    """Drive the incremental rollup over any events-schema stream in
    run ``run`` and return the final snapshot, read from ``out_dir``
    and detached from it (see `stream_incremental_agg`). Separated from
    the registry query so tests can feed a multi-file source with
    maxFilesPerTrigger=1 and prove the per-epoch merge is genuinely
    incremental (>1 snapshot, same final table)."""
    writer = raw.writeStream.foreachBatch(functools.partial(merge_epoch, out_dir=out_dir))
    run_available(spark, writer, run)
    snaps = sorted(glob.glob(os.path.join(out_dir, "snap_*")))
    if not snaps:
        final = spark.createDataFrame([], _SNAP_SCHEMA)
    else:
        final = spark.read.schema(_SNAP_SCHEMA).parquet(snaps[-1]).localCheckpoint(eager=True)
    return final.select(
        "event_type",
        "n_events",
        (F.col("cents") / 100.0).alias("total_value"),
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT user_id, event_type, min(ts) AS first_seen
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps a key in the state store only until the watermark passes its
    event time + the dedup horizon, instead of forever — the form that
    actually survives an unbounded 100 TB stream (plain dropDuplicates
    state grows with distinct keys for the stream's lifetime).

    The emitted row per key is the FIRST one the stream processes;
    to make that engine-comparable the query projects the key plus the
    per-key minimum event time computed batch-side on the sink — with
    availableNow's single batch every key dedups exactly once, so the
    emitted key set equals DISTINCT and first_seen equals min(ts).
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        return run_dedup_watermark(raw, run, load_table(spark, sf_dir, "events"))


def run_dedup_watermark(raw: DataFrame, run: str, events_batch: DataFrame) -> DataFrame:
    """Drive the bounded-state dedup over any events-schema stream in
    run ``run`` and project the engine-comparable result (see
    `stream_dedup_watermark`). Separated from the registry query so
    tests can feed a multi-file source with maxFilesPerTrigger=1 and
    prove the oracle equivalence survives keys re-emitted after
    watermark state eviction.

    Contract (review r5): batch-GROUP-BY equivalence holds when no
    key's FIRST occurrence arrives in a micro-batch behind the already-
    advanced watermark — true for the registry path (availableNow =
    one batch) and for event-time-ordered file listings (the test
    harness). Under arbitrary file order a key living only in late
    batches is eviction-dropped by dropDuplicatesWithinWatermark and
    absent from the result — inherent to bounded-state streaming dedup
    (the unbounded-state alternative cannot survive a 100 TB stream),
    not a join artifact; the distinct()+min-join below only repairs
    re-emission duplicates, never late-drop losses."""
    stream = (
        raw.select(
            "user_id",
            "event_type",
            # watermarks need the tz-aware type; the session time zone
            # is UTC, so the instants equal the naive wall clock
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    # append mode emits each key in the micro-batch where it first
    # appears; the no-data batch availableNow would run after the last
    # data batch only evicts state, so it is switched off for this
    # query alone (windowed and session queries need that batch to
    # emit their final windows)
    with conf_scope(
        raw.sparkSession, "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    ):
        out = run_to_memory(stream, run, "append")
    # the retained row per key is arrival-order-dependent; the stable,
    # engine-comparable projection is the key + its min event time
    mins = events_batch.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_seen")
    )
    # distinct() keeps the oracle equivalence even if the source runs
    # multi-batch (maxFilesPerTrigger): a key re-emitted after watermark
    # state eviction would otherwise duplicate rows through the join —
    # cheap, bounded by key cardinality, not stream length
    keys = out.select("user_id", "event_type").distinct()
    # null-safe equality (review r5): dropDuplicatesWithinWatermark
    # treats NULL as a key value and the oracle's GROUP BY keeps NULL
    # groups, but a plain equi-join would silently drop them
    return keys.join(
        mins,
        [
            keys["user_id"].eqNullSafe(mins["user_id"]),
            keys["event_type"].eqNullSafe(mins["event_type"]),
        ],
    ).select(keys["user_id"], keys["event_type"], mins["first_seen"])
