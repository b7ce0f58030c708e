"""Shared file-stream plumbing: one lifecycle for every streaming run.

Lifecycle invariant: one run, one directory, removed on exit. Every
streaming query runs inside `stream_run()`, which creates a fresh
directory ``<tmp>/p2h_spark_stream/<run>/`` (``src/`` holds the source
symlink, ``ckpt/`` the checkpoint and state store) and removes it when
the block exits, also when the query fails. `table_stream` is the one
``readStream`` of the package, `run_available` the one availableNow
driver, and `run_to_memory` drops its memory-sink view on exit, also
on failure — a long-lived driver accumulates neither directories nor
views, however many runs fail.

This module also owns the raw on-disk schema of events.parquet and the
NORMALIZATION of its int64 ``ts`` column to microseconds, and nothing
downstream converts units again. The unit the parquet reader hands
back for an int64-typed ``ts`` depends on the file's physical
timestamp annotation and the read path: an inferred batch read under
``nanosAsLong`` yields raw nanos, while a user-schema ``ts bigint``
read (the only form ``readStream`` supports) converts TIMESTAMP(MICROS)
data to micros as-is. A second ``div 1000`` downstream shifts every
streamed timestamp 1000× into 1970. `events_file_stream` detects the
on-disk unit once per file version (magnitude probe — epoch-2000+ data
differs by 10^3 per unit, so the bands are unambiguous) and every
caller receives int64 MICROS.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from parquet_to_hyper_app_spark.session import ensure_session_configs
from parquet_to_hyper_app_spark.sources.filesig import memo

#: state-store partition count for the LOCAL availableNow harness.
#: Stateful operators create one state store per shuffle partition per
#: micro-batch; at the driver-contract scale that fixed cost dominates
#: (stream_stream_join: 8.2 s at 32 partitions vs 2.6 s at 8 for the
#: SAME 172 rows at sf0.1). Placement-only — results are partition-count
#: independent. A production deployment sizes this to the cluster via
#: spark.sql.shuffle.partitions as usual; override locally with
#: SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS.
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8")
)


@contextmanager
def conf_scope(spark: SparkSession, key: str, value: str):
    """Set one session conf for the duration of a streaming query's
    start/awaitTermination cycle (a query captures the session confs
    when it starts) and restore the previous value afterwards, also
    when the query fails."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def stream_shuffle_scope(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions to the streaming-query value,
    restoring the batch value after (see `conf_scope`)."""
    return conf_scope(
        spark, "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )


@contextmanager
def stream_run():
    """One streaming run's directory: a fresh
    ``<tmp>/p2h_spark_stream/<run>/`` for the source link (``src``) and
    the checkpoint (``ckpt``), removed when the block exits — also when
    the query fails. Everything a run returns must be detached from it
    (`run_to_memory`, the foreachBatch sinks' read-backs)."""
    root = os.path.join(tempfile.gettempdir(), "p2h_spark_stream")
    os.makedirs(root, exist_ok=True)
    run = tempfile.mkdtemp(dir=root)
    try:
        yield run
    finally:
        shutil.rmtree(run, ignore_errors=True)


def run_available(spark: SparkSession, writer: DataStreamWriter, run: str) -> None:
    """Drive ``writer`` to completion: checkpoint in ``run``,
    availableNow trigger, stream shuffle width. The one start/await
    of the package."""
    with stream_shuffle_scope(spark):
        q = (
            writer.option("checkpointLocation", os.path.join(run, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def table_stream(
    spark: SparkSession, sf_dir: str, table: str, schema: str, run: str
) -> DataFrame:
    """File stream of ``<sf_dir>/<table>.parquet`` read with ``schema``.

    The file stream source requires a directory, so the table is linked
    into ``run/src``: one source per run (a second call on the same run
    raises instead of streaming both tables). recursiveFileLookup: the
    table may be a single parquet FILE (driver testdata) or a
    Spark-written DIRECTORY of part files (scale-probe replicas, any
    real table) — the stream listing does not descend into
    subdirectories on its own, so a directory-shaped table would stream
    0 rows.
    """
    ensure_session_configs(spark)
    src = os.path.join(run, "src")
    os.mkdir(src)
    # absolutize: a relative sf_dir would make the link dangle
    name = f"{table}.parquet"
    os.symlink(os.path.abspath(os.path.join(sf_dir, name)), os.path.join(src, name))
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


#: user-supplied stream schema: ts read as raw int64 (unit detected below)
RAW_EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint,"
    " event_type string, value double, props string"
)

def _ts_micros_scale(
    spark: SparkSession, src_dir: str, target: str
) -> tuple[int, int]:
    """Detect the int64 unit of ``ts`` as read through RAW_EVENTS_SCHEMA
    from ``src_dir``, whose events file resolves to ``target``.

    Returns ``(div, mul)`` with exactly one ≠ 1 such that
    ``µs = ts div div * mul``. Detection: a batch aggregate through
    the SAME user schema the stream uses (identical parquet datasource
    → identical unit), classified by magnitude of ``max(abs(ts))`` over
    NON-NULL rows — for any event time between 1971 and ~2200, nanos
    sit above 3e16, micros above 3e13, millis above 3e10, else seconds.
    An arbitrary-first-row probe would misclassify a NULL-leading file
    as seconds and shift every timestamp 10^6×. Batch and stream cannot
    disagree because both are the V1 parquet source with an explicit
    user schema. The answer is memoized per version of ``target``
    (`filesig.memo`; each run's source dir is new and would never
    hit), so a rewrite or a later batch is probed again.
    """

    def probe() -> tuple[int, int]:
        row = (
            spark.read.schema(RAW_EVENTS_SCHEMA)
            .parquet(src_dir)
            .where(F.col("ts").isNotNull())
            .agg(F.max(F.abs(F.col("ts"))))
            .first()
        )
        ts = row[0] if row is not None else None
        if ts is None:
            # empty source / all-NULL ts: there is nothing to convert,
            # so the identity scale is correct — the stream runs and
            # produces zero epochs, which the sinks explicitly handle
            # (raising here would turn a handled empty result into a
            # query error)
            return (1, 1)
        if ts > 3 * 10**16:
            return (1_000, 1)  # nanoseconds
        if ts > 3 * 10**13:
            return (1, 1)  # microseconds
        if ts > 3 * 10**10:
            return (1, 1_000)  # milliseconds
        return (1, 1_000_000)  # seconds

    return memo("ts_scale", target, probe)


def events_file_stream(spark: SparkSession, sf_dir: str, run: str) -> DataFrame:
    """Events file stream of run ``run`` (see `table_stream`).

    The returned DataFrame has RAW_EVENTS_SCHEMA with ``ts`` already
    normalized to int64 MICROSECONDS regardless of the on-disk unit —
    callers build event time with ``timestamp_micros(ts)`` and must
    NOT apply any further unit conversion.
    """
    stream = table_stream(spark, sf_dir, "events", RAW_EVENTS_SCHEMA, run)
    target = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    div, mul = _ts_micros_scale(spark, os.path.join(run, "src"), target)
    if (div, mul) != (1, 1):
        stream = stream.withColumn("ts", F.expr(f"ts div {div} * {mul}"))
    return stream


def run_to_memory(stream: DataFrame, run: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink
    (`run_available`) and return the result, detached from the run.

    The memory sink pins the full result in the driver behind a
    session-lifetime temp view named after the run. localCheckpoint
    detaches the rows from the sink so the view is dropped on exit,
    also when the query fails — the checkpointed blocks are released by
    the ContextCleaner when the returned DataFrame is garbage-collected."""
    spark = stream.sparkSession
    view = os.path.basename(run)
    writer = stream.writeStream.outputMode(output_mode).format("memory").queryName(view)
    try:
        run_available(spark, writer, run)
        return spark.table(view).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(view)
