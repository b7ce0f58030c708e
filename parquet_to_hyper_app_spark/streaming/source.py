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

Every stream delivers its columns exactly as the batch table does:
`table_stream` reads with the schema `catalog.parquet_schema` memoizes
for the table and applies the same footer-decided timestamp unit
(`catalog.to_micros`), so a stream's ``ts`` has the batch table's type
and value and nothing downstream converts units again.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from parquet_to_hyper_app_spark.catalog import parquet_schema, to_micros
from parquet_to_hyper_app_spark.session import ensure_session_configs

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


def table_stream(spark: SparkSession, sf_dir: str, table: str, run: str) -> DataFrame:
    """File stream of ``<sf_dir>/<table>.parquet``, typed as
    `catalog.read_parquet` types the batch table.

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
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema, nanos = parquet_schema(spark, path)
    src = os.path.join(run, "src")
    os.mkdir(src)
    # absolutize: a relative sf_dir would make the link dangle
    os.symlink(os.path.abspath(path), os.path.join(src, os.path.basename(path)))
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    return to_micros(stream, nanos)


def events_file_stream(spark: SparkSession, sf_dir: str, run: str) -> DataFrame:
    """Events file stream of run ``run`` (see `table_stream`)."""
    return table_stream(spark, sf_dir, "events", run)


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
