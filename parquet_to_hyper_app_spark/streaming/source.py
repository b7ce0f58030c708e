"""Shared file-stream source plumbing for the events table.

One place owns: the raw on-disk schema of events.parquet, the
NORMALIZATION of its int64 ``ts`` column to microseconds, the symlinked
source directory (the file stream source requires a directory), and
the per-query checkpoint location. Every streaming query builds on
this — a schema or convention change happens here once.

Why normalization lives HERE and nowhere else: the unit the parquet
reader hands back for an int64-typed ``ts`` depends on the file's
physical timestamp annotation and the read path — an inferred batch
read under ``nanosAsLong`` yields raw nanos, while a user-schema
``ts bigint`` read (the only form ``readStream`` supports) converts
TIMESTAMP(MICROS) data to micros as-is. Round 2 shipped the ns→µs
``div 1000`` in four downstream queries on top of an already-µs
stream, shifting every streamed timestamp 1000× into 1970
(CORRECTNESS_r02: stream_watermark_late 0/3380 rows). The stream
source now detects the on-disk unit once per directory (magnitude
probe on one row — epoch-2000+ data differs by 10^3 per unit, so the
bands are unambiguous) and every caller receives int64 MICROS.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.session import ensure_session_configs
from parquet_to_hyper_app_spark.sources.filesig import remember, signature

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


def stream_dir(qname: str) -> str:
    """The engine-created directory of stream query ``qname``: ``src``
    holds the source symlink, ``ckpt`` the checkpoint and state store."""
    return os.path.join(tempfile.gettempdir(), "p2h_spark_stream", qname)


def discard_stream_dir(ckpt: str) -> None:
    """Remove the `stream_dir` that checkpoint ``ckpt`` lives in, once
    its one-shot query has terminated and nothing reads from it any
    more. A checkpoint anywhere else (a caller-supplied location) is
    left alone. Without this every run leaves its directory behind."""
    base = os.path.dirname(ckpt)
    if ckpt == os.path.join(stream_dir(os.path.basename(base)), "ckpt"):
        shutil.rmtree(base, ignore_errors=True)


#: user-supplied stream schema: ts read as raw int64 (unit detected below)
RAW_EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint,"
    " event_type string, value double, props string"
)

#: resolved events.parquet path → (file signature, detected (divisor,
#: multiplier) to µs). Keyed by the RESOLVED path (stable across
#: queries) — the per-query symlink dir embeds a uuid and would never
#: hit; the signature re-probes a rewrite in place that may carry a
#: different physical unit, replacing the path's entry (see `filesig`).
_TS_SCALE_CACHE: dict[str, tuple[tuple, tuple[int, int]]] = {}
_TS_SCALE_CACHE_MAX = 1024


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
    user schema. A ``target`` that cannot be stat'ed is probed on every
    call and never cached.
    """
    sig = signature(target)
    hit = _TS_SCALE_CACHE.get(target)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
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
        # query error). Not cached: a first batch arriving later
        # should get a real magnitude probe.
        return (1, 1)
    if ts > 3 * 10**16:
        scale = (1_000, 1)  # nanoseconds
    elif ts > 3 * 10**13:
        scale = (1, 1)  # microseconds
    elif ts > 3 * 10**10:
        scale = (1, 1_000)  # milliseconds
    else:
        scale = (1, 1_000_000)  # seconds
    if sig is not None:
        remember(_TS_SCALE_CACHE, _TS_SCALE_CACHE_MAX, target, (sig, scale))
    return scale


def events_file_stream(
    spark: SparkSession, sf_dir: str, qname: str
) -> tuple[DataFrame, str]:
    """Events file stream (+ checkpoint path) for query `qname`.

    The returned DataFrame has RAW_EVENTS_SCHEMA with ``ts`` already
    normalized to int64 MICROSECONDS regardless of the on-disk unit —
    callers build event time with ``timestamp_micros(ts)`` and must
    NOT apply any further unit conversion.
    """
    ensure_session_configs(spark)
    base = stream_dir(qname)
    src_dir = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    # absolutize: a relative sf_dir would make the symlink resolve
    # against /tmp (dangling) while batch reads still worked
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    # lexists + target check (review r5): the base dir is keyed only by
    # qname under the persistent tempdir, so a reused qname from an
    # earlier run leaves a stale link. os.path.exists FOLLOWS the link:
    # a dangling one looked absent (os.symlink then raised
    # FileExistsError) and a live one pointing at an OLD corpus was
    # silently streamed against the old checkpoint (zero new epochs —
    # an empty result presented as legitimate). Repoint + drop the
    # checkpoint whenever the target changed.
    if os.path.lexists(link):
        if not os.path.islink(link):
            # a leftover regular file/dir at the link path (interrupted
            # run, copied tree): os.readlink would raise EINVAL — treat
            # it as stale state and repair exactly like a repoint
            # (review r5)
            if os.path.isdir(link):
                shutil.rmtree(link, ignore_errors=True)
            else:
                os.unlink(link)
            shutil.rmtree(ckpt, ignore_errors=True)
            os.symlink(target, link)
        elif os.readlink(link) != target:
            os.unlink(link)
            shutil.rmtree(ckpt, ignore_errors=True)
            os.symlink(target, link)
    else:
        os.symlink(target, link)
    # recursiveFileLookup: the events table may be a single parquet
    # FILE (driver testdata) or a Spark-written DIRECTORY of part
    # files (scale-probe replicas, any real table) — the stream file
    # listing does not descend into subdirectories on its own, so a
    # directory-shaped target silently streamed 0 rows (found by the
    # r6 x16 probe against stream_quality_gate's identical read)
    stream = (
        spark.readStream.schema(RAW_EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    div, mul = _ts_micros_scale(spark, src_dir, os.path.realpath(link))
    if (div, mul) != (1, 1):
        stream = stream.withColumn("ts", F.expr(f"ts div {div} * {mul}"))
    return stream, ckpt


def run_to_memory(stream: DataFrame, qname: str, ckpt: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink
    (availableNow) and return the result. One definition of the
    writeStream boilerplate for every streaming query.

    The memory sink pins the full result in the driver behind a
    session-lifetime temp view; qnames are uuids, so repeated runs in
    one session (parity sweeps, fuzz rounds) would accumulate without
    bound. localCheckpoint detaches the rows from the sink so the temp
    view can be dropped immediately — the checkpointed blocks are
    released by the ContextCleaner when the returned DataFrame is
    garbage-collected — and the engine-created stream directory is
    removed (`discard_stream_dir`)."""
    spark = stream.sparkSession
    with stream_shuffle_scope(spark):
        q = (
            stream.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(qname).localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    discard_stream_dir(ckpt)
    return out
