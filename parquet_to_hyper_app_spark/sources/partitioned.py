"""Partitioned sink + partition-pruned scan (the 100 TB layout story).

At scale a table is a directory tree partitioned by low-cardinality
columns; a filter on the partition column must prune directories at
planning time (PartitionFilters in the scan, zero I/O for other
partitions). This module writes a hive-layout partitioned sink and
reads it back pruned — `tests/test_plans.py` asserts the pruning
actually happens in the plan.

Every read of a sink written here passes the schema it was written
with: no read-back pays a schema-inference job, and the partition
column keeps its written type instead of one inferred from directory
names.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread
from parquet_to_hyper_app_spark.registry import query


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per source state) orders partitioned by
    o_orderstatus. The cache key includes the source file's
    mtime+size so a regenerated testdata dir with the same name never
    serves a stale sink."""
    import shutil
    import uuid

    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    path = os.path.join(
        tempfile.gettempdir(),
        "p2h_spark_part",
        f"{os.path.basename(sf_dir.rstrip('/'))}_{int(st.st_mtime)}_{st.st_size}",
        "orders",
    )
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # write to a process-unique staging dir, then atomically rename
        # into place — a naive check-then-overwrite races a concurrent
        # process (parity + pytest in parallel) into a corrupt sink
        staging = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        write_partitioned(load_table(spark, sf_dir, "orders"), staging, "o_orderstatus")
        try:
            os.rename(staging, path)
        except OSError:
            # another process won the rename; use theirs
            shutil.rmtree(staging, ignore_errors=True)
    return path


@query(
    "partitioned_sink_prune",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority,
           o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + pruned read: only the o_orderstatus=F
    directory is scanned (PartitionFilters, not a data filter)."""
    path = partitioned_orders_path(spark, sf_dir)
    return (
        spark.read.schema(load_table(spark, sf_dir, "orders").schema)
        .parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
            "o_orderstatus",
        )
    )


def compact_files(
    df: DataFrame, path: str, target_file_bytes: int = 128 << 20, approx_row_bytes: int | None = None
) -> None:
    """Small-file compaction: rewrite a fragmented dataset into files of
    ~target_file_bytes. File count = ceil(estimated_bytes / target);
    estimation uses the Catalyst plan's sizeInBytes unless the caller
    supplies a measured per-row byte width. One round-robin repartition
    (a single shuffle) spreads rows evenly across the writers — the
    standard nightly maintenance pass that keeps a 100 TB table's file
    census near the 128 MB–1 GB sweet spot instead of millions of
    KB-scale appends drowning the scheduler in splits.
    """
    import math

    if approx_row_bytes is not None:
        n_rows = df.count()
        est_bytes = n_rows * approx_row_bytes
    else:
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_files = max(1, math.ceil(est_bytes / target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").parquet(path)


@query("sink_compacted", oracle="SELECT * FROM lineitem")
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip: fragment `lineitem` into many small files
    (64 KB target — deliberately pathological), then compact back to
    128 MB targets and read the result. The oracle is the source table:
    compaction must be value-neutral. tests/test_scale_features.py
    asserts the file-count arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = os.path.join(tempfile.gettempdir(), "p2h_spark_part", "compact")
    frag = os.path.join(base, "fragmented")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = os.path.join(base, "compacted")
    compact_files(spark.read.schema(li.schema).parquet(frag), compacted)
    return spark.read.schema(li.schema).parquet(compacted)


@query("sink_range_clustered", oracle="SELECT * FROM lineitem")
def sink_range_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sink: repartitionByRange(l_shipdate) +
    sortWithinPartitions — the standard time-series training-data
    layout. Each output file owns a contiguous shipdate range and is
    internally sorted, so parquet row-group min/max statistics prune
    time-window scans file-by-file (the unpartitioned cousin of hive
    partition pruning, without the directory explosion of one
    partition per day). Range boundaries come from Spark's reservoir
    sample of the key distribution, so skewed dates still yield
    balanced files. Value-neutral: oracle is the source table.
    """
    # scan_spread: repartitionByRange SAMPLES its child in a separate
    # job, so a row-group-limited scan decodes serially TWICE (sample
    # + main); behind the spread's shuffle the decode runs once and
    # both jobs read shuffle output in parallel (identity at scale)
    li = scan_spread(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    path = os.path.join(tempfile.gettempdir(), "p2h_spark_part", "range_clustered")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.schema(li.schema).parquet(path)


#: bits per dimension for the z-order curve (16 → 32-bit z-values)
_Z_BITS = 16


def zorder_value(x_bucket, y_bucket):
    """Interleave two <=16-bit bucket ids into a Morton (Z-order)
    code, entirely in JVM expressions: bit i of x lands at 2i+1, bit i
    of y at 2i. Locality on the curve ⇒ locality in BOTH dimensions."""
    return F.expr(
        f"""
        aggregate(sequence(0, {_Z_BITS - 1}), 0L,
                  (acc, i) -> acc
                      | shiftleft(CAST(shiftright({x_bucket}, i) & 1 AS BIGINT), 2*i + 1)
                      | shiftleft(CAST(shiftright({y_bucket}, i) & 1 AS BIGINT), 2*i))
        """
    )


@query(
    "sink_zorder_clustered",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE)
               AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 300
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    """,
)
def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered sink: orders laid out so that
    parquet row-group min/max statistics prune selective scans on BOTH
    (o_custkey, o_orderdate) — the multi-dimensional cousin of
    `sink_range_clustered`'s 1-D time layout, and what a lakehouse
    OPTIMIZE ... ZORDER BY does.

    Mechanics: each dimension is normalized to a 16-bit bucket against
    its observed min/max (a 1-row broadcast), the bucket bits are
    interleaved into a Morton code (pure JVM higher-order expression),
    and the table is range-partitioned + sorted by that code. A file
    then owns a contiguous curve segment — a small rectangle in
    (custkey × date) space — so a 2-D selective read touches few
    files, where either single-column sort would only prune one
    dimension. The read-back applies both filters; the oracle is the
    same 2-D selection on the source, proving the layout value-neutral
    AND the pushed predicates correct (`PushedFilters` asserted in
    tests/test_plans.py::test_zorder_sink_prunes_both_dims).
    """
    # scan_spread: three jobs read this scan (bounds agg, range
    # sampler, main write); behind the spread the serial decode runs
    # once and all three read shuffle output (identity at scale)
    orders = scan_spread(load_table(spark, sf_dir, "orders"), "o_orderkey")
    lo_hi = orders.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("d_lo"),
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("d_hi"),
    )
    top = (1 << _Z_BITS) - 1
    bucket = (
        lambda v, lo, hi: F.least(
            F.floor(
                (v - F.col(lo)).cast("double")
                / F.greatest(F.col(hi) - F.col(lo), F.lit(1))
                * top
            ).cast("long"),
            F.lit(top),
        )
    )
    with_z = (
        orders.crossJoin(F.broadcast(lo_hi))
        .withColumn("__ck_b", bucket(F.col("o_custkey"), "ck_lo", "ck_hi"))
        .withColumn(
            "__d_b",
            bucket(
                F.unix_micros(F.col("o_orderdate").cast("timestamp")), "d_lo", "d_hi"
            ),
        )
        .withColumn("__z", zorder_value("__ck_b", "__d_b"))
        .drop("ck_lo", "ck_hi", "d_lo", "d_hi")
    )
    path = os.path.join(tempfile.gettempdir(), "p2h_spark_part", "zorder_clustered")
    clustered = (
        with_z.repartitionByRange(8, "__z")
        .sortWithinPartitions("__z")
        .drop("__ck_b", "__d_b", "__z")
    )
    clustered.write.mode("overwrite").parquet(path)
    return (
        spark.read.schema(clustered.schema)
        .parquet(path)
        .filter(F.col("o_custkey").between(100, 300))
        .filter(
            F.col("o_orderdate").between(
                F.lit("1996-01-01").cast("timestamp_ntz"),
                F.lit("1996-12-31").cast("timestamp_ntz"),
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT event_id, ts, user_id, CAST(value AS DOUBLE) AS value, event_type
    FROM events WHERE event_type <> 'click'
    UNION ALL
    SELECT event_id, ts, user_id, CAST(value AS DOUBLE) AS value, event_type
    FROM events WHERE event_type = 'click' AND value >= 50
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill sink
    semantics every partitioned lake job needs: a second write with
    partitionOverwriteMode=dynamic replaces ONLY the partitions it
    produces rows for, leaving sibling partitions untouched (static
    mode would truncate the whole table first).

    Demonstrated as seed-then-backfill: the full events table is
    written partitioned by event_type, then a curated recompute of just
    the 'click' partition (value ≥ 50) overwrites it in place. The
    read-back must therefore contain every non-click event unchanged
    plus only the curated clicks — which is exactly the oracle. The
    overwrite mode rides a per-write option, not a session conf, so
    the driver-owned session is untouched. At scale each dynamic
    overwrite is a metadata swap of the partition directories written
    by the job — no read-modify-write of the table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    path = os.path.join(tempfile.gettempdir(), "p2h_spark_part", "dyn_overwrite")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    (
        ev.filter((F.col("event_type") == "click") & (F.col("value") >= 50))
        .write.partitionBy("event_type")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    # explicit schema: no inference job, and the partition column keeps
    # ev's string type instead of one inferred from directory names
    return spark.read.schema(ev.schema).parquet(path).select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
