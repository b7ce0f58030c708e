"""S4 `convert_sink` — the reference's end-to-end conversion pipeline.

Reference (app.py:67-174): spool upload → stream 10k-row Arrow batches →
clean numerics → infer/widen schema from first chunk → row-insert into a
Hyper table → zip the file. Spark-first re-expression: one declarative
``read.parquet → clean_numeric → normalize_schema → write`` chain.
Chunking, pipelining, parallelism, memory management and spill are
Catalyst/Tungsten's job (SURVEY.md §4.2) — none of the reference's
manual batch loop, GC calls or row materialization survives.

Sink choices:
- parquet/orc/csv/json directory sink (default parquet; scales to any
  cluster size — one file per task, no driver bottleneck), read back
  with the schema it was written with, so no format loses or reorders
  a column and no read-back pays an inference job;
- JDBC sink (`write_jdbc`) for the reference's "insert into a database
  table" semantics — per-partition batched inserts replace the
  reference's single-threaded Inserter loop (app.py:128-131);
- `compress_to_zip` replicates the reference's zip delivery post-step
  (app.py:54-65) as a driver-side convenience, NOT an engine operator.

The tableauhyperapi sink itself is intentionally not an engine op: it is
a single-process driver-local library (SURVEY.md §7.3 risk 3); the
neutral sink covers the engine semantics.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import read_parquet
from parquet_to_hyper_app_spark.operators.cleaning import clean_numeric, normalize_schema
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.session import ensure_session_configs


def convert(
    spark: SparkSession, input_path: str, output_path: str, fmt: str = "parquet"
) -> tuple[DataFrame, dict]:
    """Scan → clean → widen → write; returns the sink read back with the
    schema it was written with, and the pipeline metrics.

    The metrics replace the reference's per-chunk progress counter and
    its rows_processed check (R10, app.py:106,133-136,156-160): an
    Observation on the written frame counts ``rows_processed`` during
    the write itself, with no second pass over the data.

    Raises the typed errors from sources/errors.py (the reference's
    R14 ladder, app.py:163-174) instead of string-matching messages.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import Observation

    from parquet_to_hyper_app_spark.sources.errors import (
        ConversionMemoryError,
        ConversionSchemaError,
        ConversionSourceError,
    )

    ensure_session_configs(spark)
    try:
        src = read_parquet(spark, input_path)
    except AnalysisException as e:
        raise ConversionSourceError(f"cannot open parquet source {input_path!r}: {e}") from e
    try:
        df = normalize_schema(clean_numeric(src))
    except AnalysisException as e:  # plan-time schema/cast failures only
        raise ConversionSchemaError(f"schema cannot be normalized: {e}") from e
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows_processed"))
    try:
        observed.write.format(fmt).mode("overwrite").save(output_path)
    except Exception as e:  # pragma: no cover - hard to provoke locally
        # cast/widening problems mostly surface lazily HERE, not at
        # plan time; JVM OOMs arrive as Py4J errors wrapping
        # java.lang.OutOfMemoryError, never Python MemoryError
        r = repr(e)
        if isinstance(e, MemoryError) or "OutOfMemoryError" in r:
            raise ConversionMemoryError(
                "out of memory during conversion; reduce "
                "spark.sql.files.maxPartitionBytes so row groups fit "
                "executor memory"
            ) from e
        if "CAST_INVALID_INPUT" in r or "CANNOT_UP_CAST" in r or "SparkArithmeticException" in r:
            raise ConversionSchemaError(f"cast failed during conversion: {e}") from e
        raise
    return spark.read.format(fmt).schema(df.schema).load(output_path), obs.get


def write_jdbc(df: DataFrame, url: str, table: str, **options) -> None:
    """Database-table sink: per-partition batched inserts (reference's
    Inserter.add_rows loop, app.py:128-131, parallelized per partition)
    of 10 000 rows per batch unless ``options`` sets ``batchsize``."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", "10000")
        .options(**options)
        .mode("append")
        .save()
    )


def write_hyper(df: DataFrame, hyper_path: str, batch_rows: int = 10_000) -> int:
    """Optional Tableau Hyper sink — the reference's actual output
    format (app.py:98-131). Gated: tableauhyperapi is not installed in
    this container; on a machine with it, this streams the DataFrame
    through `toLocalIterator` (bounded driver memory) into a Hyper
    `Extract.Extract` table in `batch_rows` chunks, mirroring the
    reference's Inserter loop semantics. Returns rows written.

    Driver-local by necessity (hyperd is a single-process sidecar) —
    this is a delivery step, not a distributed engine operator; the
    distributed pipeline ends at the parquet/JDBC sink.
    """
    try:
        from tableauhyperapi import (  # noqa: F401
            Connection,
            CreateMode,
            HyperProcess,
            Inserter,
            SqlType,
            TableDefinition,
            TableName,
            Telemetry,
        )
    except ImportError as e:
        raise NotImplementedError(
            "tableauhyperapi is not installed in this environment; "
            "pip install tableauhyperapi to enable the Hyper sink"
        ) from e

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    type_map = {
        T.LongType: SqlType.big_int,
        T.IntegerType: SqlType.big_int,
        T.DoubleType: SqlType.double,
        T.FloatType: SqlType.double,
        T.BooleanType: SqlType.bool,
        T.DateType: SqlType.date,
        T.TimestampType: SqlType.timestamp,
        T.TimestampNTZType: SqlType.timestamp,
    }
    # any type without a Hyper mapping (arrays/maps/structs/binary,
    # which normalize_schema deliberately passes through) becomes its
    # string rendering — inserting raw Python containers into a text
    # column would make the Inserter raise mid-stream otherwise
    projected = [
        F.col(f.name)
        if type(f.dataType) in type_map or isinstance(f.dataType, T.StringType)
        else F.col(f.name).cast("string").alias(f.name)
        for f in df.schema.fields
    ]
    df = df.select(*projected)
    cols = [
        TableDefinition.Column(
            f.name, type_map.get(type(f.dataType), SqlType.text)()
        )
        for f in df.schema.fields
    ]
    table = TableName("Extract", "Extract")
    rows_written = 0
    with HyperProcess(telemetry=Telemetry.DO_NOT_SEND_USAGE_DATA_TO_TABLEAU) as hyper:
        with Connection(hyper.endpoint, hyper_path, CreateMode.CREATE_AND_REPLACE) as conn:
            conn.catalog.create_schema("Extract")
            conn.catalog.create_table(TableDefinition(table, cols))
            with Inserter(conn, TableDefinition(table, cols)) as inserter:
                batch: list[list] = []
                for row in df.toLocalIterator():
                    batch.append(list(row))
                    if len(batch) >= batch_rows:
                        inserter.add_rows(batch)
                        rows_written += len(batch)
                        batch = []
                if batch:
                    inserter.add_rows(batch)
                    rows_written += len(batch)
                inserter.execute()
    return rows_written


def compress_to_zip(path: str) -> str:
    """Zip-DEFLATE a sink file/directory into ``<path>.zip`` (reference
    app.py:54-65 parity).

    Driver-side delivery step, not part of any distributed plan.
    """
    zip_path = path.rstrip("/") + ".zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, path))
        else:
            zf.write(path, os.path.basename(path))
    return zip_path


@query(
    "convert_sink",
    oracle="""
    SELECT
        coalesce(l_orderkey, 0) AS l_orderkey,
        coalesce(l_partkey, 0) AS l_partkey,
        coalesce(l_suppkey, 0) AS l_suppkey,
        CAST(coalesce(l_linenumber, 0) AS BIGINT) AS l_linenumber,
        CASE WHEN l_quantity IS NULL OR isnan(l_quantity) OR isinf(l_quantity)
             THEN 0 ELSE l_quantity END AS l_quantity,
        CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) OR isinf(l_extendedprice)
             THEN 0 ELSE l_extendedprice END AS l_extendedprice,
        CASE WHEN l_discount IS NULL OR isnan(l_discount) OR isinf(l_discount)
             THEN 0 ELSE l_discount END AS l_discount,
        CASE WHEN l_tax IS NULL OR isnan(l_tax) OR isinf(l_tax)
             THEN 0 ELSE l_tax END AS l_tax,
        l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    """,
)
def convert_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: full convert pipeline on `lineitem`, parquet sink, read back.

    The oracle is the composed clean+widen projection — the sink
    round-trip must be value-preserving, so this is a strong check of
    the whole pipeline, not just rows-only.
    """
    sink = os.path.join(tempfile.gettempdir(), "parquet_to_hyper_app_spark_sink", "lineitem")
    return convert(spark, os.path.join(sf_dir, "lineitem.parquet"), sink)[0]


@query(
    "convert_sink_events",
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
def convert_sink_events_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4b: convert the timestamp-bearing `events` source end-to-end.

    The oracle is the clean+widen projection of the source (the clean
    rule is the identity on this data, stated explicitly so the check
    stays exact if the generator ever emits nulls/NaNs): the parquet
    sink round-trip must be value-preserving on a second schema (JSON
    strings, timestamps, doubles).
    """
    sink = os.path.join(tempfile.gettempdir(), "parquet_to_hyper_app_spark_sink", "events")
    return convert(spark, os.path.join(sf_dir, "events.parquet"), sink)[0]
