"""Table catalog over the driver testdata directories.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
At 100 TB each "table" becomes a directory of many parquet files (or an
external catalog table); `load_table` takes any path spark.read.parquet
accepts, so nothing here assumes single-file inputs.

Timestamp unit — one rule at the read, for batch, stream and convert
alike: the Parquet footer decides. Spark's reader rejects a
``TIMESTAMP(NANOS)`` column (pandas writes ``datetime64[ns]`` so), and
under ``spark.sql.legacy.parquet.nanosAsLong`` infers it as a plain
``bigint``, indistinguishable from an unannotated INT64 in the inferred
schema. `parquet_schema` therefore also reads one data file's footer
and names the top-level NANOS columns; `to_micros` turns exactly those
into the type Spark infers for a MICROS column with the same
``isAdjustedToUTC`` flag (``false`` → ``timestamp_ntz``, ``true`` →
``timestamp``), truncating with *integer* division (``div 1000``) — a
float division would lose precision above 2^53 ns and round instead of
truncate, diverging from DuckDB's ns→µs cast by 1 µs on ~half the rows.
The cast to the naive type reads the instant in the session time zone,
which `ensure_session_configs` pins to UTC. A plain INT64 column stays
``bigint``; MICROS/MILLIS columns infer as timestamps on their own.

Schema resolution: an inferring ``spark.read.parquet`` runs a footer
job before the query starts. `parquet_schema` keeps the schema Spark
inferred for a path, with its NANOS columns, in `filesig.memo`, beside
the path's signature and the session confs that steer inference, and
every read uses that schema — so a long-lived driver re-running
queries over unchanged tables pays no inference job. Remote schemes and
paths that cannot be stat'ed infer (and read the footer) on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from parquet_to_hyper_app_spark.session import ensure_session_configs
from parquet_to_hyper_app_spark.sources.filesig import memo

#: All driver-generated tables (TESTDATA.md / FIXTURES.md §A).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: footer logical type of a NANOS column → the type Spark infers for a
#: MICROS column with the same ``isAdjustedToUTC`` flag
_NANOS_TYPES = {
    "TIMESTAMP(NANOS,false)": "timestamp_ntz",
    "TIMESTAMP(NANOS,true)": "timestamp",
}

#: session confs that change what parquet schema inference returns; a
#: memoized schema is reused only under the values it was inferred with
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


def _nanos_columns(spark: SparkSession, file: str) -> dict[str, str]:
    """Top-level ``TIMESTAMP(NANOS)`` columns of one parquet file, from
    its footer, read on the driver (no Spark job) through the session's
    Hadoop configuration, so any scheme ``spark.read`` accepts works."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hfile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(file), conf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hfile)
    try:
        fields = reader.getFooter().getFileMetaData().getSchema().getFields()
    finally:
        reader.close()
    types = {f.getName(): str(f.getLogicalTypeAnnotation()) for f in fields}
    return {c: _NANOS_TYPES[t] for c, t in types.items() if t in _NANOS_TYPES}


def parquet_schema(spark: SparkSession, path: str) -> tuple[StructType, dict[str, str]]:
    """The schema Spark infers for ``path`` and its NANOS columns
    (name → target type, see the module docstring), memoized while
    ``path``'s data files and the inference confs are unchanged."""

    def infer() -> tuple[StructType, dict[str, str]]:
        df = spark.read.parquet(path)
        return df.schema, _nanos_columns(spark, min(df.inputFiles()))

    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    return memo("schema", path, infer, confs)


def to_micros(df: DataFrame, nanos: dict[str, str]) -> DataFrame:
    """``df`` with each NANOS column (read as its raw int64) turned
    into a µs-truncated timestamp of the type ``nanos`` names."""
    if not nanos:
        return df
    return df.withColumns(
        {
            c: F.expr(f"CAST(timestamp_micros(`{c.replace('`', '``')}` div 1000) AS {t})")
            for c, t in nanos.items()
        }
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer's timestamp unit
    applied, minus the schema-inference job when ``path``'s data files
    and the inference confs are unchanged since it was last inferred."""
    schema, nanos = parquet_schema(spark, path)
    return to_micros(spark.read.schema(schema).parquet(path), nanos)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (see `read_parquet`)."""
    ensure_session_configs(spark)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
