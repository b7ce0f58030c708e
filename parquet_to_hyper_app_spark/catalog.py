"""Table catalog over the driver testdata directories.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
The loader normalizes source quirks so every downstream operator sees a
clean, oracle-comparable schema:

- ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
  vectorized reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
  we read raw int64 nanoseconds and truncate to microseconds with
  *integer* division (``div 1000``) — float division would lose
  precision above 2^53 ns and round instead of truncate, diverging from
  DuckDB's ns→us cast by 1 µs on ~half the rows.
- ms-precision timestamps (orders/lineitem) infer as TIMESTAMP_NTZ,
  which matches DuckDB's UTC-naive timestamps value-for-value.

At 100 TB each "table" becomes a directory of many parquet files (or an
external catalog table); `load_table` takes any path spark.read.parquet
accepts, so nothing here assumes single-file inputs.

Schema resolution: an inferring ``spark.read.parquet`` runs a footer
job before the query starts. `read_parquet` keeps the schema Spark
inferred for a path in `filesig.memo`, beside the path's signature and
the session confs that steer inference, and always reads with that
schema — so a long-lived driver re-running queries over unchanged
tables pays no inference job. Remote schemes and paths that cannot be
stat'ed infer on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

#: events.ts int64-nanos → µs-truncated naive timestamp (matches the
#: DuckDB oracle, which exposes the ns column as a µs TIMESTAMP).
EVENTS_TS_EXPR = "CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"


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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, minus the schema-inference job
    when ``path``'s data files and the inference confs are unchanged
    since the schema was last inferred for it."""
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    schema = memo("schema", path, lambda: spark.read.parquet(path).schema, confs)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with source normalization applied."""
    ensure_session_configs(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(EVENTS_TS_EXPR))
    return df

