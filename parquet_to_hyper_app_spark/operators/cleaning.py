"""Reference-parity transforms: numeric cleaning + schema normalization.

These re-express the reference's only two data transforms as pure
DataFrame→DataFrame projections (single narrow stage, whole-stage
codegen, no shuffle — they cost one pass regardless of data size):

- ``clean_numeric`` ≙ reference ``clean_data`` (app.py:42-52): for every
  numeric column replace +Inf/-Inf with 0, then NaN/null with 0.
  Observable pandas semantics (SURVEY.md §7.3): float columns get the
  full NaN/Inf/null→0 rule; integer columns can only hold null → they
  get null→0.
- ``normalize_schema`` ≙ reference ``get_hyper_type`` widening applied
  once per conversion (app.py:27-40, 117-122): all ints → bigint, all
  floats → double, bool/timestamp kept, intervals and decimals → string
  (the reference's lossy else-branch), everything the reference could
  not represent (nested arrays/maps/structs/binary) passes through
  unchanged — a columnar engine keeps structure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def _clean_col(field: T.StructField) -> Column:
    c = F.col(field.name)
    if isinstance(field.dataType, _FLOAT_TYPES):
        bad = c.isNull() | F.isnan(c) | c.isin(float("inf"), float("-inf"))
        return F.when(bad, F.lit(0.0).cast(field.dataType)).otherwise(c).alias(field.name)
    if isinstance(field.dataType, _INT_TYPES):
        return F.coalesce(c, F.lit(0).cast(field.dataType)).alias(field.name)
    return c


def clean_numeric(df: DataFrame) -> DataFrame:
    """NaN/±Inf/null → 0 on float columns; null → 0 on int columns."""
    return df.select(*[_clean_col(f) for f in df.schema.fields])


def _normalize_col(field: T.StructField) -> Column:
    c = F.col(field.name)
    dt = field.dataType
    if isinstance(dt, _INT_TYPES):
        return c.cast(T.LongType()).alias(field.name)
    if isinstance(dt, _FLOAT_TYPES):
        return c.cast(T.DoubleType()).alias(field.name)
    if isinstance(dt, T.DateType):
        # reference: pandas reads parquet date as datetime64 → timestamp
        return c.cast(T.TimestampNTZType()).alias(field.name)
    if isinstance(dt, (T.DayTimeIntervalType, T.DecimalType)):
        # reference else-branch: lossy collapse to text (app.py:37-40)
        return c.cast(T.StringType()).alias(field.name)
    return c


def normalize_schema(df: DataFrame) -> DataFrame:
    """Apply the reference's type-widening rules as one projection."""
    return df.select(*[_normalize_col(f) for f in df.schema.fields])


# --------------------------------------------------------------------------
# Declared queries (SURVEY.md §2B S1–S3)
# --------------------------------------------------------------------------


@query("parquet_scan", oracle="SELECT * FROM lineitem")
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: full parquet scan, stable column order (reference app.py:92-109)."""
    return load_table(spark, sf_dir, "lineitem")


@query("parquet_scan_events", oracle="SELECT * FROM events")
def parquet_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1b: scan of the timestamp-bearing source, proving the catalog's
    footer-decided timestamp unit matches the oracle's µs timestamps."""
    return load_table(spark, sf_dir, "events")


@query(
    "normalize_schema",
    oracle="""
    SELECT
        CAST(p_partkey AS BIGINT) AS p_partkey,
        p_name, p_brand, p_type,
        CAST(p_size AS BIGINT) AS p_size,
        CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part
    """,
)
def normalize_schema_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: reference type widening on `part` (int32 p_size → bigint)."""
    return normalize_schema(load_table(spark, sf_dir, "part"))


@query(
    "clean_numeric",
    oracle="""
    SELECT
        coalesce(l_orderkey, 0) AS l_orderkey,
        coalesce(l_partkey, 0) AS l_partkey,
        coalesce(l_suppkey, 0) AS l_suppkey,
        coalesce(l_linenumber, 0) AS l_linenumber,
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
def clean_numeric_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the reference's clean_data (NaN/±Inf/null→0) on `lineitem`."""
    return clean_numeric(load_table(spark, sf_dir, "lineitem"))


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "profile_columns",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               min({c}) AS min_value,
               max({c}) AS max_value
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column null count, exact distinct count, and
    min/max for every numeric measure — the pre-ingest audit every
    pipeline runs before trusting a new batch.

    One distributed pass: a single aggregation computes all columns'
    stats (the multiple COUNT(DISTINCT)s plan as one Expand — rows ×
    n_cols — with partial aggregation, NOT one scan per column like
    the oracle's UNION ALL), then the single result row explodes into
    long format driver-side-free. `scan_spread` parallelizes the
    Expand + partial aggregation past the row-group-limited scan
    (sources/scanwidth.py; identity on production layouts).
    """
    li = scan_spread(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    n = F.count(F.lit(1))
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (n - F.count(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
        ]
    one = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__nn_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")
