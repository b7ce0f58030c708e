"""Unit + property tests for the reference-parity transforms.

Pins the observable semantics of reference app.py:27-52 on the
micro-fixtures from FIXTURES.md §B — edge cases the sf-testdata oracle
can't reach (NaN/Inf literals, nullable ints, all-null columns,
interval/decimal widening, idempotence).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_hyper_app_spark.operators.cleaning import clean_numeric, normalize_schema

NAN, INF = float("nan"), float("inf")


@pytest.fixture(scope="module")
def clean_fixture(spark):
    schema = T.StructType(
        [
            T.StructField("f_plain", T.DoubleType()),
            T.StructField("i_nullable", T.LongType()),
            T.StructField("s_untouched", T.StringType()),
            T.StructField("b_untouched", T.BooleanType()),
        ]
    )
    rows = [
        (1.5, 7, "a", True),
        (NAN, None, None, None),
        (INF, -3, "NaN", False),
        (-INF, None, "b", True),
        (None, 5, "c", None),
        (0.0, 0, "", False),
    ]
    return spark.createDataFrame(rows, schema)


def test_clean_numeric_float_rule(clean_fixture):
    got = [r.f_plain for r in clean_numeric(clean_fixture).orderBy("s_untouched").collect()]
    assert all(v is not None and not math.isnan(v) and not math.isinf(v) for v in got)
    vals = sorted(r.f_plain for r in clean_numeric(clean_fixture).collect())
    assert vals == [0.0, 0.0, 0.0, 0.0, 0.0, 1.5]


def test_clean_numeric_int_null_to_zero(clean_fixture):
    vals = sorted(r.i_nullable for r in clean_numeric(clean_fixture).collect())
    assert vals == [-3, 0, 0, 0, 5, 7]


def test_clean_numeric_leaves_non_numeric(clean_fixture):
    got = clean_numeric(clean_fixture).collect()
    assert sorted(str((r.s_untouched, r.b_untouched)) for r in got) == sorted(
        str((r.s_untouched, r.b_untouched)) for r in clean_fixture.collect()
    )


def test_clean_numeric_idempotent(clean_fixture):
    once = clean_numeric(clean_fixture)
    twice = clean_numeric(once)
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_clean_numeric_empty_and_all_null(spark):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    empty = spark.createDataFrame([], schema)
    assert clean_numeric(empty).count() == 0
    all_null = spark.createDataFrame([(None,), (None,)], schema)
    assert [r.x for r in clean_numeric(all_null).collect()] == [0.0, 0.0]


def test_normalize_schema_widening(spark):
    schema = T.StructType(
        [
            T.StructField("i8", T.ByteType()),
            T.StructField("i32", T.IntegerType()),
            T.StructField("f32", T.FloatType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("dec", T.DecimalType(10, 2)),
            T.StructField("s", T.StringType()),
        ]
    )
    import decimal

    df = spark.createDataFrame([(1, 2, 3.5, True, decimal.Decimal("1.25"), "x")], schema)
    out = normalize_schema(df)
    dt = dict(out.dtypes)
    assert dt == {
        "i8": "bigint",
        "i32": "bigint",
        "f32": "double",
        "b": "boolean",
        "dec": "string",
        "s": "string",
    }
    row = out.collect()[0]
    assert row.i8 == 1 and row.i32 == 2 and row.f32 == 3.5 and row.dec == "1.25"


def test_normalize_schema_keeps_complex_types(spark):
    df = spark.range(1).select(
        F.array(F.lit(1.0)).alias("arr"), F.struct(F.lit(1).alias("a")).alias("st")
    )
    dt = dict(normalize_schema(df).dtypes)
    assert dt["arr"].startswith("array") and dt["st"].startswith("struct")


def test_normalize_idempotent(spark):
    df = spark.createDataFrame([Row(i=1, f=2.0, s="a")])
    once = normalize_schema(df)
    assert normalize_schema(once).dtypes == once.dtypes


def test_column_names_with_spaces_and_unicode(spark):
    df = spark.createDataFrame(
        [(1, 2.0)],
        T.StructType(
            [
                T.StructField("col with space", T.IntegerType()),
                T.StructField("cölümn", T.FloatType()),
            ]
        ),
    )
    out = normalize_schema(clean_numeric(df))
    assert dict(out.dtypes) == {"col with space": "bigint", "cölümn": "double"}


def test_grouped_map_single_row_group_yields_null(spark):
    """A single-observation group has undefined stddev: the zscore must
    surface as SQL NULL (not NaN) to match the oracle semantics."""
    from parquet_to_hyper_app_spark.functions.udfs import _zscore_group
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 1.0), (3, 20, 2.0)],
        "event_id long, user_id long, value double",
    )
    out = ev.groupBy("user_id").applyInPandas(
        _zscore_group, "event_id long, user_id long, value double, zscore double"
    )
    out = out.withColumn(
        "zscore", F.when(F.isnan("zscore"), F.lit(None)).otherwise(F.col("zscore"))
    )
    rows = {r.event_id: r.zscore for r in out.collect()}
    assert rows[1] is None  # single-row group
    assert rows[2] is not None and rows[3] is not None


def test_clean_numeric_cleans_every_numeric_column(spark):
    """Every int column, whatever its name, gets null → 0: an event
    time arrives at cleaning as a timestamp type (the catalog applies
    the footer's unit at the read), never as an int64 to exempt."""
    from parquet_to_hyper_app_spark.operators.cleaning import clean_numeric

    df = spark.createDataFrame(
        [(None, None, float("nan")), (5, 7, 1.5)],
        "ts bigint, user_id bigint, value double",
    )
    out_all = {tuple(r) for r in clean_numeric(df).collect()}
    assert out_all == {(0, 0, 0.0), (5, 7, 1.5)}
