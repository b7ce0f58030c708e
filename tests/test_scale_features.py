"""Tests for scale-layout features: connected components, partition
pruning, bucketed co-located joins, approx percentile accuracy, error
taxonomy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.operators.llm.dedup import connected_components
from parquet_to_hyper_app_spark.plans.inspect import physical_plan
from tests.conftest import SF_SMOKE


def test_connected_components_chain(spark):
    """a~b, b~c must land in one cluster labeled min(a) even though
    (a,c) is not an edge."""
    pairs = spark.createDataFrame([(1, 5), (5, 9), (20, 21)], "doc_a long, doc_b long")
    nodes = spark.range(25).select(F.col("id").alias("doc_id"))
    labels = {r.doc_id: r.cluster_id for r in connected_components(pairs, nodes).collect()}
    assert labels[1] == labels[5] == labels[9] == 1
    assert labels[20] == labels[21] == 20
    assert labels[3] == 3  # untouched singleton


def test_partition_pruning_in_plan(spark):
    from parquet_to_hyper_app_spark.sources.partitioned import partitioned_sink_prune

    df = partitioned_sink_prune(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:120]
    statuses = {r.o_orderstatus for r in df.select("o_orderstatus").distinct().collect()}
    assert statuses == {"F"}


def test_bucketed_join_has_no_shuffle(spark):
    """bucketBy-saved tables joined on the bucket key co-locate:
    the sort-merge join plans with zero shuffle exchanges."""
    import uuid

    suffix = uuid.uuid4().hex[:8]
    t_orders, t_customer = f"b_orders_{suffix}", f"b_customer_{suffix}"
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    orders.write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable(t_orders)
    customer.write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable(t_customer)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: broadcast would mask bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(t_orders).join(
            spark.table(t_customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_customer}")


def test_approx_percentile_close_to_exact(spark):
    from parquet_to_hyper_app_spark.registry import load_all

    specs = load_all()
    approx = {
        r.l_returnflag: (r.exact_p50, r.exact_p90, r.p50_within_1pct, r.p90_within_1pct)
        for r in specs["agg_approx_percentile"].fn(spark, SF_SMOKE).collect()
    }
    exact = {
        r.l_returnflag: (r.p50, r.p90)
        for r in specs["sql_percentile"]
        .fn(spark, SF_SMOKE)
        .selectExpr("l_returnflag", "median_qty", "p90_price")
        .selectExpr("l_returnflag", "median_qty as p50", "p90_price as p90")
        .collect()
    }
    for flag, (_p50, p90_d, ok50, ok90) in approx.items():
        assert ok50 and ok90, (flag, ok50, ok90)
        # nearest-rank p90 of extendedprice vs interpolated exact p90
        assert abs(p90_d - exact[flag][1]) / exact[flag][1] < 0.05


def test_error_taxonomy(spark, tmp_path):
    from parquet_to_hyper_app_spark.sources.convert import convert
    from parquet_to_hyper_app_spark.sources.errors import ConversionSourceError

    with pytest.raises(ConversionSourceError):
        convert(spark, "/nonexistent/nowhere.parquet", str(tmp_path / "out"))


def test_convert_with_metrics(spark, tmp_path):
    """R10 parity: df.observe counts rows during the write, no 2nd pass."""
    from parquet_to_hyper_app_spark.sources.convert import convert

    out, metrics = convert(spark, f"{SF_SMOKE}/orders.parquet", str(tmp_path / "sink"))
    assert metrics["rows_processed"] == out.count() == 1500


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_convert_reads_back_written_schema(spark, tmp_path, fmt):
    """A text sink comes back with the names, order, types and values
    it was written with: csv has no header to name its columns and json
    carries no column order or types."""
    from parquet_to_hyper_app_spark.catalog import read_parquet
    from parquet_to_hyper_app_spark.operators.cleaning import clean_numeric, normalize_schema
    from parquet_to_hyper_app_spark.sources.convert import convert

    src = f"{SF_SMOKE}/orders.parquet"
    out, metrics = convert(spark, src, str(tmp_path / "sink"), fmt=fmt)
    written = normalize_schema(clean_numeric(read_parquet(spark, src)))
    assert out.dtypes == written.dtypes
    assert out.count() == metrics["rows_processed"] == 1500
    assert out.exceptAll(written).isEmpty() and written.exceptAll(out).isEmpty()


def test_convert_reads_nanos_timestamps_as_micros(spark, tmp_path):
    """A pandas-style TIMESTAMP(NANOS) column converts to the timestamp
    type Spark gives a MICROS column with the same UTC flag, truncated
    to microseconds, and a NULL timestamp stays NULL (cleaning touches
    numeric columns only)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.sources.convert import convert

    ns = 1_704_164_645_123_456_789  # 2024-01-02 03:04:05.123456789
    src = str(tmp_path / "pandas.parquet")
    pq.write_table(
        pa.table(
            {
                "id": [1, 2],
                "ts": pa.array([ns, None], pa.timestamp("ns")),
                "ts_utc": pa.array([ns, ns], pa.timestamp("ns", tz="UTC")),
            }
        ),
        src,
    )
    out, metrics = convert(spark, src, str(tmp_path / "sink"))
    assert out.dtypes == [("id", "bigint"), ("ts", "timestamp_ntz"), ("ts_utc", "timestamp")]
    want = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    rows = {r.id: r for r in out.collect()}
    assert metrics["rows_processed"] == 2
    assert rows[1].ts == want and rows[2].ts is None
    # the session time zone is UTC, so the instant reads back as this wall clock
    assert out.select(F.unix_micros("ts_utc")).first()[0] == ns // 1000


def test_compact_files_count(spark, tmp_path):
    """compact_files must hit ceil(bytes/target) files, not 1, not 64."""
    import glob

    from parquet_to_hyper_app_spark.sources.partitioned import compact_files

    df = spark.range(100_000).selectExpr("id", "id * 2 AS v")
    frag = str(tmp_path / "frag")
    df.repartition(32).write.parquet(frag)
    out = str(tmp_path / "compact")
    # 16 bytes/row measured width -> 1.6 MB -> 4 files at 400 KB target
    compact_files(spark.read.parquet(frag), out, target_file_bytes=400_000,
                  approx_row_bytes=16)
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 4, files
    assert spark.read.parquet(out).count() == 100_000
