"""Time-series operators: grid resampling with forward-fill, upsert
merge, deterministic sampling.

The gap-fill shape is the "hypertable rollup" pattern: a dense time
grid per entity, left-joined with observed buckets, forward-filled
with `last(value, ignorenulls)` over the grid order. Everything is
window/join composition — one shuffle on the entity key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.registry import query


@query(
    "timeseries_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
        FROM events
    ),
    grid AS (
        SELECT u.user_id, gs.h
        FROM (SELECT DISTINCT user_id FROM events) u, bounds,
             LATERAL (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h) gs
    ),
    obs AS (
        SELECT user_id, h, value AS obs_value FROM (
            SELECT user_id, date_trunc('hour', ts) AS h, value,
                   row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT g.user_id, g.h AS bucket,
           last_value(o.obs_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense per-user hourly grid, forward-filling
    the last observed value (null until first observation). The grid
    is generated with sequence() (no driver loop); per-bucket 'last
    observation' picks deterministically by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    users = ev.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")).alias("bucket"))
    )
    wo = W.partitionBy("user_id", F.date_trunc("hour", F.col("ts"))).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            F.col("value").alias("obs_value"),
        )
    )
    wg = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            F.col("bucket").cast("timestamp_ntz").alias("bucket"),
            F.last("obs_value", ignorenulls=True).over(wg).alias("ffill_value"),
        )
    )


@query(
    "upsert_merge",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a lakehouse format: base ⟕anti updates,
    union the updates back — the standard Delta-less CDC apply. The
    update set here is derived deterministically (every 7th customer
    gets +100 balance and a segment change) so the oracle can state
    the merged result directly."""
    base = load_table(spark, sf_dir, "customer")
    updates = base.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    untouched = base.join(updates.select("c_custkey"), "c_custkey", "left_anti")
    return untouched.unionByName(updates)


@query(
    "sample_hash",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE ((l_orderkey % 1000003) * 2654435761 + l_linenumber) % 100 < 10
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% systematic sample via multiplicative hashing
    of the row key — reproducible across engines/runs/partitionings
    (unlike rand()-based sampling), which is what a training-data
    pipeline needs for auditable subsets. The key is reduced mod a
    prime BEFORE multiplying so the product stays ≲2.7e15 ≪ 2^63 for
    any orderkey — int64 overflow would wrap in Spark but error in
    DuckDB, silently breaking cross-engine reproducibility."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        (F.col("l_orderkey") % 1000003) * F.lit(2654435761) + F.col("l_linenumber")
    ) % 100
    return li.filter(bucket < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query(
    "scd2_history",
    oracle="""
    WITH obs AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
        FROM obs
        WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    )
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL
               AS is_current
    FROM changes
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → SCD2 dimension history: collapse each customer's order
    stream into status intervals — a row per status RUN with
    [valid_from, valid_to) bounds and an is_current flag on the open
    interval. The standard slowly-changing-dimension build (orders
    stand in for a CDC feed ordered by (o_orderdate, o_orderkey) — the
    unique tie-break makes runs deterministic in both engines).

    Shape: one shuffle on custkey; both window passes (lag to find run
    starts, lead to close intervals) and the filter reuse that single
    partitioning — Catalyst plans one Exchange + one Sort."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("o_orderstatus") != F.col("prev_status"))
        )
    )
    valid_to = F.lead("o_orderdate").over(w)
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
