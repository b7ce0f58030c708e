"""Bucketed (pre-shuffled) joins and salted skew aggregation — the two
standard levers for taming shuffle cost on a large cluster.

- ``join_bucketed``: both join sides are written ONCE as bucketed tables
  (``bucketBy(N, key).sortBy(key)``); every later join on the bucket key
  is exchange-free — Spark aligns bucket i of one table with bucket i of
  the other, so the join runs with zero shuffle of either side. On a
  100 TB fact table joined nightly against a large dim, this turns the
  dominant repeated shuffle into a one-time write cost.
  ``tests/test_plans.py`` asserts the plan contains no shuffle Exchange.

- ``agg_salted_skew``: low-cardinality groupBy keys (here: 3 order
  statuses for the whole table) hash all rows onto 3 reducers no matter
  how many executors exist. Salting splits each hot key into
  ``_SALT_BUCKETS`` sub-keys for the partial phase, then merges the
  (tiny) per-salt partials in a second exact aggregation. Decimal sums
  make the two-phase merge bitwise-equal to the unsalted oracle — the
  salt is invisible in the result, visible only in the shuffle layout.

Reference parity: the reference (app.py) has no joins at all — this
module exists for the north-star surface (SURVEY §2B S6/S13 scale
posture), not for R-row parity.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.exact import DEC, dec2
from parquet_to_hyper_app_spark.registry import query

_N_BUCKETS = 8
_SALT_BUCKETS = 32


def write_bucketed(df: DataFrame, table: str, path: str, key: str) -> None:
    """Materialize ``df`` as an external bucketed+sorted table.

    Bucketed layout lives half in the files, half in the catalog (the
    bucket spec) — hence saveAsTable, not a bare parquet write: a plain
    ``spark.read.parquet`` of the same files would not know the rows are
    pre-hashed and would shuffle anyway.
    """
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(_N_BUCKETS, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_table(spark: SparkSession, sf_dir: str, source: str, key: str) -> DataFrame:
    """Idempotent per-(sf_dir, source) bucketed materialization.

    The table/path name includes the source file's mtime+size so a
    regenerated testdata dir never serves a stale bucketed copy; an
    existing catalog entry for the same state is reused as-is.
    """
    import hashlib

    src = os.path.abspath(os.path.join(sf_dir, f"{source}.parquet"))
    st = os.stat(src)
    # key = full path + ns-precision mtime + size: distinct dirs with
    # equal basenames, or an in-place rewrite within the same clock
    # second, must never alias to the same catalog table
    state = f"{src}|{st.st_mtime_ns}|{st.st_size}".encode()
    tag = re.sub(r"[^0-9a-zA-Z_]", "_", os.path.basename(sf_dir.rstrip("/")))
    table = f"p2h_bkt_{source}_{tag}_{hashlib.sha256(state).hexdigest()[:16]}"
    if not spark.catalog.tableExists(table):
        path = os.path.join(tempfile.gettempdir(), "p2h_spark_bkt", table)
        write_bucketed(load_table(spark, sf_dir, source), table, path, key)
    return spark.table(table)


@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6-scale: exchange-free equi-join of two bucketed tables.

    customer is bucketed by c_custkey and orders by o_custkey into the
    same bucket count, so the sort-merge join (forced via the merge
    hint — a broadcast would trivially also be shuffle-free and prove
    nothing) reads both sides pre-partitioned and pre-sorted: no
    Exchange, no Sort in the plan. Same rows as a plain join — layout
    is invisible in the result.
    """
    cust = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    orders = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    return (
        orders.hint("merge")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_custkey", "c_name", "o_totalprice")
    )


@query(
    "agg_salted_skew",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total_price,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) / COUNT(*) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13-scale: two-phase salted aggregation over a 3-value group key.

    Phase 1 groups by (status, salt) where salt = xxhash64(o_orderkey)
    mod 32 — deterministic, uniformly spreading each hot status over 32
    reducers. Phase 2 merges the ≤ 3×32 partial rows. Decimal partial
    sums merge exactly, so the result is bitwise-identical to the
    unsalted single-phase oracle. (AQE's skew handling only splits
    oversized *join* partitions; aggregation skew needs the salt.)
    """
    orders = load_table(spark, sf_dir, "orders")
    salt = F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT_BUCKETS))
    partial = orders.groupBy("o_orderstatus", salt.alias("__salt")).agg(
        F.sum(dec2("o_totalprice")).alias("__psum"),
        F.count(F.lit(1)).alias("__pcnt"),
    )
    total = F.sum("__psum").cast("double")
    n = F.sum("__pcnt")
    return partial.groupBy("o_orderstatus").agg(
        total.alias("total_price"),
        n.alias("n_orders"),
        (total / n).alias("avg_price"),
    )
