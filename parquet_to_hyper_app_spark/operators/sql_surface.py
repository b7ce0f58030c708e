"""SQL-first operator surface: the engine's `spark.sql` entry path.

Everything else in the repo uses the DataFrame API; these queries
exercise the same Catalyst frontend through SQL text — grouping sets,
correlated/scalar subqueries, ordered-set aggregates, argmin/argmax,
lateral explode and unpivot — proving the engine exposes a full SQL
surface (the reference has no SQL layer at all, SURVEY.md §2A).

Input frames reach the SQL text as ``spark.sql`` keyword arguments:
PySpark binds each to a uuid-named temp view that it drops before
``spark.sql`` returns, so no query leaves a name in the session catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread


@query(
    "sql_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15b: explicit GROUPING SETS (the generalization rollup/cube
    compile to) via the SQL frontend."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM {v}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        v=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderstatus = 'F')
      AND c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def sql_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + scalar subquery. Catalyst rewrites the
    EXISTS into a left-semi join and broadcasts the single-row scalar
    aggregate — no per-row subquery execution at any scale."""
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM {c}
        WHERE EXISTS (SELECT 1 FROM {o} WHERE o_custkey = c_custkey
                        AND o_orderstatus = 'F')
          AND c_acctbal > (SELECT avg(c_acctbal) FROM {c})
        """,
        c=load_table(spark, sf_dir, "customer"),
        o=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_argminmax",
    oracle="""
    WITH mx AS (
        SELECT o_orderstatus, o_orderkey AS biggest_order FROM (
            SELECT o_orderstatus, o_orderkey,
                   row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_totalprice IS NOT NULL) WHERE rn = 1
    ), mn AS (
        SELECT o_orderstatus, o_orderkey AS smallest_order FROM (
            SELECT o_orderstatus, o_orderkey,
                   row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
            FROM orders WHERE o_totalprice IS NOT NULL) WHERE rn = 1
    ), ag AS (
        SELECT o_orderstatus, max(o_totalprice) AS max_price,
               min(o_totalprice) AS min_price
        FROM orders GROUP BY o_orderstatus
    )
    SELECT ag.o_orderstatus, mx.biggest_order, mn.smallest_order,
           ag.max_price, ag.min_price
    FROM ag
    LEFT JOIN mx ON ag.o_orderstatus IS NOT DISTINCT FROM mx.o_orderstatus
    LEFT JOIN mn ON ag.o_orderstatus IS NOT DISTINCT FROM mn.o_orderstatus
    """,
)
def sql_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) per group. The ordering key is a
    (price, orderkey) struct so ties are deterministic; the oracle
    reproduces the same pick with ranked CTEs (DuckDB 1.0's arg_max
    has no composite-key overload).

    Rows with a NULL price are excluded from the arg pick on BOTH
    sides: Spark compares structs with NULL fields FIRST, so an
    unfiltered min_by would return the null-price row, while DuckDB's
    rank CTE (and its native arg_min) skip nulls — the dirty fuzz
    sweep caught exactly that flip. The FILTER clause keeps groups
    whose every price is NULL (arg columns go NULL, matching the
    oracle's LEFT JOIN). The oracle's reassembly joins NULL-safely
    (IS NOT DISTINCT FROM): GROUP BY makes a NULL status a real group
    whose arg pick must survive the join — a plain USING join dropped
    it, caught by the r6 out-of-domain/NULL status fuzz plant."""
    return spark.sql(
        """
        SELECT o_orderstatus,
               max_by(o_orderkey, struct(o_totalprice, CAST(o_orderkey AS DOUBLE)))
                   FILTER (WHERE o_totalprice IS NOT NULL) AS biggest_order,
               min_by(o_orderkey, struct(o_totalprice, CAST(o_orderkey AS DOUBLE)))
                   FILTER (WHERE o_totalprice IS NOT NULL) AS smallest_order,
               max(o_totalprice) AS max_price,
               min(o_totalprice) AS min_price
        FROM {v} GROUP BY o_orderstatus
        """,
        v=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≙ DuckDB
    `quantile_cont`). The approximate sketch variant
    (approx_percentile / percentile_approx) is deliberately NOT
    oracle-paired — sketches differ across engines."""
    # scan_spread: the partial aggregation buffers every group value
    # and would otherwise run on one core behind a row-group-limited
    # scan (sources/scanwidth.py; identity on production layouts)
    return spark.sql(
        """
        SELECT l_returnflag,
               round(percentile(l_quantity, 0.5), 6) AS median_qty,
               round(percentile(l_extendedprice, 0.9), 6) AS p90_price
        FROM {v} GROUP BY l_returnflag
        """,
        v=scan_spread(load_table(spark, sf_dir, "lineitem"), "l_orderkey"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS exact_p50,
           quantile_disc(l_extendedprice, 0.9) AS exact_p90,
           TRUE AS p50_within_1pct,
           TRUE AS p90_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17b: approximate percentiles via the KLL/GK-style sketch
    (`percentile_approx`), hash-checked on the deterministic half.

    The sketch VALUE is engine-specific, so it can't be a hash-checked
    column; each row instead emits the EXACT discrete percentiles (the
    same sketch at accuracy = INT_MAX, which degenerates to the exact
    nearest-rank percentile — verified bit-equal to DuckDB's
    `quantile_disc`, since both return actual data values; Spark's
    exact `percentile` would interpolate between points) plus booleans
    asserting the accuracy-1000 sketch landed within 1% of exact
    (observed ~0.15% at sf0.01). The oracle recomputes the exact half
    and pins the booleans TRUE — sketch degradation reds the hash
    check. Both sketches come from ONE aggregation pass; the tighter
    accuracy floor stays asserted in tests.
    """
    return spark.sql(
        """
        SELECT l_returnflag,
               element_at(exact, 1)  AS exact_p50,
               element_at(exact, 2)  AS exact_p90,
               abs(element_at(sketch, 1) - element_at(exact, 1))
                   <= 0.01 * abs(element_at(exact, 1)) AS p50_within_1pct,
               abs(element_at(sketch, 2) - element_at(exact, 2))
                   <= 0.01 * abs(element_at(exact, 2)) AS p90_within_1pct
        FROM (
            SELECT l_returnflag,
                   percentile_approx(l_extendedprice, array(0.5, 0.9), 1000) AS sketch,
                   percentile_approx(l_extendedprice, array(0.5, 0.9), 2147483647) AS exact
            FROM {v} GROUP BY l_returnflag
        )
        """,
        v=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_explode",
    oracle="""
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
           CAST(head8[i] AS DOUBLE) AS dim_val
    FROM (SELECT vec_id, embedding[1:8] AS head8 FROM embeddings),
         LATERAL (SELECT unnest(generate_series(1, len(head8))) AS i) s
    """,
)
def sql_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode — array → rows with position."""
    return spark.sql(
        """
        SELECT vec_id, pos, CAST(dim_val AS DOUBLE) AS dim_val
        FROM {v}
        LATERAL VIEW posexplode(slice(embedding, 1, 8)) AS pos, dim_val
        """,
        v=load_table(spark, sf_dir, "embeddings"),
    )


@query(
    "sql_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS metric_value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): three measure columns become
    (metric, metric_value) rows; Spark plans one Expand node — a
    single pass, not three scans like the oracle's UNION ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "metric_value",
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT o_orderstatus,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
    FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
    GROUP BY o_orderstatus
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic order: distinct
    (status, priority) pairs, then the priorities per status joined
    sorted. collect_list is order-nondeterministic in a distributed
    engine, so the sort happens AFTER collection (array_sort) — the
    only way to make string aggregation reproducible without a global
    sort. Group state is bounded by the distinct-value count, not the
    row count, because the duplicate elimination runs first."""
    return spark.sql(
        """
        SELECT o_orderstatus,
               array_join(array_sort(collect_list(o_orderpriority)), ',') AS priorities
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM {v})
        GROUP BY o_orderstatus
        """,
        v=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_subquery_scalar",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
            FROM orders o WHERE o.o_custkey = c.c_custkey) AS total_spend
    FROM customer c
    WHERE c_custkey < 200
    """,
)
def sql_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery: per-customer total spend inline in
    the select list. Catalyst de-correlates it into a left outer join
    against the pre-aggregated orders side — one shuffle on custkey,
    never a per-row re-execution (which is what a naive interpreter,
    and the oracle's textual form, would imply). Decimal-exact sum per
    the money convention."""
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                FROM {oo} o WHERE o.o_custkey = c.c_custkey) AS total_spend
        FROM {co} c
        WHERE c_custkey < 200
        """,
        co=load_table(spark, sf_dir, "customer"),
        oo=load_table(spark, sf_dir, "orders"),
    )
