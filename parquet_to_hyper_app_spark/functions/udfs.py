"""User-extension surface (SURVEY.md §2B S39): the three sanctioned
Python extension points, each Arrow-batched — never row-at-a-time.

- pandas scalar UDF   vectorized Series→Series (Arrow transfer)
- applyInPandas       grouped-map: whole group as a pandas DataFrame
- Python UDTF         table function, used via LATERAL join

The reference has no user extension point at all (SURVEY.md §2A); this
module is the north-star extension surface. Each extension is oracle-
checked against a pure-SQL equivalent, proving the Arrow round-trip is
value-exact.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.crosshash import WS
from parquet_to_hyper_app_spark.registry import query

# type objects, not DDL strings: decorators run at import time, before
# any SparkSession exists to parse DDL
_TOKEN_ROW = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("token_idx", T.LongType()),
    ]
)


@pandas_udf(T.LongType())
def token_count_udf(texts: pd.Series) -> pd.Series:
    """Vectorized whitespace token count (Arrow-batched). NULL text
    stays NULL (nullable Int64 → Arrow null), matching the oracle's
    len(regexp_split_to_array(NULL, ...)) = NULL."""
    return pd.Series(
        [
            None if t is None else len([w for w in re.split(WS + "+", t) if w])
            for t in texts
        ],
        dtype="Int64",
    )


@query(
    "udf_pandas_scalar",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '{WS}+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens_udf
    FROM documents
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S39a: pandas scalar UDF — token counting in Python, checked
    value-exact against the SQL formulation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_udf("text").alias("n_tokens_udf"))


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map worker: per-user z-score of event values.

    Statistics run over the group's FINITE values only, and
    non-finite/null rows get a NULL z-score: one ±Inf in a group would
    otherwise poison mean/std for every row (and DuckDB's stddev_samp
    raises out-of-range on ±Inf input, so the oracle masks the same
    way). Caught by the dirty fuzz sweep (tools/fuzz_data.py)."""
    import numpy as np

    v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
    finite = np.isfinite(v)
    vals = v[finite]
    mean = vals.mean() if len(vals) else np.nan
    std = np.std(vals, ddof=1) if len(vals) > 1 else np.nan  # SQL stddev_samp
    if not np.isfinite(std) or std == 0.0:
        z = pd.Series([None] * len(pdf), dtype="float64")
    else:
        z = pd.Series(np.where(finite, np.round((v - mean) / std, 6), np.nan))
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "value": pdf["value"],
            "zscore": z,
        }
    )


@query(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, user_id, value, zscore FROM (
        SELECT event_id, user_id, value,
               CASE WHEN NOT coalesce(isfinite(value), FALSE) THEN NULL
                    WHEN stddev_samp(fin) OVER w IS NULL
                      OR stddev_samp(fin) OVER w = 0 THEN NULL
                    ELSE round((value - avg(fin) OVER w)
                               / stddev_samp(fin) OVER w, 6)
               END AS zscore
        FROM (SELECT event_id, user_id, value,
                     CASE WHEN isfinite(value) THEN value END AS fin
              FROM events)
        WINDOW w AS (PARTITION BY user_id)
    )
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S39b: applyInPandas grouped map — per-user z-score
    normalization, the canonical 'whole group in pandas' pattern
    (each user's events become one pandas DataFrame on an executor)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = ev.groupBy("user_id").applyInPandas(
        _zscore_group, "event_id long, user_id long, value double, zscore double"
    )
    # pandas can't represent NULL in a float64 Series (None becomes NaN
    # and Arrow preserves NaN as NaN) — normalize to SQL NULL so the
    # single-observation case matches the oracle's stddev_samp IS NULL
    return out.withColumn(
        "zscore", F.when(F.isnan("zscore"), F.lit(None)).otherwise(F.col("zscore"))
    )


@udtf(returnType=_TOKEN_ROW)
class SplitTokensUDTF:
    """Python UDTF: one output row per whitespace token of the input."""

    def eval(self, text: str):  # noqa: D102
        if text is None:
            return
        for i, tok in enumerate(w for w in re.split(WS + "+", text) if w):
            yield tok, i


@query(
    "udf_table",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '{WS}+'), t -> t <> '') AS toks
        FROM documents
    )
    SELECT doc_id, toks[i] AS token, CAST(i - 1 AS BIGINT) AS token_idx
    FROM g, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s
    """,
)
def udf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S39c: Python UDTF via LATERAL join — tokenizer exploding each
    document into (token, position) rows; only docs with ≥1 token
    appear (inner lateral), mirrored by generate_series in the oracle."""
    spark.udtf.register("split_tokens", SplitTokensUDTF)
    return spark.sql(
        """
        SELECT d.doc_id, s.token, s.token_idx
        FROM {docs} d, LATERAL split_tokens(d.text) s
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )
