"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as `binary` columns with a typed
metadata struct, processed by Arrow-batched pandas functions via
mapInPandas — the Spark-side shape (schema, partitioning, batch
iteration, UDF signatures) is real and tested; the actual media decode
is stubbed (`NotImplementedError`) because no image/audio libraries
exist in this container, with a deterministic fake decoder standing in
so the distributed plumbing can be exercised end-to-end.

At scale: payloads stay columnar in parquet (binary), never hit the
driver, and decode parallelizes per Arrow batch; `maxRecordsPerBatch`
bounds executor memory per batch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.registry import query

#: output schema of the feature extractor (DDL form for mapInPandas)
FEATURE_SCHEMA = "doc_id bigint, byte_len bigint, content_md5 string"


def with_blob(docs: DataFrame) -> DataFrame:
    """Simulate a multimodal table: utf-8 payload blob + metadata.

    NULL text becomes the EMPTY payload (not a NULL one): a NULL blob
    reaching the Pandas workers crashes `len(None)` mid-job — the
    dirty-fuzz sweep caught exactly that — and a 100 TB ingestion must
    degrade per-row, never per-job.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.encode(text, "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(text).cast("long").alias("orig_chars"),
        ).alias("media_meta"),
    )


def extract_features(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per-batch payload feature extraction.

    Deterministic (length + md5) so the DuckDB oracle can verify the
    full distributed path: encode → Arrow batch → pandas → features.
    """
    for pdf in it:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payloads.map(len).astype("int64"),
                "content_md5": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
            }
        )


def decode_image(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB: real image decode (PIL/opencv not in this container).

    Contract when enabled: input batches with `payload` (binary),
    output `doc_id bigint, width int, height int, pixels binary`.
    """
    raise NotImplementedError(
        "image decode requires PIL/opencv; container provides neither. "
        "Use fake_decode_image for plumbing tests."
    )


def fake_decode_image(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic fake decoder with the real decoder's contract:
    fabricates width/height from the payload hash, 'pixels' = payload.
    Keeps the distributed pipeline (schema, batching, partitioning)
    fully exercisable without media libraries."""
    for pdf in it:
        h = pdf["payload"].map(lambda b: int(hashlib.md5(bytes(b)).hexdigest()[:8], 16))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": (h % 1920 + 1).astype("int32"),
                "height": (h // 1920 % 1080 + 1).astype("int32"),
                "pixels": pdf["payload"],
            }
        )


DECODE_SCHEMA = "doc_id bigint, width int, height int, pixels binary"


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS byte_len,
           md5(coalesce(text, '')) AS content_md5
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-multimodal: binary payload column → mapInPandas feature
    extraction (length + md5). Oracle-checkable because the fake
    'decode' is deterministic; proves the Arrow round-trip preserves
    bytes exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return with_blob(docs).mapInPandas(extract_features, FEATURE_SCHEMA)
