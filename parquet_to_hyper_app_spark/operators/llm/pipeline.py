"""End-to-end training-corpus preparation — the composed pipeline a
user of this engine actually runs nightly, built entirely from the
operators this package already ships:

    quality gate → exact dedup → (near-dedup) → tokenize/count

Two registered variants:

- ``pipeline_training_corpus``: the deterministic spine (quality gate,
  exact dedup, BPE-ish token counts). Fully SQL-expressible ⇒ exact
  value-hash oracle.
- ``pipeline_training_corpus_full``: the same spine plus exact
  word-bigram near-dedup (the lossless prefix-filter pair miner from
  `dedup_ngram_jaccard`) between dedup and tokenize — every stage
  SQL-expressible ⇒ the full composition is value-hash checked. The
  MinHash-LSH miner (`verified_near_dup_pairs`) is the drop-in
  alternative when sub-threshold shingle mining is wanted (rows-only
  check; seeded-xxhash64 LSH is not SQL-expressible).

Scale shape: the quality gate is a narrow projection fused into the
scan; exact dedup is one shuffle on sha256(text) (uniform, skew-free);
near-dedup adds the banded-LSH candidate join (bounded buckets, never
all-pairs); tokenize is again narrow. Filters run BEFORE both dedups,
so the expensive shuffles see only surviving rows — at 100 TB the
quality gate typically drops 30–60% of raw crawl before the first
shuffle moves a byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.operators.llm.dedup import (
    NGRAM_PAIRS_ORACLE_TMPL,
    dedup_exact_df,
    ngram_jaccard_pairs,
)
from parquet_to_hyper_app_spark.operators.llm.text import (
    BPE_RE,
    QUALITY_MAX_CHARS,
    QUALITY_MAX_DIGIT_RATIO,
    QUALITY_MIN_CHARS,
)
from parquet_to_hyper_app_spark.registry import query

def quality_gate(docs: DataFrame) -> DataFrame:
    """text_quality's boolean gate as a filter — same thresholds, one
    definition (cheap heuristics applied before any shuffle)."""
    n_chars = F.length("text")
    digit_ratio = (
        F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / n_chars
    )
    return docs.filter(
        n_chars.between(QUALITY_MIN_CHARS, QUALITY_MAX_CHARS)
        & (digit_ratio < QUALITY_MAX_DIGIT_RATIO)
    )


def tokenized(docs: DataFrame) -> DataFrame:
    """Per-doc BPE-ish token and char counts (text_token_bpe's regex)."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "pipeline_training_corpus",
    oracle=rf"""
    SELECT doc_id, lang, source,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM (
        SELECT doc_id, lang, source, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
        WHERE length(text) BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS}
          AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
              / length(text) < {QUALITY_MAX_DIGIT_RATIO}
    ) WHERE rn = 1
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-corpus spine: quality gate → exact dedup
    (survivor = min doc_id per identical text) → token counts.

    NO scan_spread here (r16, tried and reverted): the serial first
    stage looks like text_quality's winning shape, but this battery is
    one length + one digit-strip regex — far lighter than
    text_quality's — and the dedup window's sha-keyed exchange follows
    immediately, so the spread just inserts a full text-row exchange
    ahead of another exchange. Interleaved A/B measured 1.15 min /
    1.36 med against 1.03/1.00 controls; reverted."""
    docs = load_table(spark, sf_dir, "documents")
    survivors = dedup_exact_df(quality_gate(docs)).drop("content_hash")
    return tokenized(survivors)


#: per-language keep-rate (percent): downsample the dominant language,
#: keep the long tail — the standard corpus-rebalancing mixture step
_STRATA_PCT = {"en": 25, "de": 75, "es": 75, "fr": 75, "zh": 75}
_STRATA_DEFAULT_PCT = 75


@query(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ((doc_id % 1000003) * 2654435761) % 100 <
          CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_PCT.items())}
          ELSE {_STRATA_DEFAULT_PCT} END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — per-language keep rates via
    the same multiplicative-hash scheme as sample_hash (reduce mod a
    prime BEFORE multiplying so the product never overflows int64).
    Unlike `sampleBy`, the decision is a pure function of (doc_id,
    lang): reproducible across engines, runs, and partitionings, so the
    sampled corpus is auditable. Narrow (filter fused into the scan) —
    zero shuffle at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(_STRATA_DEFAULT_PCT)
    for lang, pct in _STRATA_PCT.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    bucket = ((F.col("doc_id") % 1000003) * F.lit(2654435761)) % 100
    return docs.filter(bucket < rate).select("doc_id", "lang", "source")


@query(
    "pipeline_training_corpus_full",
    oracle=rf"""
    WITH __survivors AS (
        SELECT doc_id, lang, source, text
        FROM (
            SELECT doc_id, lang, source, text,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents
            WHERE length(text) BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS}
              AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                  / length(text) < {QUALITY_MAX_DIGIT_RATIO}
        ) WHERE rn = 1
    ),
    __pairs AS ({NGRAM_PAIRS_ORACLE_TMPL.format(src="__survivors")}),
    __drops AS (SELECT DISTINCT doc_b AS doc_id FROM __pairs)
    SELECT doc_id, lang, source,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM __survivors
    WHERE doc_id NOT IN (SELECT doc_id FROM __drops)
    """,
)
def pipeline_training_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: the deterministic spine plus EXACT word-bigram
    near-dedup (Jaccard ≥ 0.5, survivor = smaller doc_id of each pair)
    between exact dedup and tokenize.

    Every stage is SQL-expressible (the near-dup stage's prefix filter
    is lossless — proven by `dedup_ngram_jaccard`'s exhaustive-join
    oracle), so the whole composition is value-hash checked. On a
    corpus where sub-threshold shingle mining is preferred, swap
    `ngram_jaccard_pairs` for `verified_near_dup_pairs` (MinHash-LSH,
    rows-only check) — same pair schema, same drop rule.

    The table is read without `scan_spread` (see
    `pipeline_training_corpus`), and the miner mines ``survivors``
    where it already sits: behind the exact-dedup window's exchange
    (hash of text — well spread), so no widening exchange is added."""
    docs = load_table(spark, sf_dir, "documents")
    survivors = dedup_exact_df(quality_gate(docs)).drop("content_hash")
    near_dups = (
        ngram_jaccard_pairs(survivors)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return tokenized(survivors.join(near_dups, "doc_id", "left_anti"))
