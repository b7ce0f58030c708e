"""Corpus-level curation operators for LLM training-data pipelines.

Three pipeline stages that operate across documents rather than within
them: benchmark-contamination detection (n-gram overlap against a
held-out evaluation set), within-document repetition metrics (the
Gopher-style "repetitious text" filters), and the per-source quality
rollup a curation run reports at the end.

Scale notes are on each operator; none is all-pairs — contamination is
an equi-join on n-gram hash, repetition is explode + two-level
aggregation, the rollup is a plain grouped aggregate.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.crosshash import (
    HASH60_DUCK,
    HASH60_SPARK as _HASH60_SPARK,
    NON_WS,
    WS,
)
from parquet_to_hyper_app_spark.operators.llm.dedup import (
    BIGRAM_SIZED_CTES_TMPL,
    NGRAM_PAIRS_ORACLE_TMPL,
    bigram_hash_frame,
    connected_components,
    miner_partitions,
    ngram_jaccard_pairs,
    unordered_cooccurrence,
)
from parquet_to_hyper_app_spark.operators.llm.text import (
    QUALITY_MAX_CHARS,
    QUALITY_MAX_DIGIT_RATIO,
    QUALITY_MIN_CHARS,
    tokens,
)
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.session import persisted
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread
from parquet_to_hyper_app_spark.streaming.source import run_to_memory, stream_run, table_stream

#: contamination n-gram order: long enough that a shared gram implies a
#: copied span, short enough to catch partial overlap (WMT/benchmark
#: decontamination typically uses 8–13; the synthetic corpus's docs are
#: ~40 tokens, so 5 keeps the check meaningful at test scale)
_CONTAM_N = 5
#: every doc_id ≡ 0 (mod 20) plays the role of the held-out benchmark
#: set — in production this is an external table; a deterministic
#: modulus keeps the oracle trivially in sync
_BENCH_MOD = 20


def _ngram_hashes(toks_col: str, n: int) -> Column:
    """Distinct xxhash64 of the space-joined word n-grams of the
    ALREADY-MATERIALIZED token-array column ``toks_col``; [] when the
    doc has fewer than n tokens.

    Two deliberate shapes: the token array must be a named column (a
    lambda capturing the split() expression would re-evaluate the
    split per element access — measured 24 s vs 1 s at sf0.1), and the
    hash is taken inside the same transform so gram strings are never
    materialized as an array. Spark's sequence(1, 0) yields a
    DESCENDING [1, 0] rather than [], so short docs are gated with an
    explicit when().
    """
    terms = ", ".join(f"{toks_col}[i+{k}-1]" if k else f"{toks_col}[i-1]" for k in range(n))
    grams = F.expr(
        f"transform(sequence(1, size({toks_col}) - {n - 1}),"
        f" i -> xxhash64(concat_ws(' ', {terms})))"
    )
    return F.when(F.size(toks_col) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


@query(
    "contamination_ngram",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
               )) AS grams
        FROM (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(trim(text)), '{WS}+'),
                               t -> t <> '') AS toks
            FROM documents
        )
    ),
    bench AS (
        SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {_BENCH_MOD} = 0
    ),
    hits AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % {_BENCH_MOD} <> 0)
        JOIN bench USING (gram)
    )
    SELECT source,
           count(*) AS n_docs,
           count(hits.doc_id) AS n_contaminated,
           CAST(count(hits.doc_id) AS DOUBLE) / count(*) AS contamination_rate
    FROM g LEFT JOIN hits USING (doc_id)
    WHERE g.doc_id % {_BENCH_MOD} <> 0
    GROUP BY source
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which corpus documents share any
    {n}-gram with the held-out benchmark set, rolled up per source.

    The scale shape (the reason this is never all-pairs): both sides
    reduce to DISTINCT n-gram hashes, and contamination is one
    equi-join on the hash — candidate volume is bounded by corpus
    token count, not |corpus| × |benchmark|. The benchmark side is
    tiny in practice and AQE broadcasts it; per-doc dedup
    (array_distinct before the explode) keeps hot grams from
    amplifying. Grams are compared as xxhash64 ints, never re-scanned
    as strings (the oracle joins the strings themselves — a 64-bit
    collision would surface as a hash mismatch, and doesn't).
    """
    docs = load_table(spark, sf_dir, "documents")
    # the gram table is read three times (benchmark grams, corpus
    # explode, final per-source rollup) — persist it ONCE. Without the
    # cache boundary, Catalyst's InferFiltersFromGenerate pushes a
    # size(grams) > 0 predicate with the WHOLE inlined n-gram
    # expression into the scan (split() interpreted ~n times per row —
    # measured 12 s of the 13 s total at sf0.1); against the cache the
    # same inferred filter costs one size() on a materialized array.
    g = (
        docs.withColumn("__toks", tokens(F.lower(F.col("text"))))
        .select(
            "doc_id",
            "source",
            _ngram_hashes("__toks", _CONTAM_N).alias("grams"),
        )
    )
    with persisted(g) as g:
        bench = (
            g.filter(F.col("doc_id") % _BENCH_MOD == 0)
            .select(F.explode("grams").alias("gram"))
            .distinct()
        )
        corpus = g.filter(F.col("doc_id") % _BENCH_MOD != 0)
        hits = (
            corpus.select("doc_id", F.explode("grams").alias("gram"))
            .join(bench, "gram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        out = (
            corpus.join(hits.withColumn("__hit", F.lit(1)), "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("__hit").alias("n_contaminated"),
                (F.count("__hit").cast("double") / F.count(F.lit(1))).alias("contamination_rate"),
            )
        )
        # ≤ |sources| rows
        return out.localCheckpoint(eager=True)


@query(
    "doc_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(trim(text)), '{WS}+'),
                           t -> t <> '') AS toks
        FROM documents
    ),
    big AS (
        SELECT doc_id, bigram, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1])
                   )) AS bigram
            FROM t WHERE len(toks) >= 2
        )
        GROUP BY doc_id, bigram
    ),
    rep AS (
        SELECT doc_id,
               CAST(max(c) AS BIGINT) AS top_bigram_n,
               CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
                   AS dup_bigram_frac
        FROM big GROUP BY doc_id
    )
    SELECT t.doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_word_frac,
           top_bigram_n, top_bigram_frac, dup_bigram_frac
    FROM t JOIN rep ON t.doc_id = rep.doc_id
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher repetition
    filters): duplicate-word fraction, most-frequent-bigram share, and
    the fraction of bigram occurrences that are repeats.

    Per-doc scalars (token count, distinct-word fraction) are pure
    array expressions — zero shuffle. The bigram histogram explodes to
    (doc, bigram) rows and aggregates twice: the first groupBy keys on
    (doc_id, bigram) so no single document's histogram concentrates on
    one task even for a 100k-token document; the second reduces one
    row per distinct bigram per doc. Docs with < 2 tokens have no
    bigrams and are excluded (mirrored by the oracle's inner join).
    `scan_spread` on doc_id parallelizes the per-row array work past
    the row-group-limited scan; the (doc_id, bigram) aggregate's
    clustering is already satisfied by the doc_id partitioning, so no
    exchange is added (sources/scanwidth.py).
    """
    docs = scan_spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.lower(F.col("text")))
    base = (
        docs.withColumn("__toks", toks)
        .select(
            "doc_id",
            "lang",
            F.size("__toks").cast("long").alias("n_tokens"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct("__toks")).cast("double") / F.size("__toks")
            ).alias("dup_word_frac"),
            F.expr(
                "transform(sequence(1, greatest(size(__toks) - 1, 1)),"
                " i -> concat_ws(' ', __toks[i-1], __toks[i]))"
            ).alias("bigrams"),
        )
        .withColumn("bigrams", F.when(F.col("n_tokens") >= 2, F.col("bigrams")))
    )
    # explode_outer, NOT explode: an inner explode makes Catalyst infer
    # a size(bigrams) > 0 filter and push it into the scan with the
    # whole bigram expression inlined (split() re-evaluated per row in
    # an interpreted Filter). The outer variant generates one null row
    # for short docs instead, filtered right after the Generate where
    # it only touches the generated column.
    hist = (
        base.select(
            "doc_id", "lang", "n_tokens", "dup_word_frac",
            F.explode_outer("bigrams").alias("bigram"),
        )
        .filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("lang").alias("lang"),
            F.first("n_tokens").alias("n_tokens"),
            F.first("dup_word_frac").alias("dup_word_frac"),
        )
    )
    return hist.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("dup_word_frac").alias("dup_word_frac"),
        F.max("c").alias("top_bigram_n"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).cast("double")
            / F.sum("c")
        ).alias("dup_bigram_frac"),
    ).select(
        "doc_id", "lang", "n_tokens", "dup_word_frac",
        "top_bigram_n", "top_bigram_frac", "dup_bigram_frac",
    )


@query(
    "quality_rollup_source",
    oracle=f"""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN length(text) BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS}
                          AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                              / nullif(length(text), 0) < {QUALITY_MAX_DIGIT_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN length(text) BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS}
                          AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                              / nullif(length(text), 0) < {QUALITY_MAX_DIGIT_RATIO}
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def quality_rollup_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-run report: per (source, language) document counts,
    quality-gate pass rate (same single-source-of-truth thresholds as
    text_quality), and total character volume.

    One partial+final hash aggregate over ≤ |sources|×|langs| groups —
    the shuffle moves ~nothing at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    digit_ratio = (
        F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / n_chars
    )
    passes = n_chars.between(QUALITY_MIN_CHARS, QUALITY_MAX_CHARS) & (
        digit_ratio < QUALITY_MAX_DIGIT_RATIO
    )
    p = F.when(passes, F.lit(1)).otherwise(F.lit(0))
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(p).cast("long").alias("n_pass"),
        (F.sum(p).cast("double") / F.count(F.lit(1))).alias("pass_rate"),
        F.sum(n_chars).cast("long").alias("total_chars"),
    )


#: the cross-entropy per-doc scoring CTE chain, shared verbatim by the
#: text_cross_entropy oracle and the text_perplexity_bucket oracle
_CE_CTES = f"""tok AS (
        SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(lower(trim(text)), '{WS}+'),
                   t -> t <> '')) AS token
        FROM documents
    ),
    freq AS (
        SELECT token, count(*) AS tf FROM tok GROUP BY token
    ),
    tot AS (SELECT sum(tf) AS n FROM freq),
    scored AS (
        SELECT doc_id,
               CAST(round(-log2(CAST(tf AS DOUBLE) / n), 6) AS DECIMAL(18,6)) AS bits
        FROM tok JOIN freq USING (token), tot
    )"""


@query(
    "text_cross_entropy",
    oracle=f"""
    WITH {_CE_CTES}
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(bits) AS DOUBLE) AS total_bits,
           CAST(sum(bits) AS DOUBLE) / count(*) AS bits_per_token
    FROM scored GROUP BY doc_id
    """,
)
def text_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the cheap statistical quality
    signal: score every document by its mean −log₂ p(token) under the
    corpus's own unigram distribution (low = repetitive/common, high =
    rare-token soup; both tails get filtered in curation runs).

    Float discipline: −log₂p is transcendental, so each per-token
    surprisal is rounded to 6 dp and cast to DECIMAL(18,6) BEFORE the
    per-doc sum — the sum is then order-independent and exact in both
    engines (the [[oracle-parity-conventions]] round-then-decimal-sum
    rule; summing raw doubles would hash-flip on partial-agg order).

    Shape: one explode of the corpus, a token-frequency aggregate
    (bounded by vocabulary), a 1-row total broadcast onto the freq
    table, then the scoring join token→surprisal (freq side is
    vocab-sized — AQE broadcasts it under any realistic vocabulary)
    and a per-doc aggregate. No step is ever quadratic; everything is
    bounded by corpus token volume."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.withColumn("__toks", tokens(F.lower(F.col("text"))))
        .select("doc_id", F.explode_outer("__toks").alias("token"))
        .filter(F.col("token").isNotNull())
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    tot = freq.agg(F.sum("tf").alias("n"))
    scored = (
        tok.join(freq, "token")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log2(F.col("tf").cast("double") / F.col("n")), 6)
            .cast("decimal(18,6)")
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits").cast("double").alias("total_bits"),
        (F.sum("bits").cast("double") / F.count(F.lit(1))).alias("bits_per_token"),
    )


#: synthetic-PII injection + scrub patterns (text_pii_redact). The
#: regexes are written in the dialect intersection of Java regex
#: (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d-]{7,}\d"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH pii AS (
        SELECT doc_id,
               coalesce(text, '') || ' reach user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0')
                   AS pii_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{_EMAIL_RE}', 0)) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(
                    regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                    '{_PHONE_RE}', 0)) AS BIGINT) AS n_phones,
           regexp_replace(
               regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM pii
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact email addresses and phone-shaped digit
    runs, reporting per-document match counts alongside the scrubbed
    text.

    The synthetic corpus contains no organic PII, so the query first
    plants a deterministic email + phone per document (derived from
    doc_id) — the redaction provably fires on every row and the oracle
    reproduces the same plant. Emails are scrubbed before phones so a
    number embedded in an address is never double-counted.

    Scale: pure per-row JVM regexp projection — no shuffle, no UDF;
    at 100 TB this is the map side of whatever sink follows. Patterns
    are RE2-safe (linear-time, no catastrophic backtracking). NULL
    text plants into an empty document in both engines — a NULL
    concat operand would otherwise NULL the whole pii_text and the
    nullable match counts would canonicalize as floats."""
    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 4, "0"),
    )
    no_email = F.regexp_replace(pii_text, _EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(pii_text, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.regexp_replace(no_email, _PHONE_RE, "<PHONE>").alias("redacted"),
    )


#: packing context budget (tokens per bin) — small enough that the
#: ~40-token synthetic docs produce multi-doc bins worth checking
_PACK_BUDGET = 512


@query(
    "doc_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang,
               CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT doc_id, lang, n_tokens,
               CAST(floor(coalesce(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT lang, bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM placed
    GROUP BY lang, bin_id
    """,
)
def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: assign documents to
    fixed-token-budget context bins (Megatron/GPT-style contiguous
    packing) and report per-bin fill.

    Packing is inherently order-dependent, so the distributed form
    pins a deterministic order (doc_id within language) and derives
    each doc's bin from the RUNNING token count before it — one window
    cumsum, no sequential driver loop. Bins can overflow by at most
    one document (first-fit-in-order semantics), which is the standard
    streaming-packing trade.

    Scale: one hash-partition shuffle on the language key + one sort
    within partitions; per-language streams pack independently, so
    1000 executors pack 1000 shards concurrently. Skew note: a single
    giant language should pre-shard (lang, doc_id range) — the bin_id
    formula is shard-local either way."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # NULL text packs as the 1-token empty doc in both engines (split
    # of NULL would yield size -1 here vs SQL NULL in the oracle)
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    placed = sized.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / float(_PACK_BUDGET)).cast(
            "long"
        ),
    )
    return placed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


#: The temperature exponent (rate ∝ prevalence^-alpha) is pinned at
#: 0.5 STRUCTURALLY — spelled as sqrt, not pow(x, alpha) — because
#: IEEE requires sqrt correctly rounded, so Spark (Java) and DuckDB
#: produce the BIT-IDENTICAL double and the kept/dropped knife-edge
#: cannot diverge (pow() carries no such guarantee across libms;
#: multilingual pipelines commonly run alpha in the 0.2-0.7 band).
#: base acceptance: a source at corpus-average prevalence keeps ~
#: BASE/sqrt(1/n_sources) of its docs; small sources saturate at 1.0
_SAMPLE_BASE = 0.2
#: 2^60 as an exact double — the denominator that maps the shared
#: 60-bit md5 hash onto [0, 1)
_HASH60_SPAN = float(1 << 60)


@query(
    "corpus_sample_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), rates AS (
        SELECT source, n_docs,
               least(1.0, {_SAMPLE_BASE} / sqrt(CAST(n_docs AS DOUBLE)
                   / CAST(sum(n_docs) OVER () AS DOUBLE))) AS rate
        FROM counts
    )
    SELECT d.doc_id, d.source,
           floor(r.rate * 1e6 + 0.5) / 1e6 AS sample_rate,
           (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / {_HASH60_SPAN!r}) < r.rate AS kept
    FROM documents d
    JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
    """,
)
def corpus_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source sampling — the corpus-balancing
    stage of a multilingual/multi-source training pipeline: big
    sources are downsampled with rate ∝ prevalence^-0.5 (capped at 1,
    so low-resource sources keep everything), and the keep decision is
    a DETERMINISTIC hash gate, not an RNG — re-running the pipeline
    (or re-running one failed partition) keeps exactly the same
    documents, which is what makes the sample reproducible and
    incrementally extendable at 100 TB.

    Plan shape: one grouped count per source (tiny — sources are
    bounded), a window total over that per-source frame, then the
    rates broadcast back onto the corpus — the full-corpus pass is a
    narrow map with zero extra shuffle. A NULL source is a real group
    (null-safe join), mirroring GROUP BY semantics.

    Cross-engine exactness: the gate hash is the shared 60-bit md5
    (crosshash), the rate formula uses only correctly-rounded IEEE ops
    (/, sqrt, min), so both engines compute the identical double and
    the u < rate comparison can never flip between them."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    rates = counts.withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            F.lit(_SAMPLE_BASE)
            / F.sqrt(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(Window.partitionBy()).cast("double")
            ),
        ),
    ).select(F.col("source").alias("__rate_source"), "rate")
    u = F.expr(_HASH60_SPARK.format(col="CAST(doc_id AS STRING)")) / F.lit(_HASH60_SPAN)
    return (
        docs.join(F.broadcast(rates), docs["source"].eqNullSafe(F.col("__rate_source")))
        .select(
            "doc_id",
            "source",
            # pure-IEEE 6-dp round (floor(x*1e6+0.5)/1e6 — identical
            # double ops both engines): the DECIMAL(24,6) round-trip
            # this replaced is NOT engine-proof at decimal ties (Spark
            # decimal-casts the shortest repr half-up, DuckDB the
            # exact binary — r6 fuzz seed 23 split array_ops on it;
            # same contract as array_ops.round6). Rates live in [0,1],
            # far inside the primitive's exact domain.
            (F.floor(F.col("rate") * 1e6 + F.lit(0.5)).cast("double") / 1e6).alias(
                "sample_rate"
            ),
            (u < F.col("rate")).alias("kept"),
        )
    )


@query(
    "dedup_canonical_keep",
    oracle=f"""
    WITH RECURSIVE __pairs AS ({NGRAM_PAIRS_ORACLE_TMPL.format(src="documents")}),
    __edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM __pairs
        UNION SELECT doc_b AS src, doc_a AS dst FROM __pairs
    ),
    __reach(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, r.label FROM __edges e JOIN __reach r ON e.dst = r.doc_id
    ),
    __labels AS (
        SELECT doc_id, min(label) AS cluster_id FROM __reach GROUP BY doc_id
    ),
    __sized AS (
        SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT l.doc_id, l.cluster_id, s.n_chars,
           row_number() OVER (PARTITION BY l.cluster_id
               ORDER BY s.n_chars DESC, l.doc_id ASC) = 1 AS keep
    FROM __labels l JOIN __sized s USING (doc_id)
    """,
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the stage after near-dup clustering that
    every production dedup actually ships: within each cluster keep
    ONE canonical document, chosen by an explicit, deterministic rule
    (longest text wins — the most complete variant — ties broken by
    smallest doc_id), and emit a keep flag for every document so the
    drop set is auditable.

    Builds on the exact word-bigram J ≥ 0.5 pair graph
    (`ngram_jaccard_pairs`, losslessness proven against the exhaustive
    join) and bounded-iteration connected components
    (`connected_components`); the rule itself is one row_number window
    over cluster_id. At 100 TB: one extra shuffle on cluster_id;
    cluster populations are near-dup cluster sizes (small by
    construction), so no skew pathology — a pathological mega-cluster
    surfaces in the components step long before this one.

    The oracle recomputes the same survivors from the recursive
    reachability closure + the same (n_chars DESC, doc_id ASC) rank —
    exact, not rows-only."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(scan_spread(docs, "doc_id")).select("doc_a", "doc_b")
    labels = connected_components(pairs, docs.select("doc_id"))
    sized = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("n_chars"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        labels.join(sized, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_chars", "keep")
    )


#: asymmetric-containment threshold: emit src→dst when ≥ 80% of the
#: source doc's distinct word bigrams appear in the target doc
_CONTAIN_T = 0.8


#: auto verify selection (SCALE.md round-10): cap value 64 won at or
#: past the crossover at every probed scale (256 admits ~16x more
#: stream rows per head gram); the ratio threshold sits inside the
#: measured gap — Σdf²/Σdf ≈ 100 still favors uncapped (d5000: 9.4s
#: vs 11.7s), ≈ 200 favors the cap 3.0× (d10000) — and the bounded
#: testdata reads ≈ 8. Σdf²/Σdf is the df-weighted mean df of a gram
#: occurrence: "the average occurrence sits in a gram seen ~N times".
_AUTO_DF_CAP = 64
_AUTO_CAP_RATIO = 128.0
#: absolute Σdf² floor on the SUMMED stream of the ratio-qualifying
#: languages (r12, ADVICE r11 + review): the cap is worth its overhead
#: only when the power-law languages' combined pre-combine stream is
#: big enough to matter. 1e8 count rows ≈ 2.4 GB at 24 B/row spread
#: across the shuffle — below what can stress an executor that already
#: survived the corpus scan — and the measured regimes straddle it
#: cleanly: the smallest probed point where the cap WINS (d10000 Zipf,
#: SCALE.md round-10) streams ≈ 3.3e8 from its qualifying langs, while
#: the d5000 point where the uncapped verify still won sits at ≈ 8.2e7
#: total (and under the ratio gate anyway). Below the floor the
#: decision falls to the (faster there) uncapped form, so a tiny
#: high-intensity language — e.g. the 132-doc knife-edge fuzz plant,
#: ~17k rows — no longer flips the corpus onto the ~25-32%-slower
#: hybrid; summing over qualifying langs (not gating each alone) keeps
#: the many-medium-languages corpus protected, since the shuffle pays
#: the sum.
_AUTO_CAP_MIN_S2 = 1e8


def _auto_df_cap(df_tab: DataFrame, min_s2: float | None = None) -> int | None:
    """Choose the containment verify from the corpus df distribution:
    None (pure count join) on bounded-df vocabularies, `_AUTO_DF_CAP`
    once Σdf²/Σdf crosses the measured boundary where the count
    join's pre-combine stream (Σdf² rows) starts to dwarf the corpus.
    One agg over the df table the miner already computes — at 100 TB
    this is the statistic a deployment should branch on rather than
    hand-picking per corpus (tools/powerlaw_probe.py measured the two
    regimes; docs/SCALE.md "Round-10"). The decision is a separate
    action, so the caller persists df_tab around it; the measured
    all-in overhead vs an explicit cap is ~25-32% now that the
    explicit path persists df_tab too (docs/SCALE.md round-11
    addendum) — pass the int when the regime is already known.

    The ratio is evaluated PER LANGUAGE and the cap selected if ANY
    language crosses it (ADVICE r10): df and the verify stream are
    keyed (lang, gram), so the OOM driver is the per-lang Σdf² of the
    power-law languages — one power-law language diluted by a much
    larger bounded-df one keeps the GLOBAL ratio under the threshold
    while its own stream still explodes. The cap is then selected only
    if the SUMMED Σdf² of the ratio-qualifying languages clears the
    absolute ``min_s2`` floor (default ``_AUTO_CAP_MIN_S2``; tunable
    per ADVICE r12 — the 1e8 calibration assumes an executor that
    shrugs off a ~2.4 GB combined pre-combine stream, and a
    memory-constrained deployment whose power-law corpus sits just
    under it, e.g. 8e7 qualifying rows, can lower the floor rather
    than hand-picking an explicit df_cap) (r12, ADVICE r11 + review):
    the ratio measures INTENSITY, not magnitude, and a tiny language
    with one shared gram posts an arbitrarily high ratio while its
    whole stream fits in one shuffle block — but the shuffle pays the
    SUM over languages, so the magnitude gate must be aggregate: one
    132-doc knife-edge language (~17k rows) must not force the
    hybrid's overhead, while a thousand medium power-law languages
    each individually under the floor still add up to the multi-TB
    pre-combine stream the cap exists to bound. The single-lang
    power-law case reduces to the r10 global rule.
    NULL-lang rows are excluded (r11 review): every downstream
    (lang, h) equi-join drops them, so they contribute ZERO rows to
    either verify stream — letting an untagged slice drive the max
    would force the hybrid for no protection gained. Σdf² is summed in
    DOUBLE, not long (r11 review): df² of a ~3e9-df head gram (or a
    handful of 1e9s) wraps int64 silently under non-ANSI arithmetic,
    flipping the decision to the uncapped verify in exactly the OOM
    regime the statistic exists to catch — the threshold compare only
    needs the ~15 significant digits double carries."""
    if min_s2 is None:  # call-time lookup, so the module constant
        min_s2 = _AUTO_CAP_MIN_S2  # stays the single patchable knob
    row = (
        df_tab.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(
            F.sum(F.col("df").cast("double") * F.col("df")).alias("s2"),
            F.sum("df").alias("s1"),
        )
        .filter(F.col("s2") / F.col("s1") > F.lit(_AUTO_CAP_RATIO))
        .agg(F.sum("s2").alias("hot_s2"))
        .first()
    )
    if row is None or row["hot_s2"] is None:
        return None
    return _AUTO_DF_CAP if row["hot_s2"] > float(min_s2) else None


def containment_frame(
    spark: SparkSession, sf_dir: str, df_cap: int | str | None = None,
    auto_cap_min_s2: float | None = None,
) -> DataFrame:
    """The containment engine behind `dedup_containment`: every ordered
    same-language pair (src, dst) of non-blank docs with
    C = |src ∩ dst| / |src| ≥ `_CONTAIN_T` over distinct word-bigram
    hashes, as (doc_src, doc_dst, containment).

    ``df_cap=None`` (the registered form) is a threshold over the
    unordered co-occurrence counts (`unordered_cooccurrence`): the
    count holds |A ∩ B| for EVERY same-language pair that shares a
    gram, and a pair sharing none has C = 0, so each counted pair
    (pl, pg) yields both orientations, common / n_pl and common / n_pg,
    and the threshold keeps exactly the oracle's rows. No candidate
    phase: a prefix filter could only drop pairs the threshold drops
    anyway, after the Σdf²-row count stream it would be joined to has
    already been computed in full. The cost is that stream — benign on
    bounded-df vocabularies (sf0.1: Σdf² = 19.0M, max df 152), explosive
    on a power-law corpus where stopword bigrams have df in the
    millions.

    An explicit int ``df_cap`` is the POWER-LAW deployment form: the
    count join runs only over grams with df ≤ cap (bounding its
    pre-combine stream at Σ_{df≤cap} df² ≤ cap·Σdf rows), while each
    doc's FEW high-df grams — at most the vocabulary head above the
    cap — ride as a small sorted array joined per candidate side and
    intersected exactly; common = count_low + |high_src ∩ high_dst|
    partitions each doc's gram set by df. Its low-df count misses the
    pairs whose shared grams all sit above the cap, so this form (and
    only this form) generates candidates with the All-Pairs prefix
    filter, containment variant: rank each doc's bigrams by (df asc,
    hash) within its lang; C ≥ t forces |∩| ≥ ⌈t·n_src⌉, so by
    pigeonhole the rarest common bigram sits within the source's first
    n_src − ⌈t·n_src⌉ + 1 ranked bigrams, and an equi-join of source
    prefixes against the FULL (lang, bigram) index of targets
    (containment bounds no target size, so the target side cannot be
    pruned) finds every qualifying pair. Both forms return identical
    rows (tests/test_llm.py, tools/powerlaw_probe.py).

    ``df_cap="auto"`` picks the form from the corpus's own df
    distribution (`_auto_df_cap`'s measured Σdf²/Σdf rule, SCALE.md
    "Round-10"); ``auto_cap_min_s2`` moves that rule's absolute Σdf²
    floor for executors smaller or larger than its 1e8-row calibration
    and is valid only with "auto".

    The small pair set is checkpointed inside the `persisted` blocks."""
    # a floor passed alongside a non-"auto" df_cap would be silently
    # dead, and bool (an int subclass that would gate at Σdf² > 1.0),
    # negatives and NaN are config typos, not regimes
    if auto_cap_min_s2 is not None:
        if df_cap != "auto":
            raise ValueError(
                "auto_cap_min_s2 tunes the df_cap='auto' decision only;"
                f" passing it with df_cap={df_cap!r} would be silently dead"
            )
        if (
            isinstance(auto_cap_min_s2, bool)
            or not isinstance(auto_cap_min_s2, (int, float))
            or auto_cap_min_s2 < 0
            or auto_cap_min_s2 != auto_cap_min_s2
        ):
            raise ValueError(
                f"auto_cap_min_s2 must be None or a number >= 0,"
                f" got {auto_cap_min_s2!r}"
            )
    # bool is an int subclass: df_cap=True would silently run as cap=1;
    # df_cap < 1 would route EVERY gram to the per-doc arrays — the
    # array-carrying byte wall the hybrid exists to avoid — while still
    # returning correct rows
    if df_cap is not None and df_cap != "auto":
        if isinstance(df_cap, bool) or not isinstance(df_cap, int):
            raise ValueError(f"df_cap must be an int, None, or 'auto', got {df_cap!r}")
        if df_cap < 1:
            raise ValueError(f"df_cap must be >= 1, got {df_cap}")
    docs = scan_spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_parts = miner_partitions(docs)
    with ExitStack() as held:
        # the canonical tokenize→bigram→distinct→hash frame, shared with
        # ngram_jaccard_pairs. Persisted even where it is read once:
        # without the cache boundary Catalyst pushes the explode's
        # inferred size(hashes) > 0 filter below the scan_spread
        # repartition, back into the one-task scan stage (the whole miner
        # measured ~2.0 s without the persist vs ~1.0 s with it, sf0.01
        # on 4 cores)
        grams = held.enter_context(persisted(bigram_hash_frame(docs)))
        occ = grams.select("doc_id", "lang", "n", F.explode("hashes").alias("h"))
        if df_cap is not None:
            # read twice below (ranking and verify split); with "auto"
            # the decision agg is a separate ACTION, and the persist
            # lets it share one df computation with the capped form
            # (measured ~2.5-3 s of ~10 s at the d20000 Zipf point
            # without it)
            df_tab = held.enter_context(
                persisted(occ.groupBy("lang", "h").agg(F.count(F.lit(1)).alias("df")))
            )
            if df_cap == "auto":
                df_cap = _auto_df_cap(df_tab, auto_cap_min_s2)
        if df_cap is None:
            cooc = unordered_cooccurrence(occ, n_parts)
            common = F.col("common").cast("double")
            verified = cooc.select(
                F.inline(
                    F.array(
                        F.struct(
                            F.col("pl").alias("src"),
                            F.col("pg").alias("dst"),
                            (common / F.col("n_pl")).alias("containment"),
                        ),
                        F.struct(
                            F.col("pg").alias("src"),
                            F.col("pl").alias("dst"),
                            (common / F.col("n_pg")).alias("containment"),
                        ),
                    )
                )
            )
        else:
            verified = _capped_containment(occ, df_tab, df_cap, n_parts)
        out = verified.filter(F.col("containment") >= _CONTAIN_T).select(
            F.col("src").alias("doc_src"),
            F.col("dst").alias("doc_dst"),
            "containment",
        )
        return out.localCheckpoint(eager=True)


def _capped_containment(
    occ: DataFrame, df_tab: DataFrame, df_cap: int, n_parts: int
) -> DataFrame:
    """(src, dst, containment) for the prefix-filter candidates of the
    df-capped hybrid (see `containment_frame`), before the threshold."""
    from pyspark.sql import Window

    ranked = occ.join(df_tab, ["lang", "h"]).withColumn(
        "pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")) - 1
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(_CONTAIN_T)) + 1).cast("int")
    src_pref = ranked.filter(F.col("pos") < prefix_len).select(
        F.col("doc_id").alias("src"), "lang", F.col("h").alias("ph"), F.col("n").alias("ns")
    )
    dst_index = occ.select(
        F.col("doc_id").alias("dst"), "lang", F.col("h").alias("ph"), F.col("n").alias("nd")
    )
    cands = (
        src_pref.join(dst_index, ["lang", "ph"])
        # size prune, lossless: C ≥ t ⟹ n_dst ≥ |∩| ≥ ⌈t·n_src⌉
        .filter(
            (F.col("src") != F.col("dst"))
            & (F.col("nd") >= F.ceil(F.col("ns") * F.lit(_CONTAIN_T)))
        )
        .select("src", "dst", "ns")
    )
    # pair dedup at a PINNED, input-scaled width, not .distinct(): the
    # candidate rows are tiny in bytes and AQE's size-based coalescing —
    # blind to the verify join downstream — would squeeze them onto a
    # handful of cores. The dedup partitions on the unordered key the
    # verify probes on and dedups on (pl, pg, src), a bijection of
    # (src, dst) given src ≠ dst, so it reuses that one exchange (a
    # (src, dst) dedup would add a second one at conf width).
    pl, pg = F.least("src", "dst").alias("pl"), F.greatest("src", "dst").alias("pg")
    cands = (
        cands.select("src", "dst", "ns", pl, pg)
        .repartition(n_parts, "pl", "pg")
        .dropDuplicates(["pl", "pg", "src"])
    )
    # the count join sees only grams with df ≤ cap; the high-df
    # remainder travels as ONE small sorted array per candidate side
    # and is intersected exactly. The cooc join is LEFT: a pair whose
    # every shared gram is high-df has no low count and must survive to
    # the array term.
    occ_df = occ.join(df_tab, ["lang", "h"])
    cooc_low = unordered_cooccurrence(occ_df.filter(F.col("df") <= df_cap), n_parts)
    high = (
        occ_df.filter(F.col("df") > df_cap)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("h")).alias("hi"))
    )
    no_high = F.array().cast("array<bigint>")
    return (
        cands.join(cooc_low.select("pl", "pg", "common"), ["pl", "pg"], "left")
        .join(high.select(F.col("doc_id").alias("src"), F.col("hi").alias("hi_s")), "src", "left")
        .join(high.select(F.col("doc_id").alias("dst"), F.col("hi").alias("hi_d")), "dst", "left")
        .withColumn(
            "common",
            F.coalesce(F.col("common"), F.lit(0))
            + F.size(
                F.array_intersect(
                    F.coalesce(F.col("hi_s"), no_high), F.coalesce(F.col("hi_d"), no_high)
                )
            ),
        )
        .select("src", "dst", (F.col("common").cast("double") / F.col("ns")).alias("containment"))
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {BIGRAM_SIZED_CTES_TMPL.format(src="documents")}
    SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst,
           CAST(len(list_filter(a.bigrams, g -> list_contains(b.bigrams, g)))
                AS DOUBLE) / len(a.bigrams) AS containment
    FROM __sized a JOIN __sized b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE CAST(len(list_filter(a.bigrams, g -> list_contains(b.bigrams, g)))
               AS DOUBLE) / len(a.bigrams) >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs — the dedup dimension
    Jaccard misses: a short document whose content is almost entirely
    embedded in a longer one (boilerplate-wrapped rehosts, quoted
    articles, expanded revisions) scores low on Jaccard (the union is
    dominated by the big doc) but high on containment
    C(src→dst) = |src ∩ dst| / |src|. Emits every ORDERED pair with
    C ≥ 0.8 over distinct word bigrams, within language.

    The registered form is `containment_frame`'s ``df_cap=None``: a
    threshold over the unordered co-occurrence counts, both
    orientations per counted pair, equal row for row to the exhaustive
    within-lang oracle. The prefix filter serves only the df-capped
    power-law form (`containment_frame(df_cap=...)`)."""
    return containment_frame(spark, sf_dir)


#: dedup_incremental: every doc_id ≡ 0 (mod 10) plays the incoming
#: crawl batch; the rest is the already-curated base corpus. In
#: production the two sides are separate tables — a deterministic
#: modulus keeps the oracle trivially in sync (same device as
#: _BENCH_MOD above).
_INCR_MOD = 10


@query(
    "dedup_incremental",
    oracle=f"""
    WITH batch AS (
        SELECT doc_id, source, sha256(text) AS content_hash,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % {_INCR_MOD} = 0
    ),
    base AS (
        SELECT DISTINCT sha256(text) AS content_hash
        FROM documents WHERE doc_id % {_INCR_MOD} <> 0 AND text IS NOT NULL
    )
    SELECT doc_id, source, content_hash,
           CASE WHEN hit THEN 'dup_base'
                WHEN rn > 1 THEN 'dup_batch'
                ELSE 'new' END AS status,
           NOT (hit OR rn > 1) AS kept
    FROM (
        SELECT b.doc_id, b.source, b.content_hash, b.rn,
               base.content_hash IS NOT NULL AS hit
        FROM batch b LEFT JOIN base USING (content_hash)
    )
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-base) exact dedup — the continuous-crawl
    shape: an incoming batch is deduped against the already-curated
    base corpus AND within itself, and every batch doc gets a disposition
    (``dup_base`` / ``dup_batch`` / ``new``) plus a ``kept`` flag.

    Contract notes: content identity is sha256 of the raw text (same
    identity as ``dedup_exact``); NULL-text docs never match the base
    (NULL hash joins nothing on either engine) but DO dedup against
    each other within the batch — the first by doc_id survives, the
    same all-NULLs-in-one-window-partition rule both engines share.

    Scale shape (the reason this is the steady-state design, not
    re-running dedup_exact over base+batch): the base corpus — the
    100 TB side — is reduced to its DISTINCT 32-byte hash projection
    (map-side partial distinct, then one shuffle on uniform sha keys),
    and the batch joins it with one more hash-partitioned exchange; the
    full base text is never rescanned or reshuffled. In production the
    hash projection is a maintained bucketed index table, making the
    probe exchange-free on the base side; Spark's runtime bloom-filter
    injection covers the same pattern automatically when the batch is
    selective. The within-batch window shuffles only the (small) batch.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    batch = (
        docs.filter(F.col("doc_id") % _INCR_MOD == 0)
        .select("doc_id", "source", h.alias("content_hash"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("content_hash").orderBy("doc_id")),
        )
    )
    base = (
        docs.filter((F.col("doc_id") % _INCR_MOD != 0) & F.col("text").isNotNull())
        .select(h.alias("content_hash"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    hit = F.coalesce(F.col("__hit"), F.lit(False))
    return batch.join(base, "content_hash", "left").select(
        "doc_id",
        "source",
        "content_hash",
        F.when(hit, F.lit("dup_base"))
        .when(F.col("rn") > 1, F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
        (~(hit | (F.col("rn") > 1))).alias("kept"),
    )


#: Gopher-style heuristic quality rules (Rae et al. 2021, appendix A —
#: public paper), re-banded so both branches of every live rule are
#: exercised by the ~10–100-token synthetic corpus: word-count band,
#: mean-word-length band, minimum alphabetic-word ratio, maximum
#: bullet-start / ellipsis-end line ratios, and a minimum hit count
#: against the required-word list.
_GOPHER_MIN_WORDS = 25
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MEAN_WLEN = 3.0
_GOPHER_MAX_MEAN_WLEN = 10.0
_GOPHER_MIN_ALPHA_RATIO = 0.8
_GOPHER_MAX_BULLET_RATIO = 0.9
_GOPHER_MAX_ELLIPSIS_RATIO = 0.3
_GOPHER_REQUIRED = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_REQUIRED_HITS = 1
_REQ_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_REQUIRED) + "]"


#: the full gopher-rule oracle — named so stream_quality_gate's oracle
#: can compose it verbatim (per-source rollup of the same verdict)
GOPHER_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '{WS}+'),
                           x -> x <> '') AS toks,
               list_filter(string_split(text, chr(10)),
                           l -> regexp_matches(l, '{NON_WS}')) AS lines
        FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                     / len(toks) END AS mean_word_len,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                     / len(toks) END AS alpha_word_ratio,
           CASE WHEN len(lines) > 0
                THEN CAST(len(list_filter(lines,
                         l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
                     / len(lines) END AS bullet_line_ratio,
           CASE WHEN len(lines) > 0
                THEN CAST(len(list_filter(lines,
                         l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) AS DOUBLE)
                     / len(lines) END AS ellipsis_line_ratio,
           CAST(len(list_intersect(toks, {_REQ_SQL})) AS BIGINT) AS n_required_hits,
           coalesce(
               len(toks) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
               AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                   BETWEEN {_GOPHER_MIN_MEAN_WLEN} AND {_GOPHER_MAX_MEAN_WLEN}
               AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                   / len(toks) >= {_GOPHER_MIN_ALPHA_RATIO}
               AND coalesce(CASE WHEN len(lines) > 0
                    THEN CAST(len(list_filter(lines,
                             l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
                         / len(lines) END <= {_GOPHER_MAX_BULLET_RATIO}, TRUE)
               AND coalesce(CASE WHEN len(lines) > 0
                    THEN CAST(len(list_filter(lines,
                             l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) AS DOUBLE)
                         / len(lines) END <= {_GOPHER_MAX_ELLIPSIS_RATIO}, TRUE)
               AND len(list_intersect(toks, {_REQ_SQL})) >= {_GOPHER_MIN_REQUIRED_HITS},
               FALSE) AS passes_gopher
    FROM t
    """


def gopher_flags(docs: DataFrame) -> DataFrame:
    """Adds the Gopher metric + verdict columns to a documents frame —
    pure per-row expressions, so it runs identically under batch and
    readStream (used by `quality_gopher_rules` and
    `stream_quality_gate`). Returns the input columns plus n_words /
    mean_word_len / alpha_word_ratio / bullet_line_ratio /
    ellipsis_line_ratio / n_required_hits / passes_gopher."""
    df = (
        docs.withColumn("text", F.coalesce("text", F.lit("")))
        .withColumn("__toks", tokens(F.lower(F.col("text"))))
        .withColumn("__lines", F.filter(F.split("text", "\n"), lambda l: l.rlike(NON_WS)))
    )
    n_words = F.size("__toks")
    n_lines = F.size("__lines")
    sum_wlen = F.aggregate("__toks", F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    mean_wlen = F.when(n_words > 0, sum_wlen.cast("double") / n_words)
    alpha_ratio = F.when(
        n_words > 0,
        F.size(F.filter("__toks", lambda t: t.rlike("[a-z]"))).cast("double") / n_words,
    )
    is_bullet = lambda l: F.substring(F.trim(l), 1, 1).isin("-", "*", "•")  # noqa: E731
    is_ellipsis = lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…")  # noqa: E731
    bullet_ratio = F.when(
        n_lines > 0, F.size(F.filter("__lines", is_bullet)).cast("double") / n_lines
    )
    ellipsis_ratio = F.when(
        n_lines > 0, F.size(F.filter("__lines", is_ellipsis)).cast("double") / n_lines
    )
    req_hits = F.size(
        F.array_intersect("__toks", F.array(*[F.lit(w) for w in _GOPHER_REQUIRED]))
    )
    passes = F.coalesce(
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & mean_wlen.between(_GOPHER_MIN_MEAN_WLEN, _GOPHER_MAX_MEAN_WLEN)
        & (alpha_ratio >= _GOPHER_MIN_ALPHA_RATIO)
        & F.coalesce(bullet_ratio <= _GOPHER_MAX_BULLET_RATIO, F.lit(True))
        & F.coalesce(ellipsis_ratio <= _GOPHER_MAX_ELLIPSIS_RATIO, F.lit(True))
        & (req_hits >= _GOPHER_MIN_REQUIRED_HITS),
        F.lit(False),
    )
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wlen)
        .withColumn("alpha_word_ratio", alpha_ratio)
        .withColumn("bullet_line_ratio", bullet_ratio)
        .withColumn("ellipsis_line_ratio", ellipsis_ratio)
        .withColumn("n_required_hits", req_hits.cast("long"))
        .withColumn("passes_gopher", passes)
        .drop("__toks", "__lines")
    )


@query("quality_gopher_rules", oracle=GOPHER_ORACLE)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality filter (Rae et al. 2021 appendix
    A1 — the standard rule battery between raw crawl and model-based
    scoring): word-count band, mean-word-length band, alphabetic-word
    ratio floor, bullet-start / ellipsis-end line-ratio ceilings, and
    required-word ("stop word presence") hits, plus the combined
    ``passes_gopher`` verdict. Complements ``text_quality`` (char-level
    punct/digit ratios) with the word- and line-level rule set.

    Contract: NULL text scores as the empty document; a doc with no
    words fails the word-count band (never NULL-passes); line-level
    rules vacuously pass when the doc has no non-blank lines; the
    verdict is coalesced to FALSE so the output is total. Whitespace is
    the shared three-engine WS class, blank-line detection uses NON_WS
    (never ``\\s`` — engine dialects differ, crosshash.py).

    Scale shape: pure per-row JVM expressions — no shuffle, no UDF, no
    explode; whole-stage codegen end to end, trivially parallel at any
    corpus size. This is deliberately the cheap pre-filter that runs
    BEFORE anything that shuffles (dedup, tokenize): at 100 TB the
    narrow-filter-first composition is what pipeline_training_corpus
    demonstrates end-to-end.
    """
    return gopher_flags(
        scan_spread(load_table(spark, sf_dir, "documents"), "doc_id")
    ).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "n_required_hits",
        "passes_gopher",
    )


#: dedup_substring span order: long enough that a shared token window
#: implies copied text rather than idiom (suffix-style dedup uses
#: 50-token spans at production scale; 8 keeps the check meaningful on
#: the ~10–100-token synthetic docs), and the flag threshold marks a
#: doc whose content is mostly duplicated spans.
_SPAN_N = 8
_SPAN_DUP_T = 0.5


@query(
    "dedup_substring",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - {_SPAN_N - 1}, 0)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
                                  toks[i+4], toks[i+5], toks[i+6], toks[i+7])
               )) AS grams
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '{WS}+'),
                               t -> t <> '') AS toks
            FROM documents
        )
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    dup AS (SELECT gram FROM e GROUP BY gram HAVING count(*) > 1),
    pd AS (
        SELECT doc_id, count(*) AS n_dup
        FROM e JOIN dup USING (gram)
        GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_grams,
           CASE WHEN len(grams) > 0
                THEN CAST(coalesce(pd.n_dup, 0) AS DOUBLE) / len(grams)
           END AS dup_gram_ratio,
           coalesce(CASE WHEN len(grams) > 0
                         THEN CAST(coalesce(pd.n_dup, 0) AS DOUBLE) / len(grams)
                    END >= {_SPAN_DUP_T}, FALSE) AS flagged
    FROM g LEFT JOIN pd USING (doc_id)
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection — the corpus-level
    "substring dedup" stage (RefinedWeb / Gopher toolbox): for every
    doc, what fraction of its distinct {_SPAN_N}-token windows also
    appears in ANOTHER document (or twice in this one — per-doc windows
    are deduped first, so any count > 1 crosses documents), and a flag
    for docs that are mostly duplicated spans. Complements
    ``doc_repetition`` (WITHIN-doc repetition) and ``dedup_ngram_jaccard``
    (whole-doc near-dup pairs): this one localizes shared boilerplate.

    Contract: NULL/blank text yields n_grams = 0, NULL ratio, flagged
    FALSE (total output, one row per doc). Spans are compared as
    xxhash64 of the space-joined window (the oracle joins the strings
    themselves, so a 64-bit collision would surface as a hash mismatch
    — the standing cross-engine device from contamination_ngram).

    Scale shape: per-doc distinct gram hashes (narrow), one shuffle on
    the uniform 64-bit gram key for the global count (map-side partial
    combine, and per-doc array_distinct bounds any doc's contribution
    to a hot boilerplate gram at 1, so a gram's count ≤ n_docs and the
    hot-key reduce is additive longs — AQE skew split covers the rest),
    a semi-join back on the same key, then a per-doc rollup. Candidate
    volume is corpus token count, never pairs. This is the hashed
    approximation of suffix-array substring dedup — the honest
    distributed design; exact suffix arrays don't shard.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    g = (
        docs.withColumn("__toks", tokens(F.lower(F.col("text"))))
        .select("doc_id", _ngram_hashes("__toks", _SPAN_N).alias("grams"))
    )
    with persisted(g) as g:
        e = g.select("doc_id", F.explode("grams").alias("gram"))
        dup = e.groupBy("gram").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
        per_doc = (
            e.join(dup.select("gram"), "gram", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__n_dup"))
        )
        n_grams = F.size("grams")
        n_dup = F.coalesce(F.col("__n_dup"), F.lit(0))
        ratio = F.when(n_grams > 0, n_dup.cast("double") / n_grams)
        out = (
            g.join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                n_grams.cast("long").alias("n_grams"),
                n_dup.cast("long").alias("n_dup_grams"),
                ratio.alias("dup_gram_ratio"),
                F.coalesce(ratio >= _SPAN_DUP_T, F.lit(False)).alias("flagged"),
            )
        )
        # one row per doc
        return out.localCheckpoint(eager=True)


#: winnowing parameters (Schleimer et al. 2003, public paper): k-token
#: grams hashed positionally, then the min hash of every w-gram window
#: is selected — guaranteeing any shared run of >= k + w - 1 tokens
#: shares a fingerprint, while storing ~2/(w+1) of the grams. k=5/w=4
#: keep the guarantee span (8 tokens) meaningful on the ~10-100-token
#: synthetic docs.
_WIN_K = 5
_WIN_W = 4
_WIN_DUCK_TERMS = ", ".join(f"toks[i+{j}]" for j in range(_WIN_K))
_WIN_DUCK_HASH = HASH60_DUCK.format(col=f"concat_ws(' ', {_WIN_DUCK_TERMS})")


@query(
    "text_winnowing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '{WS}+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_WIN_K}
                    THEN list_transform(generate_series(1, len(toks) - {_WIN_K - 1}),
                                        i -> {_WIN_DUCK_HASH})
                    ELSE CAST([] AS BIGINT[]) END AS grams
        FROM t
    ),
    sel AS (
        SELECT doc_id,
               CASE WHEN len(grams) >= {_WIN_W}
                    THEN list_distinct(list_transform(
                        generate_series(1, len(grams) - {_WIN_W - 1}),
                        p -> list_min(grams[p : p + {_WIN_W - 1}])))
                    WHEN len(grams) > 0 THEN [list_min(grams)]
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM sel
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    document-fingerprinting scheme): positional {k}-token gram hashes,
    then the minimum hash of every {w}-gram sliding window, distinct
    per doc. Guarantee: any two docs sharing a token run of length
    >= k + w - 1 share at least one fingerprint, at ~2/(w+1) storage —
    the local-edit-robust complement to ``text_fingerprint``'s
    whole-doc hash. Docs shorter than one window keep min-of-all-grams
    (one fingerprint); docs with no full gram emit no rows.

    Fingerprints are the cross-engine 60-bit md5 values
    (crosshash.HASH60_*), so the VALUES themselves are oracle-checked,
    not just counts. Scale shape: entirely per-row array expressions —
    gram hashing, window minima, and dedup all happen inside one narrow
    projection; the explode emits ~2·tokens/(w+1) rows per doc and no
    shuffle exists anywhere. Overlap mining on the output is one
    equi-join on fp — the same bounded-candidate shape as
    contamination_ngram, never all-pairs.
    """
    docs = scan_spread(load_table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    terms = ", ".join(f"__toks[i+{j}-1]" if j else "__toks[i-1]" for j in range(_WIN_K))
    gram_hash = _HASH60_SPARK.format(col=f"concat_ws(' ', {terms})")
    grams = F.when(
        F.size("__toks") >= _WIN_K,
        F.expr(
            f"transform(sequence(1, size(__toks) - {_WIN_K - 1}), i -> {gram_hash})"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    m = F.size("__grams")
    fps = (
        F.when(
            m >= _WIN_W,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, size(__grams) - {_WIN_W - 1}),"
                    f" p -> array_min(slice(__grams, p, {_WIN_W})))"
                )
            ),
        )
        .when(m > 0, F.array(F.array_min("__grams")))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return (
        docs.withColumn("__toks", tokens(F.lower(F.col("text"))))
        .withColumn("__grams", grams)
        .select("doc_id", F.explode(fps).alias("fp"))
    )




@query(
    "text_perplexity_bucket",
    oracle=f"""
    WITH {_CE_CTES},
    ce AS (
        SELECT doc_id,
               CAST(sum(bits) AS DOUBLE) / count(*) AS bits_per_token
        FROM scored GROUP BY doc_id
    ),
    r AS (
        SELECT d.doc_id, d.lang, ce.bits_per_token,
               row_number() OVER (PARTITION BY d.lang
                                  ORDER BY ce.bits_per_token, d.doc_id) AS rn,
               count(*) OVER (PARTITION BY d.lang) AS cnt
        FROM ce JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, bits_per_token,
           CAST((rn - 1) * 3 // cnt + 1 AS BIGINT) AS bucket,
           CASE (rn - 1) * 3 // cnt + 1
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM r
    """,
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019, public
    paper): per language, rank documents by unigram-LM bits-per-token
    (composing `text_cross_entropy`'s scorer) and split them into
    head / middle / tail terciles — the standard pre-filter that keeps
    'head' (most-fluent) text and drops or downweights 'tail'.

    Bucket rule is PURE INTEGER arithmetic — (rn−1)·3 div cnt + 1 over
    a fully-ordered (bits_per_token, doc_id) ranking — so the tercile
    boundary can never float-diverge between engines; it reproduces
    ntile(3)'s distribution exactly. Docs with no tokens have no LM
    score and are out of scope (same as the scorer); a NULL lang forms
    its own partition (both engines).

    Scale: the scorer is the text_cross_entropy shape (vocab-bounded);
    the bucketing adds ONE shuffle on lang. A per-lang window implies a
    per-lang sort — fine while languages are plentiful; for one
    dominant language at 100 TB the drop-in replacement is a two-pass
    percentile-cut assignment (aggregate approximate cuts, broadcast,
    compare), trading the global sort for a scan — the rule here is
    kept exact because the oracle must replay it bit-for-bit.
    """
    from pyspark.sql import Window

    ce = text_cross_entropy(spark, sf_dir).select("doc_id", "bits_per_token")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = ce.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy("bits_per_token", "doc_id")
    wall = Window.partitionBy("lang")
    r = j.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(wall)
    )
    bucket = F.expr("(rn - 1) * 3 div cnt + 1")
    return r.select(
        "doc_id",
        "lang",
        "bits_per_token",
        bucket.cast("long").alias("bucket"),
        F.when(bucket == 1, "head")
        .when(bucket == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


#: mixture-plan constants: the token budget is this fraction of the
#: corpus's total tokens, and each source's target share is its
#: DECLARED weight (a deterministic function of the source name here —
#: in production an external config table) normalized over all
#: weighted sources. NULL / unrecognized sources carry weight 0 and
#: are excluded from the mixture (rate 0, epochs 0) but still reported.
_MIX_BUDGET_FRAC = 0.5
#: TRY_CAST + coalesce keep the weight TOTAL on both engines: a source
#: name outside the srcN scheme must weight 0, not NULL-poison the
#: normalizing sum (Spark's ANSI-off CAST already try-casts; DuckDB's
#: plain CAST would ERROR on it — review r6)
#: ONE constant for both engines (substring(s, pos) parses in Spark
#: SQL and DuckDB alike) — two near-identical strings invited silent
#: one-sided edits (review r6)
_MIX_WEIGHT_SQL = (
    "coalesce(CASE WHEN source IS NULL THEN 0"
    " ELSE 1 + (TRY_CAST(substring(source, 4) AS INT) % 4) END, 0)"
)


@query(
    "corpus_mixture_plan",
    oracle=f"""
    WITH per AS (
        SELECT source,
               count(*) AS n_docs,
               coalesce(sum(len(list_filter(
                   regexp_split_to_array(lower(trim(coalesce(text, ''))), '{WS}+'),
                   t -> t <> ''))), 0) AS n_tokens,
               {_MIX_WEIGHT_SQL} AS weight
        FROM documents GROUP BY source
    ),
    tgt AS (
        SELECT source, n_docs, n_tokens, weight,
               CAST(floor(CAST(weight AS DOUBLE) / nullif(sum(weight) OVER (), 0)
                          * ({_MIX_BUDGET_FRAC!r} * sum(n_tokens) OVER ()))
                    AS BIGINT) AS target_tokens
        FROM per
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(weight AS BIGINT) AS weight,
           coalesce(target_tokens, 0) AS target_tokens,
           CASE WHEN n_tokens > 0 AND target_tokens IS NOT NULL
                THEN least(CAST(target_tokens AS DOUBLE) / n_tokens, 1.0)
                ELSE 0.0 END AS sample_rate,
           CASE WHEN n_tokens > 0 AND target_tokens IS NOT NULL
                THEN CAST(ceil(CAST(target_tokens AS DOUBLE) / n_tokens) AS BIGINT)
                ELSE 0 END AS epochs
    FROM tgt
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing plan — the stage between curation and training that
    every large pretraining run has: given declared per-source mixture
    weights and a token budget ({frac:.0%} of corpus tokens here), emit
    each source's target token count, the sampling rate to hit it
    (capped at 1.0), and the epoch count (>1 = the source must repeat
    to meet its share — the up-sampling case). Complements
    `corpus_sample_temperature`, which DERIVES weights from prevalence;
    this one takes them as policy.

    Float discipline: every ratio is a single IEEE division of exact
    integers (token counts, integer weights) — correctly rounded
    identically in both engines — and the only transcendental-free
    floor/ceil land on boundaries both engines compute from the same
    doubles. Weight-0 (NULL/unrecognized) sources report rate 0 /
    epochs 0 rather than vanishing.

    Scale: one groupBy(source) over per-row token counts (narrow), a
    single-partition window over the ≤|sources| grouped frame for the
    two normalizing totals, nothing else. The grouped frame is bounded
    by the source catalogue at any corpus size.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    per = (
        docs.withColumn("__toks", tokens(F.lower(F.col("text"))))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.size("__toks")), F.lit(0)).alias("n_tokens"),
        )
        .withColumn("weight", F.expr(_MIX_WEIGHT_SQL))
    )
    # materialize the ≤|sources|-row grouped frame ONCE: the two
    # global-total window columns otherwise each demand their own
    # SinglePartition child and Catalyst re-plans the whole scan +
    # aggregate subtree under BOTH (observed: 2 FileScans, 4
    # exchanges, ~4 s for 500 docs; with the boundary: 1 scan, ~0.5 s)
    per = per.localCheckpoint(eager=True)
    w_all = Window.partitionBy()
    total_w = F.sum("weight").over(w_all)
    total_t = F.sum("n_tokens").over(w_all)
    tgt = per.withColumn(
        "target_tokens",
        F.floor(
            F.col("weight").cast("double")
            / F.nullif(total_w, F.lit(0))
            * (F.lit(_MIX_BUDGET_FRAC) * total_t)
        ).cast("long"),
    )
    scored = F.col("n_tokens") > 0
    has_tgt = scored & F.col("target_tokens").isNotNull()
    ratio = F.col("target_tokens").cast("double") / F.col("n_tokens")
    return tgt.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("weight").cast("long").alias("weight"),
        F.coalesce("target_tokens", F.lit(0)).alias("target_tokens"),
        F.when(has_tgt, F.least(ratio, F.lit(1.0))).otherwise(0.0).alias("sample_rate"),
        F.when(has_tgt, F.ceil(ratio).cast("long")).otherwise(0).alias("epochs"),
    )


corpus_mixture_plan.__doc__ = corpus_mixture_plan.__doc__.format(frac=_MIX_BUDGET_FRAC)


@query(
    "stream_quality_gate",
    oracle=f"""
    WITH q AS ({GOPHER_ORACLE})
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN q.passes_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN q.passes_gopher THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS pass_rate
    FROM q JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation gate: the documents corpus as a Structured
    Streaming file source → the SAME per-row Gopher verdict
    (`gopher_flags` — identical expressions batch and stream, which is
    exactly Spark's unification) → complete-mode per-source pass-rate
    rollup, driven to completion with availableNow. The live-pipeline
    twin of `quality_gopher_rules`: a crawl drop writes parquet files
    into the source dir and the gate maintains per-source acceptance
    rates incrementally.

    Lives beside the batch rule set (not streaming/windows.py) so the
    two can share `gopher_flags` without coupling the streaming
    module's ten green closures to this module's churn.

    Scale: state = one counter pair per source (bounded by the source
    catalogue); per-row expressions are stateless; one shuffle on
    source per micro-batch. Complete mode re-emits the small rollup,
    never the corpus.
    """
    with stream_run() as run:
        docs = table_stream(spark, sf_dir, "documents", run)
        agg = (
            gopher_flags(docs)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0)).alias("n_pass"),
            )
        )
        out = run_to_memory(agg, run, "complete")
    return out.select(
        "source",
        "n_docs",
        F.col("n_pass").cast("long").alias("n_pass"),
        (F.col("n_pass").cast("double") / F.col("n_docs")).alias("pass_rate"),
    )


@query(
    "pipeline_curation_report",
    oracle=f"""
    WITH flags AS ({GOPHER_ORACLE}),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
               len(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '{WS}+'),
                               t -> t <> '')) AS n_toks
        FROM documents
    )
    SELECT r.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f.passes_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
           CAST(sum(CASE WHEN r.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN f.passes_gopher AND r.rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN f.passes_gopher AND r.rn = 1 THEN r.n_toks ELSE 0 END)
               AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN f.passes_gopher AND r.rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS kept_rate
    FROM ranked r JOIN flags f USING (doc_id)
    GROUP BY r.source
    """,
)
def pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation report — the round-6 surface composed as ONE
    DAG and rolled up per source: Gopher rule gate (`gopher_flags`) +
    exact-dedup canonical rank (first doc_id per text body survives,
    the `dedup_exact` rule) + kept-token accounting. ``n_kept`` /
    ``kept_rate`` count docs that pass the rules AND are the canonical
    copy — the rows a training run would actually ingest;
    ``kept_tokens`` is the budget they contribute.

    Shape: the gate is per-row (no shuffle), the canonical rank is ONE
    window on the content key, the rollup is one grouped aggregate —
    the narrow-first composition `pipeline_training_corpus` pins, now
    with the r6 rule battery. At 100 TB the text-keyed window becomes
    the sha256-keyed variant (`dedup_incremental`'s projection) —
    semantics identical, shuffle key uniform.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    flagged = gopher_flags(docs).select("doc_id", "passes_gopher")
    ranked = (
        docs.withColumn(
            "rn", F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
        )
        .withColumn("__toks", tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))))
        .select("doc_id", "source", "rn", F.size("__toks").alias("n_toks"))
    )
    kept = F.col("passes_gopher") & (F.col("rn") == 1)
    return (
        ranked.join(flagged, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0))
            .cast("long")
            .alias("n_gopher_pass"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long").alias("n_exact_dup"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).cast("long").alias("kept_tokens"),
            (F.sum(F.when(kept, 1).otherwise(0)).cast("double") / F.count(F.lit(1))).alias(
                "kept_rate"
            ),
        )
    )


@query(
    "stream_incremental_dedup",
    oracle=f"""
    WITH batch AS (
        SELECT doc_id, source, sha256(text) AS content_hash,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents WHERE doc_id % {_INCR_MOD} = 0
    ),
    base AS (
        SELECT DISTINCT sha256(text) AS content_hash
        FROM documents WHERE doc_id % {_INCR_MOD} <> 0 AND text IS NOT NULL
    )
    SELECT b.doc_id, b.source, b.content_hash
    FROM batch b LEFT JOIN base USING (content_hash)
    WHERE base.content_hash IS NULL AND b.rn = 1 AND b.content_hash IS NOT NULL
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `dedup_incremental` — the live-crawl shape: an
    incoming DOCUMENT STREAM is deduped against the
    STATIC base corpus (stream-static LEFT ANTI join on the base's
    distinct hash projection) and within itself (complete-mode
    min-struct aggregation per content hash — deterministic lowest
    doc_id, where dropDuplicates would keep an arbitrary arrival),
    emitting only genuinely new docs.
    Same identity (sha256) and same survivors as the batch operator's
    'new' disposition — the oracle is that rule verbatim, minus the
    NULL-hash rows (a streaming dropDuplicates key of NULL groups
    NULL-text docs; the emit contract here simply excludes undefined
    text, the dedup-path NULL rule).

    Scale: the anti-join probes the static hash projection per
    micro-batch (Spark re-plans the static side, broadcast under
    threshold); the aggregation state holds one
    (hash, min-struct) pair per distinct incoming doc — in production
    bounded with a watermark over arrival time, unbounded here only
    because availableNow runs one bounded batch.
    """
    base = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % _INCR_MOD != 0) & F.col("text").isNotNull())
        .select(F.sha2(F.col("text"), 256).alias("content_hash"))
        .distinct()
    )
    with stream_run() as run:
        stream = (
            table_stream(spark, sf_dir, "documents", run)
            .filter((F.col("doc_id") % _INCR_MOD == 0) & F.col("text").isNotNull())
            .select("doc_id", "source", F.sha2(F.col("text"), 256).alias("content_hash"))
        )
        # within-stream dedup is a complete-mode MIN-STRUCT aggregation,
        # NOT dropDuplicates: dropDuplicates keeps whichever duplicate a
        # partition happens to deliver first — nondeterministic across
        # runs, while the oracle (and the batch twin) pin the lowest
        # doc_id. The anti-join runs BEFORE the aggregation (stream-static
        # joins must precede streaming aggregations).
        survivors = (
            stream.join(base, "content_hash", "left_anti")
            .groupBy("content_hash")
            .agg(F.min(F.struct("doc_id", "source")).alias("best"))
            .select(
                F.col("best.doc_id").alias("doc_id"),
                F.col("best.source").alias("source"),
                "content_hash",
            )
        )
        return run_to_memory(survivors, run, "complete")


#: exact-quota stratified sample size (per language). Rate-based
#: sampling (`sample_stratified`) hits a quota only in expectation;
#: curation runs that promise "exactly k docs per language" rank by a
#: deterministic per-doc hash and cut at k.
_STRAT_EXACT_K = 10
_DOC_HASH_DUCK = HASH60_DUCK.format(col="CAST(doc_id AS VARCHAR)")


@query(
    "sample_exact_stratified",
    oracle=f"""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_DOC_HASH_DUCK}, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {_STRAT_EXACT_K}
    """,
)
def sample_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling: EXACTLY {k} docs per language
    (fewer only if the stratum is smaller), selected by ranking on the
    cross-engine 60-bit md5 of the doc id — a deterministic,
    reshuffle-stable "random" order (the same device
    corpus_sample_temperature gates on) with doc_id as the collision
    tie-break. Complements `sample_stratified`, whose per-lang RATES
    hit a quota only in expectation. A NULL lang forms its own stratum
    (both engines).

    Scale: one hash exchange on lang + an in-partition TOP-K — Spark
    compiles the rank-filter window to a running row_number over a
    sort, and because the cut is a constant k the sort can spill but
    the retained state is k rows per stratum. For one dominant
    language the two-phase variant (per-partition top-k, then top-k of
    candidates) is the drop-in; at the contract scale the plain window
    is the oracle-exact form.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(_HASH60_SPARK.format(col="CAST(doc_id AS STRING)"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= _STRAT_EXACT_K)
        .select("doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank"))
    )
