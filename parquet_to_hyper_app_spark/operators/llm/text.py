"""Text-analysis operators for LLM training-data pipelines.

All per-document metrics are single-pass JVM projections (split /
higher-order functions / regexp) — no shuffle at all until an explicit
aggregation, so they stream at scan speed over any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread
from parquet_to_hyper_app_spark.functions.crosshash import WS, WS_CHARS
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.session import persisted


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text, empties removed.

    Case contract (applies to every caller that lowercases first):
    `lower()` is only pinned cross-engine for ASCII — Java uses full
    Unicode case mappings (İ → i + U+0307) while DuckDB's utf8proc
    uses simple mappings (İ → i), so SpecialCasing.txt characters are
    outside the corpus contract. ASCII and identity-case text (the
    generator's and fuzzer's alphabet) agree everywhere.
    """
    return F.filter(F.split(F.trim(text), WS + "+"), lambda t: t != "")


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
               / nullif(len(toks), 0) AS avg_token_len,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM (
        SELECT doc_id, lang, text,
               list_filter(regexp_split_to_array(trim(text), '{WS}+'), t -> t <> '') AS toks
        FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents)
    )
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33: per-document token count, mean token length, char count.
    Integer sums divided as doubles — exact equality with the oracle.
    NULL text counts as the empty document in BOTH engines (the
    text_tfidf rule): a NULL-propagating count would make the int
    metric columns nullable, which the driver canonicalizer reads
    back as floats — a guaranteed hash mismatch."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    toks = tokens(F.col("text"))
    char_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        (char_sum.cast("double") / F.size(toks)).alias("avg_token_len"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "text_lang_dist",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33b: corpus language distribution (integer aggregates, exact)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return docs.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"

#: the quality gate's thresholds — single source of truth for
#: text_quality AND pipeline_training_corpus (impls and oracles)
QUALITY_MIN_CHARS = 50
QUALITY_MAX_CHARS = 100_000
QUALITY_MAX_DIGIT_RATIO = 0.3


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE)
               / nullif(length(text), 0) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / nullif(length(text), 0) AS digit_ratio,
           CAST(len(list_filter(toks, t -> t IN {_SW_SQL})) AS DOUBLE)
               / nullif(len(toks), 0) AS stopword_ratio,
           length(text) BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS}
               AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                   / nullif(length(text), 0) < {QUALITY_MAX_DIGIT_RATIO} AS passes_quality
    FROM (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(trim(text)), '{WS}+'),
                           t -> t <> '') AS toks
        FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33c: heuristic quality scoring — punctuation/digit/stopword
    ratios plus a boolean gate (length band + digit ceiling), the
    standard cheap pre-filter before expensive model-based scoring.
    NULL text scores as the empty document in both engines. The whole
    query is per-row regex work with no shuffle, so `scan_spread`
    (sources/scanwidth.py) parallelizes it past the row-group-limited
    scan (identity on production layouts)."""
    docs = scan_spread(load_table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    toks = tokens(F.lower(F.col("text")))
    n_chars = F.length("text")
    punct = F.length(F.regexp_replace("text", r"[^!?.,;:]", ""))
    digits = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    sw = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    digit_ratio = digits.cast("double") / n_chars
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        (punct.cast("double") / n_chars).alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        (sw.cast("double") / F.size(toks)).alias("stopword_ratio"),
        (
            n_chars.between(QUALITY_MIN_CHARS, QUALITY_MAX_CHARS)
            & (digit_ratio < QUALITY_MAX_DIGIT_RATIO)
        ).alias("passes_quality"),
    )


#: BPE-ish pre-tokenizer (letter runs | digit runs | single
#: punctuation) — single source of truth for text_token_bpe AND
#: pipeline_training_corpus token costing (impls and oracles); same
#: regex dialect in Java and RE2
BPE_RE = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"
WORD_RE = r"[A-Za-z]+"


@query(
    "text_token_bpe",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '{WORD_RE}')) AS BIGINT) AS n_word_tokens
    FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33d: BPE-ish token counting via a pre-tokenizer regex (letters
    runs | digit runs | single punctuation) — the cheap proxy for
    tokenizer-cost estimation over a corpus. NULL text counts 0 tokens
    in both engines (nullable ints canonicalize as floats otherwise)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(WORD_RE), 0)).cast("long").alias(
            "n_word_tokens"
        ),
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '{WS}+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33e: normalization fingerprint (lower, collapse whitespace,
    md5) — whitespace/caps-insensitive exact dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), WS + "+", " ")).alias(
            "fingerprint"
        ),
    )


#: tiny per-language marker lists for the heuristic classifier
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "es": ("el", "la", "los", "es"),
    "fr": ("le", "la", "les", "est"),
}


def _lang_id_oracle() -> str:
    """DuckDB SQL reproducing the marker heuristic exactly: same
    marker lists (one source of truth: _LANG_MARKERS), same
    count/greatest(len,1) score, same argmax with first-dict-key
    tie-break, same 0.01 'und' floor, same 6-decimal rounding."""
    score_cols = ",\n               ".join(
        f"CAST(len(list_filter(tk, t -> list_contains("
        f"[{', '.join(repr(w) for w in words)}], t))) AS DOUBLE)"
        f" / greatest(len(tk), 1) AS s_{lang}"
        for lang, words in _LANG_MARKERS.items()
    )
    langs = list(_LANG_MARKERS)
    best = f"greatest({', '.join('s_' + la for la in langs)})"
    # CASE evaluates in declaration order — identical to the Spark
    # fold's first-key-wins tie policy
    case = " ".join(f"WHEN s_{la} = __best THEN '{la}'" for la in langs)
    return f"""
    WITH __toks AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '{WS}+'),
                           t -> t <> '') AS tk
        FROM (SELECT doc_id, lang, coalesce(text, '') AS text FROM documents)
    ),
    __scored AS (
        SELECT doc_id, lang,
               {score_cols}
        FROM __toks
    )
    SELECT doc_id, lang,
           CASE WHEN __best < 0.01 THEN 'und' {case} ELSE 'und' END
               AS predicted_lang,
           round(__best, 6) AS score
    FROM (SELECT *, {best} AS __best FROM __scored)
    """


@query("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33f: marker-word language ID — score = fraction of tokens in
    each language's stopword list, argmax wins (first marker-table key
    on ties), 'und' (undetermined) below a 0.01 confidence floor. A
    toy heuristic (real pipelines use fastText/CLD3 — those models
    aren't in this container), but the *distributed shape* is the real
    one: pure column expressions, no shuffle — and because every step
    is deterministic arithmetic, the whole classifier is value-hash
    checked against the SQL oracle built from the same marker table.
    NULL text classifies as the empty document ('und', score 0.0) in
    both engines. `scan_spread` parallelizes the per-row marker
    scoring past the row-group-limited scan (sources/scanwidth.py).
    """
    docs = scan_spread(load_table(spark, sf_dir, "documents"), "doc_id").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    toks = tokens(F.lower(F.col("text")))

    def marker_score(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("double") / F.greatest(
            F.size(toks), F.lit(1)
        )

    scores = [(lang, marker_score(words)) for lang, words in _LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, s in reversed(scores):
        pred = F.when(s == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best < 0.01, F.lit("und")).otherwise(pred)
    out = docs.select("doc_id", "lang", pred.alias("predicted_lang"), F.round(best, 6).alias("score"))
    return out


_VOCAB_TOP_K = 20


@query(
    "text_vocab_topk",
    oracle=f"""
    SELECT token, n_occurrences, rank FROM (
        SELECT token, n_occurrences,
               CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                    AS BIGINT) AS rank
        FROM (
            SELECT token, count(*) AS n_occurrences FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(trim(text)), '{WS}+'),
                    t -> t <> '')) AS token
                FROM documents
            ) GROUP BY token
        )
    ) WHERE rank <= {_VOCAB_TOP_K}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33g: corpus vocabulary heavy hitters — top-20 tokens by
    occurrence count, deterministic tie-break on the token itself.

    Scale shape: explode is narrow; the count is a partial+final hash
    aggregate whose output is the (bounded) vocabulary. The top-k is
    sort+limit — Spark plans TakeOrderedAndProject (per-task k-row
    heaps, driver merges k·tasks rows) — and only the k survivors get
    the row_number rank, so NO global sort of the vocabulary ever
    materializes at any scale.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    order = [F.col("n_occurrences").desc(), F.col("token")]
    topk = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(*order)
        .limit(_VOCAB_TOP_K)
    )
    # the frame is ≤ k rows, but a window with NO partitionSpec fires
    # the "No Partition Defined" WindowExec warning — indistinguishable
    # in a log scan from a real single-partition sort. The constant
    # partition key must survive the optimizer: literals are stripped
    # by EliminateWindowPartitions and `col * 0` is arithmetic-folded;
    # shiftright(count, 63) is 0 for any count yet stays an opaque
    # expression, so the plan keeps a partitionSpec and no warning.
    one_part = F.shiftright(F.col("n_occurrences"), 63)
    return topk.withColumn(
        "rank",
        F.row_number().over(W.partitionBy(one_part).orderBy(*order)).cast("long"),
    )


def _global_rank_cumsum(occ: "DataFrame") -> "DataFrame":
    """Distributed global rank + running sum over (n DESC, token).

    The naive formulation — `row_number()/sum() OVER (ORDER BY ...)`
    with no PARTITION BY — moves the whole frame into ONE partition.
    This is the standard two-phase replacement that parallelizes at any
    cardinality:

    1. `repartitionByRange` on the order key: partition i holds a
       contiguous, globally-ordered slice (range partitioner IDs are
       ordered by the sort expressions);
    2. per-partition row_number + cumsum — windows PARTITIONED BY the
       physical partition id, so every partition sorts only its slice;
    3. per-partition row/sum totals (one row per partition) get
       exclusive-prefix offsets via a window over that tiny frame, and
       broadcast-join back: global rank = offset + local rank.

    Returns the input columns plus `r` (1-based global rank, LONG) and
    `cum_n` (running sum of `n` through rank r). The rank is long on
    purpose (r12 self-review): a web-scale corpus can exceed 2^31
    distinct tokens, and the old int cast wrapped ranks past that
    NEGATIVE under non-ANSI arithmetic — silently passing any
    `r <= k` head filter and exploding the downstream broadcast in
    exactly the regime the two-phase rank exists for. `__r_off + __lr`
    is already long (sum-of-counts + int row_number), so long is the
    natural type; the per-PARTITION row_number stays int-bounded as
    long as the range partitioner keeps slices under 2^31 rows (at
    10^10 tokens over even 200 partitions that is 5·10^7 per slice).
    """
    from pyspark.sql import Window as W

    sliced = occ.repartitionByRange(F.col("n").desc(), F.col("token")).withColumn(
        "__pid", F.spark_partition_id()
    )
    wl = W.partitionBy("__pid").orderBy(F.col("n").desc(), "token")
    local = sliced.withColumn("__lr", F.row_number().over(wl)).withColumn(
        "__lcum", F.sum("n").over(wl.rowsBetween(W.unboundedPreceding, 0))
    )
    # one row per partition flows through this frame; the constant
    # partition key (shiftright(pid, 63) == 0 — opaque to the
    # optimizer, unlike a literal or `pid * 0` which get stripped)
    # only suppresses the spurious WindowExec warning
    wp = (
        W.partitionBy(F.shiftright(F.col("__pid").cast("long"), 63))
        .orderBy("__pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("__pid")
        .agg(F.max("__lr").alias("__cnt"), F.sum("n").alias("__sum"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(wp), F.lit(0)).alias("__r_off"),
            F.coalesce(F.sum("__sum").over(wp), F.lit(0)).alias("__c_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("r", (F.col("__r_off") + F.col("__lr")).cast("long"))
        .withColumn("cum_n", F.col("__c_off") + F.col("__lcum"))
        .drop("__pid", "__lr", "__lcum", "__r_off", "__c_off")
    )


_COVERAGE_VOCAB_SIZES = (100, 1000, 10000)


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH occ AS (
        SELECT token, count(*) AS n FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(trim(text)), '{WS}+'),
                t -> t <> '')) AS token
            FROM documents
        ) GROUP BY token
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r FROM occ
    ),
    tot AS (SELECT sum(n) AS total FROM ranked)
    SELECT v.vocab_size,
           CAST(count(rk.r) AS BIGINT) AS n_types,
           CAST(coalesce(sum(rk.n), 0) AS BIGINT) AS n_occurrences,
           round(CAST(coalesce(sum(rk.n), 0) AS DOUBLE)
                 / (SELECT total FROM tot), 6) AS coverage
    FROM (SELECT unnest([{", ".join(map(str, _COVERAGE_VOCAB_SIZES))}])
                 AS vocab_size) v
    LEFT JOIN ranked rk ON rk.r <= v.vocab_size
    GROUP BY v.vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage curve: for candidate vocab sizes (top-100 /
    top-1k / top-10k tokens by frequency, ties broken on the token),
    the fraction of ALL corpus token occurrences those types cover —
    the sizing curve every tokenizer/vocab decision starts from.

    Plan: one token-count aggregate (vocabulary-sized output), then a
    DISTRIBUTED global rank + running occurrence sum — range-partition
    on the order key, per-partition row_number/cumsum (parallel
    windows), and per-partition offsets (a partition-count-sized frame)
    broadcast back — never a single-partition sort of the vocabulary.
    The 3-row size list then EQUI-joins the cumulative table at rank =
    least(size, |vocab|). The corpus is scanned once; everything after
    the first agg operates on vocab cardinality.
    """
    docs = load_table(spark, sf_dir, "documents")
    # persist the vocab-sized intermediates: the range partitioner's
    # sampling pass, the bounds aggregate, and the final join each
    # re-execute their subtree otherwise (the corpus would be
    # re-aggregated up to 4x); at 100 TB you cache exactly these —
    # they are vocabulary-sized, not corpus-sized
    occ = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = _global_rank_cumsum(occ).select("r", "cum_n")
    # occ is persisted first, so cum's cache is filled from occ's
    with persisted(occ, cum) as (occ, cum):
        bounds = cum.agg(
            F.max("r").alias("max_r"), F.max("cum_n").alias("total")
        )
        sizes = F.array(*[F.lit(s) for s in _COVERAGE_VOCAB_SIZES])
        size_df = (
            spark.range(1)
            .select(F.explode(sizes).alias("vocab_size"))
            .crossJoin(F.broadcast(bounds))
            .select(
                "vocab_size",
                F.least(F.col("vocab_size"), F.col("max_r")).alias("r"),
                "total",
            )
        )
        # LEFT join from the 3-row size frame, not inner from cum: on an
        # all-empty corpus (every doc NULL/whitespace — the fuzz plants
        # these) cum is empty and an inner join emits 0 rows while the
        # oracle's LEFT JOIN still emits one row per vocab size. Pruning
        # cum to r <= max(sizes) first bounds the broadcast build side to
        # max(sizes) rows regardless of vocabulary cardinality, and drops
        # the full-vocab shuffle the old inner join paid.
        cum_head = cum.filter(F.col("r") <= max(_COVERAGE_VOCAB_SIZES))
        return (
            size_df.join(F.broadcast(cum_head), "r", "left")
            .select(
                "vocab_size",
                # unmatched (empty-corpus) rows keep r = vocab_size because
                # least() skips the NULL max_r — gate n_types on the join
                # actually matching (cum_n is never NULL for a real rank)
                F.when(F.col("cum_n").isNull(), F.lit(0))
                .otherwise(F.col("r"))
                .cast("long")
                .alias("n_types"),
                F.coalesce(F.col("cum_n"), F.lit(0)).alias("n_occurrences"),
                F.round(
                    F.coalesce(F.col("cum_n"), F.lit(0)).cast("double") / F.col("total"), 6
                ).alias("coverage"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "text_length_quartiles",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(ntile(4) OVER (PARTITION BY lang
                               ORDER BY n_chars NULLS LAST, doc_id)
                AS BIGINT) AS quartile
    FROM documents
    """,
)
def text_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33h: per-language document-length quartile assignment (ntile) —
    the binning step behind curriculum schedules and length-balanced
    batch mixing. Partitioned by lang so the sort parallelizes across
    languages; deterministic tie-break on doc_id. NULL placement is
    pinned explicitly on BOTH sides (Spark defaults ASC NULLS FIRST,
    DuckDB NULLS LAST — a one-row NULL n_chars would shift every
    quartile in its partition otherwise).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.asc_nulls_last("n_chars"), "doc_id")
    return docs.select(
        "doc_id", "lang", "n_chars", F.ntile(4).over(w).cast("long").alias("quartile")
    )
