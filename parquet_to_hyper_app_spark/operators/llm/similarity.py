"""Vector similarity search over the embeddings table.

- similarity_topk: exact brute-force cosine top-k — broadcast the
  (always small) query set against the (arbitrarily large) candidate
  set, per-query window top-k. The shuffle is only on query_id for the
  final top-k; candidates never shuffle. This is the exactness
  baseline.
- similarity_ivf: the scale path — deterministic random-hyperplane LSH
  coarse quantizer; probing only the query's bucket cuts the scanned
  candidates by ~2^bits at a recall cost. Approximate ⇒ rows-only
  check; recall vs brute force is unit-tested.

Cosine is computed with JVM higher-order functions (zip_with +
ordered double fold) — no UDF, bitwise-matching the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.crosshash import HASH60_DUCK, rademacher_entry
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.sources.filesig import memo
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread

_N_QUERIES = 10
_TOP_K = 3


def cosine(ea: Column, eb: Column) -> Column:
    """Ordered-fold cosine similarity between two double arrays."""
    dot = F.aggregate(F.zip_with(ea, eb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    sq = lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)  # noqa: E731
    return dot / (F.sqrt(sq(ea)) * F.sqrt(sq(eb)))


def valid_vectors(emb: DataFrame) -> DataFrame:
    """Rows whose embedding is defined (non-NULL, non-empty).

    Similarity/dedup semantics are undefined for a NULL or empty
    embedding (no cosine exists), so the search and near-dup operators
    exclude them on BOTH sides — the vector-column analogue of the
    "NULL text ≡ empty document" rule (review r5). Profiling ops
    (array_ops, embedding_quantize) keep NULL-propagation."""
    return emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))


#: the ONE well-formed-vector contract, family-wide (round 8 for the
#: dimensionality half, extending the r8-batch quantizer fix to every
#: search/near-dup consumer; round 9 added the FINITE half): the
#: domain of cosine search and near-dup mining is vectors of the
#: CORPUS dimensionality — max length over defined embeddings — whose
#: components are all non-NULL and finite. A ragged shorter vector has
#: no defined cosine against the corpus: Spark's zip_with NULL-poisons
#: the fold while DuckDB's list ops silently skip the missing tail
#: (engine-divergent), and np.stack inside the pandas-UDF paths
#: crashes outright. A vector with a ±Inf or NaN COMPONENT has a NaN
#: cosine against everything, and real-NaN threshold comparisons are
#: engine-divergent in the opposite directions (Python/numpy IEEE:
#: NaN ≥ t is false; DuckDB total order: NaN ≥ t is TRUE — measured
#: round 9: an Inf vector "near-dups" the whole corpus in the oracle
#: and nothing in the engine; note DuckDB 0/0 → NULL, which is why
#: the finite zero vector never tripped this). Exclusion on BOTH
#: engines is the only contract the engines can agree on. Profiling
#: ops (array_ops, embedding_quantize, sql_explode) deliberately stay
#: per-row and keep ragged rows (quantize NULLs non-finite digests —
#: see its docstring).
#: The oracle prefix below is the DuckDB mirror of `uniform_vectors`:
#: every embedding-family oracle composes its __v from it. The
#: `len(embedding) > 0` term keeps the all-empty-corpus edge aligned
#: (max(len)=0 would otherwise admit empty lists that the Spark side's
#: valid_vectors prefilter excludes). The finite filter counts
#: KEPT components (len(list_filter(...)) = len(...)) rather than
#: folding a boolean so a NULL component can never three-value its
#: way through.
UNIFORM_VEC_CTES = """__p AS (SELECT max(len(embedding)) AS dim FROM embeddings),
    __v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings, __p
        WHERE embedding IS NOT NULL AND len(embedding) = dim
              AND len(embedding) > 0
              AND len(list_filter(embedding,
                      x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE))))
                  = len(embedding)
    )"""


def corpus_dim(emb: DataFrame) -> int | None:
    """Corpus dimensionality: max length over defined embeddings (one
    tiny agg job); None when the table has no well-defined vector.
    max(len) is what the oracles' __p derives (`UNIFORM_VEC_CTES`);
    `.first()` of an arbitrary row would be NONDETERMINISTIC on a
    ragged corpus, and a hardcoded mismatched dim would NULL every
    hyperplane dot product and collapse all vectors into one bucket."""
    row = valid_vectors(emb).agg(F.max(F.size("embedding")).alias("d")).first()
    return None if row is None or row["d"] is None else int(row["d"])


def finite_components():
    """TRUE iff every component of ``embedding`` is non-NULL and
    finite — the Spark mirror of the oracle's list_filter count.

    Implemented as one forall() fold, not filter()+size: the filtered
    COPY of every vector cost a measured 1.22x on embedding_quantize's
    tiny map job (r9 A/B) where the fold is allocation-free. The
    boolean agrees with the oracle's kept-count construction on every
    input: a NULL component makes `x.isNotNull()` FALSE, and FALSE AND
    NULL is FALSE under three-valued logic, so the predicate — and
    therefore the forall — yields FALSE (not TRUE) — and both filter()
    and when() exclude non-TRUE, exactly like a kept-count
    shortfall."""
    return F.forall(
        "embedding",
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
    )


def uniform_vectors(emb: DataFrame, dim: int) -> DataFrame:
    """Rows whose embedding is defined, of the corpus dimensionality,
    AND all-finite — the Spark mirror of `UNIFORM_VEC_CTES`' __v.

    `dim` is required: the only dim-resolution path is
    `corpus_dim_for` (cached, None-aware), so the ragged contract has
    exactly one place where "no well-defined vector" is decided —
    an Optional default here duplicated that logic uncached and was
    never called (ADVICE r8). Operators use `uniform_vectors_for`."""
    return emb.filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == dim)
        & finite_components()
    )


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = _TOP_K
) -> DataFrame:
    """Exact top-k neighbors per query vector (self excluded)."""
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("eb"),
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("ea"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos_sim", F.col("rn").alias("rank"))
    )


@query(
    "similarity_topk",
    oracle=f"""
    WITH {UNIFORM_VEC_CTES},
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i]))
               / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos_sim
        FROM __v q JOIN __v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT q_id, neighbor_id, cos_sim, rank FROM (
        SELECT q_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {_TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S32: exact cosine top-3 neighbors for query vectors vec_id<10.

    The vectors are read without `scan_spread`: the broadcast-probe
    panel reads the scan once and its per-row cosine work is too small
    to amortize a widening exchange (A/B in OPTIMIZATION_r16.md)."""
    emb = uniform_vectors_for(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = brute_force_topk(emb, queries)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _embeddings_stat(spark: SparkSession, sf_dir: str, kind: str, compute):
    """``compute(embeddings)``, memoized per version of the table's
    files (`filesig.memo`): the lookups are one tiny job each, and
    every LSH/IVF query would otherwise re-run them per invocation. A
    rewrite of the table in place is computed again, so a new
    dimensionality is never filtered against a stale one."""
    return memo(
        kind,
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda: compute(load_table(spark, sf_dir, "embeddings")),
    )


def corpus_dim_for(spark: SparkSession, sf_dir: str) -> int | None:
    """Cached corpus dimensionality of a testdata directory — the
    SINGLE dim-resolution path for the embedding family (the max-agg
    pass over the embedding column runs once per table version; at
    100 TB that column IS the table, so an uncached lookup would
    double every search's scan cost). None (table has no well-defined
    vector) is cached like any other answer."""
    return _embeddings_stat(spark, sf_dir, "embeddings_dim", corpus_dim)


def embedding_dim_for(spark: SparkSession, sf_dir: str) -> int:
    """Cached embedding dimensionality of a testdata directory."""
    d = corpus_dim_for(spark, sf_dir)
    if d is None:
        raise ValueError("embeddings table has no well-defined vectors")
    return d


def uniform_vectors_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-dimensionality vectors of a testdata directory — the
    entry point every search/near-dup operator uses. Dim resolution
    (including the degenerate None) goes through `corpus_dim_for`'s
    cache. A table with no well-defined vector returns the (empty)
    valid set, preserving the graceful-empty contract.

    Returned at the scan's partitioning. A consumer whose first stage
    carries per-row vector math (cosine panels, quantizer assignment)
    widens it once with ``scan_spread(..., "vec_id")``, which is
    identity on production layouts (sources/scanwidth.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = corpus_dim_for(spark, sf_dir)
    if d is None:
        return valid_vectors(emb)
    return uniform_vectors(emb, d)


def embedding_count_for(spark: SparkSession, sf_dir: str) -> int:
    """Cached row count of the embeddings table (sizes LSH tables)."""
    return _embeddings_stat(spark, sf_dir, "embeddings_count", DataFrame.count)


def bucket_topk(cand: DataFrame, q: DataFrame, bucket_col: str) -> DataFrame:
    """Shared inverted-list search: join candidates to broadcast
    queries on the bucket key, exact cosine, per-query top-k.
    Used by both the LSH (similarity_ivf) and KMeans (features.py)
    quantizers so ranking/tie-break semantics cannot diverge."""
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.join(F.broadcast(q), bucket_col)
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "neighbor_id", "cos_sim", "rank")
    )


def with_recall_audit(approx: DataFrame, emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Attach per-query ``recall_at_k`` (|approx ∩ exact| / k vs the
    brute-force top-k) to an approximate search result.

    The audit pins the ANN path's quality NUMERICALLY in every run —
    a rows-only driver check still records the recall values in the
    hashed frame, and tests assert the floor. Cost: one extra exact
    pass over the candidates for the (always small) query set — the
    same O(|queries|·n) the exactness baseline costs, so the audit is
    affordable wherever the baseline itself is; on a 100 TB serving
    index, run it on a sampled query panel instead of every request.
    """
    exact = brute_force_topk(emb, queries).select("q_id", "neighbor_id")
    hits = approx.join(exact, ["q_id", "neighbor_id"], "left_semi")
    recall = hits.groupBy("q_id").agg(
        (F.count(F.lit(1)) / F.lit(float(_TOP_K))).alias("recall_at_k")
    )
    return (
        approx.join(recall, "q_id", "left")
        .fillna({"recall_at_k": 0.0})
        .select("q_id", "neighbor_id", "cos_sim", "rank", "recall_at_k")
    )


#: minimum mean recall@k an ANN path must deliver; below it the query
#: returns ZERO rows so even a rows-only driver check turns red
RECALL_FLOOR = 0.1


def enforce_recall_floor(audited: DataFrame, queries: DataFrame) -> DataFrame:
    """Fail LOUDLY when an approximate search degrades: if the mean
    per-query ``recall_at_k`` falls below `RECALL_FLOOR`, emit an EMPTY
    frame instead of plausible-looking garbage. The rows-only driver
    check can't value-check an ANN result, but it does record the row
    count — an empty result is a visible red, a quietly-wrong top-k is
    not.

    The mean is taken over the FULL query panel (``queries``), with
    queries that produced no result rows counted as recall 0 — the
    dominant ANN degradation mode is a bucket/centroid matching no
    candidates at all, and a mean over only the answered queries would
    let a quantizer that answers 1 of 10 queries perfectly sail past
    the floor. Both the recall sum and the panel count are 1-row
    broadcasts onto the (tiny, ≤ queries·k) result.

    Cross-engine exactness of the gate: recall values are hits/k, so
    the mean is re-derived from the ROUNDED total hit count —
    round(sum·k)/(k·n_q) is one rounding + one division in both
    engines, immune to the summation-order last-ulp noise that a raw
    sum-of-doubles/n_q comparison against the floor would carry right
    at the boundary (e.g. three recalls of 1/3 summing to 1±ulp)."""
    n_q = queries.groupBy().agg(F.count(F.lit(1)).alias("__n_q"))
    tot = (
        audited.select("q_id", "recall_at_k")
        .distinct()
        .groupBy()
        .agg(F.sum("recall_at_k").alias("__sum_recall"))
    )
    mean = (
        tot.crossJoin(F.broadcast(n_q))
        .select(
            (
                F.round(F.coalesce(F.col("__sum_recall"), F.lit(0.0)) * _TOP_K, 0)
                / (F.col("__n_q") * F.lit(float(_TOP_K)))
            ).alias("__mean_recall")
        )
    )
    return (
        audited.crossJoin(F.broadcast(mean))
        .filter(F.col("__mean_recall") >= RECALL_FLOOR)
        .drop("__mean_recall")
    )


def lsh_bucket(e: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of a double-array column against fixed planes."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        arr = F.array(*[F.lit(w) for w in p])
        dot = F.aggregate(F.zip_with(e, arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def ann_audit_gate_sql() -> str:
    """Shared DuckDB oracle tail for the ANN paths: exact brute-force
    top-k, per-query recall audit, and the round()-exact recall-floor
    gate. Composes after CTEs named __v (vec_id, e as double list) and
    __approx (q_id, neighbor_id, cos_sim, rank) — the exact mirror of
    `with_recall_audit` + `enforce_recall_floor`."""
    return f"""__exact AS (
        SELECT q_id, neighbor_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_sum(list_transform(range(1, len(q.e) + 1),
                                                        i -> q.e[i] * c.e[i]))
                                / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                                   * sqrt(list_sum(list_transform(c.e, x -> x * x))))
                                DESC,
                                c.vec_id) AS rn
            FROM __v q JOIN __v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        ) WHERE rn <= {_TOP_K}
    ),
    __recall AS (
        SELECT a.q_id,
               count(e.neighbor_id) / CAST({_TOP_K} AS DOUBLE) AS recall_at_k
        FROM __approx a LEFT JOIN __exact e
          ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
        GROUP BY a.q_id
    ),
    __gate AS (
        SELECT round(sum(recall_at_k) * {_TOP_K})
               / ({_TOP_K} * CAST((SELECT count(*) FROM __v
                                   WHERE vec_id < {_N_QUERIES}) AS DOUBLE))
                   AS mean_recall
        FROM __recall
    )
    SELECT a.q_id, a.neighbor_id, a.cos_sim, a.rank,
           coalesce(r.recall_at_k, 0.0) AS recall_at_k
    FROM __approx a
    LEFT JOIN __recall r ON a.q_id = r.q_id, __gate g
    WHERE g.mean_recall >= {RECALL_FLOOR}"""


_IVF_BITS = 4


def _ivf_planes(dim: int) -> list[list[float]]:
    """md5-derived ±1 hyperplanes for the IVF coarse quantizer — the
    same entries `_ivf_oracle()` re-derives with DuckDB's md5."""
    return [
        [rademacher_entry(f"ivf-plane-{b}-{d}") for d in range(dim)]
        for b in range(_IVF_BITS)
    ]


def _ivf_oracle() -> str:
    """DuckDB replica of the FULL IVF search, audit, and floor gate.

    Every float that reaches the output or a comparison is a
    sequential left-to-right double fold in both engines (Spark's
    higher-order aggregate ≡ DuckDB's list_sum), the planes re-derive
    from md5, and the floor compares a round()-exact hit count — so
    the whole approximate path hash-checks, not just its row count.
    """
    h60 = HASH60_DUCK.format(col="'ivf-plane-' || p.b || '-' || (d - 1)")
    probe_list = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {1 << i})" for i in range(_IVF_BITS)]
    )
    return f"""
    WITH {UNIFORM_VEC_CTES},
    __planes AS (
        SELECT p.b,
               list_transform(range(1, dim + 1), d ->
                 CASE WHEN ({h60} & 1) = 1
                      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS r
        FROM range(0, {_IVF_BITS}) p(b), __p
    ),
    __bkt AS (
        SELECT v.vec_id,
               sum(CASE WHEN list_sum(list_transform(range(1, dim + 1),
                                                     i -> v.e[i] * p.r[i])) > 0
                        THEN (1::BIGINT << p.b) ELSE 0 END) AS bucket
        FROM __v v CROSS JOIN __planes p, __p
        GROUP BY v.vec_id
    ),
    __vb AS (SELECT v.vec_id, v.e, b.bucket FROM __v v JOIN __bkt b USING (vec_id)),
    __probes AS (
        SELECT q.vec_id AS q_id, q.e AS ea,
               unnest([{probe_list}]) AS bucket
        FROM __vb q WHERE q.vec_id < {_N_QUERIES}
    ),
    __scored AS (
        SELECT p.q_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(p.ea) + 1), i -> p.ea[i] * c.e[i]))
               / (sqrt(list_sum(list_transform(p.ea, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos_sim
        FROM __probes p JOIN __vb c USING (bucket)
        WHERE p.q_id <> c.vec_id
    ),
    __approx AS (
        SELECT q_id, neighbor_id, cos_sim, rank FROM (
            SELECT q_id, neighbor_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT)
                       AS rank
            FROM __scored
        ) WHERE rank <= {_TOP_K}
    ),
    {ann_audit_gate_sql()}
    """


@query("similarity_ivf", oracle=_ivf_oracle())
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S32b: approximate top-k — 4-bit random-hyperplane LSH coarse
    quantizer, search restricted to the query's bucket + its
    Hamming-1 probes (≈5/16 of candidates scanned). Every output row
    carries its query's ``recall_at_k`` vs the exact brute-force
    top-k (audited in-query, floor asserted in tests AND enforced
    in-query: mean recall below RECALL_FLOOR empties the result).

    HASH-ORACLED since round 4 (formerly rows-only "approximate by
    construction"): approximate ≠ nondeterministic. The planes are
    md5-derived ±1 entries, the bucket/cosine folds are sequential
    JVM aggregates that match DuckDB's list_sum bit-for-bit, ranking
    ties break on neighbor_id, and the recall floor compares a
    round()-exact hit count — so `_ivf_oracle()` reproduces the
    entire search+audit+gate pipeline and the driver value-hashes it.
    """
    emb = scan_spread(uniform_vectors_for(spark, sf_dir), "vec_id")
    bits = _IVF_BITS
    planes = _ivf_planes(embedding_dim_for(spark, sf_dir))
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).withColumn("bucket", lsh_bucket(F.col("e"), planes))
    # multi-probe: each query also probes every Hamming-1 bucket, the
    # standard recall/scan trade (scans (bits+1)/2^bits of candidates)
    probes = F.array(F.col("bucket"), *[
        F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)
    ])
    q = (
        v.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("e").alias("ea"), probes.alias("probes"))
        .select("q_id", "ea", F.explode("probes").alias("bucket"))
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("eb"), F.col("bucket")
    )
    approx = bucket_topk(cand, q, "bucket")
    panel = emb.filter(F.col("vec_id") < _N_QUERIES)
    audited = with_recall_audit(approx, emb, panel)
    return enforce_recall_floor(audited, panel)
