"""Feature engineering for the LLM pipeline: TF-IDF + IVF-KMeans.

`text_tfidf` is exact (vocabulary TF-IDF, hash-oracled); its MLlib
HashingTF sibling stays as the un-registered `text_tfidf_hashed`
utility (murmur bucket ids are engine-private). The IVF coarse
quantizer is `lloyd_train` — a deterministic fixed-iteration Lloyd's
whose arithmetic the DuckDB oracle replays bit-exactly — so
`similarity_kmeans_ivf` is hash-checked end-to-end, training included
(round 4; it was the registry's last rows-only key).
"""

from __future__ import annotations

import math

# module-level by design (ADVICE r9 considered and kept): pandas is a
# declared install dependency (pyproject), sibling UDF modules import
# it the same way, and `semdedup_frame`'s pandas_udf resolves its
# `pd.Series` hints via get_type_hints against THESE module globals
# (PEP 563 strings) — a function-local import would break that.
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.functions.crosshash import rel_margin
from parquet_to_hyper_app_spark.operators.llm.similarity import (
    _N_QUERIES,
    _TOP_K,
    UNIFORM_VEC_CTES,
    ann_audit_gate_sql,
    bucket_topk,
    embedding_count_for,
    enforce_recall_floor,
    uniform_vectors_for,
    with_recall_audit,
)
from parquet_to_hyper_app_spark.functions.crosshash import WS
from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.session import persisted
from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread


@query(
    "text_tfidf",
    oracle=rf"""
    WITH docs AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')), '{WS}+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    w AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS wgt
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    top AS (
        SELECT doc_id, term, wgt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY wgt DESC, term) AS rn
        FROM w
    )
    SELECT d.doc_id,
           CAST(len(d.toks) AS BIGINT) AS n_tokens,
           coalesce(t.term, '') AS top_term,
           coalesce(t.wgt, 0.0) AS top_weight
    FROM docs d
    LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON t.doc_id = d.doc_id
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S33g: exact TF-IDF — whitespace tokenize → per-(doc, term) TF →
    document-frequency join → idf = ln((N+1)/(df+1)) (the MLlib IDF
    formula) → per-doc top-weighted term (ties broken on the term).
    Fully deterministic, hence hash-checked end-to-end; the hashed
    vocab-free variant (HashingTF buckets are engine-specific) lives in
    `text_tfidf_hashed` with its shape pinned by unit tests.

    Scale: two shuffles (TF groupBy on (doc_id, term); DF groupBy +
    join on term). The N-docs scalar is the canonical 1-row broadcast.
    Stop-word-grade terms skew the term join; AQE skew splitting
    handles it, and df's one-row-per-term side stays shuffle-join-safe
    at any vocab size.
    """
    docs = scan_spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    # NULL text degrades to the empty doc in BOTH engines: without the
    # coalesce, Spark's size(NULL toks) is -1 (ansi off) while the
    # oracle's len(NULL) is SQL NULL — a latent cross-engine divergence
    # on any future corpus containing NULL texts
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), WS + "+"),
            lambda x: x != "",
        ).alias("toks"),
    )
    tok = toks.select("doc_id", F.explode("toks").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("wgt"),
        )
    )
    from pyspark.sql import Window as W

    win = W.partitionBy("doc_id").orderBy(F.col("wgt").desc(), "term")
    top = (
        w.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.col("wgt").alias("top_weight"))
    )
    return toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens")).join(
        top, "doc_id", "left"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce("top_term", F.lit("")).alias("top_term"),
        F.coalesce("top_weight", F.lit(0.0)).alias("top_weight"),
    )


def text_tfidf_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-free hashed TF-IDF (not registry-checked: HashingTF bucket
    indices are engine-specific) — tokenize → HashingTF (2^12 buckets,
    fixed) → IDF → per-doc top-weighted bucket. The scale path when the
    vocabulary itself is too large to shuffle; one fit pass (IDF
    document frequencies) + one transform pass, both distributed."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokens = Tokenizer(inputCol="text", outputCol="tokens").transform(docs)
    tf = HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1 << 12).transform(tokens)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)

    # Argmax stays JVM-side: vector_to_array + array_max/array_position
    # (first match = lowest index on ties). An all-zero vector (empty
    # doc, or every term in every doc) maps to bucket -1 / weight 0.0.
    from pyspark.ml.functions import vector_to_array

    arr = out.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        vector_to_array("tfidf").alias("w"),
    ).select("doc_id", "n_tokens", "w", F.array_max("w").alias("mx"))
    return arr.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("mx") > 0.0, F.array_position("w", F.col("mx")) - 1)
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("top_bucket"),
        F.round(F.when(F.col("mx") > 0.0, F.col("mx")).otherwise(0.0), 6).alias("top_weight"),
    )


#: Lloyd's quantizer config — fixed so both engines can replay it
_KM_K = 16
_KM_ITERS = 3
_KM_SAMPLE = 2048
#: distributed-trainer iterations (k > _KM_SAMPLE only; no oracle
#: replays this path, so the budget is a quality knob, not a contract)
_KM_DIST_ITERS = 20


def _sql_double(x: float) -> str:
    """Render a Python float as a Spark SQL double literal, including
    the non-finite values repr() cannot express (review r5: a NaN
    embedding in the training sample propagated into a centroid mean
    and f'{x!r}D' emitted the unparseable identifier 'nanD')."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _exact_assign_row(vec, cents: list[list[float]]) -> int:
    """Oracle-exact nearest-centroid for ONE vector: sequential
    left-to-right (x−c)² folds, strict < keeps the smallest j on ties;
    the best_j seed guards the all-inf/all-NaN row (strict < alone
    would leave -1 where DuckDB's row_number picks cid 0); the tie
    clause lets a REAL +inf displace a NaN-as-inf (DuckDB ranks inf
    strictly below NaN). Extracted unchanged from `lloyd_train`'s
    knife loop so the training assignment and the scale-path
    assignment (`_assign_ids_np`) share ONE exact contract."""
    dim = len(vec)
    best_j, best_d, best_nan = -1, float("inf"), True
    for j, c in enumerate(cents):
        s = 0.0
        for di in range(dim):
            t = float(vec[di]) - c[di]
            s += t * t
        s_nan = s != s  # NaN fold → ranks greatest (see lloyd_train's d2)
        if s_nan:
            s = float("inf")
        if s < best_d or best_j == -1 or (s == best_d and best_nan and not s_nan):
            best_j, best_d, best_nan = j, s, s_nan
    return best_j


def lloyd_train(sample: list[tuple[int, list[float]]], k: int = _KM_K,
                iters: int = _KM_ITERS) -> list[list[float]]:
    """Deterministic fixed-iteration Lloyd's over an ORDERED sample.

    Every float op matches the DuckDB oracle's arithmetic exactly:
    distances are sequential left-to-right folds of (x−c)² (numpy's
    blocked sums are only a prefilter — any vector whose two best
    distances are within 1e-9 re-ranks all centroids with the exact
    fold), ties pick the smallest centroid id, and centroid means sum
    members IN vec_id ORDER before one division. Init = the k
    smallest-vec_id sample vectors; a centroid whose cluster empties
    keeps its previous position. With assignment and means both exact,
    the centroids are bit-identical across engines after any number of
    iterations — no compounding drift.
    """
    import numpy as np

    if not sample:  # empty embeddings table: nothing to train on
        return []
    k = min(k, len(sample))
    mats = np.array([e for _, e in sample], dtype="float64")
    dim = mats.shape[1]
    cents = [[float(x) for x in e] for _, e in sample[:k]]
    for _ in range(iters):
        c_arr = np.array(cents)
        diff = mats[:, None, :] - c_arr[None, :, :]
        d2 = np.einsum("nkd,nkd->nk", diff, diff)
        # NaN distances (NaN embedding entries) rank GREATEST — even
        # above a real +inf — matching DuckDB's sort order and Spark's
        # total-order comparisons. np.argmin would otherwise return the
        # first NaN position; substituting inf handles NaN-vs-finite,
        # and the repair loop below fixes the residual NaN-vs-real-inf
        # TIE (argmin may land on a NaN column only when every real
        # column is +inf; DuckDB then picks the first REAL column).
        nan_mask = np.isnan(d2)
        d2 = np.where(nan_mask, np.inf, d2)
        assign = np.argmin(d2, axis=1)
        for r in np.nonzero(nan_mask[np.arange(len(assign)), assign])[0]:
            real = np.nonzero(~nan_mask[r])[0]
            if len(real):  # all-NaN rows keep column 0, like DuckDB
                assign[r] = real[0]
        if k > 1:
            part = np.partition(d2, 1, axis=1)
            # magnitude-RELATIVE knife margin (rel_margin docstring):
            # an absolute epsilon would under-trigger on large-norm
            # embeddings (1e8-scale entries give d2 ~1e18, error ~1e4)
            margin = rel_margin(d2.max(axis=1))
            with np.errstate(invalid="ignore"):  # inf-inf rows → NaN → no knife
                knife = np.nonzero(part[:, 1] - part[:, 0] < margin)[0]
        else:
            knife = []
        for r in knife:
            assign[r] = _exact_assign_row(mats[r], cents)
        for j in range(k):
            rows = np.nonzero(assign == j)[0]
            if not len(rows):
                continue
            newc = []
            for di in range(dim):
                s = 0.0
                for r in rows:  # rows ascend ⇒ vec_id order
                    s += float(mats[r, di])
                newc.append(s / int(len(rows)))
            cents[j] = newc
    return cents


def _km_iteration_sql(r: int) -> str:
    """One unrolled Lloyd iteration: assignment vs __c{r-1} (sequential
    (x−c)² fold, tie → smallest cid) then vec_id-ordered means."""
    return f"""__a{r} AS (
        SELECT vec_id, e, cid FROM (
            SELECT s.vec_id, s.e, c.cid,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY list_sum(list_transform(range(1, dim + 1),
                                i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))),
                                c.cid) AS rn
            FROM __s s CROSS JOIN __c{r - 1} c, __p
        ) WHERE rn = 1
    ),
    __m{r} AS (
        SELECT cid, count(*) AS cnt, list(e ORDER BY vec_id) AS vs
        FROM __a{r} GROUP BY cid
    ),
    __c{r} AS (
        SELECT c.cid,
               CASE WHEN m.cid IS NULL THEN c.c
                    ELSE list_transform(range(1, dim + 1),
                         i -> list_sum(list_transform(m.vs, v -> v[i])) / m.cnt)
               END AS c
        FROM __c{r - 1} c LEFT JOIN __m{r} m USING (cid), __p
    )"""


def _km_assign_ctes() -> str:
    """The shared DuckDB prefix replaying `lloyd_train` + full-corpus
    assignment: ordered-sample init, _KM_ITERS unrolled iterations,
    then nearest-centroid assignment of every valid vector into
    ``__assign(vec_id, e, cid)``. Composed by `_kmeans_oracle()` and
    `dedup_semantic`'s oracle so training/assignment arithmetic can
    never drift between the two."""
    iterations = ",\n    ".join(_km_iteration_sql(r + 1) for r in range(_KM_ITERS))
    last = f"__c{_KM_ITERS}"
    return f"""{UNIFORM_VEC_CTES},
    __s AS (SELECT vec_id, e FROM __v ORDER BY vec_id LIMIT {_KM_SAMPLE}),
    __c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c
        FROM (SELECT vec_id, e FROM __s ORDER BY vec_id LIMIT {_KM_K})
    ),
    {iterations},
    __assign AS (
        SELECT vec_id, e, cid FROM (
            SELECT v.vec_id, v.e, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(range(1, dim + 1),
                                i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))),
                                c.cid) AS rn
            FROM __v v CROSS JOIN {last} c, __p
        ) WHERE rn = 1
    )"""


def _km_trained_assignment(spark: SparkSession, sf_dir: str, k: int = _KM_K):
    """The shared quantizer prologue: valid vectors as double arrays,
    ordered-sample Lloyd's training, and the full-corpus
    nearest-centroid assignment expression. Returns (emb, v, cents) —
    cents is [] for an empty embeddings table (callers return their
    typed empty frame). One definition so the bitwise-sensitive sampling /
    empty-guard / assignment contract cannot drift between
    `similarity_kmeans_ivf` and `dedup_semantic` (review r6).

    The quantizer's domain is vectors of the CORPUS dimensionality
    (max length over defined embeddings; one tiny agg job) — a ragged
    shorter vector previously CRASHED dedup_semantic's np.stack inside
    applyInPandas (ADVICE r6 #4) and silently NULL-poisoned the Spark
    assignment fold while DuckDB's list ops skipped the missing tail:
    exclusion on BOTH engines (here ↔ the oracle's `len(embedding) =
    dim` against __p) is the only ragged contract the two engines can
    agree on. Round 8 promoted the recipe family-wide: the filter is
    `similarity.uniform_vectors` ↔ `UNIFORM_VEC_CTES`, shared by every
    search/near-dup consumer of the embeddings table.
    """
    emb, v = _double_vectors(spark, sf_dir)
    sample = [
        (r.vec_id, list(r.e)) for r in v.orderBy("vec_id").limit(_KM_SAMPLE).collect()
    ]
    return emb, v, lloyd_train(sample, k=k)


def _double_vectors(spark: SparkSession, sf_dir: str):
    """(emb, v): the corpus-dimensionality vectors and their double-cast
    projection — the one projection every quantizer trainer consumes,
    extracted so the sample path and the distributed path cannot drift."""
    emb = scan_spread(uniform_vectors_for(spark, sf_dir), "vec_id")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    return emb, v


def _distributed_train(v, k: int) -> list[list[float]]:
    """Distributed quantizer training for widths past the ordered
    sample's trainable limit (k > ``_KM_SAMPLE``): MLlib k-means||
    (seeded, fixed maxIter) over the FULL vector frame, returning plain
    centroid lists so assignment still runs through the engine's own
    exact contract (`_assign_ids_np`'s matmul prefilter + exact-fold
    knife) — MLlib only picks WHERE the centroids sit, never how a
    vector ranks against them.

    One deliberate contract difference from `lloyd_train`, inherent to
    the regime: training is NOT bit-replayable by the DuckDB oracle
    (k-means|| init is distributed sampling), which is why the
    registered key never routes here — this is the production path for
    corpora whose k ∝ n exceeds any single-node sample. The seed makes
    a rerun deterministic only for an UNCHANGED partition layout
    (ADVICE r11): k-means|| samples per-partition, so the same data
    re-read at different parallelism or file layout can legally yield
    different centroids and reshuffled cluster ids — the
    reproducibility promise is rerun-on-same-layout, not
    layout-independent. Non-finite
    vectors never reach EITHER trainer or the assignment (r11 review):
    `v` comes from the uniform-vector contract (`uniform_vectors`
    excludes NULL/ragged/non-finite family-wide since r8), so MLlib's
    NaN-center-poisoning hazard is already fenced upstream and no
    second finite filter is paid here. k clamps to the vector count
    (MLlib requires k ≤ n); returns [] for an empty vector frame so
    the caller emits its typed empty result."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # persisted across the TWO passes this function makes (the clamp
    # count and k-means||'s iterations) — without it each would re-run
    # the scan + uniform filter + vector conversion, the same
    # double-read shape the containment df_tab persist closes
    with persisted(v.select(array_to_vector(F.col("e")).alias("features"))) as feats:
        n = feats.count()
        if n == 0:
            return []
        k = min(k, n)
        model = KMeans(k=k, seed=0, maxIter=_KM_DIST_ITERS).fit(feats)
        return [[float(x) for x in c] for c in model.clusterCenters()]


def _assign_ids_np(mats, cents: list[list[float]]):
    """Vectorized full-corpus nearest-centroid assignment — the SCALE
    path for quantizers whose k is too large for `_assign_expr`'s
    literal-centroid expression (k·dim literals stop being a sane
    Catalyst expression well before production SemDeDup's k ∝ n).

    Same assignment contract as `lloyd_train`: a matmul-expanded
    distance prefilter (d2 = |x|² + |c|² − 2·x·c — O(n·k) memory, no
    (n, k, d) tensor), NaN distances ranked greatest, and a knife-edge
    re-rank through `_exact_assign_row`'s sequential folds wherever the
    top-2 gap is within the float-error margin. The margin scale is
    |x|² + max|c|² (NOT the row-max distance `lloyd_train` uses): the
    matmul expansion's cancellation error is relative to the operand
    magnitudes, so a vector sitting close to every centroid still gets
    the exact re-rank even though its distances are all tiny.
    """
    import numpy as np

    c_arr = np.array(cents, dtype="float64")
    k = len(cents)
    # over= too: |x|² past DBL_MAX saturates to inf, which lands in the
    # non-finite artifact path routed to the exact fold below — no
    # warning needed
    with np.errstate(invalid="ignore", over="ignore"):
        x2 = np.einsum("nd,nd->n", mats, mats)
        c2 = np.einsum("kd,kd->k", c_arr, c_arr)
    d2 = _matmul_d2(mats, x2, c_arr, c2)
    artifact = ~np.isfinite(d2)
    d2 = np.where(artifact, np.inf, d2)
    assign = np.argmin(d2, axis=1)
    # ANY non-finite entry sends the whole row to the exact fold —
    # unlike the training path's (x−c)² tensor (squares, never
    # negative), the matmul expansion manufactures NaN from 0·inf and
    # inf−inf ARTIFACTS whose exact distance may be a comparable inf
    # (x finite-huge, c has an inf component) or even 0 (x duplicated
    # at overflow magnitude, |x|² → inf): substituting inf and
    # repairing only the argmin column mis-ranked both cases (found by
    # the r9 hypothesis property test, not by any corpus). ±inf rides
    # the same route (ADVICE r9): a −inf entry (2·x·c overflows while
    # |x|²+|c|² stays finite) would make the knife gap below +inf/NaN
    # and never re-rank, and a saturated +inf is only PROBABLY the
    # true max — the exact-fold contract should not rest on either.
    for r in np.nonzero(artifact.any(axis=1))[0]:
        assign[r] = _exact_assign_row(mats[r], cents)
    if k > 1:
        part = np.partition(d2, 1, axis=1)
        finite_c2 = c2[np.isfinite(c2)]
        margin = rel_margin(x2 + (finite_c2.max() if len(finite_c2) else 0.0))
        with np.errstate(invalid="ignore"):  # inf-inf rows → NaN → no knife
            knife = np.nonzero(part[:, 1] - part[:, 0] < margin)[0]
        for r in knife:
            assign[r] = _exact_assign_row(mats[r], cents)
    return assign


#: hierarchical-assignment routing width: cells probed per vector,
#: sitting at the MEASURED recall knee, not the IVF-conventional 8
#: (ADVICE r12): on the adversarial rotated-replica corpus — the
#: worst case, where fine centroids do not separate into coarse
#: cells — nprobe=8 under-drops 42.5% of flat's drop set while
#: nprobe=32–48 converges to 4.6%→0.2% and STILL runs 4.6–4.7×
#: faster than flat (docs/SCALE.md round-12 curve: the cell-loop's
#: cache-sized intermediates keep the memory-traffic win even when
#: the candidate prune is modest). Still √k-class work (32·√k fine
#: centroids inspected), exact on any corpus whose true nearest fine
#: centroid sits within the vector's 32 nearest coarse cells; lower
#: it on separated corpora for the full ~6× speedup, raise it when
#: recall on hostile geometry matters more than time.
_HIER_NPROBE = 32
#: coarse-trainer iterations — a routing structure, not a semantic
#: contract (the exact knife below owns tie semantics), so the budget
#: is a quality knob like _KM_DIST_ITERS
_HIER_ITERS = 10
#: driver-side chunk rows for the coarse trainer's distance blocks:
#: bounds every intermediate at _NP_CHUNK×⌈√k⌉ doubles (~0.9 GB at
#: k = 3·10⁶) instead of the k×⌈√k⌉ block that grows as k^1.5
#: (~44 GB per iteration at that k — r12 review)
_NP_CHUNK = 65536


def _matmul_d2(x, x2, c_arr, c2):
    """RAW matmul-expanded squared distances |x|² + |c|² − 2·x·c for a
    row block — the ONE definition of the expansion every numpy
    assignment/training site shares (r12 review: five hand copies of
    this three-term expression were one edit away from drifting their
    errstate/artifact discipline apart; the round's own first cut of
    one copy proved it). Returns the raw block, non-finite artifacts
    included: CALLERS own the artifact policy — routing paths
    inf-substitute, assignment contracts route artifact rows to the
    exact fold."""
    import numpy as np

    with np.errstate(invalid="ignore", over="ignore"):
        return x2[:, None] + c2[None, :] - 2.0 * (x @ c_arr.T)


def _nearest_chunked(mats, x2, c_arr):
    """Chunked inf-substituted nearest-centroid argmin over row blocks
    of `_NP_CHUNK` — routing only (the semantic knife/tie contract
    lives in the callers' exact folds). Never materializes the full
    n×c distance matrix, so the coarse trainer's memory stays bounded
    at any k (the unchunked k×√k block grows as k^1.5 — r12 review)."""
    import numpy as np

    with np.errstate(invalid="ignore", over="ignore"):
        c2 = np.einsum("kd,kd->k", c_arr, c_arr)
    out = np.empty(len(mats), dtype="int64")
    for lo in range(0, len(mats), _NP_CHUNK):
        hi = min(lo + _NP_CHUNK, len(mats))
        d2 = _matmul_d2(mats[lo:hi], x2[lo:hi], c_arr, c2)
        out[lo:hi] = np.argmin(np.where(np.isfinite(d2), d2, np.inf), axis=1)
    return out


def _np_lloyd(mats, c: int):
    """Deterministic driver-side Lloyd's over a dense float64 slab —
    the COARSE trainer for hierarchical assignment. Runs on the fine
    CENTROIDS (k×dim, already materialized on the driver by either
    fine trainer), so there is no new distributed stage and no new
    collect: k·dim doubles is the slab `semdedup_frame` already holds,
    and the per-iteration distance blocks are chunked
    (`_nearest_chunked`) so no intermediate exceeds _NP_CHUNK×c.
    Evenly-strided init (row floor(i·k/c) — strictly increasing for
    c ≤ k, so init rows are distinct positions), empty cells keep
    their previous position, and rows with any non-finite coordinate
    are EXCLUDED from the mean accumulation (r12 review: np.add.at
    would otherwise fold inf/NaN into whichever cell argmin hands the
    artifact row — usually cell 0 — NaN-poisoning its mean and
    degrading every subsequent route; excluded rows still get a cell,
    they just cannot move one). No exact-fold knife: the coarse layer
    only ROUTES; the semantic contract (ties, NaN ranking) lives in
    the refine stage's `_exact_assign_row` re-rank, same as the flat
    path. Returns (cents, assign) with assign recomputed against the
    FINAL centroids, so `_coarse_route` does not pay (or drift from)
    a second assignment pass.

    Driver COST envelope (ADVICE r12): memory is bounded by the
    chunking above, but compute is O(iters·k·c·dim) = O(iters·k^1.5·
    dim) FLOPs when c = ⌈√k⌉ — at k = 3·10⁶, dim = 768 that is
    ~4·10¹³ FLOPs, i.e. minutes of single-node BLAS. Acceptable for
    the stated >10⁶-vector rung because it amortizes against the
    distributed assignment savings (the coarse structure is trained
    once, then saves n·k·d − n·√k·d work with n ≫ k); if it ever
    becomes the bottleneck, train on an evenly-strided subsample of
    the centroid slab — routing quality degrades gracefully because
    the refine stage's exact fold, not the coarse cells, owns the
    semantics."""
    import numpy as np

    k = len(mats)
    c = min(c, k)
    cents = mats[np.floor(np.arange(c) * k / c).astype(int)].copy()
    with np.errstate(invalid="ignore", over="ignore"):
        x2 = np.einsum("nd,nd->n", mats, mats)
    finite = np.isfinite(mats).all(axis=1)
    for _ in range(_HIER_ITERS):
        assign = _nearest_chunked(mats, x2, cents)
        sums = np.zeros_like(cents)
        # over="ignore": finite-but-huge rows (1e300-scale plants) can
        # legitimately overflow the SUM to inf — the next route handles
        # inf through the same artifact discipline as everything else,
        # and silencing the expected case keeps real numeric regressions
        # visible in warning output (VERDICT r12 cosmetic)
        with np.errstate(over="ignore"):
            np.add.at(sums, assign[finite], mats[finite])
        # the bincount and the centroid division stay OUTSIDE the
        # errstate: only the sum accumulation has an expected overflow,
        # and a genuinely new overflow in the update arithmetic should
        # still warn (ADVICE r13)
        counts = np.bincount(assign[finite], minlength=c)
        live = counts > 0
        cents[live] = sums[live] / counts[live, None]
    return cents, _nearest_chunked(mats, x2, cents)


def _coarse_route(cents: list[list[float]], nprobe: int):
    """Build the two-level routing structure for `_assign_ids_hier`:
    train ⌈√k⌉ coarse centroids on the k fine centroids (driver-side
    numpy — see `_np_lloyd`), then group the fine centroids by nearest
    coarse cell (the trainer's own final-centroid assignment). Returns
    (coarse c×dim array, members: per-cell sorted int arrays of
    fine-centroid ids, effective nprobe). Cells inherit the flat
    path's artifact discipline: a fine centroid with any non-finite
    coordinate routes to cell 0 arbitrarily (and never poisons a
    coarse mean — the trainer's finite mask) — harmless, because any
    VECTOR whose refine distances go non-finite re-ranks through the
    full exact fold anyway."""
    import math

    import numpy as np

    k = len(cents)
    mats = np.array(cents, dtype="float64")
    c = min(math.isqrt(max(k - 1, 0)) + 1, k)  # ⌈√k⌉, ≤ k
    coarse, cell_of = _np_lloyd(mats, c)
    members = [np.nonzero(cell_of == j)[0] for j in range(len(coarse))]
    return coarse, members, min(nprobe, len(coarse))


def _assign_ids_hier(mats, cents: list[list[float]], coarse, members,
                     nprobe: int):
    """Hierarchical (coarse → refine) nearest-centroid assignment — the
    >10⁶-vector rung past `_assign_ids_np`'s flat matmul (VERDICT r11
    item 7). Flat assignment is n·k·d FLOPs; with SemDeDup's k ∝ n
    that term is quadratic by design (the paper's own cost model).
    Here each vector ranks the ⌈√k⌉ coarse cells (n·√k), probes its
    ``nprobe`` nearest, and refines only against those cells' fine
    members (n·nprobe·k/√k expected) — O(n·√k) total, sub-quadratic
    when k ∝ n.

    APPROXIMATE BY CONTRACT: routing is exact for a vector iff the
    centroid the EXACT FOLD would pick — including its smallest-id
    tie rule — lies in one of the vector's nprobe nearest coarse
    cells; a tied or within-margin competitor sitting in an unprobed
    cell is a routing MISS by this definition (the probed-set knife
    cannot see it), not a tie-handling defect. Exactness so defined is
    guaranteed on separated corpora (a vector near its centroid shares
    its centroid's cell ranking), asserted vs flat in tests and by
    `tools/semdedup_k_probe.py --hier`'s x1 drop-set equality; on
    adversarial geometry it is the standard IVF recall trade, tuned by
    nprobe. WITHIN the probed candidate set the contract is the flat
    path's, verbatim: any non-finite distance artifact sends the row
    to the full exact fold over ALL centroids (`_exact_assign_row`),
    and a top-2 gap inside the magnitude-relative float margin
    re-ranks the row's whole candidate set with the same exact fold —
    so wherever routing is exact, the hier result is bit-identical to
    flat, probed-set ties included."""
    import numpy as np

    c_arr = np.array(cents, dtype="float64")
    n = len(mats)
    ncells = len(coarse)
    nprobe = min(nprobe, ncells)
    with np.errstate(invalid="ignore", over="ignore"):
        x2 = np.einsum("nd,nd->n", mats, mats)
        c2f = np.einsum("kd,kd->k", c_arr, c_arr)
        co2 = np.einsum("kd,kd->k", coarse, coarse)
    d2c = _matmul_d2(mats, x2, coarse, co2)
    # rows with ANY artifact in their COARSE distances can't be routed
    # credibly — full exact fold, same spirit as flat, which exact-folds
    # a row on any artifact in its fine distances (r12 self-review: the
    # first cut spelled this ~isfinite(...).any(...), i.e. ALL-non-finite
    # — reachable only via a non-finite centroid, which the uniform
    # contract excludes, but the conservative ANY is what flat does)
    exact_rows = set(
        np.nonzero((~np.isfinite(d2c)).any(axis=1) | ~np.isfinite(x2))[0].tolist()
    )
    d2c = np.where(np.isfinite(d2c), d2c, np.inf)
    if nprobe < ncells:
        probe = np.argpartition(d2c, nprobe - 1, axis=1)[:, :nprobe]
    else:
        probe = np.broadcast_to(np.arange(ncells), (n, ncells))
    probe_mask = np.zeros((n, ncells), dtype=bool)
    probe_mask[np.arange(n)[:, None], probe] = True
    best = np.full(n, np.inf)
    second = np.full(n, np.inf)
    best_j = np.full(n, -1, dtype="int64")
    for cell in range(ncells):
        mem = members[cell]
        if len(mem) == 0:
            continue
        rows = np.nonzero(probe_mask[:, cell])[0]
        if len(rows) == 0:
            continue
        sub = _matmul_d2(mats[rows], x2[rows], c_arr[mem], c2f[mem])
        bad = ~np.isfinite(sub).all(axis=1)
        if bad.any():
            # refine-stage artifact (0·inf / inf−inf manufactured by the
            # matmul expansion): the whole row goes to the full exact
            # fold — mirroring _assign_ids_np, which never trusts a
            # repaired artifact row
            exact_rows.update(rows[bad].tolist())
        sub = np.where(np.isfinite(sub), sub, np.inf)
        ridx = np.arange(len(rows))
        if sub.shape[1] == 1:
            cb = sub[:, 0]
            cj = np.full(len(rows), mem[0], dtype="int64")
            cs = np.full(len(rows), np.inf)
        else:
            two = np.argpartition(sub, 1, axis=1)[:, :2]
            v0, v1 = sub[ridx, two[:, 0]], sub[ridx, two[:, 1]]
            first_is_0 = (v0 < v1) | ((v0 == v1) & (two[:, 0] < two[:, 1]))
            cb = np.where(first_is_0, v0, v1)
            cs = np.where(first_is_0, v1, v0)
            cj = mem[np.where(first_is_0, two[:, 0], two[:, 1])]
        # merge the cell's best two into the running (best, second);
        # strict < keeps the earlier cell's winner on exact ties — the
        # knife re-rank below owns tie semantics wherever they matter
        ob, os_ = best[rows], second[rows]
        best_j[rows] = np.where(cb < ob, cj, best_j[rows])
        stacked = np.sort(np.stack([ob, os_, cb, cs]), axis=0)
        best[rows], second[rows] = stacked[0], stacked[1]
    finite_c2 = c2f[np.isfinite(c2f)]
    margin = rel_margin(x2 + (finite_c2.max() if len(finite_c2) else 0.0))
    with np.errstate(invalid="ignore"):
        knife = np.nonzero((second - best < margin) & np.isfinite(best))[0]
    for r in knife:
        if r in exact_rows:
            continue
        cand = np.sort(np.concatenate([members[cell] for cell in probe[r]]))
        if len(cand) == 0:
            exact_rows.add(int(r))
            continue
        j = _exact_assign_row(mats[r], [cents[i] for i in cand])
        best_j[r] = cand[j]
    # rows every probed cell of which was empty, plus all artifact rows:
    # the flat path's full exact fold is the one contract both share
    for r in np.nonzero(best_j == -1)[0]:
        exact_rows.add(int(r))
    for r in exact_rows:
        best_j[r] = _exact_assign_row(mats[r], cents)
    return best_j


def _assign_expr(cents: list[list[float]]) -> str:
    """Spark SQL expression assigning a double-array column ``e`` to
    its nearest literal centroid: sequential (x−c)² fold per centroid,
    tie → the earliest (smallest) centroid id via the strict-< running
    min. The `acc.j = -1` seed makes the first centroid always replace
    the Infinity init: without it a vector whose every distance is NaN
    (or +Inf) keeps centroid_id -1 while the oracle's row_number
    assigns cid 0 — Spark's `<` is total-order with NaN greatest
    (verified: NaN < Inf is false, Inf < NaN is true), identical to
    DuckDB's sort, so after seeding the two engines agree on every
    mixed real/Inf/NaN distance profile. SHARED by
    `similarity_kmeans_ivf` and `dedup_semantic`."""
    cents_sql = "array(" + ", ".join(
        "array(" + ", ".join(_sql_double(x) for x in c) + ")" for c in cents
    ) + ")"
    return f"""
    aggregate(
      zip_with({cents_sql}, sequence(0, {len(cents) - 1}),
               (c, j) -> named_struct(
                   'd', aggregate(zip_with(e, c, (x, y) -> (x - y) * (x - y)),
                                  0D, (a, x) -> a + x),
                   'j', j)),
      named_struct('d', CAST('Infinity' AS DOUBLE), 'j', -1),
      (acc, s) -> CASE WHEN s.d < acc.d OR acc.j = -1 THEN s ELSE acc END
    ).j
    """


def _kmeans_oracle() -> str:
    """DuckDB replica of the FULL IVF-KMeans pipeline: ordered-sample
    Lloyd's training (_KM_ITERS unrolled iterations), full-corpus
    assignment, own-centroid probe, exact-cosine top-k, recall audit,
    floor gate. Composes `ann_audit_gate_sql()` like similarity_ivf."""
    return f"""
    WITH {_km_assign_ctes()},
    __scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * c.e[i]))
               / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.e, x -> x * x)))) AS cos_sim
        FROM __assign q JOIN __assign c USING (cid)
        WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
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


@query("similarity_kmeans_ivf", oracle=_kmeans_oracle())
def similarity_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S32c: true IVF — KMeans coarse quantizer, queries probe only
    their own centroid's inverted list, exact cosine within the list.
    Scanned fraction ≈ 1/k; every output row carries its query's
    ``recall_at_k`` vs the exact brute-force top-k (audited in-query,
    floor asserted in tests AND enforced in-query — mean recall below
    RECALL_FLOOR empties the result so the driver's row count reds).

    HASH-ORACLED since round 4 (the LAST formerly-weak key): MLlib's
    KMeans is replaced by `lloyd_train` — fixed-iteration Lloyd's on
    the ≤2048 (_KM_SAMPLE) smallest-vec_id vectors with bit-exact
    cross-engine arithmetic — so `_kmeans_oracle()` replays training,
    assignment, search, audit, and gate entirely in DuckDB. Training
    on a bounded ordered sample is also the honest 100 TB design: the
    quantizer fits on one node by construction, while the full-corpus
    centroid assignment stays a distributed JVM map pass (sequential
    per-centroid folds against literal centroids, no Python, no
    shuffle) and lists are written bucketed by centroid_id.
    """
    emb, v, cents = _km_trained_assignment(spark, sf_dir)
    if not cents:  # empty embeddings table: typed empty result, no crash
        return spark.createDataFrame(
            [],
            "q_id BIGINT, neighbor_id BIGINT, cos_sim DOUBLE, "
            "rank BIGINT, recall_at_k DOUBLE",
        )
    assigned = v.withColumn("centroid_id", F.expr(_assign_expr(cents)))
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("ea"), "centroid_id"
    )
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("eb"), "centroid_id"
    )
    approx = bucket_topk(cand, q, "centroid_id")
    panel = emb.filter(F.col("vec_id") < _N_QUERIES)
    audited = with_recall_audit(approx, emb, panel)
    # mean recall over the FULL panel below the floor empties the
    # result → red driver row
    return enforce_recall_floor(audited, panel)


@query(
    "embedding_quantize",
    oracle="""
    WITH src AS (
        SELECT vec_id,
               CASE WHEN len(list_filter(embedding,
                        x -> x IS NOT NULL AND isfinite(CAST(x AS DOUBLE))))
                        = len(embedding)
                    THEN embedding END AS embedding
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, embedding,
               CASE WHEN m = 0 THEN 1.0 ELSE m END AS scale
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM src
        )
    ),
    quant AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> CAST(trunc(CAST(x AS DOUBLE) / scale * 127) AS INTEGER))
                   AS q
        FROM scaled
    )
    SELECT vec_id,
           CAST(len(q) AS INTEGER) AS dims,
           scale,
           CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(q, 'min') AS INTEGER) AS q_min,
           CAST(list_aggregate(q, 'max') AS INTEGER) AS q_max
    FROM quant
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    max-abs scale, elements mapped to trunc(x/scale·127) ∈ [-127, 127]
    — the storage/serving compression step of an ANN index build.

    Quantized vectors are summarized as scalar digests (dims, sum,
    min, max) rather than emitted as arrays: the check hashes exact
    integers, and array-typed output columns are hostile to tabular
    consumers (VERDICT r1: the driver canonicalizer rejects ndarray
    cells). Truncation (not rounding) keeps the element mapping
    bit-deterministic across engines — round() ties at .5 are
    half-up in Spark but half-even in DuckDB casts.

    Scale: shuffle-free JVM higher-order expressions (transform/
    aggregate) over the vector column; zero-vector guard via the
    scale=1 substitution. A vector with any NULL/NaN/±Inf component
    quantizes as UNDEFINED (all-NULL digests, exactly like a NULL
    embedding): its scale is Inf or NaN, the element mapping collapses
    to 0/NaN, and real-NaN casts are engine-divergent (Spark non-ANSI
    → 0, DuckDB → conversion ERROR — found by the round-9 Inf fuzz
    plant). Implemented by NULLing the source vector under the same
    kept-component count as the similarity family's finite filter.
    100 TB of embeddings quantize as a pure map
    stage feeding the parquet sink."""
    from parquet_to_hyper_app_spark.operators.llm.similarity import finite_components

    e = load_table(spark, sf_dir, "embeddings")
    src = e.select(
        "vec_id", F.when(finite_components(), F.col("embedding")).alias("embedding")
    )
    m = F.array_max(F.expr("transform(embedding, x -> abs(cast(x as double)))"))
    scaled = src.select(
        "vec_id",
        "embedding",
        F.when(m == 0, F.lit(1.0)).otherwise(m).alias("scale"),
    )
    quant = scaled.select(
        "vec_id",
        "scale",
        F.expr("transform(embedding, x -> cast(cast(x as double) / scale * 127 as int))").alias(
            "q"
        ),
    )
    return quant.select(
        "vec_id",
        # NULL-propagation for undefined vectors (review r5): size(NULL)
        # is -1 under legacy sizeOfNull, and Spark's fold of [] yields
        # the 0 init where DuckDB's list_aggregate([], 'sum') is NULL
        F.when(F.col("q").isNotNull(), F.size("q")).alias("dims"),
        "scale",
        F.when(
            F.size("q") > 0, F.expr("aggregate(q, 0L, (acc, x) -> acc + x)")
        ).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


#: SemDeDup cosine threshold — BY CONSTRUCTION the same constant as
#: the dedup_embedding family (the synthetic vectors are near-random,
#: so 0.4 is the regime where pairs exist at test scale) and the same
#: bitwise contract: BLAS prefilter at (T − 1e-6), sequential-fold
#: exact verify at T (`_exact_pairs_block`, dedup.py). Imported, not
#: redeclared (ADVICE r6 #1): one edit moves the Spark verify, this
#: oracle, and the dedup_embedding oracles together.
from parquet_to_hyper_app_spark.operators.llm.dedup import COSINE_T as _SEMDEDUP_T


def _semdedup_oracle() -> str:
    return f"""
    WITH {_km_assign_ctes()},
    __pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM __assign a JOIN __assign b USING (cid)
        WHERE a.vec_id < b.vec_id
          AND list_sum(list_transform(range(1, len(a.e) + 1),
                       i -> a.e[i] * b.e[i]))
              / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                 * sqrt(list_sum(list_transform(b.e, x -> x * x))))
              >= {_SEMDEDUP_T}
    ),
    __drops AS (SELECT DISTINCT vb AS vec_id FROM __pairs)
    SELECT a.vec_id,
           CAST(a.cid AS BIGINT) AS cluster_id,
           d.vec_id IS NULL AS kept
    FROM __assign a LEFT JOIN __drops d USING (vec_id)
    """


#: production SemDeDup's k ∝ n design point: the r9 scale-k probe
#: (tools/semdedup_k_probe.py) scaled k = _KM_K·K against n = 500·K —
#: expected cluster size n/k ≈ 31 — and measured the curve flat to
#: x128. ``k="auto"`` reproduces that measured ratio from the
#: corpus's own (cached) count instead of asking the caller to pick.
_SEMDEDUP_TARGET_CLUSTER = 32


def semdedup_frame(
    spark: SparkSession, sf_dir: str, k: int | str | None = None,
    assign: str = "flat", nprobe: int | None = None,
) -> DataFrame:
    """The SemDeDup engine behind `dedup_semantic`, with the quantizer
    width as a parameter.

    ``k=None`` (the registered contract) trains at the fixed
    ``_KM_K`` and assigns through `_assign_expr`'s literal-centroid
    JVM expression — the bitwise cross-engine path the DuckDB oracle
    replays. An explicit ``k`` is the PRODUCTION-SCALE path: SemDeDup
    (Abbas et al. 2023 §3) grows k ∝ n so expected cluster size n/k
    stays bounded (``k="auto"`` applies that rule at the probe's
    measured n/k ≈ 32 design point from the cached corpus count,
    falling back to the literal path when the corpus is small enough);
    at that width a k·dim-literal expression stops
    being a sane Catalyst plan, so assignment runs as an Arrow-batched
    pandas UDF over `_assign_ids_np` (matmul prefilter + the SAME
    exact-fold knife re-rank as training — the two paths agree
    bit-for-bit, asserted in tests/test_llm.py), with the centroids
    shipped as a Spark BROADCAST variable (k·dim doubles).

    Training has TWO regimes (ADVICE r10 closed the silent gap between
    them): k ≤ ``_KM_SAMPLE`` trains `lloyd_train` on the bounded
    ordered sample — the bit-exact cross-engine contract; past that
    the sample would CLAMP k to 2048 and silently stop honoring the
    n/k ≈ 32 promise (clusters growing as n/2048, the exact
    super-linear regime the r9 probe measured), so k > ``_KM_SAMPLE``
    now trains DISTRIBUTED via `_distributed_train` (MLlib k-means||,
    seeded) behind the identical assignment contract. Auto therefore
    no longer saturates at n ≈ 65k (= _KM_SAMPLE·32): the resolved k
    keeps scaling ∝ n and only training placement changes engines.

    Assignment likewise has two regimes (r12, VERDICT r11 item 7):
    ``assign="flat"`` (default, and the only registered shape) is
    `_assign_ids_np`'s exact n·k matmul — with k ∝ n that term is
    quadratic BY DESIGN (SemDeDup's own cost model), measured growing
    to 35 s at x128 in docs/SCALE.md round-11. ``assign="hier"`` is
    the >10⁶-vector rung: a ⌈√k⌉-cell coarse quantizer trained
    driver-side ON THE CENTROID SLAB (no new distributed stage),
    ``nprobe`` cells probed per vector, the exact-fold knife applied
    within the probed candidates — O(n·√k), sub-quadratic when k ∝ n,
    bit-identical to flat wherever routing is exact — "exact" meaning
    the probed cells contain the exact fold's winner, tie rule
    included; see `_assign_ids_hier` (blob-corpus equality asserted in
    tests; x64/x128 timings + x1 drop-set equality in
    `tools/semdedup_k_probe.py --hier`). It is the
    standard IVF recall trade on adversarial geometry, which is why
    the registered key and k="auto" stay on flat: hier is the
    deployment switch, like containment's df_cap.

    ``nprobe`` is that recall knob (None, the default, resolves
    ``_HIER_NPROBE`` at CALL time, so a deployment monkeypatching the
    module constant moves the default too), and the trade is MEASURED, not
    hypothetical (docs/SCALE.md round-12, rotated-replica corpus —
    the worst case, where coarse cells don't separate): nprobe=8
    silently under-drops 42.5% of flat's drop set (misses KEEP
    near-dups; never corruption), 16 → 22.3%, 32 → 4.6%, 48 → 0.2%,
    while every width from 8 to 48 stays 4.6–6.3× faster than flat.
    The default sits at the measured knee (``_HIER_NPROBE`` = 32,
    <5% divergence at 4.6× — ADVICE r12 raised it from the
    IVF-conventional 8 precisely because a deployment flipping
    assign="hier" without reading SCALE.md would otherwise
    under-drop at 42%); on separated corpora — the regime hier
    exists for — any width is exact and a lower nprobe buys the
    full ~6×. ``assign`` governs
    the pandas-UDF path only: when k is None — or "auto" resolves a
    corpus small enough for the literal path — assignment is the
    oracle-replayable JVM expression BY CONTRACT and hier has nothing
    to route (⌈√16⌉ cells would be noise), so the flag is a documented
    no-op there rather than an error: a deployment can pin
    (k="auto", assign="hier") once and stay correct at every corpus
    size.
    """
    import numpy as np

    from parquet_to_hyper_app_spark.operators.llm.dedup import _exact_pairs_block

    if assign not in ("flat", "hier"):
        raise ValueError(f"semdedup assign must be 'flat' or 'hier', got {assign!r}")
    if nprobe is None:
        # call-time module-constant lookup, not a def-time default bind,
        # so monkeypatching _HIER_NPROBE changes the default callers see
        # — the same patchability contract as corpus._auto_df_cap's
        # min_s2 (ADVICE r13)
        nprobe = _HIER_NPROBE
    if isinstance(nprobe, bool) or not isinstance(nprobe, int) or nprobe < 1:
        raise ValueError(f"semdedup nprobe must be a positive int, got {nprobe!r}")
    if isinstance(k, str):
        if k != "auto":
            raise ValueError(f"semdedup k must be an int, None, or 'auto', got {k!r}")
        # k ∝ n at the probe-measured n/k design point; a corpus small
        # enough that the rule lands at (or under) the default width
        # takes the literal oracle-replayable path, identically to
        # k=None — auto only widens, it never narrows
        wide = -(-embedding_count_for(spark, sf_dir) // _SEMDEDUP_TARGET_CLUSTER)
        k = None if wide <= _KM_K else wide
    if k is not None:
        # mirror containment_frame's df_cap validation (ADVICE r11):
        # bool is an int subclass, so k=True would pass a bare
        # positivity check and silently train k=1 on the sample path,
        # while a float like 2.5 would crash later inside lloyd_train's
        # sample[:k] slice with an opaque TypeError
        if isinstance(k, bool) or not isinstance(k, int):
            raise ValueError(f"semdedup k must be an int, None, or 'auto', got {k!r}")
        if k <= 0:
            # the path selector below routes on `k is None`; a
            # non-positive k would otherwise train the default width yet
            # claim an explicit one on the UDF path (ADVICE r9)
            raise ValueError(f"semdedup k must be positive, got {k}")
    if k is not None and k > _KM_SAMPLE:
        _emb, v = _double_vectors(spark, sf_dir)
        cents = _distributed_train(v, k)  # [] only when v is empty —
        # the same condition the typed-empty return below already covers
    else:
        _emb, v, cents = _km_trained_assignment(spark, sf_dir, k=_KM_K if k is None else k)
    if not cents:  # empty embeddings table: typed empty result, no crash
        return spark.createDataFrame([], "vec_id BIGINT, cluster_id BIGINT, kept BOOLEAN")
    if k is None:
        assigned = v.withColumn("cluster_id", F.expr(_assign_expr(cents)).cast("long"))
    else:
        # broadcast, not closure capture: at production widths the
        # centroid slab is k·dim doubles (tens of MB once k ∝ n) and a
        # closure would re-ship it inside EVERY serialized task instead
        # of once per executor (VERDICT r10)
        cents_bc = spark.sparkContext.broadcast(cents)
        if assign == "hier":
            # routing structure built ONCE on the driver from the slab
            # already in hand and broadcast beside it: coarse is
            # √k·dim doubles, members is one int per fine centroid
            coarse, members, nprobe = _coarse_route(cents, nprobe)
            route_bc = spark.sparkContext.broadcast((coarse, members, nprobe))
        else:
            route_bc = None

        @F.pandas_udf("long")
        def _assign_udf(e: pd.Series) -> pd.Series:
            import numpy as np

            if not len(e):
                return pd.Series([], dtype="int64")
            mats = np.stack(e.to_numpy()).astype("float64")
            if route_bc is not None:
                co, mem, npr = route_bc.value
                ids = _assign_ids_hier(mats, cents_bc.value, co, mem, npr)
            else:
                ids = _assign_ids_np(mats, cents_bc.value)
            return pd.Series(ids, dtype="int64")

        assigned = v.withColumn("cluster_id", _assign_udf(F.col("e")))

    def cluster_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["e"].to_numpy()).astype("float64")
        rows = _exact_pairs_block(ids, m, ids, m, upper=True)
        # _exact_pairs_block emits (min_id, max_id, cos): the larger id
        # of every qualifying pair is exactly "has a smaller-id near
        # neighbor in its cluster" — the drop rule
        drop = sorted({b for _a, b, _cos in rows})
        return pd.DataFrame({"vec_id": pd.array(drop, dtype="int64")})

    drops = (
        assigned.groupBy("cluster_id")
        .applyInPandas(cluster_drops, "vec_id long")
        .withColumn("__d", F.lit(True))
    )
    return assigned.join(drops, "vec_id", "left").select(
        "vec_id", "cluster_id", F.col("__d").isNull().alias("kept")
    )


@query("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): semantic dedup via
    KMeans clustering + within-cluster cosine — a vector is dropped iff
    a SMALLER-id vector in ITS OWN cluster sits at cos ≥ {t}. One row
    per valid vector (the NULL/empty-embedding contract matches the
    similarity surface: undefined vectors are out of scope) with its
    cluster id and survivor flag.

    Composition of two proven bitwise contracts: the quantizer is
    `lloyd_train` + `_assign_expr` (similarity_kmeans_ivf's exact
    cross-engine Lloyd's), the within-cluster verify is
    `_exact_pairs_block` (dedup_embedding's BLAS-prefilter +
    sequential-fold exact threshold cut).

    Scale shape: training fits on one node by construction (bounded
    ordered sample); assignment is a narrow JVM map against literal
    centroids (no shuffle, no Python); the only wide op is ONE shuffle
    on cluster_id, and the within-cluster sweep is per-cluster BLAS in
    applyInPandas — pairs never shuffle, only the (small) drop set
    does. In production SemDeDup k grows ∝ n so expected cluster size
    stays bounded (n/k ≈ const) — `semdedup_frame(spark, sf_dir, k=…)`
    is that path (pandas-UDF assignment; measured flat in
    docs/SCALE.md's round-9 scale-k probe), with
    `assign="hier"` as the >10⁶-vector rung (⌈√k⌉-cell coarse routing,
    O(n·√k) — measured 4.3-6.2× faster than the flat matmul at
    x64/x128 in docs/SCALE.md round-12), while this registered
    fixed-k shape is the oracle-replayable worst case; a degenerate
    all-identical-embedding cluster is the same bounded-slab regime
    dedup_embedding documents: the drop-set OUTPUT is linear in the
    cluster even when the in-slab comparison is quadratic.
    """
    return semdedup_frame(spark, sf_dir)


dedup_semantic.__doc__ = dedup_semantic.__doc__.format(t=_SEMDEDUP_T)
