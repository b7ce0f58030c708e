"""Unit tests for LLM-pipeline operators — pins the semantics the
DuckDB oracle can't check (LSH recall, simhash properties, stubs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.operators.llm.dedup import (
    dedup_exact_df,
    minhash_candidates,
    verified_near_dup_pairs,
)
from parquet_to_hyper_app_spark.operators.llm.multimodal import (
    DECODE_SCHEMA,
    FEATURE_SCHEMA,
    decode_image,
    extract_features,
    fake_decode_image,
    with_blob,
)
from parquet_to_hyper_app_spark.operators.llm.similarity import (
    brute_force_topk,
    similarity_ivf,
)
from tests.conftest import SF_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the woods "
    "while the hunter watches quietly from a distance near the old mill"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """8 docs: 0/1 exact dups, 2 near-dup of 0, 3..7 distinct."""
    rows = [
        (0, BASE, "en", "s", len(BASE)),
        (1, BASE, "en", "s", len(BASE)),
        (2, BASE.replace("quietly", "silently"), "en", "s", len(BASE)),
        (3, "completely different content about spark engines and parquet files", "en", "s", 66),
        (4, "yet another unrelated document mentioning databases and queries", "en", "s", 63),
        (5, "short one", "en", "s", 9),
        (6, "numbers 1 2 3 4 5 6 7 8 9 10 repeated endlessly", "en", "s", 47),
        (7, "final document with totally disjoint vocabulary here", "en", "s", 52),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_dedup_exact_keeps_min_id(planted_docs):
    out = dedup_exact_df(planted_docs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4, 5, 6, 7]  # doc 1 (exact dup of 0) removed


def test_minhash_finds_planted_near_dup(planted_docs):
    cands = {(r.doc_a, r.doc_b) for r in minhash_candidates(planted_docs).collect()}
    assert (0, 1) in cands  # exact dup must always be a candidate
    verified = {(r.doc_a, r.doc_b) for r in verified_near_dup_pairs(planted_docs).collect()}
    assert (0, 1) in verified
    assert (0, 2) in verified or (1, 2) in verified  # one-word-changed near dup
    # distinct docs must not be verified as dups
    assert not any(a >= 3 or b >= 3 for a, b in verified)


def test_simhash_properties(spark, planted_docs):
    planted_docs.createOrReplaceTempView("__docs")
    from parquet_to_hyper_app_spark.operators.llm.dedup import _HASH60_SPARK, _SIMHASH

    out = (
        planted_docs.withColumn("__words", F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .withColumn(
            "__whashes",
            F.expr(f"transform(__words, w -> {_HASH60_SPARK.format(col='w')})"),
        )
        .withColumn("simhash", F.expr(_SIMHASH))
        .select("doc_id", "simhash")
        .collect()
    )
    sh = {r.doc_id: r.simhash for r in out}
    assert sh[0] == sh[1]  # identical text -> identical fingerprint
    ham = bin(sh[0] ^ sh[2]).count("1")
    assert ham <= 8  # one word changed -> small Hamming distance
    ham_far = bin(sh[0] ^ sh[7]).count("1")
    assert ham_far > ham  # unrelated text is farther


def test_ivf_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.q_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()
    }
    rows = similarity_ivf(spark, SF_SMOKE).collect()
    approx = {(r.q_id, r.neighbor_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall  # 4-bit quantizer + multiprobe scans ~5/16
    # every approx neighbor must share the query's bucket -> subset sanity
    assert len(approx) <= len(exact)
    # the in-query recall audit column must agree with the recall
    # computed here from first principles, per query
    for r in rows:
        q_hits = len({n for (q, n) in exact if q == r.q_id} & {
            n for (q, n) in approx if q == r.q_id
        })
        assert r.recall_at_k == pytest.approx(q_hits / 3), r


def test_multimodal_plumbing(spark, planted_docs):
    blobs = with_blob(planted_docs)
    assert dict(blobs.dtypes)["payload"] == "binary"
    feats = blobs.mapInPandas(extract_features, FEATURE_SCHEMA).collect()
    assert len(feats) == 8
    import hashlib

    expect = hashlib.md5(BASE.encode()).hexdigest()
    got = {r.doc_id: r.content_md5 for r in feats}
    assert got[0] == expect and got[1] == expect
    lens = {r.doc_id: r.byte_len for r in feats}
    assert lens[0] == len(BASE.encode())


def test_fake_decode_contract(spark, planted_docs):
    out = with_blob(planted_docs).mapInPandas(fake_decode_image, DECODE_SCHEMA)
    rows = out.collect()
    assert len(rows) == 8
    assert all(1 <= r.width <= 1920 and 1 <= r.height <= 1080 for r in rows)
    # deterministic: same payload -> same fabricated dims
    dims = {r.doc_id: (r.width, r.height) for r in rows}
    assert dims[0] == dims[1]


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        next(decode_image(iter([])))


def test_tfidf_edge_docs_match_oracle(spark, tmp_path):
    """Cross-engine differential on tokenization edge cases the sf
    corpora don't contain: empty text, whitespace-only text, runs of
    spaces/tabs, leading/trailing whitespace, repeated terms. Spark's
    split+filter and DuckDB's string_split_regex+list_filter must
    agree on token counts AND the top-weighted term."""
    import duckdb

    from parquet_to_hyper_app_spark.registry import load_all

    spec = load_all()["text_tfidf"]
    docs = [
        (0, ""),
        (1, "   "),
        (2, "alpha  beta\talpha"),
        (3, "  beta gamma "),
        (4, "Gamma GAMMA gamma"),
        (5, "solo"),
        (6, None),  # NULL text degrades to the empty doc in both engines
    ]
    spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_tokens, r.top_term, r.top_weight)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    assert got[0] == (0, "", 0.0) and got[1] == (0, "", 0.0)
    assert got[6] == (0, "", 0.0)
    assert got[2][0] == 3 and got[4] == (3, "gamma", got[4][2])
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {row[0]: (row[1], row[2], row[3]) for row in con.execute(spec.oracle).fetchall()}
    assert got == want


def test_recall_floor_fails_loudly(spark):
    """A degraded quantizer must EMPTY the ANN result (red row-count at
    the driver), not emit plausible garbage; a healthy one must pass
    rows through unchanged."""
    from pyspark.sql import Row

    from parquet_to_hyper_app_spark.operators.llm.similarity import (
        enforce_recall_floor,
    )

    rows = [
        Row(q_id=q, neighbor_id=n, cos_sim=0.5, rank=n + 1, recall_at_k=0.0)
        for q in range(3)
        for n in range(3)
    ]
    degraded = spark.createDataFrame(rows)
    panel3 = spark.createDataFrame([Row(vec_id=q) for q in range(3)])
    assert enforce_recall_floor(degraded, panel3).count() == 0
    healthy = degraded.withColumn("recall_at_k", F.lit(1.0))
    assert enforce_recall_floor(healthy, panel3).count() == degraded.count()
    # the mean is over the FULL query panel: a quantizer that answers
    # only 3 of 40 queries (perfect recall on those) must still fail —
    # unanswered queries count as recall 0, not as absent
    panel40 = spark.createDataFrame([Row(vec_id=q) for q in range(40)])
    assert enforce_recall_floor(healthy, panel40).count() == 0
    # end-to-end: a quantizer whose query probes never match any
    # candidate bucket produces an empty audited frame, which stays
    # empty through the floor (vacuously red at the driver)
    from parquet_to_hyper_app_spark.operators.llm.similarity import (
        bucket_topk,
        with_recall_audit,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    cand = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("eb"), F.lit(0).alias("bucket")
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("ea"), F.lit(1).alias("bucket")
    )
    broken = with_recall_audit(
        bucket_topk(cand, q, "bucket"), emb, emb.filter(F.col("vec_id") < 10)
    )
    assert enforce_recall_floor(broken, emb.filter(F.col("vec_id") < 10)).count() == 0


def test_kmeans_ivf_recall(spark):
    from parquet_to_hyper_app_spark.operators.llm.features import similarity_kmeans_ivf

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()}
    rows = similarity_kmeans_ivf(spark, SF_SMOKE).collect()
    approx = {(r.q_id, r.neighbor_id) for r in rows}
    # scans ~1/16 of candidates; random-ish embeddings bound recall low,
    # but the index must return plausible neighbors for every query
    assert len({q for q, _ in approx}) == 10
    assert len(exact & approx) / len(exact) >= 0.1
    # audit column sanity: within [0,1] and mean consistent with the
    # globally computed recall (same pair sets, same k)
    per_q = {r.q_id: r.recall_at_k for r in rows}
    assert all(0.0 <= v <= 1.0 for v in per_q.values())
    mean_audit = sum(per_q.values()) / len(per_q)
    assert mean_audit == pytest.approx(len(exact & approx) / len(exact))


def test_tfidf_shapes(spark):
    from parquet_to_hyper_app_spark.operators.llm.features import (
        text_tfidf,
        text_tfidf_hashed,
    )

    out = text_tfidf(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(out) == n_docs
    assert all(r.top_term != "" and r.top_weight >= 0 for r in out)
    assert all(r.n_tokens > 0 for r in out)
    hashed = text_tfidf_hashed(spark, SF_SMOKE).collect()
    assert len(hashed) == n_docs
    assert all(r.top_bucket >= 0 and r.top_weight >= 0 for r in hashed)


def test_embedding_lsh_recall_and_plan(spark):
    from parquet_to_hyper_app_spark.operators.llm.dedup import (
        dedup_embedding,
        dedup_embedding_lsh,
    )

    exact_rows = dedup_embedding(spark, SF_SMOKE).collect()
    exact = {(r.vec_a, r.vec_b) for r in exact_rows}
    assert exact, "smoke fixture must contain near-dup embedding pairs"
    lsh_df = dedup_embedding_lsh(spark, SF_SMOKE)
    lsh_rows = lsh_df.collect()
    # no false positives: every emitted pair is exact-verified inside
    # its bucket. The LSH path computes cosine via BLAS, the baseline
    # via an ordered JVM fold — a pair within a few ulps of the 0.4
    # threshold can legitimately clear one and not the other, so only
    # pairs clearly above the boundary are held to the subset rule.
    clearly_in = {(r.vec_a, r.vec_b) for r in lsh_rows if r.cos_sim > 0.4 + 1e-9}
    assert clearly_in <= exact
    # recall on near-random vectors at the worst-case threshold; real
    # near-dup embeddings (cos >= 0.9) collide with prob ~0.97/table
    lsh = {(r.vec_a, r.vec_b) for r in lsh_rows}
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.6, recall
    # the whole point: candidate generation is an equi-join, never a
    # cartesian/broadcast-nested-loop product
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- corpus ops


def test_contamination_flags_shared_span(spark):
    """A corpus doc sharing a 5-token span with a benchmark doc
    (doc_id % 20 == 0) must count as contaminated; disjoint docs not."""
    from parquet_to_hyper_app_spark.operators.llm import corpus as corpus_mod

    rows = [
        (20, "alpha beta gamma delta epsilon zeta", "en", "s0", 1),  # benchmark
        (1, "XX alpha beta gamma delta epsilon YY", "en", "s0", 1),  # copied span
        (2, "one two three four five six seven", "en", "s1", 1),  # clean
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r.source: (r.n_contaminated, r.n_docs)
            for r in corpus_mod.contamination_ngram(spark, d).collect()
        }
    assert out["s0"] == (1, 1)
    assert out["s1"] == (0, 1)


def test_doc_repetition_planted(spark):
    """A doc that is one phrase repeated must score near-1 dup
    fractions; an all-distinct doc scores 0."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import doc_repetition
    import tempfile, os

    rows = [
        (1, "spam ham spam ham spam ham spam ham", "en", "s0", 1),
        (2, "one two three four five six", "en", "s0", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in doc_repetition(spark, d).collect()}
    rep, clean = out[1], out[2]
    assert rep.dup_word_frac == 1 - 2 / 8
    assert rep.top_bigram_n == 4  # "spam ham" x4
    assert rep.dup_bigram_frac == 1.0  # every bigram occurrence repeats
    assert clean.dup_word_frac == 0.0
    assert clean.dup_bigram_frac == 0.0
    assert clean.top_bigram_n == 1


def test_quality_rollup_matches_gate(spark):
    """The rollup's n_pass must equal text_quality's passes_quality
    count — one source of truth for the thresholds."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import quality_rollup_source
    from parquet_to_hyper_app_spark.operators.llm.text import text_quality

    n_pass = sum(r.n_pass for r in quality_rollup_source(spark, SF_SMOKE).collect())
    gate = text_quality(spark, SF_SMOKE).filter("passes_quality").count()
    assert n_pass == gate


def test_pii_redact_scrubs_everything(spark):
    from parquet_to_hyper_app_spark.operators.llm.corpus import text_pii_redact

    out = text_pii_redact(spark, SF_SMOKE)
    row = out.orderBy("doc_id").first()
    assert row.n_emails == 1 and row.n_phones == 1
    assert "<EMAIL>" in row.redacted and "<PHONE>" in row.redacted
    assert "@" not in row.redacted.replace("<EMAIL>", "")
    leftovers = out.filter((F.col("n_emails") == 0) | (F.col("n_phones") == 0)).count()
    assert leftovers == 0


def test_doc_packing_bins_respect_budget(spark):
    from parquet_to_hyper_app_spark.operators.llm.corpus import _PACK_BUDGET, doc_packing

    bins = doc_packing(spark, SF_SMOKE).collect()
    assert bins
    for b in bins:
        assert b.n_docs >= 1 and b.first_doc <= b.last_doc
        # first-fit-in-order: a bin may overflow by at most its last doc,
        # so total - last-doc-tokens must still fit under the budget
        assert b.total_tokens >= b.n_docs  # sanity: every doc has tokens
    # bins within a language are dense 0..max
    import collections

    by_lang = collections.defaultdict(list)
    for b in bins:
        by_lang[b.lang].append(b.bin_id)
    for ids in by_lang.values():
        assert sorted(ids) == list(range(len(ids)))


def test_embedding_quantize_bounds(spark):
    from parquet_to_hyper_app_spark.operators.llm.features import embedding_quantize

    q = embedding_quantize(spark, SF_SMOKE)
    bad = q.filter((F.col("q_min") < -127) | (F.col("q_max") > 127)).count()
    assert bad == 0
    # max-abs scaling ⇒ at least one element hits ±127 per vector
    # unless truncation shaved an ulp: allow 126
    weak = q.filter((F.col("q_max") < 126) & (F.col("q_min") > -126)).count()
    assert weak == 0


def test_ngram_jaccard_edge_docs_match_oracle(spark, tmp_path):
    """Cross-engine differential for the trim-based empty-doc row
    filter in ngram_jaccard_pairs: size(bigrams) > 0 was replaced with
    trim(text) != '' (scan-pushable, no tokenizer inlining into the
    Filter node), and the two must stay row-equivalent on the docs the
    sf corpora don't contain — empty, whitespace-only, single-token,
    and identical single-token pairs (whose lone 'tok ' pseudo-bigram
    both engines must build the same way)."""
    import duckdb

    from parquet_to_hyper_app_spark.registry import load_all

    spec = load_all()["dedup_ngram_jaccard"]
    docs = [
        (0, "en", ""),
        (1, "en", "  \t "),
        (2, "en", "solo"),
        (3, "en", "solo"),  # identical single-token pair -> J = 1.0
        (4, "en", "alpha beta gamma delta"),
        (5, "en", "alpha beta gamma epsilon"),  # 2/4 shared bigrams
        (6, "de", "alpha beta gamma delta"),  # other lang: never paired
        (7, "en", "  alpha   beta\tgamma  delta "),  # ws-normalized dup of 4
        (8, "en", "solo\n"),  # trailing newline: 1 token (trim strips spaces only)
        (9, "en", "\t\t"),  # tab-only: zero tokens, must be dropped
    ]
    spark.createDataFrame(docs, "doc_id bigint, lang string, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    # planted truths: the ws-dup and the single-token twins at J=1.0;
    # 4-5 share bigrams {alpha beta, beta gamma} of 4 total -> J=0.5
    assert got[(4, 7)] == 1.0 and got[(2, 3)] == 1.0 and got[(4, 5)] == 0.5
    assert not any(6 in p for p in got)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = {
        (row[0], row[1]): round(row[2], 9) for row in con.execute(spec.oracle).fetchall()
    }
    assert got == want


# ------------------------------------------------------- lloyd quantizer


def test_lloyd_tie_breaks_to_smallest_centroid_and_keeps_empty():
    """The cross-engine contract's two discrete rules, pinned without
    Spark: an exactly-equidistant point joins the SMALLEST centroid id
    (the oracle's row_number tie on cid), and a centroid whose cluster
    GENUINELY empties keeps its previous position (the oracle's LEFT
    JOIN CASE — duplicate init vectors force every point to c0, so a
    'zero/reseed the empty centroid' regression is distinguishable
    from the keep rule)."""
    from parquet_to_hyper_app_spark.operators.llm.features import lloyd_train

    # init: c0 = v1 = (0,0), c1 = v2 = (2,0); v3 = (1,0) is EXACTLY
    # equidistant -> must join c0, so c0 moves to (0.5, 0)
    cents = lloyd_train([(1, [0.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 0.0])],
                        k=2, iters=1)
    assert cents[0] == [0.5, 0.0]
    assert cents[1] == [2.0, 0.0]

    # DUPLICATE init vectors: c0 == c1 == (2,1), so every point (incl.
    # both init members) ties and joins c0 -> c1's cluster is EMPTY on
    # iteration 1 and must keep its nonzero init position
    cents = lloyd_train([(1, [2.0, 1.0]), (2, [2.0, 1.0]), (3, [5.0, 0.0])],
                        k=2, iters=1)
    assert cents[1] == [2.0, 1.0]  # kept, not zeroed/reseeded
    assert cents[0] == [(2.0 + 2.0 + 5.0) / 3, (1.0 + 1.0 + 0.0) / 3]


def test_rel_margin_dominates_blocked_fold_error():
    """The knife-edge margin must be magnitude-RELATIVE: at every
    scale it has to dominate the blocked-vs-sequential summation error
    (~dim·eps·scale for dim ≤ 64) while an absolute 1e-9 epsilon —
    the bug a review pass caught — falls below that error beyond
    scale ~1e5 and silently stops routing near-ties through the exact
    recompute."""
    import numpy as np

    from parquet_to_hyper_app_spark.functions.crosshash import rel_margin

    dim, eps = 64, np.finfo(np.float64).eps
    for scale in (1.0, 1e2, 1e8, 1e16, 1e18):
        fold_error = dim * eps * scale
        m = float(rel_margin(scale))
        assert m > 10 * fold_error, (scale, m, fold_error)
    # small-scale floor: stays a tight absolute 1e-9, and an absolute
    # implementation is provably NOT what's in place at large scale
    assert float(rel_margin(0.5)) == 1e-9
    assert float(rel_margin(1e18)) == pytest.approx(1e9)  # absolute: 1e-9
    # array form used by the hot paths
    arr = rel_margin(np.array([1.0, 1e18]))
    assert float(arr[0]) == 1e-9 and float(arr[1]) == pytest.approx(1e9)


def test_kmeans_ivf_empty_embeddings(spark, tmp_path):
    """Advisor r4: an empty embeddings table must yield a typed empty
    frame, not an IndexError in lloyd_train or malformed 'array()' SQL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.features import (
        lloyd_train,
        similarity_kmeans_ivf,
    )

    assert lloyd_train([]) == []
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(schema.empty_table(), str(tmp_path / "embeddings.parquet"))
    out = similarity_kmeans_ivf(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == ["q_id", "neighbor_id", "cos_sim", "rank", "recall_at_k"]


def test_kmeans_assign_seeds_on_all_nan_distances(spark):
    """Advisor r4 + review r5: NaN distances rank GREATEST in the numpy
    training path (np.argmin would otherwise treat NaN as the minimum
    and funnel every vector into a NaN-poisoned centroid), and the
    Spark fold assigns centroid 0, never -1, when all distances are
    NaN."""
    import math

    from parquet_to_hyper_app_spark.operators.llm.features import lloyd_train

    # init centroids are the first k sample vectors, so centroid 0 IS
    # the NaN vector: every doc's distance to c0 is NaN. The buggy
    # argmin assigned ALL vectors to c0 (centroids [nan, 10/3] and an
    # emptied c1 frozen at [10, 10]); NaN-ranks-greatest assigns the
    # real vectors to c1 instead, whose mean must come out [5, 5].
    sample = [(0, [float("nan"), 0.0]), (1, [10.0, 10.0]), (2, [0.0, 0.0])]
    cents = lloyd_train(sample, k=2, iters=1)
    assert cents[1] == [5.0, 5.0]
    assert math.isnan(cents[0][0]) and cents[0][1] == 0.0

    # Spark fold path: replicate the assign_expr shape with NaN input
    row = spark.sql(
        """SELECT aggregate(
             zip_with(array(array(0D, 0D), array(1D, 1D)), sequence(0, 1),
                      (c, j) -> named_struct(
                          'd', aggregate(zip_with(array(double('NaN'), 1D), c,
                                                  (x, y) -> (x - y) * (x - y)),
                                         0D, (a, x) -> a + x),
                          'j', j)),
             named_struct('d', CAST('Infinity' AS DOUBLE), 'j', -1),
             (acc, s) -> CASE WHEN s.d < acc.d OR acc.j = -1 THEN s ELSE acc END
           ).j AS j"""
    ).collect()[0]
    assert row.j == 0


def test_kmeans_ivf_nan_embedding_in_sample(spark, tmp_path):
    """Review r5: a NaN embedding inside the training sample propagates
    into a centroid mean; the SQL literal builder must render it as
    CAST('NaN' AS DOUBLE), not the unparseable 'nanD'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.features import (
        _sql_double,
        similarity_kmeans_ivf,
    )

    assert _sql_double(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _sql_double(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _sql_double(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert _sql_double(1.5) == "1.5D"

    vecs = [[float(i), float(i % 7), 1.0, 0.5] for i in range(60)]
    vecs[0][0] = float("nan")  # poisons centroid 0's mean via training
    tbl = pa.table(
        {
            "vec_id": pa.array(range(60), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * 60, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out = similarity_kmeans_ivf(spark, str(tmp_path))
    out.collect()  # must not raise AnalysisException on 'nanD'
    assert out.columns == ["q_id", "neighbor_id", "cos_sim", "rank", "recall_at_k"]


def test_connected_components_deep_chain(spark):
    """Review r5: a drift chain deeper than max_iters previously hit the
    non-convergence RuntimeError (min-label propagation needs diameter
    rounds); pointer jumping converges in O(log diameter)."""
    from parquet_to_hyper_app_spark.operators.llm.dedup import connected_components

    n = 30  # diameter 29 >> max_iters=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = connected_components(pairs, nodes, max_iters=10).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == n


def test_minhash_lsh_exact_collapse_matches_oracle(spark, tmp_path):
    """Review r5: dedup_minhash_lsh pre-collapses exact duplicates so k
    identical docs cost one representative, not k(k-1)/2 band pairs.
    Survivors must stay IDENTICAL to the uncollapsed full-corpus DuckDB
    oracle on a duplicate-heavy corpus."""
    import duckdb

    from parquet_to_hyper_app_spark.registry import load_all

    spec = load_all()["dedup_minhash_lsh"]
    boiler = "the same boilerplate footer text repeated on every single page here"
    near = boiler.replace("footer", "header")
    rows = (
        [(i, boiler, "en", "s") for i in range(4)]
        + [(i, near, "en", "s") for i in range(4, 7)]
        + [(7, "completely different content about spark engines", "en", "s")]
        + [(8, None, "en", "s"), (9, "", "en", "s"), (10, "   ", "en", "s")]
    )
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = sorted(r.doc_id for r in spec.fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted(row[0] for row in con.execute(spec.oracle).fetchall())
    assert got == want
    assert 0 in got and 7 in got  # class reps / distinct docs survive
    assert not set(range(1, 4)) & set(got)  # exact copies of 0 removed


def test_exact_pairs_block_slab_equivalence():
    """The blocked bucket sweep must emit exactly the one-shot pair set
    on a degenerate (all-identical + noise) bucket."""
    import numpy as np

    from parquet_to_hyper_app_spark.operators.llm.dedup import _exact_pairs_block

    rng = [[1.0, 2.0, 3.0]] * 5 + [[-1.0, 2.0, -3.0], [0.0, 0.0, 0.0]]
    ids = np.arange(len(rng))
    mat = np.array(rng)
    whole = sorted(_exact_pairs_block(ids, mat, ids, mat, upper=True))
    slabbed = []
    for s in range(0, len(ids), 2):  # slab=2 forces multiple sweeps
        slabbed += _exact_pairs_block(ids[s : s + 2], mat[s : s + 2], ids, mat, upper=True)
    assert sorted(slabbed) == whole
    assert len(whole) == 10  # C(5,2) identical pairs; zero-vec pairs dropped


def test_dedup_incremental_statuses(spark, tmp_path):
    """Every disposition branch: a batch doc duplicating base text is
    dup_base, the second of a batch-internal pair is dup_batch, unique
    batch text is new — and base docs never appear in the output."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import dedup_incremental

    rows = [
        (1, "shared base body", "en", "s", 1),  # base
        (3, "other base text", "en", "s", 1),  # base
        (10, "shared base body", "en", "s", 1),  # batch: dup of base
        (20, "batch pair body", "en", "s", 1),  # batch: first of pair
        (30, "batch pair body", "en", "s", 1),  # batch: second of pair
        (40, "fresh batch text", "en", "s", 1),  # batch: unique
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: (r.status, r.kept) for r in dedup_incremental(spark, str(tmp_path)).collect()}
    assert out == {
        10: ("dup_base", False),
        20: ("new", True),
        30: ("dup_batch", False),
        40: ("new", True),
    }


def test_gopher_rules_planted(spark, tmp_path):
    """Each live rule flips the verdict on a doc crafted to fail only
    it: word-count band, required-word hits, all-bullet lines, mostly-
    ellipsis lines; a long plain doc containing a required word passes."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import quality_gopher_rules

    good = "the " + " ".join(f"word{i}" for i in range(30))
    short = "the tiny doc"
    no_req = " ".join(f"word{i}" for i in range(30))
    bullets = "\n".join("- the " + " ".join(f"b{i}w{j}" for j in range(10)) for i in range(3))
    dots = "\n".join("the " + " ".join(f"e{i}w{j}" for j in range(10)) + " ..." for i in range(3))
    # ratio EXACTLY at the 0.9 ceiling (9 of 10 non-blank lines
    # bulleted, with a blank line and leading-space bullets) must PASS:
    # the gate is <=, lines are trimmed before the bullet test, and
    # blank lines don't count in the denominator (fuzz plant twin)
    boundary = "\n".join(
        ["  - the quick brown fox jumps"] * 9 + ["", "the quick brown fox jumps"]
    )
    rows = [
        (1, good, "en", "s", 1),
        (2, short, "en", "s", 1),
        (3, no_req, "en", "s", 1),
        (4, bullets, "en", "s", 1),
        (5, dots, "en", "s", 1),
        (6, None, "en", "s", 0),
        (7, boundary, "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in quality_gopher_rules(spark, str(tmp_path)).collect()}
    assert out[1].passes_gopher and out[1].n_required_hits == 1
    assert not out[2].passes_gopher and out[2].n_words == 3
    assert not out[3].passes_gopher and out[3].n_required_hits == 0
    assert not out[4].passes_gopher and out[4].bullet_line_ratio == 1.0
    assert not out[5].passes_gopher and out[5].ellipsis_line_ratio == 1.0
    # NULL text = empty doc: total output, fails word band, never NULL
    assert out[6].n_words == 0 and out[6].passes_gopher is False
    assert out[7].passes_gopher and out[7].bullet_line_ratio == 0.9


def test_containment_df_cap_hybrid_matches_uncapped(spark):
    """`containment_frame(df_cap)` is ONE contract with the registered
    uncapped verify: common = count(df ≤ cap) + |high ∩ high|
    partitions each doc's gram set by df, so the pair set and every
    containment value must be identical at ANY cap — including cap=1
    (df=1 grams never co-occur, so everything rides the array term)
    and a cap above max df (the array term is empty)."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        containment_frame,
        dedup_containment,
    )

    base = {
        (r.doc_src, r.doc_dst, round(r.containment, 9))
        for r in dedup_containment(spark, SF_SMOKE).collect()
    }
    assert base  # the smoke corpus plants containment pairs
    for cap in (1, 4, 10**9):
        got = {
            (r.doc_src, r.doc_dst, round(r.containment, 9))
            for r in containment_frame(spark, SF_SMOKE, df_cap=cap).collect()
        }
        assert got == base, f"df_cap={cap} diverges"


def test_containment_df_cap_hybrid_randomized(spark, tmp_path):
    """The capped/uncapped equality holds on random corpora, not just
    the curated smoke plants: three seeded random doc sets (overlapping
    token windows force real shared grams and containment pairs),
    checked at a degenerate, a mid, and an above-max cap."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame

    for seed in (3, 5, 7):
        rng = np.random.default_rng(seed)
        vocab = [f"t{i}" for i in range(30)]
        texts = []
        for i in range(40):
            k = int(rng.integers(4, 20))
            texts.append(" ".join(vocab[int(j)] for j in rng.integers(0, 30, k)))
        # embed some docs inside longer ones so pairs exist
        for i in range(0, 36, 6):
            texts[i + 1] = texts[i] + " " + " ".join(
                vocab[int(j)] for j in rng.integers(0, 30, 2)
            )
        d = tmp_path / f"s{seed}"
        d.mkdir()
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(1, 41), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * 40),
                "source": pa.array(["x"] * 40),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            str(d / "documents.parquet"),
        )
        results = [
            {
                (r.doc_src, r.doc_dst, round(r.containment, 9))
                for r in containment_frame(spark, str(d), df_cap=cap).collect()
            }
            for cap in (None, 1, 5, 10**9)
        ]
        assert results[0], f"seed {seed}: no pairs — the plant failed"
        assert all(s == results[0] for s in results[1:]), f"seed {seed} diverges"


def test_containment_auto_cap_rule(spark):
    """`_auto_df_cap` branches on the measured Σdf²/Σdf crossover
    (SCALE.md round-10): a bounded-df table stays on the pure count
    join (None); a power-law head pushes the ratio past the boundary
    and selects the cap. 'auto' on the bounded smoke corpus must
    reproduce the registered output; a junk string raises."""
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
        containment_frame,
        dedup_containment,
    )

    bounded = spark.createDataFrame(
        [("en", i, 1 + i % 5) for i in range(100)], "lang string, h long, df long"
    )
    assert _auto_df_cap(bounded) is None
    powerlaw = spark.createDataFrame(
        [("en", 0, 100_000)] + [("en", i, 2) for i in range(1, 500)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(powerlaw) == _AUTO_DF_CAP
    empty = spark.createDataFrame([], "lang string, h long, df long")
    assert _auto_df_cap(empty) is None

    base = {
        (r.doc_src, r.doc_dst, round(r.containment, 9))
        for r in dedup_containment(spark, SF_SMOKE).collect()
    }
    auto = {
        (r.doc_src, r.doc_dst, round(r.containment, 9))
        for r in containment_frame(spark, SF_SMOKE, df_cap="auto").collect()
    }
    assert auto == base
    with _pytest.raises(ValueError, match="auto"):
        containment_frame(spark, SF_SMOKE, df_cap="huge")


def test_dedup_substring_flags_shared_span(spark, tmp_path):
    """Two docs sharing a long token window are both flagged (their
    grams are mostly shared); a distinct doc has zero dup grams; a
    short doc (< span order) yields n_grams = 0, NULL ratio, unflagged."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import dedup_substring

    span = " ".join(f"s{i}" for i in range(10))  # 10 tokens → 3 8-gram windows
    rows = [
        (1, span, "en", "s", 1),
        (2, span, "en", "s", 1),
        (3, " ".join(f"u{i}" for i in range(10)), "en", "s", 1),
        (4, "too short", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in dedup_substring(spark, str(tmp_path)).collect()}
    assert out[1].n_grams == 3 and out[1].n_dup_grams == 3 and out[1].flagged
    assert out[2].flagged and out[2].dup_gram_ratio == 1.0
    assert out[3].n_dup_grams == 0 and not out[3].flagged
    assert out[4].n_grams == 0 and out[4].dup_gram_ratio is None and not out[4].flagged


def test_dedup_semantic_drops_smaller_id_neighbor(spark, tmp_path):
    """An exact-duplicate vector pair lands in one cluster: the larger
    id is dropped, the smaller kept; an isolated vector survives; and
    undefined vectors (NULL/empty) are out of scope entirely."""
    import numpy as np

    from parquet_to_hyper_app_spark.operators.llm.features import dedup_semantic

    rng = np.random.default_rng(3)
    base = [[float(x) for x in rng.normal(0, 1, 8)] for _ in range(6)]
    rows = [(i, base[i], i) for i in range(6)]
    rows.append((6, base[2], 6))  # exact dup of vec 2 → dropped
    rows.append((7, None, 7))  # undefined: excluded
    rows.append((8, [], 8))  # undefined: excluded
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r.vec_id: r for r in dedup_semantic(spark, str(tmp_path)).collect()}
    assert set(out) == set(range(7))
    assert out[2].kept and not out[6].kept
    assert out[6].cluster_id == out[2].cluster_id
    assert all(out[i].kept for i in (0, 1, 3, 4, 5))


def test_semdedup_scale_k_path_matches_literal_path(spark):
    """`semdedup_frame`'s two assignment paths are ONE contract: at the
    same k, the pandas-UDF scale path (matmul prefilter + exact-fold
    knife) must reproduce the literal-centroid JVM expression's output
    bit-for-bit on the real smoke corpus — cluster ids and kept flags
    both."""
    from parquet_to_hyper_app_spark.operators.llm.features import _KM_K, semdedup_frame

    lit = {r.vec_id: r for r in semdedup_frame(spark, SF_SMOKE).collect()}
    udf = {r.vec_id: r for r in semdedup_frame(spark, SF_SMOKE, k=_KM_K).collect()}
    assert set(lit) == set(udf) and len(lit) > 0
    for vid, row in lit.items():
        assert (row.cluster_id, row.kept) == (udf[vid].cluster_id, udf[vid].kept), vid


def test_semdedup_scale_k_bounds_cluster_size(spark):
    """The production path's point: growing k shrinks clusters. At
    k=64 on the smoke corpus every vector still appears exactly once,
    cluster ids stay inside [0, 64), and the max cluster population is
    strictly below the fixed-k=16 max."""
    from parquet_to_hyper_app_spark.operators.llm.features import semdedup_frame

    fixed = semdedup_frame(spark, SF_SMOKE).groupBy("cluster_id").count().collect()
    wide_df = semdedup_frame(spark, SF_SMOKE, k=64)
    wide = wide_df.groupBy("cluster_id").count().collect()
    assert sum(r["count"] for r in wide) == sum(r["count"] for r in fixed)
    assert all(0 <= r.cluster_id < 64 for r in wide)
    assert max(r["count"] for r in wide) < max(r["count"] for r in fixed)


def test_semdedup_auto_k(spark, tmp_path):
    """k='auto' applies the measured k ∝ n rule: on the 500-vector
    smoke corpus ceil(500/32) = 16 ≤ _KM_K, so auto takes the literal
    path and must equal the registered output; on a 2000-vector corpus
    it widens to ceil(2000/32) = 63 and must be bit-identical to an
    explicit k=63. Junk strings raise."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.features import semdedup_frame

    lit = {r.vec_id: (r.cluster_id, r.kept)
           for r in semdedup_frame(spark, SF_SMOKE).collect()}
    auto = {r.vec_id: (r.cluster_id, r.kept)
            for r in semdedup_frame(spark, SF_SMOKE, k="auto").collect()}
    assert auto == lit and len(lit) > 0

    rng = np.random.default_rng(41)
    m = rng.normal(size=(2000, 8)).astype("float32")
    d = tmp_path / "wide"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(2000), pa.int64()),
            "embedding": pa.array([row.tolist() for row in m],
                                  pa.list_(pa.float32())),
        }),
        str(d / "embeddings.parquet"),
    )
    wide_auto = {r.vec_id: (r.cluster_id, r.kept)
                 for r in semdedup_frame(spark, str(d), k="auto").collect()}
    wide_explicit = {r.vec_id: (r.cluster_id, r.kept)
                     for r in semdedup_frame(spark, str(d), k=63).collect()}
    assert wide_auto == wide_explicit and len(wide_auto) == 2000
    assert all(0 <= c < 63 for c, _ in wide_auto.values())

    with _pytest.raises(ValueError, match="auto"):
        semdedup_frame(spark, SF_SMOKE, k="big")


def test_semdedup_frame_rejects_nonpositive_k(spark):
    """k=0 must not silently train the default width while taking the
    explicit-k UDF path (ADVICE r9): non-positive k raises."""
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.features import semdedup_frame

    with _pytest.raises(ValueError, match="positive"):
        semdedup_frame(spark, SF_SMOKE, k=0)
    with _pytest.raises(ValueError, match="positive"):
        semdedup_frame(spark, SF_SMOKE, k=-3)


def test_semdedup_frame_rejects_bool_and_float_k(spark):
    """r12 (ADVICE r11), mirroring containment_frame's df_cap
    validation: bool is an int subclass, so k=True passed the bare
    positivity check and silently trained k=1 on the sample path;
    a float like 2.5 crashed later inside lloyd_train's sample[:k]
    slice with an opaque TypeError. Both now raise up front."""
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.features import semdedup_frame

    for bad in (True, False, 2.5, 16.0):
        with _pytest.raises(ValueError, match="int, None, or 'auto'"):
            semdedup_frame(spark, SF_SMOKE, k=bad)


def test_semdedup_trainer_switch_invisible_to_drop_rule(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 4: the r11 distributed-trainer boundary
    (k > _KM_SAMPLE routes MLlib k-means|| instead of the ordered-
    sample Lloyd's) must be INVISIBLE to the drop-rule semantics. On a
    corpus where any correct quantizer finds the same clustering — 24
    well-separated blobs of 32 IDENTICAL vectors each, interleaved
    across vec_id so the sample trainer's smallest-id init covers
    every blob — the clamp path and the distributed path must agree on
    the kept set and on the cluster PARTITION (ids may permute), and
    k="auto" (resolving k = n/32 = 24, just past a patched boundary)
    must ride the switch with the same result. Both paths are legal
    here (k = 24 ≤ the real _KM_SAMPLE and ≤ n), which is what makes
    the self-equivalence an honest check — the trainer itself is
    deliberately outside the DuckDB oracle (k-means|| init is not
    replayable), so equivalence on an unambiguous corpus is the
    strongest cross-path statement available."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import parquet_to_hyper_app_spark.operators.llm.features as feats

    B = 24  # > _KM_K so auto resolves an explicit k, not the literal path
    base = np.eye(B, dtype="float32") * 100.0
    n = B * 32
    d = tmp_path / "blobs"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [base[i % B].tolist() for i in range(n)], pa.list_(pa.float32())
            ),
        }),
        str(d / "embeddings.parquet"),
    )

    def run(frame):
        rows = {r.vec_id: (r.cluster_id, r.kept) for r in frame.collect()}
        from collections import defaultdict

        p = defaultdict(set)
        for vid, (cid, _k) in rows.items():
            p[cid].add(vid)
        kept = {vid for vid, (_c, k) in rows.items() if k}
        return kept, sorted(map(frozenset, p.values()), key=min)

    kept_a, parts_a = run(feats.semdedup_frame(spark, str(d), k=B))
    monkeypatch.setattr(feats, "_KM_SAMPLE", B - 1)  # force the distributed route
    kept_b, parts_b = run(feats.semdedup_frame(spark, str(d), k=B))
    kept_c, parts_c = run(feats.semdedup_frame(spark, str(d), k="auto"))
    # blob semantics: identical members ⇒ cos = 1 ≥ t, so exactly the
    # smallest vec_id of each blob survives — vec_ids 0..B-1
    assert kept_a == set(range(B))
    assert len(parts_a) == B
    assert (kept_b, parts_b) == (kept_a, parts_a), "clamp vs distributed diverge"
    assert (kept_c, parts_c) == (kept_a, parts_a), "auto across the boundary diverges"


def test_semdedup_hier_assignment_matches_flat(spark, tmp_path):
    """r12 (VERDICT r11 item 7): the hierarchical (coarse → refine)
    assignment must be BIT-IDENTICAL to the flat matmul wherever
    routing is exact — here 64 well-separated blobs (k=64 fine
    centroids, ⌈√64⌉=8 coarse cells, nprobe=2 < 8 so the probe
    genuinely prunes), compared at the numpy level (cluster ids, not
    just partitions) and end-to-end through semdedup_frame including
    the drop rule. Also pins the parameter validation and that the
    flag is a no-op on the literal path (k=None)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    import parquet_to_hyper_app_spark.operators.llm.features as feats

    rng = np.random.default_rng(7)
    k, dim = 64, 16
    cents = (rng.normal(size=(k, dim)) * 0.01
             + np.arange(k)[:, None] * 10.0).tolist()
    mats = (np.array([cents[i % k] for i in range(1000)])
            + rng.normal(size=(1000, dim)) * 1e-3)
    flat = feats._assign_ids_np(mats, cents)
    coarse, members, npr = feats._coarse_route(cents, 2)
    assert len(coarse) == 8 and npr == 2
    hier = feats._assign_ids_hier(mats, cents, coarse, members, npr)
    assert (flat == hier).all(), "hier diverges from flat on exact-routable geometry"

    B = 64
    base = np.eye(B, dtype="float32") * 100.0
    n = B * 32
    d = tmp_path / "blobs64"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [base[i % B].tolist() for i in range(n)], pa.list_(pa.float32())
            ),
        }),
        str(d / "embeddings.parquet"),
    )
    a = sorted((r.vec_id, r.cluster_id, r.kept)
               for r in feats.semdedup_frame(spark, str(d), k=B).collect())
    h = sorted((r.vec_id, r.cluster_id, r.kept)
               for r in feats.semdedup_frame(
                   spark, str(d), k=B, assign="hier", nprobe=2).collect())
    assert a == h, "end-to-end hier result differs from flat"

    with _pytest.raises(ValueError, match="flat.*hier|hier.*flat"):
        feats.semdedup_frame(spark, str(d), k=B, assign="ivf")
    for bad in (0, -1, True, 2.5):
        with _pytest.raises(ValueError, match="nprobe"):
            feats.semdedup_frame(spark, str(d), k=B, assign="hier", nprobe=bad)
    # the default is resolved from _HIER_NPROBE at CALL time (ADVICE
    # r13, mirroring corpus._AUTO_CAP_MIN_S2): patch the module
    # constant to an invalid value and the None default must SEE it —
    # the raise proves resolution happens inside the call, and cheaply
    # (validation fires before any Spark work)
    orig = feats._HIER_NPROBE
    feats._HIER_NPROBE = 0
    try:
        with _pytest.raises(ValueError, match="nprobe"):
            feats.semdedup_frame(spark, str(d), k=B, assign="hier")
    finally:
        feats._HIER_NPROBE = orig
    # literal path (k=None): assign is a documented no-op, not an error
    lit = sorted((r.vec_id, r.cluster_id, r.kept)
                 for r in feats.semdedup_frame(spark, str(d), assign="hier").collect())
    lit_flat = sorted((r.vec_id, r.cluster_id, r.kept)
                      for r in feats.semdedup_frame(spark, str(d)).collect())
    assert lit == lit_flat


def test_assign_ids_hier_artifact_and_knife_contract():
    """The hier path inherits the flat path's edge contract: a vector
    with non-finite components routes through the full exact fold over
    ALL centroids (never a repaired artifact row), an exact tie between
    two fine centroids in DIFFERENT coarse cells picks the smaller
    centroid id (the knife re-rank over the probed candidates), and an
    empty probed cell cannot strand a row."""
    import numpy as np

    import parquet_to_hyper_app_spark.operators.llm.features as feats

    # two exactly-tied centroids far apart in centroid-id space, placed
    # so they land in different coarse cells; the query sits midway
    cents = [[0.0, 0.0], [100.0, 0.0], [0.1, 0.0], [99.9, 0.0]]
    coarse, members, npr = feats._coarse_route(cents, 2)
    q = np.array([[50.0, 0.0],          # ties between cells → smallest id wins
                  [np.nan, 1.0],        # artifact row → exact fold
                  [np.inf, 0.0]])       # overflow row → exact fold
    got = feats._assign_ids_hier(q, cents, coarse, members, npr)
    want = feats._assign_ids_np(q, cents)
    assert (got == want).all(), (got, want)
    exact = [feats._exact_assign_row(q[i], cents) for i in range(len(q))]
    assert list(got) == exact

    # r12 self-review pin: ONE artifact coarse distance (here an inf
    # fine centroid poisoning its cell's norm) must exact-fold every
    # affected row — the ANY-non-finite condition, not ALL — exactly
    # as flat exact-folds a row on any artifact fine distance
    cents_bad = [[0.0, 0.0], [100.0, 0.0], [np.inf, 0.0]]
    coarse_b, members_b, npr_b = feats._coarse_route(cents_bad, 2)
    qb = np.array([[1.0, 0.0], [99.0, 0.0]])
    got_b = feats._assign_ids_hier(qb, cents_bad, coarse_b, members_b, npr_b)
    want_b = feats._assign_ids_np(qb, cents_bad)
    exact_b = [feats._exact_assign_row(qb[i], cents_bad) for i in range(len(qb))]
    assert list(got_b) == list(want_b) == exact_b == [0, 1]
    # r12 review: the non-finite fine centroid must not NaN-poison a
    # coarse MEAN (the trainer's finite mask) — the routing structure
    # itself stays finite, so only rows probing the bad centroid's
    # cell pay the exact fold, never the whole corpus
    assert np.isfinite(coarse_b).all(), coarse_b


def test_np_lloyd_chunking_invariant(monkeypatch):
    """r12 review: the coarse trainer's distance blocks are chunked so
    no intermediate exceeds _NP_CHUNK×⌈√k⌉ (the unchunked k×√k block
    grows as k^1.5 — driver OOM in exactly the >10⁶-vector regime hier
    targets). Chunking must be invisible: the full routing structure
    and end-assignment are identical at chunk=3 and the default."""
    import numpy as np

    import parquet_to_hyper_app_spark.operators.llm.features as feats

    rng = np.random.default_rng(11)
    cents = (rng.normal(size=(50, 8)) * 0.1 + np.arange(50)[:, None]).tolist()
    mats = np.array([cents[i % 50] for i in range(200)]) + rng.normal(size=(200, 8)) * 1e-3
    coarse_a, members_a, npr_a = feats._coarse_route(cents, 3)
    ids_a = feats._assign_ids_hier(mats, cents, coarse_a, members_a, npr_a)
    monkeypatch.setattr(feats, "_NP_CHUNK", 3)
    coarse_b, members_b, npr_b = feats._coarse_route(cents, 3)
    ids_b = feats._assign_ids_hier(mats, cents, coarse_b, members_b, npr_b)
    assert (coarse_a == coarse_b).all()
    assert all((a == b).all() for a, b in zip(members_a, members_b))
    assert (ids_a == ids_b).all()


def test_assign_ids_hier_cross_cell_tie_is_a_routing_miss():
    """r12 review pin of the DOCUMENTED approximation boundary: an
    exact fine-centroid tie whose smallest-id member sits in an
    UNPROBED cell is a routing miss by contract (the probed-set knife
    cannot see it), not a tie-handling defect. cents 0 (at origin,
    sharing a cell whose mean is pulled to (-20,0)) and 1 (at (100,0),
    its own cell) are exactly equidistant from the query at (50,0):
    flat's global knife picks the smaller id 0; hier at nprobe=1
    probes only centroid 1's (nearer) cell and picks 1; nprobe=2
    restores the full probe and the flat answer — the recall knob
    behaving exactly as documented."""
    import numpy as np

    import parquet_to_hyper_app_spark.operators.llm.features as feats

    cents = [[0.0, 0.0], [100.0, 0.0], [-40.0, 0.0]]
    coarse, members, _ = feats._coarse_route(cents, 1)
    assert sorted(map(tuple, coarse.tolist())) == [(-20.0, 0.0), (100.0, 0.0)]
    q = np.array([[50.0, 0.0]])
    flat = feats._assign_ids_np(q, cents)
    assert list(flat) == [0]  # global tie → smallest id
    hier1 = feats._assign_ids_hier(q, cents, coarse, members, 1)
    assert list(hier1) == [1]  # the documented IVF miss at nprobe=1
    hier2 = feats._assign_ids_hier(q, cents, coarse, members, 2)
    assert list(hier2) == [0]  # full probe restores the flat answer


def test_semdedup_hier_matches_flat_on_fuzz_plant(spark, tmp_path):
    """r13 (VERDICT r12 item 6): the generator-level separated-blob
    plant (tools/fuzz_data.py embeddings rows [100:150), 10 blobs ×
    5 rows at 50·e_j, both profiles) exercises the hierarchical
    assignment end-to-end on the SAME hostile shapes the fuzz sweep
    throws at every other key. Two regimes:

    (a) the FULL fuzz table, both profiles, explicit k=30 at the
        default nprobe: ⌈√30⌉ = 6 coarse cells ≤ _HIER_NPROBE, so
        routing is COMPLETE and hier must be bit-identical to flat on
        ANY geometry — including the dirty profile's NULL / empty /
        ragged / Inf / NaN panel, which both paths must exclude
        identically through the shared uniform-vector gate;
    (b) the blob block plus the EXCLUDED hostile panel under a
        genuinely pruning probe (k=10 → 4 coarse cells, nprobe=2 < 4):
        separated geometry is exactly the hier exactness contract, and
        the hostile rows ride through the exclusion gates with pruning
        live. The valid near-origin dyadic row (vec_id 10) is left
        OUT of (b) by design: equidistant from every blob, its pruned
        routing is geometry-ambiguous — the documented IVF miss, not
        an equality bug — while (a)'s full probe covers it exactly."""
    import numpy as np
    import pyarrow.parquet as pq

    import parquet_to_hyper_app_spark.operators.llm.features as feats
    from tools.fuzz_data import embeddings_table

    def run(d, **kw):
        return sorted(
            (r.vec_id, r.cluster_id, r.kept)
            for r in feats.semdedup_frame(spark, str(d), **kw).collect()
        )

    for profile in ("degenerate", "dirty"):
        tbl = embeddings_table(
            np.random.default_rng(31), 150, 64, profile == "dirty"
        )
        full = tmp_path / f"full_{profile}"
        full.mkdir()
        pq.write_table(tbl, str(full / "embeddings.parquet"))
        flat = run(full, k=30)
        hier = run(full, k=30, assign="hier")
        assert flat == hier, f"full-probe hier != flat on {profile} fuzz table"
        blob_rows = [r for r in flat if r[0] > 100]
        assert len(blob_rows) == 50, "blob plant rows missing from the result"
        # the drop rule keeps one row per (cluster, blob) fragment
        # (intra-blob cos ≈ 1 is well past the threshold): every blob
        # survives somewhere and most of every blob drops — the same
        # split-tolerant pin as the pruned block below, because k=30
        # Lloyd over 10 tight blobs + 100 gaussian rows may split a
        # blob across clusters without breaking any contract
        kept = [(v - 101) // 5 for v, _c, k_ in blob_rows if k_]
        assert set(kept) == set(range(10)) and len(kept) < 25, kept

    dirty_tbl = embeddings_table(np.random.default_rng(31), 150, 64, True)
    hostile = [7, 8, 10, 11, 12, 13, 14]  # vec_ids 8, 9, 11..15
    pruned = tmp_path / "blobs_hostile"
    pruned.mkdir()
    pq.write_table(
        dirty_tbl.take(hostile + list(range(100, 150))),
        str(pruned / "embeddings.parquet"),
    )
    flat = run(pruned, k=10)
    hier = run(pruned, k=10, assign="hier", nprobe=2)
    # nprobe=2 of ⌈√10⌉=4 coarse cells relies on the seeded Lloyd
    # landing each vector's true cell within its 2 nearest — stable on
    # this box, but a different numpy/BLAS could perturb the centroids
    # (ADVICE r13). If this equality ever flakes on a new environment,
    # raise nprobe to 3 (cell count − 1) or seed-scan for a stable
    # seed; do NOT loosen the equality itself.
    assert flat == hier, "pruned hier != flat on the separated blob plant"
    assert len(flat) == 50 and all(v > 100 for v, _c, _k in flat), (
        "hostile panel must be excluded, blobs retained"
    )
    # the drop rule keeps exactly one row per (cluster, blob) fragment
    # (intra-blob cos ≈ 1, cross-blob cos ≈ 0). The vec_id-ordered
    # Lloyd init may split a blob across clusters (each fragment keeps
    # one), so pin the geometry's guarantees, not an exact count:
    # every blob survives somewhere and most of every blob drops
    kept = [(v - 101) // 5 for v, _c, k_ in flat if k_]
    assert set(kept) == set(range(10)) and len(kept) < 25, kept


def test_assign_ids_np_exact_contract():
    """_assign_ids_np edge semantics match _exact_assign_row: exact
    ties pick the smaller centroid id (knife re-rank), NaN distances
    rank greatest (a NaN vector goes to... nowhere finite — DuckDB's
    row_number picks cid 0), and a vector nearer c1 picks 1."""
    import numpy as np

    from parquet_to_hyper_app_spark.operators.llm.features import (
        _assign_ids_np,
        _exact_assign_row,
    )

    cents = [[0.0, 0.0], [2.0, 0.0], [4.0, 0.0]]
    mats = np.array(
        [
            [1.0, 0.0],  # exact tie c0/c1 → smaller id 0
            [3.0, 0.0],  # exact tie c1/c2 → 1
            [2.1, 0.0],  # nearest c1
            [np.nan, 0.0],  # all-NaN distances → cid 0 like DuckDB
            [1e8, 1e8],  # large magnitude: knife margin must scale
            # |x|² saturates to +inf with finite dots: every d2 entry is
            # +inf with NO NaN — the ±inf artifact route (ADVICE r9)
            # must still hand the row to the exact fold
            [1e200, 0.0],
        ]
    )
    got = _assign_ids_np(mats, cents).tolist()
    want = [_exact_assign_row(mats[i], cents) for i in range(len(mats))]
    assert got == want == [0, 1, 1, 0, 2, 0]


def test_winnowing_guarantee_and_edges(spark, tmp_path):
    """The winnowing guarantee: two docs sharing a >= k+w-1 = 8-token
    run share at least one fingerprint; a sub-window doc emits exactly
    one (min-of-all-grams); a doc below the gram order emits nothing."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import text_winnowing

    shared = " ".join(f"s{i}" for i in range(8))
    rows = [
        (1, "left prefix " + shared, "en", "s", 1),
        (2, shared + " right suffix tail", "en", "s", 1),
        (3, " ".join(f"u{i}" for i in range(6)), "en", "s", 1),  # 2 grams < w
        (4, "below gram order", "en", "s", 1),  # 3 tokens < k
        (5, None, "en", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = text_winnowing(spark, str(tmp_path)).collect()
    fps: dict[int, set] = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared 8-token run must share a fingerprint"
    assert len(fps[3]) == 1
    assert 4 not in fps and 5 not in fps


def test_perplexity_bucket_terciles(spark, tmp_path):
    """Six scored docs in one language split exactly 2/2/2 into
    head/middle/tail ordered by bits_per_token; a no-token doc is out
    of scope (no LM score)."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import text_perplexity_bucket

    # 'common' appears often (low surprisal); rare words push bpt up
    rows = [
        (1, "common common common common", "en", "s", 1),
        (2, "common common common rare1", "en", "s", 1),
        (3, "common common rare2 rare3", "en", "s", 1),
        (4, "common rare4 rare5 rare6", "en", "s", 1),
        (5, "rare7 rare8 rare9 rareA", "en", "s", 1),
        (6, "rareB rareC rareD rareE", "en", "s", 1),
        (7, "   ", "en", "s", 1),  # no tokens → unscored
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in text_perplexity_bucket(spark, str(tmp_path)).collect()}
    assert 7 not in out and len(out) == 6
    labels = [out[i].ppl_bucket for i in (1, 2, 3, 4, 5, 6)]
    assert labels == ["head", "head", "middle", "middle", "tail", "tail"], labels
    assert out[1].bits_per_token < out[6].bits_per_token


def test_mixture_plan_rates_and_epochs(spark, tmp_path):
    """Weights drive targets: an over-weighted tiny source must up-
    sample (epochs > 1, rate capped at 1.0); a weight-0 (NULL) source
    reports zero rate/epochs but still appears; budget conservation
    holds (sum of targets ~ budget fraction of total tokens)."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _MIX_BUDGET_FRAC,
        corpus_mixture_plan,
    )

    rows = (
        # src1 → weight 2, tiny (10 tokens); src0 → weight 1, big
        [(i, " ".join(f"w{i}x{j}" for j in range(20)), "en", "src0", 1) for i in range(20)]
        + [(100, " ".join(f"t{j}" for j in range(10)), "en", "src1", 1)]
        + [(101, "orphan text here", "en", None, 1)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in corpus_mixture_plan(spark, str(tmp_path)).collect()}
    assert set(out) == {"src0", "src1", None}
    assert out[None].weight == 0 and out[None].sample_rate == 0.0 and out[None].epochs == 0
    # total = 413 tokens, budget ~206.5; weights 1:2 → src1 target ~137
    # over 10 available tokens → heavy up-sampling
    assert out["src1"].epochs > 1 and out["src1"].sample_rate == 1.0
    assert 0.0 < out["src0"].sample_rate < 1.0
    total_tokens = sum(r.n_tokens for r in out.values())
    total_target = sum(r.target_tokens for r in out.values())
    assert abs(total_target - _MIX_BUDGET_FRAC * total_tokens) <= 2


def test_semdedup_distributed_trainer_past_sample_clamp(spark, monkeypatch):
    """ADVICE r10 (medium): past the ordered sample's trainable width
    the old path clamped k to _KM_SAMPLE and silently broke the
    n/k ≈ 32 promise. With the sample width pinned tiny, an explicit
    k ABOVE it must now train distributed (MLlib) and actually deliver
    more clusters than the clamp ever could — and the kept flags must
    still satisfy the SemDeDup drop rule against the frame's OWN
    assignment (the exact verify is shared machinery either way)."""
    import numpy as np

    import parquet_to_hyper_app_spark.operators.llm.features as feats
    from parquet_to_hyper_app_spark.operators.llm.dedup import COSINE_T
    from parquet_to_hyper_app_spark.operators.llm.similarity import uniform_vectors_for

    monkeypatch.setattr(feats, "_KM_SAMPLE", 8)
    out = {r.vec_id: r for r in feats.semdedup_frame(spark, SF_SMOKE, k=16).collect()}
    n_valid = uniform_vectors_for(spark, SF_SMOKE).count()
    assert len(out) == n_valid
    clusters = {r.cluster_id for r in out.values()}
    assert len(clusters) > 8, "k saturated at the old sample clamp"
    assert all(0 <= c < 16 for c in clusters)
    # self-consistency: dropped iff a smaller-id same-cluster vector
    # sits at cos >= T (recomputed here in plain numpy)
    vecs = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in uniform_vectors_for(spark, SF_SMOKE).collect()
    }
    for vid, row in out.items():
        peers = [u for u, r2 in out.items()
                 if r2.cluster_id == row.cluster_id and u < vid]
        a = vecs[vid]
        has_near = any(
            float(a @ vecs[u]) / (np.linalg.norm(a) * np.linalg.norm(vecs[u])) >= COSINE_T
            for u in peers
        )
        assert row.kept == (not has_near), vid


def test_semdedup_auto_past_clamp_keeps_widening(spark, monkeypatch):
    """auto's k ∝ n rule must keep widening past the sample clamp
    (the r10 saturation): with the sample pinned to 8 and the target
    cluster size to 16, a 500-vector corpus resolves k = 32 > 8 and
    the distributed trainer delivers it instead of clamping."""
    import parquet_to_hyper_app_spark.operators.llm.features as feats

    monkeypatch.setattr(feats, "_KM_SAMPLE", 8)
    monkeypatch.setattr(feats, "_SEMDEDUP_TARGET_CLUSTER", 16)
    out = feats.semdedup_frame(spark, SF_SMOKE, k="auto")
    clusters = {r.cluster_id for r in out.select("cluster_id").distinct().collect()}
    assert len(clusters) > 8, "auto saturated at the sample clamp"
    assert all(0 <= c < 32 for c in clusters)


def test_distributed_train_contract(spark, tmp_path):
    """_distributed_train: returns exactly k finite centroids; clamps
    k to the vector count. Non-finite vectors are excluded UPSTREAM by
    the uniform-vector contract (`uniform_vectors` filters them before
    `v` exists — the trainer itself carries no second filter), so the
    NaN/inf plants below never reach MLlib and an all-non-finite
    corpus yields an empty frame → []."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.features import (
        _distributed_train,
        _double_vectors,
    )

    rng = np.random.default_rng(11)
    m = rng.normal(size=(40, 4)).astype("float32")
    rows = [r.tolist() for r in m]
    rows[0][2] = float("nan")      # excluded by the uniform contract
    rows[1][0] = float("inf")      # excluded by the uniform contract
    d = tmp_path / "emb"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(rows, pa.list_(pa.float32())),
        }),
        str(d / "embeddings.parquet"),
    )
    _emb, v = _double_vectors(spark, str(d))
    cents = _distributed_train(v, 6)
    assert len(cents) == 6
    assert all(math.isfinite(x) for c in cents for x in c)
    # clamp: only 38 uniform (finite) vectors exist
    assert len(_distributed_train(v, 1000)) == 38
    # all-non-finite corpus: uniform set empty -> [] -> typed empty result
    allnan = tmp_path / "nan"
    allnan.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array([[float("nan")] * 4] * 2, pa.list_(pa.float32())),
        }),
        str(allnan / "embeddings.parquet"),
    )
    _e2, v2 = _double_vectors(spark, str(allnan))
    assert _distributed_train(v2, 2) == []


def test_containment_df_cap_validation(spark):
    """ADVICE r10: df_cap < 1 silently routed EVERY gram to the
    per-doc high arrays (the r8 byte wall) while returning correct
    rows; bools are int subclasses and would run as cap 0/1. Both now
    raise before any job is launched."""
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame

    for bad in (0, -1):
        with _pytest.raises(ValueError, match=">= 1"):
            containment_frame(spark, SF_SMOKE, df_cap=bad)
    for bad in (True, False, 2.5):
        with _pytest.raises(ValueError, match="int, None, or 'auto'"):
            containment_frame(spark, SF_SMOKE, df_cap=bad)


def test_auto_df_cap_per_lang(spark, monkeypatch):
    """ADVICE r10: df and the verify stream are keyed (lang, gram), so
    the OOM driver is the WORST per-lang Σdf²/Σdf. A power-law
    language diluted by a bigger bounded-df one keeps the GLOBAL ratio
    under the threshold — the per-lang rule must still pick the cap.
    The magnitude floor is patched out: this test pins the per-lang
    MAX logic with unit-test-sized df values; the floor's own
    semantics are pinned at the real constant by
    test_auto_df_cap_magnitude_floor."""
    import parquet_to_hyper_app_spark.operators.llm.corpus as corpus
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
    )

    monkeypatch.setattr(corpus, "_AUTO_CAP_MIN_S2", 0.0)

    # lang pw: one gram at df=1000 → its own Σdf²/Σdf = 1000 (>> 128);
    # lang en: 40k grams at df=2 → Σdf² = 160k, Σdf = 80k. Global
    # ratio = (1e6 + 1.6e5)/(1e3 + 8e4) ≈ 14 < 128 — the r10 global
    # rule would pick the uncapped verify in exactly the regime the
    # cap exists for.
    rows = [("pw", 0, 1000)] + [("en", i, 2) for i in range(1, 40_001)]
    mixed = spark.createDataFrame(rows, "lang string, h long, df long")
    assert _auto_df_cap(mixed) == _AUTO_DF_CAP, (
        "global dilution masked the power-law language"
    )
    # all-bounded multi-lang corpus still picks the pure count join
    bounded = spark.createDataFrame(
        [("en", i, 1 + i % 5) for i in range(100)]
        + [("fr", i, 1 + i % 3) for i in range(100)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(bounded) is None


def test_containment_unpersists_on_failure(spark, monkeypatch):
    """ADVICE r10: a failure between the persists and the eager
    checkpoint (here: the auto decision agg) must not pin the grams /
    df_tab caches for the session lifetime — the try/finally releases
    them on the error path too."""
    import pytest as _pytest

    import parquet_to_hyper_app_spark.operators.llm.corpus as corpus

    spark.catalog.clearCache()

    def _boom(df_tab, min_s2=None):
        raise RuntimeError("decision agg failed")

    monkeypatch.setattr(corpus, "_auto_df_cap", _boom)
    with _pytest.raises(RuntimeError, match="decision agg failed"):
        corpus.containment_frame(spark, SF_SMOKE, df_cap="auto")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "failure path leaked persisted frames"
    )


def test_auto_df_cap_knife_edge(spark, monkeypatch):
    """The auto rule's boundary is STRICT (> _AUTO_CAP_RATIO): a lang
    sitting exactly ON the threshold stays uncapped; epsilon above it
    caps. Pinned with the r11 fuzz-plant construction: 130 docs sharing
    one bigram (df=130) plus m df=1 grams gives Σdf²/Σdf =
    (130²+m)/(130+m) — 128.04 at m=2, 127.09 at m=3. The magnitude
    floor is patched out — at the real constant these tiny streams are
    (correctly) below it and the knife would never be consulted; the
    exact (130, m) construction is what makes the ratio boundary
    precise, so it cannot be rescaled past the floor."""
    import parquet_to_hyper_app_spark.operators.llm.corpus as corpus
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
    )

    monkeypatch.setattr(corpus, "_AUTO_CAP_MIN_S2", 0.0)

    exactly = spark.createDataFrame(
        [("en", 0, 128)], "lang string, h long, df long"
    )
    assert _auto_df_cap(exactly) is None  # ratio == 128.0, strict >
    just_above = spark.createDataFrame(
        [("kh", 0, 130), ("kh", 1, 1), ("kh", 2, 1)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(just_above) == _AUTO_DF_CAP  # 128.04
    just_below = spark.createDataFrame(
        [("kl", 0, 130), ("kl", 1, 1), ("kl", 2, 1), ("kl", 3, 1)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(just_below) is None  # 127.09


def test_containment_all_high_df_doc_rides_array_term(spark, tmp_path, monkeypatch):
    """A doc whose EVERY gram has df > cap: the hybrid's cooc_low left
    join contributes nothing and the array-only term must carry the
    entire containment value (VERDICT r10 item 7). The r11 fuzz-plant
    corpus — a 130-doc single-bigram clique (df=130 > cap=64) per
    knife-edge lang — is exactly that regime; all three verify forms
    must agree pair-for-pair. The magnitude floor is patched out so
    auto still lands on the capped side here (per-lang max ratio
    128.04 > 128) and keeps exercising the array term END TO END
    through the auto branch; at the real floor this ~17k-row stream
    correctly resolves uncapped (r12)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import parquet_to_hyper_app_spark.operators.llm.corpus as corpus
    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame

    monkeypatch.setattr(corpus, "_AUTO_CAP_MIN_S2", 0.0)
    texts, langs = [], []
    for lang_code, m in (("kh", 2), ("kl", 3)):
        texts += ["ka kb"] * 130 + [f"{lang_code}u{i} {lang_code}v{i}" for i in range(m)]
        langs += [lang_code] * (130 + m)
    d = tmp_path / "knife"
    d.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(["src0"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    results = {}
    for cap in (None, 64, "auto"):
        results[cap] = {
            (r.doc_src, r.doc_dst, round(r.containment, 9))
            for r in containment_frame(spark, str(d), df_cap=cap).collect()
        }
    # two 130-cliques of containment-1.0 pairs: 130·129 ordered each
    assert len(results[None]) == 2 * 130 * 129
    assert results[64] == results[None]
    assert results["auto"] == results[None]
    assert all(c == 1.0 for _s, _d2, c in results[64] if _s <= 130)


def test_auto_df_cap_null_lang_and_overflow(spark):
    """Two r11-review hardenings: (1) NULL-lang df rows are excluded
    from the per-lang max — downstream (lang, h) equi-joins drop them,
    so an untagged power-law slice must not force the hybrid; (2) Σdf²
    sums in DOUBLE — a ~3.1e9-df head gram's square exceeds int64 and
    non-ANSI long arithmetic would wrap NEGATIVE, silently flipping the
    decision to the uncapped verify in the OOM regime."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
    )

    null_lang_powerlaw = spark.createDataFrame(
        [(None, 0, 100_000)] + [("en", i, 2) for i in range(1, 100)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(null_lang_powerlaw) is None
    all_null = spark.createDataFrame(
        [(None, 0, 100_000)], "lang string, h long, df long"
    )
    assert _auto_df_cap(all_null) is None
    overflow = spark.createDataFrame(
        [("en", 0, 3_100_000_000)], "lang string, h long, df long"
    )
    assert _auto_df_cap(overflow) == _AUTO_DF_CAP  # df^2 = 9.61e18 > 2^63


def test_auto_df_cap_magnitude_floor(spark):
    """r12 (ADVICE r11 + review): the ratio measures INTENSITY, not
    magnitude — a tiny language with one shared gram posts an
    arbitrarily high Σdf²/Σdf while its whole pre-combine stream fits
    in one shuffle block, and must not flip the corpus onto the slower
    hybrid. The magnitude gate is AGGREGATE: the cap is selected iff
    the SUMMED Σdf² of the ratio-qualifying languages clears
    _AUTO_CAP_MIN_S2 (1e8 rows ≈ 2.4 GB of 24-byte count rows), because
    the shuffle pays the sum over languages — one tiny hot language
    stays uncapped, but many medium hot languages each under the floor
    still combine into the stream the cap exists to bound (the review
    scenario a per-lang-only floor would silently wave through). All
    at the REAL constants."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
    )

    # the r11 knife-edge fuzz-plant shape: ratio 128.04 > 128 but the
    # whole stream is Σdf² = 16 902 rows — four orders under the floor
    tiny_hot = spark.createDataFrame(
        [("kh", 0, 130), ("kh", 1, 1), ("kh", 2, 1)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(tiny_hot) is None
    # the ADVICE r11 scenario verbatim: the tiny hot language riding a
    # large bounded-df corpus must not force the hybrid on everyone
    diluted = spark.createDataFrame(
        [("kh", 0, 130), ("kh", 1, 1), ("kh", 2, 1)]
        + [("en", i, 1 + i % 5) for i in range(2000)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(diluted) is None
    # a genuinely large power-law head clears the floor and caps:
    # df = 20 000 → Σdf² = 4e8 > 1e8, ratio = 20 000 > 128
    big_hot = spark.createDataFrame(
        [("en", 0, 20_000)], "lang string, h long, df long"
    )
    assert _auto_df_cap(big_hot) == _AUTO_DF_CAP
    # the floor is STRICT >: Σdf² exactly 1e8 (df = 10 000, ratio
    # 10 000 > 128) stays uncapped; one occurrence more crosses it
    at_floor = spark.createDataFrame(
        [("en", 0, 10_000)], "lang string, h long, df long"
    )
    assert _auto_df_cap(at_floor) is None
    over_floor = spark.createDataFrame(
        [("en", 0, 10_001)], "lang string, h long, df long"
    )
    assert _auto_df_cap(over_floor) == _AUTO_DF_CAP
    # the aggregate clause: four medium power-law langs, each Σdf² ≈
    # 3.0e7 (under the floor alone, ratio 5500 >> 128) — their COMBINED
    # 1.21e8-row stream crosses the floor and must select the cap,
    # while three of them (9.1e7) stay under it
    four = spark.createDataFrame(
        [(f"l{i}", i, 5_500) for i in range(4)], "lang string, h long, df long"
    )
    assert _auto_df_cap(four) == _AUTO_DF_CAP
    three = spark.createDataFrame(
        [(f"l{i}", i, 5_500) for i in range(3)], "lang string, h long, df long"
    )
    assert _auto_df_cap(three) is None
    # qualifying is ratio-gated: medium langs UNDER the ratio threshold
    # never reach the sum no matter how large their combined stream
    bounded_big = spark.createDataFrame(
        [(f"b{i}", i, 100) for i in range(200)]
        + [(f"b{i}", 1000 + i, 100) for i in range(200)],
        "lang string, h long, df long",
    )
    assert _auto_df_cap(bounded_big) is None


def test_auto_df_cap_floor_tunable(spark):
    """r13 (ADVICE r12): the 1e8 magnitude floor is calibrated to one
    bench environment — a memory-constrained deployment whose
    power-law corpus streams just under it (e.g. 8e7 qualifying rows)
    can lower the floor through `containment_frame(auto_cap_min_s2=…)`
    instead of abandoning 'auto' for a hand-picked cap. The knob moves
    ONLY the magnitude gate (ratio-unqualified langs never cap at any
    floor), keeps the strict-> boundary, and rejects the config typos
    (bool — an int subclass that would gate at Σdf² > 1.0 —
    negatives, NaN, non-numbers) up front."""
    import pytest as _pytest

    from parquet_to_hyper_app_spark.operators.llm.corpus import (
        _AUTO_DF_CAP,
        _auto_df_cap,
        containment_frame,
    )

    # ratio-qualifying (9000 > 128) but Σdf² = 8.1e7 — under the
    # default floor, over a deployment-lowered one
    just_under = spark.createDataFrame(
        [("en", 0, 9_000)], "lang string, h long, df long"
    )
    assert _auto_df_cap(just_under) is None  # default 1e8 floor
    assert _auto_df_cap(just_under, min_s2=5e7) == _AUTO_DF_CAP
    assert _auto_df_cap(just_under, min_s2=8.1e7) is None  # strict >
    # a floor of 0 reduces to the pure r10 ratio rule…
    assert _auto_df_cap(just_under, min_s2=0.0) == _AUTO_DF_CAP
    # …but never overrides the ratio gate itself
    bounded = spark.createDataFrame(
        [("en", i, 1 + i % 5) for i in range(100)], "lang string, h long, df long"
    )
    assert _auto_df_cap(bounded, min_s2=0.0) is None
    # an inf floor is the documented "never auto-cap" switch
    assert _auto_df_cap(just_under, min_s2=float("inf")) is None

    for bad in (True, False, -1.0, float("nan"), "1e8"):
        with _pytest.raises(ValueError, match="auto_cap_min_s2"):
            containment_frame(spark, SF_SMOKE, df_cap="auto", auto_cap_min_s2=bad)
    # the knob tunes the 'auto' decision ONLY — passing it with any
    # other df_cap would be silently dead (the caller believes a
    # lowered floor is live while the decision never runs), so it
    # raises up front instead (r13 review)
    for cap in (None, 64):
        with _pytest.raises(ValueError, match="silently dead"):
            containment_frame(spark, SF_SMOKE, df_cap=cap, auto_cap_min_s2=5e7)


def test_distributed_train_deterministic(spark, tmp_path):
    """Reproducible-pipeline contract: the distributed trainer is
    seeded (KMeans seed=0, fixed maxIter), so two runs over the same
    frame AT THE SAME PARTITION LAYOUT must return bit-identical
    centroid lists — a rerun of a dedup stage on unchanged data must
    not reshuffle cluster ids. The promise is layout-pinned (ADVICE
    r11): k-means|| init samples per-partition, so re-reading the same
    data at different parallelism may legally move the centroids."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.features import (
        _distributed_train,
        _double_vectors,
    )

    rng = np.random.default_rng(19)
    m = rng.normal(size=(60, 4)).astype("float32")
    d = tmp_path / "emb"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(60), pa.int64()),
            "embedding": pa.array([r.tolist() for r in m], pa.list_(pa.float32())),
        }),
        str(d / "embeddings.parquet"),
    )
    _e, v = _double_vectors(spark, str(d))
    assert _distributed_train(v, 5) == _distributed_train(v, 5)


def test_global_rank_cumsum_rank_is_long(spark):
    """r12 self-review: the two-phase global rank must emit a LONG
    rank. The old int cast wrapped negative past 2^31 distinct tokens
    under non-ANSI arithmetic — a wrapped rank silently passes the
    `r <= k` head prune (negative < k) and unbounds the broadcast
    build side in exactly the web-scale-vocabulary regime the
    distributed rank exists for. Values are pinned on a small frame;
    the type pin is what guards the overflow."""
    from parquet_to_hyper_app_spark.operators.llm.text import _global_rank_cumsum

    occ = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 3), ("d", 1)], "token string, n long"
    )
    out = _global_rank_cumsum(occ)
    assert dict(out.dtypes)["r"] == "bigint", dict(out.dtypes)
    rows = {r.token: (r.r, r.cum_n) for r in out.collect()}
    assert rows == {"a": (1, 5), "b": (2, 8), "c": (3, 11), "d": (4, 12)}


def test_embedding_caches_follow_table_rewrite(spark, tmp_path):
    """The dim and row-count caches are keyed by the table's files: an
    embeddings table rewritten in place with a new dimensionality (and
    row count) is re-resolved, not filtered against the stale dim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.similarity import (
        corpus_dim_for,
        embedding_count_for,
        uniform_vectors_for,
    )

    path = str(tmp_path / "embeddings.parquet")

    def write(n, dim):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [[float(i + j + 1) for j in range(dim)] for i in range(n)],
                    pa.list_(pa.float32()),
                ),
            }),
            path,
        )

    write(3, 4)
    assert corpus_dim_for(spark, str(tmp_path)) == 4
    assert embedding_count_for(spark, str(tmp_path)) == 3
    write(5, 8)
    assert corpus_dim_for(spark, str(tmp_path)) == 8
    assert embedding_count_for(spark, str(tmp_path)) == 5
    assert uniform_vectors_for(spark, str(tmp_path)).count() == 5
