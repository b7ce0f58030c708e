"""Measure dedup_containment's Σdf² behavior on a POWER-LAW corpus.

    python tools/powerlaw_probe.py [--docs 5000 10000 20000 40000] [--caps 64 256]

The r9 co-occurrence verify (`unordered_cooccurrence`, dedup.py) moved
the containment verify from array-carrying rows to 24-byte count rows —
removing the measured x64 byte wall on the BOUNDED-df testdata corpus
(sf0.1: Σdf² = 19.0M, max df 152). Its own docstring names the regime
where that trade inverts: a power-law vocabulary, where stopword-ish
bigrams have df ~ O(corpus) and the count join's pre-combine stream is
Σ_g df(g)² rows — quadratic in the head of the distribution. The
documented deployment branch is a df-CAPPED hybrid (count-join for
grams with df ≤ cap; per-doc arrays of the FEW high-df grams verified
by array intersection on the candidate pairs). r8/r9 deliberately did
NOT build it, because the right order of operations is to measure the
df distribution first.

This probe does that measurement on synthetic Zipfian corpora:

- unigrams drawn Zipf(s) over a V-word vocabulary, doc lengths
  uniform in [lo, hi) — bigram df inherits the power law (the head
  bigram appears in ~half the docs at s=1.1);
- per scale D (doc count) it reports the corpus df shape (Σdf²,
  max df, head size above each cap) from the engine's own
  `bigram_hash_frame`, then times the registered uncapped miner and,
  with --caps, the df-capped hybrid (`containment_frame(df_cap=...)`)
  on the same corpus, asserting identical pair sets at the smallest
  scale.

The crossover number this emits decides whether the hybrid is worth
registering machinery for — docs/SCALE.md records the answer.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from parquet_to_hyper_app_spark.session import build_session  # noqa: E402


def gen_zipf_docs(out_dir: str, n_docs: int, *, vocab: int, s: float,
                  len_lo: int, len_hi: int, seed: int) -> None:
    """Write documents.parquet of n_docs Zipfian-token documents."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1) ** s
    p /= p.sum()
    lens = rng.integers(len_lo, len_hi, size=n_docs)
    total = int(lens.sum())
    toks = rng.choice(vocab, size=total, p=p)
    words = np.array([f"w{i:06d}" for i in range(vocab)])
    tok_words = words[toks]
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(tok_words[offs[i]:offs[i + 1]]) for i in range(n_docs)]
    # plant real containment pairs (1% of docs): doc i+2 becomes the
    # first ~60% of doc i's tokens — a token-sequence prefix's bigrams
    # are a subset of the full doc's, so C(i+2 → i) = 1.0 ≥ 0.8. Same
    # stride parity keeps the pair within one lang (langs alternate by
    # index and blocking is per-lang). The random Zipf corpus alone
    # yields none, and an empty pair set would make the
    # capped-vs-uncapped equality check vacuous.
    for i in range(0, n_docs - 2, 100):
        toks_i = texts[i].split()
        texts[i + 2] = " ".join(toks_i[: max(2, int(len(toks_i) * 0.6))])
    langs = ["en" if i % 2 else "de" for i in range(n_docs)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, n_docs + 1), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(["synthetic"] * n_docs),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )


def df_shape(spark, probe_dir: str, caps: list[int]) -> dict:
    """Corpus bigram-df shape via the engine's own gram frame."""
    from pyspark.sql import functions as F

    from parquet_to_hyper_app_spark.catalog import load_table
    from parquet_to_hyper_app_spark.operators.llm.dedup import bigram_hash_frame
    from parquet_to_hyper_app_spark.session import persisted
    from parquet_to_hyper_app_spark.sources.scanwidth import scan_spread

    docs = scan_spread(load_table(spark, probe_dir, "documents"), "doc_id")
    with persisted(bigram_hash_frame(docs)) as grams:
        occ = grams.select("doc_id", "lang", F.explode("hashes").alias("h"))
        df_tab = occ.groupBy("lang", "h").agg(F.count(F.lit(1)).alias("df"))
        aggs = [
            F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
            F.max("df").alias("max_df"),
            F.count(F.lit(1)).alias("n_grams"),
        ] + [
            F.sum((F.col("df") > c).cast("long")).alias(f"head_{c}")
            for c in caps
        ]
        return df_tab.agg(*aggs).first().asDict()


def timed_frame(build, reps: int) -> tuple[float, int, object]:
    """Time CONSTRUCTION + count: containment_frame ends in an EAGER
    localCheckpoint, so the miner's work happens at build time — a
    count() of the returned frame would measure a finished
    checkpoint, not the pipeline."""
    frame = build()
    frame.count()  # warm: file listing, codegen, df stats
    best, n = float("inf"), 0
    for _ in range(reps):
        t0 = time.time()
        frame = build()
        n = frame.count()
        best = min(best, time.time() - t0)
    return best, n, frame


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", nargs="*", type=int, default=[5000, 10000, 20000])
    ap.add_argument("--caps", nargs="*", type=int, default=[])
    ap.add_argument("--vocab", type=int, default=50_000)
    ap.add_argument("--zipf", type=float, default=1.1)
    ap.add_argument("--len", nargs=2, type=int, default=[60, 260], dest="doclen")
    ap.add_argument("--seed", type=int, default=97)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-uncapped-above", type=int, default=0,
                    help="doc count above which the uncapped run is skipped "
                         "(0 = never skip)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the generated corpora for a follow-up run")
    ap.add_argument("--jaccard", action="store_true",
                    help="also time dedup_ngram_jaccard per scale — does the "
                         "J>=0.5 miner's array-verify decision hold under "
                         "power-law df?")
    ap.add_argument("--miners", nargs="*", default=[],
                    choices=["substring", "minhash", "simhash"],
                    help="additionally time these miners per scale — their "
                         "shuffle keys are uniform hashes (substring/minhash) "
                         "or hamming buckets (simhash), so the analysis says "
                         "df-independent; this measures it")
    args = ap.parse_args()

    from parquet_to_hyper_app_spark.operators.llm.corpus import dedup_containment

    spark = build_session("powerlaw_probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    base = os.path.join(tempfile.gettempdir(), "p2h_powerlaw_probe")
    rows = []
    baseline_pairs: set | None = None

    for n_docs in args.docs:
        probe_dir = os.path.join(base, f"d{n_docs}")
        if not os.path.exists(os.path.join(probe_dir, "documents.parquet")):
            gen_zipf_docs(probe_dir, n_docs, vocab=args.vocab, s=args.zipf,
                          len_lo=args.doclen[0], len_hi=args.doclen[1], seed=args.seed)
        shape = df_shape(spark, probe_dir, args.caps)
        variants: list[tuple[str, object]] = []
        if not args.skip_uncapped_above or n_docs <= args.skip_uncapped_above:
            variants.append(("uncapped", None))
        if args.caps:
            from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame
            variants += [(f"cap={c}", c) for c in args.caps]
        if args.jaccard:
            variants.append(("jaccard", "jaccard"))
        for m in args.miners:
            variants.append((m, m))
        for label, cap in variants:
            def build(c=cap, d=probe_dir):
                if isinstance(c, str) and c != "auto":
                    from parquet_to_hyper_app_spark.operators.llm import corpus, dedup
                    fn = {
                        "jaccard": dedup.dedup_ngram_jaccard,
                        "substring": corpus.dedup_substring,
                        "minhash": dedup.dedup_minhash_lsh,
                        "simhash": dedup.dedup_simhash,
                    }[c]
                    return fn(spark, d)
                return (dedup_containment(spark, d) if c is None
                        else containment_frame(spark, d, df_cap=c))
            best, n_pairs, frame = timed_frame(build, args.reps)
            if not isinstance(cap, str) and n_docs == args.docs[0]:
                pairs = {(r.doc_src, r.doc_dst, round(r.containment, 9))
                         for r in frame.collect()}
                if baseline_pairs is None:
                    baseline_pairs = pairs
                else:
                    assert pairs == baseline_pairs, (
                        f"{label} pair set diverges from uncapped at d{n_docs}"
                    )
            rows.append((n_docs, label, shape, best, n_pairs))
            print(f"  d{n_docs} {label}: {best:.2f}s pairs={n_pairs} "
                  f"sum_df2={shape['sum_df2']:,} max_df={shape['max_df']}")

    print(f"\npower-law containment probe (zipf s={args.zipf}, V={args.vocab}, "
          f"len {args.doclen[0]}-{args.doclen[1]}, seconds, warm best-of-{args.reps})")
    hdr = (f"{'docs':>7} {'variant':>10} {'time':>9} {'pairs':>8} "
           f"{'sum_df2':>14} {'max_df':>7} "
           + " ".join(f"{'head>' + str(c):>9}" for c in args.caps))
    print(hdr)
    print("-" * len(hdr))
    for n_docs, label, shape, best, n_pairs in rows:
        heads = " ".join(f"{shape[f'head_{c}']:>9}" for c in args.caps)
        print(f"{n_docs:>7} {label:>10} {best:>8.2f}s {n_pairs:>8} "
              f"{shape['sum_df2']:>14,} {shape['max_df']:>7} {heads}")

    if not args.keep:
        shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
