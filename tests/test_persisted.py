"""Cached intermediates never outlive a failed query: every persist
goes through `session.persisted`, so a miner whose eager checkpoint
raises leaves the cache manager empty. The failure is injected at the
checkpoint itself, so each case stops before any job past it."""

from __future__ import annotations

import pytest

from parquet_to_hyper_app_spark.registry import load_all
from tests.conftest import SF_SMOKE

KEYS = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_canonical_keep",
    "pipeline_training_corpus_full",
    "contamination_ngram",
    "dedup_substring",
    "text_vocab_coverage",
    "dedup_containment",
)


class CheckpointFailed(RuntimeError):
    pass


def _run_with_failing_checkpoint(spark, monkeypatch, key: str, fail_at: int) -> None:
    """Run ``key`` with the ``fail_at``-th ``localCheckpoint`` call
    raising, from a session with nothing cached."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    calls = []

    def checkpoint(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == fail_at:
            raise CheckpointFailed(f"checkpoint {fail_at} of {key}")
        return real(self, *args, **kwargs)

    spark.catalog.clearCache()
    monkeypatch.setattr(cls, "localCheckpoint", checkpoint)
    with pytest.raises(CheckpointFailed):
        load_all()[key].fn(spark, SF_SMOKE)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("key", KEYS)
def test_failed_checkpoint_releases_cached_intermediates(spark, monkeypatch, key):
    _run_with_failing_checkpoint(spark, monkeypatch, key, fail_at=1)
    assert _cache_is_empty(spark), key


def test_failed_component_round_releases_cached_intermediates(spark, monkeypatch):
    """dedup_clusters: the pair miner's checkpoint succeeds and the
    first `connected_components` round raises, with the edge set, the
    seed labels and the round's step all persisted."""
    _run_with_failing_checkpoint(spark, monkeypatch, "dedup_clusters", fail_at=2)
    assert _cache_is_empty(spark)
