"""Shared fixtures: one local SparkSession per test session.

The session is built WITHOUT the engine's required SQL confs in the
builder (mimicking the driver, which owns its own session); the engine
must apply them at runtime via ensure_session_configs.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("parquet_to_hyper_app_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def lazy_checkpoints(spark, monkeypatch):
    """``localCheckpoint`` returns its frame unchanged for the test.

    A function that checkpoints its result inside a ``persisted`` block
    then hands back the lazy frame; planned after the block has exited,
    that frame reads nothing from the cache, so its plan is the full
    uncached one."""
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", lambda self, *_a, **_kw: self
    )


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs, counted through a
    throwaway job group (the listener bus is drained first, so a job
    whose start event is still queued is not missed)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
