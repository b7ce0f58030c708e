"""SparkSession construction and session-level configuration.

The driver owns the SparkSession it hands to ``queries()`` callables, so
everything the engine needs must be settable at *runtime* (SQL confs,
not static confs). ``ensure_session_configs`` is called by the catalog
loader before any read; it is idempotent and cheap.

Scale posture (100 TB design, validated locally): AQE on (runtime
coalescing + skew-join splitting), partial aggregation and broadcast
joins are Catalyst defaults; shuffle partition count is left to the
session owner except in `build_session`, where it is sized to cores.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: confs already warned about (warn once per process, not per query)
_WARNED_CONFS: set[str] = set()

#: SQL confs the engine requires; all runtime-settable.
REQUIRED_SQL_CONFS: dict[str, str] = {
    # Oracle comparability: DuckDB timestamps are UTC-naive. Spark must
    # materialize identical wall-clock values regardless of driver TZ.
    "spark.sql.session.timeZone": "UTC",
    # Spark's parquet reader rejects a TIMESTAMP(NANOS) column (pandas
    # writes datetime64[ns] so); read it as its raw int64, which the
    # catalog turns into a µs timestamp for the columns the file's
    # footer declares NANOS (see catalog.to_micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime partition coalescing + skew handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas-UDF surface.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark 4 defaults ANSI on (x/0 and cast overflow THROW). The
    # engine's documented semantics are permissive (reference-parity
    # cleaning; x/0 → NULL matching the oracles' NULLIF forms) — an
    # edge row must degrade to NULL, not fail the whole query.
    "spark.sql.ansi.enabled": "false",
}


def ensure_session_configs(spark: SparkSession) -> SparkSession:
    """Apply required runtime SQL confs to an externally-built session.

    Safe to call repeatedly; a conf the session refuses (e.g. a future
    Spark making one static) is warned about ONCE rather than failing
    the query — silent divergence from the oracles would be much harder
    to diagnose than a visible warning.
    """
    for key, value in REQUIRED_SQL_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception as e:  # pragma: no cover - defensive
            if key not in _WARNED_CONFS:
                _WARNED_CONFS.add(key)
                import warnings

                warnings.warn(
                    f"required Spark conf {key}={value!r} could not be "
                    f"applied ({type(e).__name__}: {e}); query semantics "
                    "may diverge from the documented/oracle behavior",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


@contextmanager
def persisted(*frames: DataFrame):
    """Persist ``frames`` for the block and unpersist them on exit, also
    when the block raises; yields the persisted frame (one argument) or
    a tuple of them.

    Every cached intermediate of the engine goes through here. A block
    that returns a small result detaches it from the cache first
    (``localCheckpoint(eager=True)`` inside the block), so the
    corpus-wide frame is released when the query returns, fails or is
    cancelled, never at session end. A lazy frame returned from the
    block looks up cached data when it is planned, after the exit, so
    its plan is the uncached one."""
    held: list[DataFrame] = []
    try:
        for df in frames:
            held.append(df.persist())
        yield held[0] if len(held) == 1 else tuple(held)
    finally:
        for df in held:
            df.unpersist()


def build_session(
    app_name: str = "parquet_to_hyper_app_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized to the machine (tests / bench).

    On a real cluster the session comes from the environment; this
    builder is only for local runs. ``SPARK_GRAFT_CPUS`` overrides core
    count (the driver's bench contract).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Local-bench split sizing: testdata files are a few MB, far below
    # the 128m default, which would make every scan a single task. 8m
    # splits give the 32 local cores work. On a real cluster (128MB+
    # row groups, thousands of files) keep the default — override via
    # SPARK_GRAFT_MAX_PARTITION_BYTES.
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
    )
    for key, value in REQUIRED_SQL_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_configs(spark)
