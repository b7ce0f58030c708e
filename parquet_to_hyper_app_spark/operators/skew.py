"""Skew-mitigation utilities for hot-key joins and aggregations.

AQE's skew-join splitting (enabled session-wide, session.py) handles
most skew at runtime; `salted_join` is the explicit fallback for
pathological producers (one key ≫ everything else) or for engines/
modes where AQE can't split (e.g. streaming joins).

Pattern: replicate each build-side row `_SALT_BUCKETS` times, scatter
probe-side rows across buckets with a uniform random-ish salt derived
deterministically from a row id, join on (key, salt). The hot key's
rows spread over `_SALT_BUCKETS` tasks instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: build-side replicas per key, and the probe-side salt's range
_SALT_BUCKETS = 8


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    salt_source: Column | str,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join on `on`.

    probe:       the large, possibly skewed side
    build:       the smaller side (replicated _SALT_BUCKETS×)
    salt_source: any probe column with high cardinality (row id) —
                 hashed into a deterministic bucket, keeping results
                 reproducible run-to-run (no rand()).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # replicating the build side is only sound when unmatched build
        # rows are dropped (inner) or irrelevant (left): right/full/semi
        # would emit one row per salted replica for unmatched build keys
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salt_col = F.pmod(F.xxhash64(salt_source), F.lit(_SALT_BUCKETS)).cast("int")
    salted_probe = probe.withColumn("__salt", salt_col)
    salted_build = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    return salted_probe.join(salted_build, [on, "__salt"], how).drop("__salt")
