"""Custom stateful streaming operator via applyInPandasWithState.

The north-star surface calls for arbitrary per-key streaming state
beyond built-in windows. The canonical example here: a running
per-user profile (event count, value sum, last-seen timestamp) that
updates as micro-batches arrive and emits the refreshed profile each
batch.

State lives in the state store keyed by user_id; memory is bounded by
(distinct keys × state row), never by stream length. GroupStateTimeout
would evict idle keys on a live stream (not needed for the bounded
availableNow run the oracle checks).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from parquet_to_hyper_app_spark.registry import query
from parquet_to_hyper_app_spark.streaming.source import (
    events_file_stream,
    run_to_memory,
    stream_run,
)

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_seen timestamp"
#: state carries integer CENTS, not float dollars — accumulating float
#: dollars across micro-batches would reintroduce order-dependent
#: drift and break the decimal oracle once a stream has >1 batch
STATE_SCHEMA = "n_events bigint, cents bigint, last_seen timestamp"

_ONE_CENT = Decimal("1")


def _cents_half_up(v: "np.ndarray") -> "np.ndarray":
    """Integer cents of finite doubles under the engines' double →
    DECIMAL(12,2) cast. Both Spark and DuckDB round the SHORTEST
    DECIMAL REPR of the double half-away-from-zero — repr(1.005) is
    '1.005' → 1.01 — while the binary double 1.005*100 is 100.4999…,
    so the old floor(|v|·100 + 0.5) under-rounded every half-cent
    value (review r5, divergence verified on both engines). Fast path
    floor(a + 0.5) stands everywhere except values whose scaled
    fraction sits within float error of the .5 boundary; those few
    re-round through decimal.Decimal(repr(x)) exactly as the engines
    do. The fuzz money() generator emits cent-exact doubles only, so
    the boundary class never appears there — pinned by unit test
    instead."""
    # values near DBL_MAX overflow to inf when scaled to cents — that
    # inf rides the same dropped-by-domain-filter path as any other
    # out-of-range magnitude, so the IEEE overflow/invalid flags are
    # expected, not errors
    with np.errstate(over="ignore", invalid="ignore"):
        a = np.abs(v) * 100.0
        base = np.floor(a)
        c = np.floor(a + 0.5)
        suspicious = np.abs(a - base - 0.5) <= 64.0 * np.spacing(a) + 1e-9
    # Out-of-DECIMAL(12,2)-domain magnitudes must SKIP the exact
    # re-round: above ~2^53 every float is an integer, so a-base-0.5
    # is exactly -0.5 while np.spacing(a) is enormous — the boundary
    # test flags ALL of them — and Decimal(repr(x)).scaleb(2).quantize
    # on |v| >= ~1e26 overflows the default 28-digit context,
    # raising InvalidOperation and killing the whole streaming query
    # on one dirty row (advice r5). Rounding fidelity is irrelevant
    # there: the caller's |c| <= 999_999_999_999 filter drops every
    # such value regardless. The +1 keeps true boundary values like
    # 9999999999.995 (rounds UP to 10^12 cents, then drops) on the
    # exact path.
    suspicious &= a <= 1e12 + 1.0
    if suspicious.any():
        c[suspicious] = [
            float(Decimal(repr(float(x))).scaleb(2).quantize(_ONE_CENT, ROUND_HALF_UP))
            for x in np.abs(v[suspicious])
        ]
    return np.sign(v) * c


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold each micro-batch's rows for this user into running state."""
    (user_id,) = key
    if state.exists:
        n, cents, last_seen = state.get
    else:
        n, cents, last_seen = 0, 0, None
    for pdf in pdfs:
        if not len(pdf):
            continue  # empty chunk: ts.max() would be NaT and poison state
        n += len(pdf)
        # cents-exact accumulation: each value rounds to an integer cent
        # count; integer sums are order-independent. The cents cast must
        # mirror the engines' `TRY_CAST(nullif(value, 'NaN'::DOUBLE) AS DECIMAL(12,2))`
        # degrade-to-NULL semantics, not crash: NaN/±Inf/null and
        # DECIMAL(12,2)-overflow values drop out of the sum (a plain
        # .astype("int64") raised IntCastingNaNError on the first dirty
        # row — caught by tools/fuzz_data.py --profile dirty), while
        # n_events still counts every row like count(*). Rounding is
        # sign-aware half-away-from-zero over the shortest decimal
        # repr (see _cents_half_up) — pandas .round() is banker's and
        # would flip exact half-cents.
        v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
        kept = v[np.isfinite(v)]
        c = _cents_half_up(kept)
        # DECIMAL(12,2) domain on the ROUNDED cents, not the raw double
        # (review r5: 9999999999.995 passes |v| < 1e10 but rounds to
        # 10^12 cents, which overflows DECIMAL(12,2) and degrades to
        # NULL — i.e. drops from the sum — in both engines)
        cents += int(c[np.abs(c) <= 999_999_999_999].sum())
        # NaT-safe last-seen fold: an all-NULL-ts chunk yields
        # batch_max = NaT, and max(NaT, real_ts) stays NaT (NaT
        # comparisons are always False) — it would poison every later
        # chunk's fold, emitting NULL where the oracle's max(ts) is
        # real (review r5)
        batch_max = pdf["ts"].max()
        if not pd.isna(batch_max):
            last_seen = (
                batch_max
                if last_seen is None or pd.isna(last_seen)
                else max(last_seen, batch_max)
            )
    state.update((n, cents, last_seen))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [cents / 100.0],
            "last_seen": [last_seen],
        }
    )


@query(
    "stream_stateful_profile",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           coalesce(CAST(sum(TRY_CAST(nullif(value, 'NaN'::DOUBLE) AS DECIMAL(12,2))) AS DOUBLE), 0.0)
               AS total_value,
           max(ts) AS last_seen
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S38b: applyInPandasWithState running per-user profile, driven
    with availableNow over the file source. A single micro-batch folds
    every event exactly once, so the final emitted state equals the
    batch GROUP BY — which is the oracle. Values accumulate in integer
    cents inside the state update so the result is order-independent.
    """
    with stream_run() as run:
        raw = events_file_stream(spark, sf_dir, run)
        stream = (
            raw.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_profile,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        out = run_to_memory(stream, run, "update")
    # update mode emits one profile row per user PER BATCH; keep only
    # each user's latest state (n_events grows monotonically) so a
    # multi-file/multi-batch source still equals the batch GROUP BY
    from pyspark.sql import Window as W

    latest = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.col("last_seen").cast("timestamp_ntz").alias("last_seen"),
        )
    )
