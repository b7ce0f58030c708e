"""Streaming semantics tests (SURVEY.md §5.2): batch-vs-stream
equivalence — the same windowed aggregation must produce identical
results via the batch planner and via a file stream driven with
availableNow."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.streaming.windows import (
    stream_session_window,
    stream_tumbling,
    stream_watermark_late,
)
from tests.conftest import SF_SMOKE


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_stream_equals_batch_tumbling(spark):
    """The availableNow streaming run (complete-window subset) must be
    a value-exact subset of the batch tumbling aggregation."""
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    streamed = stream_watermark_late(spark, SF_SMOKE)
    b = dict(((str(r.window_start), r.event_type), r.n_events) for r in batch.collect())
    s = dict(((str(r.window_start), r.event_type), r.n_events) for r in streamed.collect())
    assert s, "stream emitted nothing"
    for k, v in s.items():
        assert b[k] == v, (k, v, b[k])
    # append mode withholds only windows not closed by the final watermark
    missing = set(b) - set(s)
    if missing:
        max_start = max(k[0] for k in b)
        assert all(k[0] >= max(k2[0] for k2 in s) for k in missing), missing
    assert len(s) >= len(b) - 5 * 2  # at most the last 2 window-starts withheld


def test_session_window_matches_lag_cumsum(spark):
    """F.session_window must agree with the lag/cumsum sessionization
    on session count per user (same 30-min gap)."""
    from parquet_to_hyper_app_spark.operators.llm.sessionize import sessionize

    native = stream_session_window(spark, SF_SMOKE)
    manual = sessionize(spark, SF_SMOKE)
    n_native = {
        r.user_id: r.n
        for r in native.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_manual = {
        r.user_id: r.n
        for r in manual.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert n_native == n_manual


def test_tumbling_counts_sum_to_total(spark):
    out = stream_tumbling(spark, SF_SMOKE)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == load_table(spark, SF_SMOKE, "events").count()


def test_incremental_agg_is_truly_incremental(spark, tmp_path):
    """Split the events table into 3 files, stream with
    maxFilesPerTrigger=1 (3 micro-batches), and assert (a) one snapshot
    per epoch — the merge really ran incrementally — and (b) the final
    snapshot equals the batch GROUP BY exactly (cents-exact sums)."""
    import glob
    import os

    from parquet_to_hyper_app_spark.streaming.sinks import run_incremental_agg
    from parquet_to_hyper_app_spark.streaming.source import stream_run

    ev = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)  # 3 files
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out_dir = str(tmp_path / "snaps")
    with stream_run() as run:
        got = run_incremental_agg(spark, stream, run, out_dir)
    n_snaps = len(glob.glob(os.path.join(out_dir, "snap_*")))
    assert n_snaps >= 3, f"expected >=3 epochs, got {n_snaps}"
    from parquet_to_hyper_app_spark.functions.exact import dec2, exact_sum

    want = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(dec2("value")).alias("total_value"),
    )
    g = {r.event_type: (r.n_events, r.total_value) for r in got.collect()}
    w = {r.event_type: (r.n_events, r.total_value) for r in want.collect()}
    assert g == w


def test_incremental_agg_replay_cannot_double_count(spark, tmp_path):
    """An epoch re-delivered AFTER its own snapshot write succeeded
    (crash between snapshot write and checkpoint commit) must merge
    only with strictly earlier snapshots — replaying it leaves the
    final table identical, never doubled."""
    import glob
    import os

    from parquet_to_hyper_app_spark.streaming.sinks import merge_epoch

    ev = load_table(spark, SF_SMOKE, "events")
    out_dir = str(tmp_path / "snaps")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    merge_epoch(b0, 0, out_dir)
    merge_epoch(b1, 1, out_dir)
    final = sorted(glob.glob(os.path.join(out_dir, "snap_*")))[-1]
    before = {
        r.event_type: (r.n_events, r.cents)
        for r in spark.read.parquet(final).collect()
    }
    merge_epoch(b1, 1, out_dir)  # replay epoch 1 with snap_1 on disk
    after = {
        r.event_type: (r.n_events, r.cents)
        for r in spark.read.parquet(final).collect()
    }
    assert after == before
    total = sum(n for n, _ in after.values())
    assert total == ev.count()


def test_dedup_watermark_multibatch_stays_oracle_equivalent(spark, tmp_path):
    """Keys re-emitted after watermark state eviction (possible once the
    source runs multiple micro-batches) must not duplicate rows through
    the first-seen join — the emitted key set is deduped before the
    join, so the result equals the batch GROUP BY for any EVENT-TIME-
    ORDERED batch layout (a key first arriving wholly behind the
    advanced watermark would be eviction-dropped — see the
    run_dedup_watermark contract; this harness orders files by event
    time exactly so that case cannot occur)."""
    from parquet_to_hyper_app_spark.streaming.sinks import run_dedup_watermark
    from parquet_to_hyper_app_spark.streaming.source import stream_run

    ev = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "src")
    # 4 single-file micro-batches in EVENT-TIME order (range-partitioned
    # on ts; the file source breaks equal-mtime ties by path, and
    # part-00000..3 match the range order). Time-ordered batches mean no
    # batch is ever behind the advanced watermark, so no key's FIRST
    # occurrence can be eviction-dropped (round-robin splits made that a
    # real race: a late-listed file's keys vanished entirely). Keys
    # spanning files still re-emit after their state evicts — the
    # duplication scenario the distinct() guards.
    ev.repartitionByRange(4, "ts").sortWithinPartitions("ts").write.parquet(src)
    raw = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    with stream_run() as run:
        got = run_dedup_watermark(raw, run, ev)
    rows = got.collect()
    keys = [(r.user_id, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate keys leaked through the join"
    want = {
        (r.user_id, r.event_type): r.first_seen
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_seen"))
        .collect()
    }
    assert {(r.user_id, r.event_type): r.first_seen for r in rows} == want


def _nanos_events_dir(tmp_path) -> str:
    """A copy of the sf0.001 events table as pandas writes it: ``ts`` is
    TIMESTAMP(NANOS) with sub-µs digits, and the first row (event_id 0)
    has a NULL ``ts``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    micros = t.column("ts").cast(pa.int64()).to_pylist()
    nanos = [None] + [v * 1000 + 789 for v in micros[1:]]
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", pa.array(nanos, pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_stream_ts_unit_matches_batch_catalog(spark, tmp_path):
    """Pin the round-2 regression: the file-stream source must deliver
    event timestamps with the SAME type and value the batch catalog
    resolves to, whatever unit the parquet file stores (the driver
    testdata's MICROS, or the NANOS pandas writes), and a NULL event
    time must stay NULL through the streaming convert's cleaning."""
    from parquet_to_hyper_app_spark.streaming.sinks import stream_foreach_batch
    from parquet_to_hyper_app_spark.streaming.source import (
        events_file_stream,
        run_to_memory,
        stream_run,
    )

    for sf in (SF_SMOKE, _nanos_events_dir(tmp_path)):
        batch = load_table(spark, sf, "events")
        with stream_run() as run:
            raw = events_file_stream(spark, sf, run)
            assert raw.dtypes == batch.dtypes, (sf, raw.dtypes, batch.dtypes)
            out = run_to_memory(raw.select("ts"), run, "append")
        agg = (F.min("ts"), F.max("ts"), F.count("ts"))
        assert out.agg(*agg).first() == batch.agg(*agg).first(), sf
        converted = stream_foreach_batch(spark, sf)
        assert converted.dtypes == batch.dtypes, sf
        assert converted.exceptAll(batch).isEmpty() and batch.exceptAll(converted).isEmpty(), sf
    # the NANOS copy reads back as the MICROS original: truncated, not
    # rounded up by its 789 sub-µs nanoseconds, and its NULL kept
    micros = dict(load_table(spark, SF_SMOKE, "events").select("event_id", "ts").collect())
    nanos = dict(batch.select("event_id", "ts").collect())
    assert nanos == {**micros, 0: None}


def test_empty_source_stream_returns_no_rows(spark, tmp_path):
    """An events source with no rows streams zero epochs; the sinks
    return an empty frame typed like the batch table instead of
    raising."""
    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.streaming.sinks import stream_foreach_batch

    empty = pq.read_table(f"{SF_SMOKE}/events.parquet").slice(0, 0)
    pq.write_table(empty, str(tmp_path / "events.parquet"))
    out = stream_foreach_batch(spark, str(tmp_path))
    assert out.count() == 0
    assert out.dtypes == load_table(spark, str(tmp_path), "events").dtypes


def test_dedup_watermark_runs_one_micro_batch(spark):
    """dropDuplicatesWithinWatermark emits each key in the batch where
    it first appears, so the registered query runs exactly one (data)
    micro-batch — no trailing no-data batch that only evicts state —
    and the session conf it switches for that is restored afterwards,
    also when the scoped block fails."""
    import threading
    import time

    import pytest
    from pyspark.sql.streaming import StreamingQueryListener

    from parquet_to_hyper_app_spark.streaming.sinks import stream_dedup_watermark
    from parquet_to_hyper_app_spark.streaming.source import conf_scope

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.rows: list[int] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf)
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        assert stream_dedup_watermark(spark, SF_SMOKE).count() > 0
        deadline = time.monotonic() + 60
        while listener.terminated < 1 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert listener.terminated == 1
    assert len(listener.rows) == 1 and listener.rows[0] > 0, listener.rows
    assert spark.conf.get(conf) == before
    with pytest.raises(RuntimeError):
        with conf_scope(spark, conf, "false"):
            raise RuntimeError("query failed")
    assert spark.conf.get(conf) == before


def _stream_root() -> str:
    import os
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "p2h_spark_stream")
    os.makedirs(root, exist_ok=True)
    return root


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_stream_keys_leave_no_stream_dir(spark):
    """Every streaming run removes its directory (source symlink,
    checkpoint, state store, foreachBatch sink output) once its query
    has terminated and the result no longer reads it; no sink output
    lands in a directory of its own under the temp root."""
    import os
    import tempfile

    from parquet_to_hyper_app_spark.registry import load_all

    def sink_entries() -> set[str]:
        found = set()
        for name in ("p2h_spark_fb", "p2h_spark_ia"):
            path = os.path.join(tempfile.gettempdir(), name)
            if os.path.isdir(path):
                found |= {name} | {os.path.join(name, e) for e in os.listdir(path)}
        return found

    root = _stream_root()
    before = set(os.listdir(root))
    sinks_before = sink_entries()
    specs = load_all()
    # run_to_memory, stream_foreach_batch, run_incremental_agg, and the
    # two documents streams
    for key in (
        "stream_dedup_watermark",
        "stream_foreach_batch",
        "stream_incremental_agg",
        "stream_quality_gate",
        "stream_incremental_dedup",
    ):
        assert specs[key].fn(spark, SF_SMOKE).count() > 0, key
    assert set(os.listdir(root)) - before == set()
    assert sink_entries() - sinks_before == set()


def test_failed_stream_query_leaves_no_run_dir_or_view(spark):
    """A streaming query that raises inside its run still removes the
    run directory and drops its memory-sink view."""
    import os

    import pytest

    from parquet_to_hyper_app_spark.streaming.source import (
        events_file_stream,
        run_to_memory,
        stream_run,
    )

    root = _stream_root()
    dirs, views = set(os.listdir(root)), _temp_views(spark)
    with pytest.raises(Exception, match="stream boom"):
        with stream_run() as run:
            raw = events_file_stream(spark, SF_SMOKE, run)
            failing = raw.select(F.raise_error(F.lit("stream boom")).cast("string").alias("x"))
            run_to_memory(failing, run, "append")
    assert set(os.listdir(root)) - dirs == set()
    assert _temp_views(spark) == views
