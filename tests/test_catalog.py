"""Schema-resolved table loads: `catalog.read_parquet` reuses the
schema Spark inferred for a path only while the path's data files and
the inference confs are unchanged, and the memo holding it
(`filesig.memo`) stays bounded."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_to_hyper_app_spark.catalog import load_table, read_parquet
from parquet_to_hyper_app_spark.sources import filesig
from parquet_to_hyper_app_spark.sources.filesig import signature
from tests.conftest import SF_SMOKE, count_jobs


def test_unchanged_table_reloads_without_a_job(spark):
    path = os.path.abspath(os.path.join(SF_SMOKE, "orders.parquet"))
    filesig._MEMO.pop(("schema", path), None)
    first = count_jobs(spark, lambda: load_table(spark, SF_SMOKE, "orders"))
    second = count_jobs(spark, lambda: load_table(spark, SF_SMOKE, "orders"))
    assert first >= 1  # the cold load infers (and the counter sees it)
    assert second == 0
    assert load_table(spark, SF_SMOKE, "orders").count() == spark.read.parquet(path).count()


def test_rewrite_in_place_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"x": [1.5], "y": [2], "z": ["q"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["x", "y", "z"]
    assert df.collect()[0].asDict() == {"x": 1.5, "y": 2, "z": "q"}


def test_inference_conf_change_is_reinferred(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as bigint only under
    nanosAsLong and is rejected without it; a schema cached under one
    value must not serve a read under the other (a stale bigint schema
    would read through the footer rule as a timestamp, with no error)."""
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_600_000_000_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), path, version="2.6")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp_ntz"
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(conf, "true")
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"


def test_missing_path_raises_as_before(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as bare:
        spark.read.parquet(str(tmp_path / "gone.parquet"))
    with pytest.raises(AnalysisException) as loaded:
        load_table(spark, str(tmp_path), "gone")
    assert loaded.value.getCondition() == bare.value.getCondition() == "PATH_NOT_FOUND"
    assert ("schema", os.path.abspath(str(tmp_path / "gone.parquet"))) not in filesig._MEMO


def test_schema_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(filesig, "_MEMO_MAX", 3)
    for i in range(7):
        pq.write_table(pa.table({"c": [i]}), str(tmp_path / f"t{i}.parquet"))
        load_table(spark, str(tmp_path), f"t{i}")
        load_table(spark, str(tmp_path), f"t{i}")  # a hit adds no entry
        assert len(filesig._MEMO) <= 3
        assert ("schema", os.path.abspath(str(tmp_path / f"t{i}.parquet"))) in filesig._MEMO


def test_directory_signature_tracks_data_files_only(tmp_path):
    d = tmp_path / "tbl"
    (d / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"c": [1]}), str(d / "k=1" / "part-0.parquet"))
    base = signature(str(d))
    assert len(base) == 1
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("x")
    assert signature(str(d)) == base
    pq.write_table(pa.table({"c": [2, 3]}), str(d / "k=1" / "part-1.parquet"))
    assert len(signature(str(d))) == 2
    assert signature(str(tmp_path / "absent")) is None
