"""Focused tests for sources/scanwidth.py (round-15 optimization).

The contract: `scan_spread` widens a row-group-limited scan with a
pinned-width deterministic hash repartition, and is the IDENTITY when
the scan is already at least 1/4 as wide as the cores (production
layouts) or when the input can't be inspected from the driver.
Results must be value-identical either way — the repartition is
placement-only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parquet_to_hyper_app_spark.catalog import load_table
from parquet_to_hyper_app_spark.sources.scanwidth import (
    effective_scan_parallelism,
    scan_spread,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from parquet_to_hyper_app_spark.session import build_session

    s = build_session("test_scanwidth", cpus=4)
    yield s


def test_effective_parallelism_single_row_group(spark):
    # every driver testdata table is one parquet file with one row
    # group (verified with pyarrow this round) — the measured decode
    # parallelism must be 1, regardless of split-size configuration
    li = load_table(spark, SF, "lineitem")
    assert effective_scan_parallelism(li) == 1


def test_spread_widens_and_preserves_values(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    wide = scan_spread(li, "l_orderkey")
    # widened to the cores (gate fires: 1 * 4 <= 4)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # placement-only: identical multiset of rows
    base = sorted(map(tuple, li.collect()))
    spread = sorted(map(tuple, wide.collect()))
    assert base == spread


def test_identity_when_scan_is_wide_enough(spark):
    # a 4-partition parquet dir on a 4-core session: eff(4)*4 > 4 cores
    import os
    import tempfile

    out = os.path.join(tempfile.gettempdir(), "p2h_scanwidth_wide")
    load_table(spark, SF, "lineitem").repartition(4).write.mode("overwrite").parquet(out)
    df = spark.read.parquet(out)
    assert effective_scan_parallelism(df) >= 4
    assert scan_spread(df, "l_orderkey") is df


def test_identity_on_non_file_source(spark):
    df = spark.range(10).withColumn("k", F.col("id") % 3)
    # no input files -> conservative identity (inputFiles returns [])
    assert scan_spread(df, "k").count() == 10


def test_many_files_is_unconditional_identity(spark, tmp_path, lazy_checkpoints):
    """>= _MAX_PROBE_FILES files: the estimate must be None (identity),
    NOT len(paths) — the r15 form undercounted wide scans (ignoring
    per-file row groups/splits) and on defaultParallelism > 4x the file
    count would have hash-repartitioned an arbitrarily large fact
    table (VERDICT r15 item 1 / ADVICE r15). The registered containment
    miner, which widens through scan_spread, plans no doc_id widening
    exchange on such a layout either."""
    import os
    import tempfile

    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame
    from parquet_to_hyper_app_spark.plans.inspect import physical_plan
    from parquet_to_hyper_app_spark.sources import scanwidth

    out = os.path.join(tempfile.gettempdir(), "p2h_scanwidth_manyfiles")
    load_table(spark, SF, "lineitem").repartition(70).write.mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out)
    assert len(df.inputFiles()) >= scanwidth._MAX_PROBE_FILES
    assert effective_scan_parallelism(df) is None
    # identity even on a cluster with vastly more cores than files —
    # exactly the 128-files-on-1024-cores window the r15 form repartitioned
    assert scan_spread(df, "l_orderkey") is df

    # pyarrow slicing keeps the canonical documents schema
    tbl = pq.read_table(os.path.join(SF, "documents.parquet"))
    docs_dir = tmp_path / "documents.parquet"
    docs_dir.mkdir()
    n_files = scanwidth._MAX_PROBE_FILES + 6
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), str(docs_dir / f"part-{i:05d}.parquet"))
    plan = physical_plan(containment_frame(spark, str(tmp_path)))
    assert "hashpartitioning(doc_id" not in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_production_shuffle_budgets_on_widened_layout(spark, tmp_path):
    """ADVICE r15: the relaxed local budgets in test_plans.py (an extra
    exchange allowed for the scan_spread on row-group-limited testdata)
    must not hide a future accidental exchange that would ALSO appear
    on production layouts. Pin the TIGHT budget on a widened copy of
    the inputs (4 part files on a 4-core session → the gate goes
    identity): agg_groupby exactly 1 exchange (the aggregation),
    text_quality and quality_gopher_rules exactly 0."""
    import os

    import pyarrow.parquet as pq

    from parquet_to_hyper_app_spark.plans.inspect import plan_stats
    from parquet_to_hyper_app_spark.registry import load_all

    # pyarrow slicing preserves the canonical files' physical schema
    # (timestamp annotations included) — a Spark rewrite would not
    for name in ("lineitem", "documents"):
        tbl = pq.read_table(os.path.join(SF, f"{name}.parquet"))
        out = tmp_path / f"{name}.parquet"
        out.mkdir()
        n = max(1, tbl.num_rows // 4)
        for i in range(4):
            part = tbl.slice(i * n, tbl.num_rows - 3 * n if i == 3 else n)
            pq.write_table(part, str(out / f"part-{i:05d}.parquet"))
    specs = load_all()
    budgets = {"agg_groupby": 1, "text_quality": 0, "quality_gopher_rules": 0}
    for key, budget in budgets.items():
        df = specs[key].fn(spark, str(tmp_path))
        df.foreachPartition(lambda _it: None)  # finalize AQE
        s = plan_stats(df)
        assert s.shuffles == budget, (key, s)


def test_max_partition_bytes_parses_spark_byte_strings(spark):
    """The conf parse must accept the human-readable forms Spark itself
    accepts — build_session sets '8m', which the r15
    int(removesuffix('b')) silently turned into the 128 MB fallback
    (ADVICE r15), miscounting byte splits for every 8-128 MB file."""
    from parquet_to_hyper_app_spark.sources.scanwidth import max_partition_bytes

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for raw, want in [
            ("8m", 8 * 1024**2),
            ("128MB", 128 * 1024**2),
            ("1g", 1024**3),
            ("64k", 64 * 1024),
            ("134217728", 134_217_728),
            ("134217728b", 134_217_728),
        ]:
            spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
            assert max_partition_bytes(spark) == want, raw
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_row_group_cache_replaces_stale_path_entries(spark, tmp_path):
    """An in-place rewrite of the same path must REPLACE its cache
    entry (path-keyed), not accumulate one per file version
    (ADVICE r15: unbounded growth in long-lived drivers)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    import os

    from parquet_to_hyper_app_spark.sources import filesig, scanwidth

    path = str(tmp_path / "rg_cache_probe.parquet")
    for n_rows, want_rg in ((10, 1), (20, 2)):
        tbl = pa.table({"id": list(range(n_rows))})
        pq.write_table(tbl, path, row_group_size=10)
        # distinct mtime_ns so the staleness check, not luck, decides
        time.sleep(0.01)
        assert scanwidth._row_groups(path) == want_rg
    key = ("row_groups", os.path.abspath(path))
    assert key in filesig._MEMO
    assert filesig._MEMO[key][-1] == 2
