"""Long-lived-driver hygiene: running a query leaves no name behind in
the session catalog."""

from __future__ import annotations

from parquet_to_hyper_app_spark.registry import load_all
from tests.conftest import SF_SMOKE

#: the keys that reach their inputs through SQL text
SQL_MODULE = "parquet_to_hyper_app_spark.operators.sql_surface"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_keys_leave_no_temp_views(spark):
    """Every `sql_surface` key and `udf_table` passes its input frames
    to ``spark.sql`` as keyword arguments, whose views PySpark drops
    before the call returns; the frames still run after the drop."""
    specs = load_all()
    keys = [k for k, s in specs.items() if s.fn.__module__ == SQL_MODULE] + ["udf_table"]
    before = _temp_views(spark)
    for key in keys:
        specs[key].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    assert _temp_views(spark) == before
