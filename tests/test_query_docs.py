"""docs/QUERIES.md is generated from the registry; a docstring or
oracle edit that is not regenerated into it fails here."""

from __future__ import annotations

from parquet_to_hyper_app_spark.registry import load_all
from tools.gen_query_docs import OUT, render


def test_query_docs_match_registry():
    with open(OUT) as f:
        committed = f.read()
    assert committed == render(load_all()), (
        "docs/QUERIES.md is stale — run: python tools/gen_query_docs.py"
    )
