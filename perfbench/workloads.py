"""The benchmark's workloads: which registered query keys one pass runs.

Each workload joins two of the engine's four key families, so that two
workloads, each run many times with a fresh JVM, fit the benchmark's
time budget. The families stay apart in the traced record, so a layer's
share can be compared across them (for example the driver-gap share of
the SQL keys against that of the ETL keys).

``factor`` is the number of sf0.01-shaped copies ``datagen`` writes.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    factor: int
    groups: dict[str, tuple[str, ...]]

    @property
    def keys(self) -> tuple[str, ...]:
        return tuple(k for keys in self.groups.values() for k in keys)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_etl",
            why=(
                "TPC-H and join queries beside the Parquet-to-sink pipeline: "
                "planning, job and stage overhead next to eager file writes, "
                "commits and listing"
            ),
            factor=8,
            groups={
                "sql_analytics": (
                    "tpch_q1",
                    "tpch_q3",
                    "tpch_q6",
                    "join_inner",
                    "sort_limit",
                ),
                "etl_convert": (
                    "normalize_schema",
                    "convert_sink_events",
                    "sink_dynamic_partition_overwrite",
                    "source_orc_roundtrip",
                ),
            },
        ),
        Workload(
            name="curation_stream",
            why=(
                "near-dup miner, top-k, pandas UDF and micro-batch streams: "
                "driver loops, shuffles, the Arrow boundary, state stores and "
                "what a pass leaves behind"
            ),
            factor=1,
            groups={
                "llm_curation": (
                    "dedup_containment",
                    "similarity_topk",
                    "udf_grouped_map",
                ),
                "stream_microbatch": (
                    "stream_foreach_batch",
                    "stream_dedup_watermark",
                ),
            },
        ),
    )
}
