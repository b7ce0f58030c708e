"""Physical-plan inspection utilities.

The 100 TB design rule is enforced here, not hoped for: every declared
query's executed plan can be checked for shuffle count, broadcast
usage, parquet filter pushdown, column pruning, and whole-stage
codegen coverage. `tools/plan_report.py` prints the full matrix;
tests/test_plans.py pins the invariants that must not regress.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (AQE-final where available) physical plan text."""
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass(frozen=True)
class PlanStats:
    shuffles: int
    broadcast_joins: int
    sortmerge_joins: int
    nested_loop_joins: int
    codegen_stages: int
    pushed_filters: bool
    scans: int

    def summary(self) -> str:
        return (
            f"shuffles={self.shuffles} bhj={self.broadcast_joins} "
            f"smj={self.sortmerge_joins} bnlj={self.nested_loop_joins} "
            f"codegen={self.codegen_stages} pushdown={self.pushed_filters} "
            f"scans={self.scans}"
        )


def plan_stats(df: DataFrame) -> PlanStats:
    # after execution, AdaptiveSparkPlan prints the FINAL plan followed
    # by an "== Initial Plan ==" section — count only the final plan
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    return PlanStats(
        shuffles=len(
            re.findall(
                r"\bExchange hashpartitioning|\bExchange rangepartitioning"
                r"|\bExchange SinglePartition",
                plan,
            )
        ),
        broadcast_joins=plan.count("BroadcastHashJoin"),
        sortmerge_joins=plan.count("SortMergeJoin"),
        nested_loop_joins=plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        # codegen'd operators carry a "*(<stage id>)" prefix in the tree
        codegen_stages=len(set(re.findall(r"\*\((\d+)\)", plan))),
        pushed_filters="PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        scans=len(re.findall(r"\bFileScan\b|\bBatchScan\b", plan)),
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns that actually reach the parquet scan (pruning check)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip())
    return cols
