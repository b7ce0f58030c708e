"""Plan-shape invariants for the 100 TB posture (executed-plan based).

These pin the properties that make the declared queries scale: no
accidental cartesian products, dimension joins broadcast, filters
pushed to parquet, bounded shuffle counts. A regression here means a
query got slower at scale even if its values still match the oracle.
"""

from __future__ import annotations

import pytest

from parquet_to_hyper_app_spark.plans.inspect import (
    physical_plan,
    plan_stats,
    read_schema_columns,
)
from parquet_to_hyper_app_spark.registry import load_all
from tests.conftest import SF_SMOKE, count_jobs

#: queries allowed a broadcast-nested-loop join: the broadcast side is
#: a deliberately tiny query/probe set, which is the intended pattern.
BNLJ_ALLOWED = {
    "similarity_topk",
    "dedup_embedding",
    # the ANN paths embed similarity_topk's broadcast-query exact pass
    # as their recall_at_k audit — same tiny-broadcast-side pattern
    "similarity_ivf",
    "similarity_kmeans_ivf",
    "timeseries_gapfill",  # 1-row global-bounds broadcast onto the user list
    "text_cross_entropy",  # 1-row corpus-total broadcast onto the vocab table
    "text_perplexity_bucket",  # composes text_cross_entropy: same benign BNLJ
    "agg_histogram",  # 1-row global min/max broadcast onto the scan
    "text_vocab_coverage",  # 3-row size list x 1-row vocab bounds
    "stream_dedup_watermark",  # key set x per-key min join, both bounded
    # Q11/Q22 attach a 1-row global aggregate (value threshold / avg
    # balance) to every group row: crossJoin(broadcast(1-row)) is the
    # canonical Spark shape for a scalar subquery — the "nested loop"
    # probes a single broadcast row, O(n) with no shuffle, safe at any
    # scale. Rewriting as a join would add a shuffle for nothing.
    "tpch_q11",
    "tpch_q22",
    # exact TF-IDF attaches the 1-row corpus document count to the
    # per-(doc,term) TF table — the same scalar-subquery shape as
    # Q11/Q22: one broadcast row probed O(n), no shuffle
    "text_tfidf",
}
#: side-effecting / streaming queries excluded from pure-plan checks
SKIP = {"stream_watermark_late", "convert_sink", "convert_sink_events"}


@pytest.fixture(scope="module")
def executed_stats(spark):
    specs = load_all()
    stats = {}
    for key, spec in specs.items():
        if key in SKIP:
            continue
        df = spec.fn(spark, SF_SMOKE)
        df.foreachPartition(lambda _it: None)  # finalize AQE plan
        stats[key] = plan_stats(df)
    return stats


def test_no_unintended_nested_loop_joins(executed_stats):
    bad = {
        k: s.nested_loop_joins
        for k, s in executed_stats.items()
        if s.nested_loop_joins > 0 and k not in BNLJ_ALLOWED
    }
    assert not bad, f"unintended cartesian/BNLJ plans: {bad}"


def test_dimension_joins_are_broadcast(executed_stats):
    assert executed_stats["join_multiway"].broadcast_joins >= 2  # nation+region
    assert executed_stats["join_multiway"].sortmerge_joins == 0  # AQE: all BHJ at this SF


def test_shuffle_budgets(executed_stats):
    # single-agg queries: exactly one partial+final exchange
    for key in ("agg_rollup", "agg_cube", "sessionize"):
        assert executed_stats[key].shuffles <= 1, key
    # agg_groupby and text_quality additionally carry the r15
    # scan_spread exchange on ROW-GROUP-LIMITED local testdata only
    # (sources/scanwidth.py gate; on production layouts the budget is
    # 1 and 0 respectively — test_scanwidth.py pins the identity)
    assert executed_stats["agg_groupby"].shuffles <= 2, "agg_groupby"
    assert executed_stats["text_quality"].shuffles <= 1, "text_quality"
    # windows reuse one partitioning for all frames
    for key in ("window_lag_lead", "window_moving_agg", "window_running_total"):
        assert executed_stats[key].shuffles == 1, key
    # narrow projections must not shuffle at all
    for key in ("clean_numeric", "normalize_schema", "scalar_math"):
        assert executed_stats[key].shuffles == 0, key


#: keys whose build (``QuerySpec.fn``) only plans: once the tables they
#: read have had their schemas resolved, building them runs no Spark job
JOB_FREE_BUILDS = (
    "sort_limit",
    "normalize_schema",
    "join_inner",
    "tpch_q3",
    # the sink is written once per source state; the read-back passes
    # the orders schema instead of inferring one from the files
    "partitioned_sink_prune",
)


def test_warm_builds_run_no_jobs(spark):
    """Jobs-per-key budget for the build step: after one warm call, a
    repeated build of a plan-only key pays no schema-inference (or any
    other) job before its result is requested."""
    specs = load_all()
    for key in JOB_FREE_BUILDS:
        fn = specs[key].fn
        fn(spark, SF_SMOKE)
        assert count_jobs(spark, lambda: fn(spark, SF_SMOKE)) == 0, key


def test_warm_event_stream_starts_no_job(spark):
    """A file stream takes its schema and timestamp unit from the same
    memo as the batch table: once ``events`` is loaded, setting up its
    stream reads no data (no unit probe, no inference)."""
    from parquet_to_hyper_app_spark.catalog import load_table
    from parquet_to_hyper_app_spark.streaming.source import events_file_stream, stream_run

    load_table(spark, SF_SMOKE, "events")
    with stream_run() as run:
        assert count_jobs(spark, lambda: events_file_stream(spark, SF_SMOKE, run)) == 0


#: jobs a warm build of each sink key may start at sf0.001: its writes,
#: the shuffle-map and range-sampling jobs those writes plan, and the
#: eager detach of a streamed result. Every read of a file the key has
#: just written passes the schema it was written with, so none of them
#: is a schema-inference job; an inferring read-back would add one.
SINK_BUILD_JOB_CEILINGS = {
    "convert_sink": 1,
    "convert_sink_events": 1,
    "sink_compacted": 4,
    "sink_range_clustered": 3,
    "sink_zorder_clustered": 7,
    "stream_incremental_agg": 1,
}


@pytest.mark.parametrize("key", sorted(SINK_BUILD_JOB_CEILINGS))
def test_sink_read_backs_infer_no_schema(spark, key):
    """A warm build of a sink key starts no job beyond the work it
    writes: no read-back of its own output infers a schema."""
    fn = load_all()[key].fn
    fn(spark, SF_SMOKE)
    n = count_jobs(spark, lambda: fn(spark, SF_SMOKE))
    assert n <= SINK_BUILD_JOB_CEILINGS[key], n


#: jobs a warm dedup_containment run (build + noop write) may start at
#: sf0.001: the widening exchange, the gram index exchange (read by both
#: sides of the co-occurrence self-join), the count exchange, the eager
#: checkpoint and the write; AQE may add a broadcast stage
CONTAINMENT_JOB_BUDGET = 9


def test_containment_job_budget(spark):
    """Jobs-per-key budget for the registered containment miner, which
    thresholds the co-occurrence counts directly: a candidate phase
    (df and rank windows, prefix join, pair dedup, final join) would
    bring back its own exchanges and jobs."""
    fn = load_all()["dedup_containment"].fn

    def run():
        fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run()
    n = count_jobs(spark, run)
    assert n <= CONTAINMENT_JOB_BUDGET, n


def test_registered_containment_plan_has_no_window(spark, lazy_checkpoints):
    """The registered (uncapped) containment plan ranks nothing: no df
    window, no per-doc prefix rank."""
    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame

    lazy = containment_frame(spark, SF_SMOKE)
    lazy.foreachPartition(lambda _it: None)
    plan = physical_plan(lazy)
    assert "Window" not in plan, plan
    assert "Generate inline" in plan, plan  # both orientations from one count row


def test_bigram_hash_frame_adds_no_exchange(spark):
    """The miners' gram frame is narrow: widening happens once, where
    the table is read (`scan_spread`), so the helper itself plans no
    exchange even over a one-row-group scan."""
    from parquet_to_hyper_app_spark.catalog import load_table
    from parquet_to_hyper_app_spark.operators.llm.dedup import bigram_hash_frame

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = physical_plan(bigram_hash_frame(docs))
    assert "Exchange" not in plan, plan


def test_containment_pair_shuffle_runs_at_session_width(spark, lazy_checkpoints):
    """The containment miner's (lang, h) gram-index exchange is pinned
    at the session shuffle width, whatever the input size. Checked on
    the lazy physical plan, without executing it."""
    import os
    import re

    from parquet_to_hyper_app_spark.operators.llm.corpus import containment_frame

    sf01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
    lazy = containment_frame(spark, sf01)
    plan = physical_plan(lazy)
    widths = re.findall(r"hashpartitioning\(lang#\d+, h#\d+L?, (\d+)\)", plan)
    assert widths, plan
    want = spark.conf.get("spark.sql.shuffle.partitions")
    assert set(widths) == {want}, (widths, want)


def test_whole_stage_codegen_everywhere(executed_stats):
    no_codegen = {
        k
        for k, s in executed_stats.items()
        # format round-trips read json/csv text sources whose scans sit
        # outside codegen by design; everything parquet must codegen
        if s.codegen_stages == 0 and s.scans > 0 and not k.startswith("source_")
    }
    assert not no_codegen, f"queries without any codegen span: {no_codegen}"


def test_column_pruning_reaches_scan(spark):
    specs = load_all()
    cols = read_schema_columns(specs["filter_project"].fn(spark, SF_SMOKE))
    assert set(cols) == {"l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"}


def test_lsh_pipeline_plan_has_no_nested_loop(spark, lazy_checkpoints):
    """The registry dedup queries materialize eagerly (plan truncated
    to an RDD scan), so the plan invariant must be asserted on the
    LAZY form of the LSH pipeline explicitly."""
    from parquet_to_hyper_app_spark.catalog import load_table
    from parquet_to_hyper_app_spark.operators.llm.dedup import verified_near_dup_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    lazy = verified_near_dup_pairs(docs)
    lazy.foreachPartition(lambda _it: None)
    s = plan_stats(lazy)
    assert s.nested_loop_joins == 0, s
    assert s.shuffles <= 4, s  # signatures + band self-join + verify joins


def test_zorder_sink_prunes_both_dims(spark):
    """The z-order read-back must push BOTH dimension predicates to the
    parquet scan (row-group pruning is what the layout exists for)."""
    from parquet_to_hyper_app_spark.plans.inspect import plan_stats

    df = load_all()["sink_zorder_clustered"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.pushed_filters, s
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_custkey" in plan.split("PushedFilters")[1][:400], plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:400], plan


def test_asof_join_preaggregates_before_shuffle(spark):
    """join_asof must collapse the event x prior-orders fanout with a
    map-side partial aggregate (skew posture), not push the full fanout
    through a shuffle into a window."""
    df = load_all()["join_asof"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan


def test_bucketed_join_is_exchange_free(spark):
    """join_bucketed must read both pre-bucketed sides aligned: a
    sort-merge join with ZERO shuffle Exchange on either side. This is
    the whole point of paying the bucketed write once."""
    df = load_all()["join_bucketed"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.sortmerge_joins == 1, s
    assert s.shuffles == 0, s


def test_salted_agg_is_two_phase(spark):
    """agg_salted_skew must shuffle twice — once on (key, salt), once
    on key — never once on the raw 3-value key."""
    df = load_all()["agg_salted_skew"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.shuffles == 2, s
    assert s.nested_loop_joins == 0, s


def test_tpch_star_joins_broadcast_dims(executed_stats):
    """The round-2 TPC-H additions must keep every bounded dimension on
    the broadcast side; the only repartition joins are the fact-fact
    ones (orders⋈customer / lineitem⋈orders / lineitem⋈per-part agg)."""
    assert executed_stats["tpch_q5"].broadcast_joins >= 3, executed_stats["tpch_q5"]
    assert executed_stats["tpch_q8"].broadcast_joins >= 3, executed_stats["tpch_q8"]
    for k in ("tpch_q5", "tpch_q7", "tpch_q8", "tpch_q10", "tpch_q13", "tpch_q15", "tpch_q17"):
        assert executed_stats[k].nested_loop_joins == 0, (k, executed_stats[k])


def test_tpch_q7_broadcasts_dims_pre_aqe(spark):
    """At sf0.001 no supplier sits in the q7 nation pair, so AQE's
    empty-relation propagation collapses the executed plan to a
    LocalTableScan (correct, and itself worth pinning). The broadcast
    shape is asserted on the pre-execution plan instead."""
    df = load_all()["tpch_q7"].fn(spark, SF_SMOKE)
    lazy_plan = df._jdf.queryExecution().executedPlan().toString()
    assert lazy_plan.count("BroadcastHashJoin") >= 2, lazy_plan
    df.foreachPartition(lambda _it: None)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "EmptyRelation" in final or "LocalTableScan" in final, final


def test_tpch_q10_top20_is_take_ordered(spark):
    """Q10's top-20 must plan as TakeOrderedAndProject (O(k) heap per
    partition), never a global Sort followed by Limit."""
    df = load_all()["tpch_q10"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q17_self_join_copartitioned(spark):
    """Q17 joins lineitem with its own per-part aggregate; both sides
    hash-partition on partkey so the join itself adds no third
    exchange (2 shuffles: fact side + agg side, reused by the join)."""
    df = load_all()["tpch_q17"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.shuffles <= 3, s  # partkey x2 + final single-partition agg
    assert s.nested_loop_joins == 0, s


def test_q9_window_bridge_is_single_exchange(spark):
    """Q9's supply cost is a window min over the FILTERED lineitem
    (not a full-table aggregate joined back): the executed plan must
    show exactly one (partkey, suppkey) exchange feeding a Window, the
    final agg exchange, no sort-merge joins, and only one lineitem
    scan (the bridge form scanned it twice)."""
    df = load_all()["tpch_q9"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.shuffles <= 2, s  # window partitioning + final agg
    assert s.sortmerge_joins == 0 and s.nested_loop_joins == 0, s
    # AQE's toString appends an "== Initial Plan ==" duplicate; count
    # scans only in the final-plan section above it
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" in final
    li_scans = sum(
        1 for ln in final.splitlines() if "FileScan" in ln and "lineitem" in ln
    )
    assert li_scans == 1, f"lineitem must scan once, saw {li_scans}"


def test_sample_temperature_corpus_side_is_narrow(spark):
    """corpus_sample_temperature's full-corpus pass must be a narrow
    map over a broadcast of the per-source rate frame: the only
    shuffles in the plan belong to the TINY per-source aggregate (hash
    agg + single-partition window), and the corpus side joins via
    BroadcastHashJoin — never a shuffle of the documents table and
    never a nested loop (the null-safe join must compile to
    coalesce/isnull HASH keys, not BNLJ)."""
    df = load_all()["corpus_sample_temperature"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.broadcast_joins == 1, s
    assert s.nested_loop_joins == 0, s
    assert s.shuffles == 2, s  # per-source agg + window total, both tiny


def test_gopher_rules_plan_is_narrow(spark):
    """quality_gopher_rules is the cheap pre-filter that must run
    BEFORE anything wide: pure per-row expressions — zero joins, no
    Python, and the scan reads only doc_id + text. One exchange is
    allowed on ROW-GROUP-LIMITED local testdata only (the r15
    scan_spread; identity on production layouts, where the budget
    stays zero — test_scanwidth.py pins that)."""
    df = load_all()["quality_gopher_rules"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.shuffles <= 1, s
    assert s.broadcast_joins == 0 and s.sortmerge_joins == 0 and s.nested_loop_joins == 0, s
    assert "Python" not in physical_plan(df)
    assert set(read_schema_columns(df)) == {"doc_id", "text"}


def test_dedup_incremental_plan_reduces_base_to_hashes(spark):
    """The base corpus — the 100 TB side — must reach the join as its
    DISTINCT hash projection (partial agg before the exchange), never
    as text: the base-side scan reads only the columns the hash needs,
    and no nested loop appears anywhere."""
    df = load_all()["dedup_incremental"].fn(spark, SF_SMOKE)
    df.foreachPartition(lambda _it: None)
    s = plan_stats(df)
    assert s.nested_loop_joins == 0, s
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # partial-then-final distinct on the hash: two HashAggregate nodes
    # keyed on content_hash around the exchange
    assert plan.count("HashAggregate(keys=[content_hash") >= 2, plan
