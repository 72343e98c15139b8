"""Plan-quality gates: pushdown, pruning, broadcast and Python-path
assertions on key queries — the properties that decide whether a plan
survives a 100× scale-up, checked statically so regressions fail fast.
"""

from __future__ import annotations

import re

import pytest

from stream_processing_with_flink_study_spark import plans
from stream_processing_with_flink_study_spark.session import conf_override
from tools import walk as walker
from tools.walk import formatted_plan as fplan

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def plan_of(spark):
    def get(name: str) -> str:
        return fplan(plans.QUERIES[name](spark, SF_SMALL))

    return get


def test_filter_pushdown_reaches_scan(plan_of):
    """tpch_q6's date/discount/quantity filters must appear in
    PushedFilters, not only in a post-scan Filter node."""
    plan = plan_of("tpch_q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_column_pruning_reaches_scan(plan_of):
    """token_stats projects 2 of documents' columns — the scan schema
    must not include the rest (lang, url, ...)."""
    plan = plan_of("token_stats")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}


def test_small_dims_broadcast(plan_of):
    """tpch_q10: customer and nation join as broadcasts; only the
    lineitem⋈orders join may shuffle."""
    plan = plan_of("tpch_q10_returned_revenue")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1


def test_lookup_join_is_broadcast_not_shuffle(plan_of):
    """async_lookup_enrich: the dim lookup must not shuffle the events
    side — broadcast join, no SortMergeJoin anywhere."""
    plan = plan_of("async_lookup_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_row_at_a_time_python(spark, monkeypatch):
    """No query may plan BatchEvalPython (row-at-a-time Python UDF) —
    Python stages must be Arrow-vectorized (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas) — nor raise another flag of
    the walker's plan audit.  The same pass checks that no
    query leaves session conf behind: the session is shared, so a
    leaked key changes the plan of every later query.  It also counts
    the parquet schema inferences: at most one per file set read."""
    from collections import Counter

    from stream_processing_with_flink_study_spark.sources import batch

    inferred: list[str] = []
    infer = batch._infer_schema

    def counting_infer(spark_, path):
        inferred.append(path)
        return infer(spark_, path)

    monkeypatch.setattr(batch, "_infer_schema", counting_infer)
    walked = walker.walk(
        spark, sorted(plans.QUERIES), SF_SMALL, [walker.plan(), walker.conf(spark)]
    )
    failed = {name: msg for name, (ok, msg, _) in walked.items() if not ok}
    assert not failed, f"plan flags or session conf changes: {failed}"
    again = {p: n for p, n in Counter(inferred).items() if n > 1}
    assert not again, f"schema inferred more than once: {again}"


def test_conf_override_restores_and_serializes(spark):
    """``conf_override`` gives each key back as it found it: an unset key
    stays unset (not pinned to its default), a set key gets its old
    value back, also when the body raises.  Nesting on the holding
    thread works; another thread entering meanwhile gets
    ``RuntimeError``, and gets in once the holder is done."""
    import threading
    from contextlib import suppress

    unset, pinned = "spark.sql.broadcastTimeout", "spark.sql.shuffle.partitions"
    before = dict(spark.conf.getAll)
    assert unset not in before

    def other_thread_enters() -> bool:
        entered = []

        def body():
            with suppress(RuntimeError), conf_override(spark, {pinned: "5"}):
                entered.append(True)

        t = threading.Thread(target=body)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
        return bool(entered)

    with pytest.raises(ZeroDivisionError):
        with conf_override(spark, {unset: "3600", pinned: "3"}):
            1 / 0
    assert dict(spark.conf.getAll) == before
    with conf_override(spark, {unset: "3600", pinned: "3"}):
        with conf_override(spark, {pinned: "2"}):
            assert spark.conf.get(pinned) == "2"
        assert spark.conf.get(pinned) == "3"
        assert spark.conf.get(unset) == "3600"
        assert not other_thread_enters()
    assert dict(spark.conf.getAll) == before
    assert other_thread_enters()
    assert dict(spark.conf.getAll) == before


def test_semi_join_projects_keys_only(plan_of):
    """tpch_q4: the EXISTS plans as LeftSemi and the lineitem side's
    scan schema is pruned to the join key + filter column."""
    plan = plan_of("tpch_q4_priority_semi")
    assert "LeftSemi" in plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    li_schemas = [s for s in m if "l_orderkey" in s]
    assert li_schemas and all(
        {c.split(":")[0] for c in s.split(",")} == {"l_orderkey", "l_returnflag"}
        for s in li_schemas
    ), plan


def test_q17_both_passes_brand_pruned(plan_of):
    """tpch_q17: both lineitem passes (limit agg + probe) join the
    broadcast brand-part filter before any exchange — no SortMergeJoin."""
    plan = plan_of("tpch_q17_small_qty_revenue")
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2


def test_q2_window_input_is_pruned(plan_of):
    """tpch_q2: the rank window runs AFTER the broadcast part filter —
    the window's exchange partitions by p_partkey, no sort-merge join
    appears, and the rn==1 filter pushes down as WindowGroupLimit
    (per-partition top-1 BEFORE the exchange, so the shuffle carries one
    row per (part, map partition))."""
    plan = plan_of("tpch_q2_min_cost_supplier")
    assert "SortMergeJoin" not in plan
    assert re.search(r"hashpartitioning\(p_partkey", plan), plan
    assert "WindowGroupLimit" in plan


def test_q22_anti_join_and_no_collect(plan_of):
    """tpch_q22: NOT EXISTS plans as LeftAnti; the scalar average enters
    via a broadcast (nested-loop on the 1-row side), not a collect."""
    plan = plan_of("tpch_q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_stateless_pipelines_have_no_shuffle(plan_of):
    """basic_pipeline (filter/map/flatMap) is narrow-only: zero
    exchanges — whole pipeline fuses into one codegen stage."""
    plan = plan_of("basic_pipeline")
    assert "Exchange" not in plan
    # formatted mode marks codegen stages with '*' + "[codegen id : N]"
    assert "codegen id" in plan


def test_flagship_single_shuffle(plan_of):
    """The flagship windowed agg shuffles exactly once (partial agg
    map-side, final agg post-exchange) — Flink's one keyBy exchange."""
    plan = plan_of("flagship_window_avg")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_avg" in plan or "partial_average" in plan.lower()


def test_q7_dims_broadcast_one_big_join(plan_of):
    """q7: supplier+nation and customer+nation broadcast; the only
    shuffle join is lineitem⋈orders."""
    plan = plan_of("tpch_q7_volume_shipping")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1


def test_q13_left_join_preserved(plan_of):
    """q13: the priority exclusion lives in the JOIN condition, so the
    plan must keep the LeftOuter build — an Inner here silently drops
    zero-order customers."""
    plan = plan_of("tpch_q13_customer_distribution")
    assert "LeftOuter" in plan


def test_q16_anti_join_broadcast(plan_of):
    """q16: the NOT IN supplier blacklist must be a broadcast left-anti
    join, never a shuffle."""
    plan = plan_of("tpch_q16_supplier_cnt")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_q20_semi_join_on_aggregate(plan_of):
    """q20: the IN-subquery must resolve as a left-semi join against the
    pre-aggregated (≤ |suppliers|) side."""
    plan = plan_of("tpch_q20_potential_promotion")
    assert re.search(r"LeftSemi", plan), plan


def test_funnel_single_sort_single_exchange(plan_of):
    """funnel_conversions: both window levels share (user, ord)
    partitioning/ordering — the whole pattern must plan ONE hash
    exchange and ONE sort, not one per level."""
    plan = plan_of("funnel_conversions")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_session_paths_reuse_user_sort(plan_of):
    """top_session_paths: the within-session rank must reuse the
    user-keyed exchange (HashPartitioning(user_id) satisfies the
    (user, session)-clustered requirement) — exactly ONE fact-table
    exchange plus the path-count exchange."""
    plan = plan_of("top_session_paths")
    n_exch = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exch <= 2, plan


def test_interpurchase_segment_attach_is_broadcast(plan_of):
    """interpurchase_interval_stats: the customer-dimension attach must
    be a BroadcastHashJoin, never a shuffle of the gap stream."""
    plan = plan_of("interpurchase_interval_stats")
    assert "BroadcastHashJoin" in plan, plan


def test_equi_depth_assignment_is_joinless(plan_of):
    """equi_depth_histogram: bucket assignment must be a flat literal
    comparison chain — no join of any kind in the plan."""
    plan = plan_of("equi_depth_histogram")
    assert "Join" not in plan, plan


def test_k_anonymity_single_scan_no_join(plan_of):
    plan = plan_of("k_anonymity_audit")
    assert "Join" not in plan, plan
    # formatted explain lists each scan twice (tree node + details)
    assert len(re.findall(r"Scan parquet", plan)) <= 2, plan


def test_ols_means_attach_is_broadcast(plan_of):
    """ols_price_model: the second pass must attach the 3-row means
    frame by BROADCAST — a shuffle here would turn the stable two-pass
    into two full fact-table exchanges."""
    plan = plan_of("ols_price_model")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_policy_replay_policy_is_broadcast(plan_of):
    """policy_replay_eval: the 4-row policy table joins the replay
    slice as a broadcast — the events side must never shuffle.  (The
    time-split predicate cannot reach PushedFilters under the round-1
    nanos encoding, where `ts` is a derived column — load_table docs.)"""
    plan = plan_of("policy_replay_eval")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mutual_info_single_scan(plan_of):
    """mutual_info_screen: all four features fan out of ONE events
    scan (explode), never one scan per feature."""
    plan = plan_of("mutual_info_screen")
    # formatted explain lists each scan twice (tree node + details)
    assert len(re.findall(r"Scan parquet", plan)) <= 2, plan


def test_calibration_single_scan_no_join(plan_of):
    plan = plan_of("calibration_bins")
    assert "Join" not in plan, plan
    assert len(re.findall(r"Scan parquet", plan)) <= 2, plan


def test_decile_lift_single_fact_exchange(plan_of):
    """decile_lift_loyal: one groupBy(custkey) exchange over orders;
    everything after runs on the reduced customer frame (the global
    ntile single-partition window is over |C| rows, accepted)."""
    plan = plan_of("decile_lift_loyal")
    n_exch = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exch <= 2, plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Spark's runtime row-level filtering: on a shuffle join whose
    build side is selectively filtered, the optimizer injects a
    bloom_filter_agg on the build side and a might_contain probe into
    the big side's scan stage — rows that cannot match are dropped
    BEFORE the shuffle, the engine-native version of the semi-join
    pre-filter the dedup pipelines hand-build.  Local-mode data sits
    under the default size thresholds, so the test pins them down the
    way a 100 TB plan would see them; production needs no overrides."""
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with conf_override(spark, overrides):
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = fplan(j)
        assert "bloom_filter_agg" in plan, plan
        # probe applied on the fact side before its exchange
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan
        # correctness unchanged by the injected filter
        assert j.first()["count"] > 0


def test_coverage_index_matches_registry():
    """COVERAGE.md's auto-generated registry index must list exactly the
    registered query set with current oracle status — every name exactly
    once, none missing, none stale (round-8 verdict item 6: grep drift
    between COVERAGE.md and plans.QUERIES becomes a red test)."""
    import os
    import re

    import __spark_entry__ as entry

    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(path) as f:
        text = f.read()
    begin = "<!-- BEGIN GENERATED REGISTRY INDEX"
    assert begin in text, "COVERAGE.md lost its generated registry index"
    block = text[text.index(begin): text.index(
        "<!-- END GENERATED REGISTRY INDEX -->"
    )]
    listed = re.findall(r"^- `([a-z0-9_]+)`( \(rows-only\))?$",
                        block, re.M)
    names = [n for n, _ in listed]
    assert len(names) == len(set(names)), "duplicate names in the index"
    queries = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert set(names) == queries, (
        f"index drift: missing={sorted(queries - set(names))[:5]} "
        f"stale={sorted(set(names) - queries)[:5]} — rerun "
        "tools/gen_coverage_index.py"
    )
    idx_rows_only = {n for n, tag in listed if tag}
    assert idx_rows_only == queries - oracles, (
        "rows-only tags drifted — rerun tools/gen_coverage_index.py"
    )
