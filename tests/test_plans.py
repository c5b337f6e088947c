"""Physical-plan regression tests: the properties SCALE.md claims are
asserted here so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

from meerpipe_spark.queries import QUERIES


def _plan(spark, name, sf_dir) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    # four dimension joins, all broadcast — the fact table is never shuffled
    # (formatted explain prints initial + adaptive plan: counts double)
    assert plan.count("BroadcastHashJoin") in (4, 8)
    assert "SortMergeJoin" not in plan


def test_fluxcal_single_wide_shuffle(spark, sf_dir):
    plan = _plan(spark, "fluxcal_multiplier", sf_dir)
    # two logical shuffles only: the (obs,chan) agg and the per-obs agg
    # (formatted explain prints initial + adaptive plan: counts double)
    assert plan.count("Exchange") <= 4
    # the chan-window filter runs BEFORE the first aggregation: in the
    # numbered operator list the Filter node id precedes HashAggregate's
    import re

    filt = min(int(m) for m in re.findall(r"\((\d+)\) Filter", plan))
    agg = min(int(m) for m in re.findall(r"\((\d+)\) \w*HashAggregate", plan))
    assert filt < agg, plan


def test_cosine_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, "cosine_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_delay_rules_compiled_pure_map(spark, sf_dir):
    # the rules engine compiles to literal scalar expressions over the
    # obs stream: no join, no window, and (unique keys) no exchange
    plan = _plan(spark, "delay_rules_engine", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "zap_fraction", sf_dir)
    # only the three needed lineitem columns are read
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_returnflag", "l_discount", "l_tax"}


@pytest.mark.slow
def test_bucketed_colocated_join_query_zero_exchanges(spark, sf_dir):
    """The registered headline query (VERDICT r2 #7) must execute with
    ZERO Exchange nodes — bucketed scans satisfy both the merge join's
    and the aggregation's distribution requirement."""
    from meerpipe_spark.queries import QUERIES

    df = QUERIES["bucketed_colocated_join"].fn(spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "SelectedBucketsCount" in plan, plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Co-located join contract (SCALE.md): orders and lineitem bucketed
    on the order key with the same bucket count join with NO Exchange on
    either side of the SortMergeJoin."""
    from meerpipe_spark.io import load_tables, read_table, write_bucketed

    t = load_tables(spark, sf_dir)
    write_bucketed(t["orders"], "orders_b", ("o_orderkey",), 8, ("o_orderkey",))
    write_bucketed(t["lineitem"], "lineitem_b", ("l_orderkey",), 8, ("l_orderkey",))
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at 100 TB neither side broadcasts; simulate that here so the
        # planner must pick the co-located sort-merge path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_table(spark, "orders_b").join(
            read_table(spark, "lineitem_b").withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_psrcat_resolution_broadcasts_catalogue(spark, sf_dir):
    """The catalogue side of the coordinate-precedence join must be a
    broadcast — the events fact side is never shuffled for the join."""
    plan = _plan(spark, "psrcat_resolve_radec", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_importance_resample_topn_no_global_sort(spark, sf_dir):
    """Gumbel top-k compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge), and the totals ride a broadcast, not a
    shuffle."""
    plan = _plan(spark, "importance_resample_dsir", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_embedding_near_dup_lsh_is_equi_join(spark, sf_dir):
    """The LSH candidate join must be an equi-join on the bucket key —
    never a cartesian/nested-loop over vectors."""
    plan = _plan(spark, "embedding_near_dup_lsh", sf_dir)
    assert "CartesianProduct" not in plan
    # the only BroadcastNestedLoopJoin tolerated is none at all
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_is_broadcast_map_only(spark, sf_dir):
    # the probe side crosses ONLY a broadcast single-row bitset — a
    # BroadcastNestedLoopJoin over 1 row is a map-side prefilter, and
    # the petabyte side must never hit a shuffling join for membership
    plan = _plan(spark, "bloom_contamination_check", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_duplicate_spans_no_fanout_join(spark, sf_dir):
    # the dup-hash mark join must stay a (left) SEMI join: a boilerplate
    # hash present in 10^6 windows would fan out any inner join
    plan = _plan(spark, "duplicate_spans_docs", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_agg_is_two_stage(spark, sf_dir):
    # (group, register) partial agg then group rollup — both
    # HashAggregates partial-aggregated, no window, no join on the
    # sketch path itself (the exact_distinct comparison join is separate)
    plan = _plan(spark, "hll_distinct_shingles", sf_dir)
    assert "Window" not in plan


def test_doc_chunks_zero_shuffle(spark, sf_dir):
    # pure per-row explode: chunking must not exchange anything
    plan = _plan(spark, "doc_chunks", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_q17_decorrelated_no_cartesian(spark, sf_dir):
    # correlated scalar subquery must decorrelate to an aggregate join,
    # never a per-row re-scan or nested-loop
    plan = _plan(spark, "q17_small_quantity_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_in_subquery_is_semi_join(spark, sf_dir):
    plan = _plan(spark, "q18_large_volume_orders", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q22_not_exists_is_anti_join(spark, sf_dir):
    plan = _plan(spark, "q22_idle_customers", sf_dir)
    assert "LeftAnti" in plan
    # the date filter on orders is pushed below the anti join
    assert "PushedFilters" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_is_semi_join(spark, sf_dir):
    # correlated EXISTS with a non-equi date component must become one
    # LEFT SEMI hash join on orderkey, never a per-order re-scan
    plan = _plan(spark, "q4_order_priority", sf_dir)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_min_decorrelates(spark, sf_dir):
    plan = _plan(spark, "q2_min_cost_supplier", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_not_in_is_anti_join(spark, sf_dir):
    # s_suppkey is non-null, so NOT IN plans as a plain broadcast
    # LEFT ANTI (no null-aware nested loop)
    plan = _plan(spark, "q16_supplier_count", sf_dir)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_semi_plus_anti(spark, sf_dir):
    # EXISTS → LeftSemi and NOT EXISTS → LeftAnti on the same fact row
    plan = _plan(spark, "q21_waiting_suppliers", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_top20_no_global_sort(spark, sf_dir):
    plan = _plan(spark, "q10_returned_items", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_q7_dims_broadcast_no_smj_on_dims(spark, sf_dir):
    plan = _plan(spark, "q7_nation_volume", sf_dir)
    # supplier/customer/nation×2 broadcast; only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """The 100 TB skew story is AQE's skew-join split; prove it FIRES
    on this session's config rather than citing documentation: force a
    sort-merge join with one hot key and low skew thresholds, then
    assert the executed (adaptive) plan marked the join skewed."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    )}
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(0, 300_000).select(
            (F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id"))).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
        df = left.join(right, "k")
        # materialize THIS DataFrame's own query execution: count() and
        # write() each plan a SEPARATE QE, leaving the inspected adaptive
        # plan unfinalized; collectToPython runs the df's own QE
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_guardrails_catch_cartesian_and_global_window(spark, sf_dir):
    import pytest
    from pyspark.sql import Window, functions as F
    from meerpipe_spark.plans.guardrails import PlanPolicyError, check_plan

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    with pytest.raises(PlanPolicyError, match="CartesianProduct|BroadcastNestedLoop"):
        check_plan(a.crossJoin(b))
    with pytest.raises(PlanPolicyError, match="SinglePartition"):
        check_plan(a.withColumn("rn", F.row_number().over(Window.orderBy("id"))))
    # whitelisting works for the documented eval-harness case
    check_plan(a.crossJoin(b), allow=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_guardrails_pass_healthy_queries(spark, sf_dir):
    from meerpipe_spark.plans.guardrails import check_plan
    from meerpipe_spark.queries import QUERIES

    for name in ("q5_region_revenue", "fluxcal_multiplier", "binned_interval_join",
                 "scd2_user_event_type", "rolling_7d_user_value"):
        check_plan(QUERIES[name].fn(spark, sf_dir))


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path_factory):
    # write a fact table PARTITIONED on the join key, join a filtered
    # dim: Catalyst must inject a dynamicpruning subquery into the scan
    # so only matching partitions are read — the mechanism that turns a
    # 100 TB date-partitioned scan into a few partitions at runtime
    import pyspark.sql.functions as F

    from meerpipe_spark.io import load_tables

    path = str(tmp_path_factory.mktemp("dpp") / "orders_part")
    orders = load_tables(spark, sf_dir)["orders"]
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame([("F", 1)], "status STRING, w INT").filter("w = 1")
    j = fact.join(dim, fact.o_orderstatus == dim.status).agg(F.count("*"))
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_entity_match_deletion_join_no_quadratic_shapes(spark, sf_dir):
    # candidates come from an equi-join on deletion-variant keys — any
    # cartesian/nested-loop here would mean the linear path regressed
    plan = _plan(spark, "entity_match_customers", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_wedge_join_is_hash_equi(spark, sf_dir):
    # the wedge/closure joins must be equi joins; the only nested-loop
    # nodes tolerated are the 1-row scalar assembly crossJoins
    # (n_nodes × n_edges × n_triangles)
    plan = _plan(spark, "triangle_count_parts", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 2 * 2  # initial+adaptive


def test_join_hints_are_honored(spark, sf_dir):
    # SHUFFLE_HASH and MERGE hints must override the planner's default
    # (broadcast for the small dim): the knobs a 100 TB tuning session
    # actually reaches for
    from meerpipe_spark.io import load_tables

    t = load_tables(spark, sf_dir)
    li, orders = t["lineitem"], t["orders"]
    shj = li.join(orders.hint("SHUFFLE_HASH"), li.l_orderkey == orders.o_orderkey)
    plan = shj._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    smj = li.join(orders.hint("MERGE"), li.l_orderkey == orders.o_orderkey)
    plan = smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan


def test_nullsafe_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, "null_semantics_audit", sf_dir)
    # The lane's contract: both join-semantics probes (inner equi-join and
    # the null-safe <=> join) plan as HASH joins on the coalesced key.
    # r13 folded the two scalar count jobs into the plan as 1-row broadcast
    # crossJoins, which legitimately plan as BroadcastNestedLoopJoin over
    # single-row aggregates — so a blanket "no BNLJ" no longer holds; bound
    # the nested loops to exactly that scalar glue instead.
    assert "CartesianProduct" not in plan
    # (formatted explain prints tree + per-node details: counts double,
    # so 2 semantic hash joins -> >=2 mentions, 2 scalar crossJoins -> <=4)
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_observation_metrics_single_pass(spark, sf_dir):
    # df.observe collects pipeline metrics DURING the action — no
    # second scan for row counts / sums (the audit-metrics idiom for a
    # 100 TB write job)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from meerpipe_spark.io import load_tables

    obs = Observation("audit")
    li = load_tables(spark, sf_dir)["lineitem"]
    observed = li.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("l_quantity").alias("qty")
    )
    n = observed.filter(F.col("l_quantity") > 0).count()
    assert obs.get["rows"] >= n
    assert obs.get["qty"] > 0


def test_analyze_table_feeds_cbo_stats(spark, sf_dir):
    # ANALYZE TABLE ... COMPUTE STATISTICS must surface rowCount/size
    # to the optimizer — the CBO inputs a 100 TB catalog maintains so
    # join reordering and broadcast decisions use real cardinalities
    from meerpipe_spark.io import load_tables

    load_tables(spark, sf_dir)["nation"].write.mode("overwrite").saveAsTable("nation_t")
    try:
        spark.sql("ANALYZE TABLE nation_t COMPUTE STATISTICS FOR COLUMNS n_nationkey")
        stats = spark.sql("DESCRIBE EXTENDED nation_t").collect()
        txt = "\n".join(str(r) for r in stats)
        assert "Statistics" in txt, txt
        col = spark.sql("DESCRIBE EXTENDED nation_t n_nationkey").collect()
        ctxt = {r["info_name"]: r["info_value"] for r in col}
        assert ctxt.get("distinct_count") == "25", ctxt
        assert ctxt.get("num_nulls") == "0", ctxt
        # with CBO on, the optimized plan carries the catalog row count
        prev = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = spark.table("nation_t").filter("n_nationkey >= 0")
            opt = df._jdf.queryExecution().optimizedPlan()
            row_count = opt.stats().rowCount()
            assert row_count.isDefined(), "CBO rowCount missing after ANALYZE"
            assert int(str(row_count.get())) == 25
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_t")


class TestGlobalWindowDetector:
    """tools/plan_audit.find_global_windows is the registry-wide guard
    against the single-partition-WindowExec scale-killer; pin its three
    verdict classes on canned executed-plan shapes so a Spark
    plan-string drift (or an editing slip) can't silently disarm it."""

    def _fgw(self, plan):
        import importlib.util
        import os

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "plan_audit.py",
        )
        spec = importlib.util.spec_from_file_location("plan_audit", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.find_global_windows(plan)

    def test_fact_table_global_window_flagged(self):
        plan = (
            "AdaptiveSparkPlan isFinalPlan=false\n"
            "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST,"
            " specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))"
            " AS rn#1], [id#0L ASC NULLS FIRST]\n"
            "   +- Sort [id#0L ASC NULLS FIRST], false, 0\n"
            "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=41]\n"
            "         +- FileScan parquet [event_id#2L]"
        )
        assert self._fgw(plan) == ["FACT"]

    def test_rollup_fed_global_window_allowed(self):
        plan = (
            "AdaptiveSparkPlan isFinalPlan=false\n"
            "+- Window [lead(run_start#3L, 1, null) AS nxt#9L], [run_start#3L ASC NULLS FIRST]\n"
            "   +- Sort [run_start#3L ASC NULLS FIRST], false, 0\n"
            "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=41]\n"
            "         +- HashAggregate(keys=[grp#1L], functions=[min(event_id#2L)])\n"
            "            +- Exchange hashpartitioning(grp#1L, 8)\n"
            "               +- FileScan parquet [event_id#2L]"
        )
        assert self._fgw(plan) == ["rollup"]

    def test_global_aggregate_not_a_window(self):
        # partial-agg + Exchange SinglePartition + final agg: one row
        # per upstream partition flows — scale-safe, must not flag
        plan = (
            "AdaptiveSparkPlan isFinalPlan=false\n"
            "+- HashAggregate(keys=[], functions=[count(1)])\n"
            "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
            "      +- HashAggregate(keys=[], functions=[partial_count(1)])\n"
            "         +- FileScan parquet [event_id#2L]"
        )
        assert self._fgw(plan) == []


class TestUnpersistedRangeExchangeDetector:
    """tools/plan_audit.unpersisted_range_exchanges guards the
    multi-action range-boundary hazard (VERDICT r7 item 7, the
    assign_dense_ids bug class): pin both verdicts on canned plans."""

    def _mod(self):
        import importlib.util
        import os

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "plan_audit.py",
        )
        spec = importlib.util.spec_from_file_location("plan_audit", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_bare_range_exchange_counted(self):
        plan = (
            "AdaptiveSparkPlan isFinalPlan=true\n"
            "+- Project [x#1L]\n"
            "   +- Exchange rangepartitioning(x#1L ASC NULLS FIRST, 32), "
            "ENSURE_REQUIREMENTS, [plan_id=7]\n"
            "      +- FileScan parquet [x#1L]"
        )
        assert self._mod().unpersisted_range_exchanges(plan) == 1

    def test_cached_range_exchange_not_counted(self):
        # the persist pins the sampled boundaries: one execution, reused
        plan = (
            "AdaptiveSparkPlan isFinalPlan=true\n"
            "+- Project [x#1L]\n"
            "   +- InMemoryTableScan [x#1L]\n"
            "         +- InMemoryRelation [x#1L], StorageLevel(disk, memory, 1 replicas)\n"
            "               +- Exchange rangepartitioning(x#1L ASC NULLS FIRST, 32), "
            "ENSURE_REQUIREMENTS, [plan_id=7]\n"
            "                  +- FileScan parquet [x#1L]"
        )
        assert self._mod().unpersisted_range_exchanges(plan) == 0

    def test_hash_exchange_ignored(self):
        # hashpartitioning is content-deterministic — no sampling, safe
        plan = (
            "+- Exchange hashpartitioning(x#1L, 32), ENSURE_REQUIREMENTS\n"
            "   +- FileScan parquet [x#1L]"
        )
        assert self._mod().unpersisted_range_exchanges(plan) == 0
