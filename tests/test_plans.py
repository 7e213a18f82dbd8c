"""Physical-plan quality gates — the 100 TB design assertions.

Correctness says WHAT each operator computes; these tests pin HOW Spark
executes it: filters reach the parquet scan (row-group pruning), projections
prune the read schema, small dimensions broadcast (no fact-table shuffle),
and aggregations combine map-side before the exchange. A regression here is
invisible at sf0.01 and catastrophic at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.operators import filters
from etl_mssql_to_postgres_dailysync_spark.operators.merge import merge

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


def test_daily_partition_filter_pushes_to_scan(orders):
    df = orders.filter(filters.daily_partition("o_orderdate", "1995-03-15"))
    plan = plan_of(df)
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan


def test_date_range_filter_pushes_to_scan(orders):
    df = orders.filter(filters.date_range_partition("o_orderdate", "1995-03-01", "1995-06-30"))
    plan = plan_of(df)
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_projection_prunes_read_schema(orders):
    df = orders.select("o_orderkey", "o_totalprice")
    plan = plan_of(df)
    # ReadSchema carries only the referenced columns — no full-width scan
    assert "o_orderstatus" not in plan, plan
    assert "o_custkey" not in plan, plan


def test_dim_join_broadcasts(spark, orders):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    df = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert "BroadcastHashJoin" in plan_of(df)


def test_groupby_does_partial_aggregation(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = plan_of(df)
    # two HashAggregate nodes (partial below the exchange, final above)
    assert plan.count("HashAggregate") >= 2, plan


def test_merge_full_outer_single_shuffle_each_side(spark, orders):
    source = orders.limit(100)
    mr = merge(orders, source, ["o_orderkey"])
    plan = plan_of(mr.df)
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan or (
        "FullOuter" in plan
    ), plan


def test_whole_stage_codegen_covers_scan_filter_agg(orders):
    df = (
        orders.filter(filters.daily_partition("o_orderdate", "1995-03-15"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # AQE finalizes (and codegen-compiles) the plan on execution
    plan = plan_of(df)
    # codegen stages appear as `*(n)` markers; the scan->filter->partial-agg
    # pipeline must sit inside one
    assert "*(1) HashAggregate" in plan or "*(1) Filter" in plan, plan


class TestSubqueryShapePlans:
    """The TPC-H-flavor subquery rewrites must plan as the join strategies
    they claim — semi/anti/null-aware/broadcast — not as nested loops."""

    def test_exists_plans_as_left_semi_with_residual(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (
            order_priority_count,
        )

        plan = plan_of(order_priority_count(spark, SF_DIR))
        assert "LeftSemi" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_not_in_plans_null_aware_anti_join(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (
            null_aware_not_in,
        )

        plan = plan_of(null_aware_not_in(spark, SF_DIR))
        assert "LeftAnti" in plan, plan

    def test_variety_query_broadcasts_both_dims(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (
            supplier_part_variety,
        )

        plan = plan_of(supplier_part_variety(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, plan

    def test_grouping_sets_uses_single_expand(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (
            grouping_sets_revenue,
        )

        plan = plan_of(grouping_sets_revenue(spark, SF_DIR))
        assert "Expand" in plan, plan
        # one expand+aggregate, not a union of per-set scans
        assert plan.count("Expand") == 1, plan

    def test_q13_preaggregates_before_outer_join(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (
            customer_order_distribution,
        )

        plan = plan_of(customer_order_distribution(spark, SF_DIR))
        # partial aggregate on orders must appear below the outer join
        join_pos = plan.find("SortMergeJoin")
        if join_pos == -1:
            join_pos = plan.find("BroadcastHashJoin")
        agg_pos = plan.rfind("HashAggregate")
        assert join_pos != -1 and agg_pos > join_pos, plan


class TestRound2PlanQuality:
    """Plan gates for the round-2 operator families."""

    def _q(self, name, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

        return plan_of(QUERIES[name](spark, SF_DIR))

    def test_q6_predicates_reach_scan(self, spark):
        plan = self._q("revenue_forecast", spark)
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(l_shipdate" in plan, plan
        # the filter list is elided ("L...") past ~25 fields in toString;
        # IsNotNull(l_quantity) proves the quantity predicate reached the scan
        assert "IsNotNull(l_quantity)" in plan, plan

    def test_q2_dims_broadcast_fact_aggregates_first(self, spark):
        plan = self._q("min_cost_supplier", spark)
        assert plan.count("BroadcastHashJoin") >= 3, plan
        # the (part,supplier)-grain aggregation runs on the fact before joins
        assert "partial_min" in plan or "partial_finalmerge" in plan, plan

    def test_scd2_temporal_join_is_hash_join_with_residual(self, spark):
        plan = self._q("scd2_temporal_join", spark)
        assert "BroadcastHashJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_sequence_detection_single_exchange_two_windows(self, spark):
        plan = self._q("sequence_detection", spark)
        # both running-min layers share the (user_id) partitioning: the plan
        # must not re-shuffle between the two Window operators
        assert plan.count("Exchange hashpartitioning(user_id") == 1, plan

    def test_rolling_window_preaggregates_to_day_grain(self, spark):
        plan = self._q("rolling_revenue_7d", spark)
        assert "partial_" in plan, plan  # day-grain partial agg before window
        assert "RangeFrame" in plan, plan

    def test_mode_per_group_is_two_aggregations_no_window(self, spark):
        plan = self._q("mode_per_group", spark)
        assert "Window" not in plan, plan

    def test_curation_pipeline_stays_arrow_side_for_text(self, spark):
        plan = self._q("quality_filter_pipeline", spark)
        # regression guard for the exponential argmax blowup: the optimized
        # plan must keep a bounded number of marker-filter lambdas
        assert plan.count("lambdafunction") <= 24, plan.count("lambdafunction")


class TestRound2bPlanQuality:
    """Plan gates for the curation-batch + PQ additions."""

    def _q(self, name, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

        return plan_of(QUERIES[name](spark, SF_DIR))

    def test_gopher_rules_partial_aggregate_on_bigram_hashes(self, spark):
        plan = self._q("gopher_quality_rules", spark)
        # the (doc, bigram) count must combine map-side before any exchange
        assert "partial_count" in plan, plan
        # the shuffled payload is the 60-bit hash, never the bigram string
        assert "concat" not in plan.split("Exchange", 1)[1].split("\n")[0], plan

    def test_decontamination_probe_broadcasts_eval_set(self, spark):
        plan = self._q("decontamination_overlap", spark)
        # the eval shingle set must reach the corpus as a broadcast probe
        assert "BroadcastHashJoin" in plan, plan

    def test_domain_mixing_totals_broadcast(self, spark):
        plan = self._q("domain_mixing_weights", spark)
        # both scalar totals decorrelate into broadcast joins, never a
        # shuffled join on a constant key
        assert plan.count("BroadcastNestedLoopJoin") >= 1 or plan.count(
            "BroadcastHashJoin") >= 1, plan
        assert "SortMergeJoin" not in plan, plan

    def test_pq_adc_scan_is_shuffle_free_until_topk(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

        df = QUERIES["similarity_pq_adc"](spark, SF_DIR)
        plan = plan_of(df)
        # one exchange for the per-query candidate window, one for the final
        # rerank window (AQE may add reads, not extra hash exchanges)
        assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """The 100 TB semi-join-reduction lever: with runtime bloom filters on,
    a selective dimension side injects might_contain(<bloom>) into the fact
    scan BEFORE the shuffle — at scale this drops most fact rows at the
    scan instead of shuffling them. Size thresholds are lowered here only
    because the fixture is small; at real scale the defaults fire."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT").filter(
            F.col("o_totalprice") > 150000)
        j = (li.join(sel, li.l_orderkey == sel.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = plan_of(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """Stats queries (count/min/max) over parquet can be answered from file
    footers alone — with the v2 reader + aggregatePushdown the scan emits
    PushedAggregation and never materializes data pages. At 100 TB this is
    the difference between a metadata pass and a full-table read for
    row-count reconciliation (the reference's validation step, A1/A2)."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        plan = plan_of(agg)
        # behavior check, not exact-format check: the PushedAggregation line's
        # rendering is Spark-version-specific; assert the pushdown happened and
        # covers all three aggregates
        import re

        m = re.search(r"PushedAggregation: \[([^\]]*)\]", plan)
        assert m, plan
        pushed = m.group(1)
        for agg_name in ("COUNT(*)", "MIN(o_totalprice)", "MAX(o_totalprice)"):
            assert agg_name in pushed, plan
        row = agg.first()
        assert row["n"] == df.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_facade_matches_dataframe_results(spark):
    """register_views makes the surface reachable from plain spark.sql; the
    SQL form of a representative query returns exactly the DataFrame form's
    rows (same engine, same plan shape underneath)."""
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES
    from etl_mssql_to_postgres_dailysync_spark.schemas import register_views

    register_views(spark, SF_DIR)
    sql_rows = spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """).collect()
    got = {(r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["count_order"])
           for r in sql_rows}
    df_rows = QUERIES["pricing_summary"](spark, SF_DIR).collect()
    want = {(r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["count_order"])
            for r in df_rows}
    assert got == want
