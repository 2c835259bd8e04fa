"""Physical-plan audits: assert the plans we designed for are the
plans Spark actually runs — pushdown reaching the scan, broadcast
where a side is small, no cartesian blowups, window group limits.

These are the 100 TB guarantees: a regression that un-pushes a filter
or flips a broadcast join to sort-merge changes nothing at sf0.001 but
everything at scale, so the suite pins the plan shape, not timings.
"""

from __future__ import annotations

import os

import pytest

from etl_8x8_spark.plans.audit import plan_string
from etl_8x8_spark.registry import all_queries

from tests.conftest import fixture_dir


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def plan_of(spark, sf_dir, queries, name) -> str:
    return plan_string(queries[name].builder(spark, sf_dir))


class TestPushdown:
    def test_scan_parquet_pushes_filters_and_prunes_columns(
        self, spark, sf_dir, queries
    ):
        plan = plan_of(spark, sf_dir, queries, "scan_parquet")
        assert "PushedFilters: [" in plan
        assert "l_quantity" in plan.split("PushedFilters:")[1].split("]")[0]
        # projection pruned to the 4 referenced columns — the wide
        # lineitem schema must not reach the scan
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_extendedprice" in read_schema
        assert "l_tax" not in read_schema

    def test_q1_filter_reaches_scan(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "agg_hash_group")
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "l_shipdate" in pushed

    def test_partition_pruning_on_partitioned_sink(self, spark, sf_dir):
        """A filter on the partition column of a partitioned dataset
        must prune at the directory level (PartitionFilters), not scan
        all partitions and filter rows."""
        import os

        from pyspark.sql import functions as F

        from etl_8x8_spark.plans.audit import plan_string
        from etl_8x8_spark.sources.readers import load_table, scratch_dir
        from etl_8x8_spark.sources.sinks import write_parquet_partitioned

        orders = load_table(spark, sf_dir, "orders")
        path = os.path.join(scratch_dir(), "test_pruning")
        write_parquet_partitioned(orders, path, ["o_orderstatus"])
        pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
        plan = plan_string(pruned)
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "o_orderstatus" in pf

    def test_q1_partial_aggregation(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "agg_hash_group")
        # partial (map-side) + final hash aggregate around one shuffle
        assert plan.count("HashAggregate") >= 2
        assert "partial_" in plan


class TestJoinStrategies:
    def test_dim_lookup_broadcasts(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "join_broadcast_lookup")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_semi_anti_are_joins_not_cartesian(self, spark, sf_dir, queries):
        for name in ("join_semi", "join_anti"):
            plan = plan_of(spark, sf_dir, queries, name)
            assert "CartesianProduct" not in plan
            assert "LeftSemi" in plan or "LeftAnti" in plan

    def test_range_join_broadcasts_band_table(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "join_range_theta")
        # 3-row band dim -> broadcast nested loop, never a shuffle
        assert "BroadcastNestedLoopJoin" in plan
        assert "Exchange hashpartitioning" not in plan

    def test_sim_search_broadcasts_queries(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "sim_search_topk")
        assert "BroadcastNestedLoopJoin" in plan
        # the corpus side must not shuffle for scoring; the only
        # exchange is the per-query top-k window
        assert plan.count("Exchange hashpartitioning") <= 1

    def test_asof_is_single_shuffle_no_join(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "join_asof_event")
        # union + one window over user_id: linear, no pair explosion
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Window" in plan


class TestBucketedJoin:
    def test_bucketed_join_has_no_join_side_exchange(
        self, spark, sf_dir, queries
    ):
        """With both tables co-bucketed on the join key, the join
        needs no exchange: each task sort-merges bucket i of each
        side. Broadcast is disabled so the bucketed path (what a
        large-large join uses at scale, where nothing broadcasts) is
        the one under test; the only exchange left is the final
        small-key aggregation."""
        # preferSortMergeJoin pinned back to true for this test: the
        # session default is now false (r15, guide §9), and the
        # bucketed large-large path pinned here is the sort-merge one.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        try:
            plan = plan_of(spark, sf_dir, queries, "join_bucketed_colocated")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set("spark.sql.join.preferSortMergeJoin", prev_smj)
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        join_subtree = plan.split("SortMergeJoin")[1]
        assert "Exchange hashpartitioning" not in join_subtree, (
            "bucketed sides must not re-shuffle"
        )
        assert plan.count("Exchange hashpartitioning") == 1  # final agg only

    def test_bucketed_files_survive_new_sessions(self, spark, sf_dir):
        """The bucketed copies are derived fixtures: a new session, and
        a catalog that lacks the tables (a new application), register
        a table over the published dirs and rewrite nothing."""
        from etl_8x8_spark.sources.bucketing import (
            _table_name,
            bucketed_orders_lineitem,
        )

        o, _ = bucketed_orders_lineitem(spark, sf_dir)
        n = o.count()
        dirs = [
            fixture_dir(sf_dir, f"{t}_bucketed_8") for t in ("orders", "lineitem")
        ]

        def stats() -> list[tuple[int, int]]:
            return [(st.st_ino, st.st_mtime_ns) for st in map(os.stat, dirs)]

        before = stats()
        bucketed_orders_lineitem(spark.newSession(), sf_dir)
        assert stats() == before
        for d in dirs:
            spark.sql(f"DROP TABLE {_table_name(d)}")
        o2, _ = bucketed_orders_lineitem(spark.newSession(), sf_dir)
        assert stats() == before
        assert o2.count() == n


class TestWindowAndLimit:
    def test_topn_uses_window_group_limit(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "window_rank_topn_per_group")
        assert "WindowGroupLimit" in plan

    def test_global_topk_is_take_ordered(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "sort_limit_topk")
        assert "TakeOrderedAndProject" in plan
        # no global sort materialization
        assert "Exchange rangepartitioning" not in plan


class TestNoSlowPaths:
    def test_no_python_row_udfs_or_cartesians_anywhere(self, spark, sf_dir):
        """Sweep every registered batch plan: no row-at-a-time Python,
        no cartesian products, and nothing leaves the JVM except the
        sanctioned operators (jwt_verify pandas_udf; the multimodal
        binary passes, which ARE the Python-worker plumbing)."""
        from etl_8x8_spark.plans.audit import audit_all

        allowed_python = {
            "jwt_verify",
            "multimodal_decode",
            "multimodal_frames",
            "multimodal_features",
            "multimodal_resize",
            # a Python DataSource is Python by definition — the point
            # of the operator is the custom-connector path itself
            "scan_custom_source",
            # the UDTF surface demo — partition-parallel Python table
            # function IS the operator
            "fn_udtf_installments",
        }
        for name, facts in audit_all(spark, sf_dir).items():
            assert not facts["row_at_a_time_python"], (
                f"{name}: row-at-a-time UDF"
            )
            assert not facts["cartesian"], f"{name}: cartesian product"
            if name not in allowed_python:
                assert not facts["python_eval"], f"{name}: python in plan"


class TestNewOperatorPlans:
    def test_sessionize_single_shuffle_single_sort(
        self, spark, sf_dir, queries
    ):
        """All four window expressions must share one (partition,
        order) spec: exactly one Exchange and one Sort, no second
        shuffle for position-in-session."""
        plan = plan_of(spark, sf_dir, queries, "window_sessionize")
        assert plan.count("Exchange") == 1
        assert plan.count("+- Sort") + plan.count(":- Sort") <= 1

    def test_clustered_sink_pushes_range_predicate(
        self, spark, sf_dir, queries
    ):
        """The read-back scan over the clustered layout must carry the
        shipdate range in PushedFilters — row-group skipping only
        happens when the predicate reaches the reader."""
        plan = plan_of(spark, sf_dir, queries, "sink_sorted_clustered")
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "l_shipdate" in pushed
        assert "GreaterThanOrEqual" in pushed and "LessThan" in pushed

    def test_widen_for_python_sizes_stage_to_input(self, spark, sf_dir):
        """A Python stage gets one task per PY_TASK_BYTES of estimated
        input, at most one per slot, decided from plan statistics
        without running a job."""
        from etl_8x8_spark.functions.udfs import PY_TASK_BYTES, widen_for_python
        from etl_8x8_spark.sources.readers import load_table

        sc = spark.sparkContext
        slots = sc.defaultParallelism
        events = load_table(spark, sf_dir, "events")
        # one partition, estimated at 8 bytes per row: 8 MB
        big = spark.range(0, 10**6, 1, 1)
        already = spark.range(0, 10**6, 1, slots)
        # an RDD-backed plan has no size estimate (Long.MaxValue)
        unsized = spark.createDataFrame(sc.parallelize([(1,)], 1), "x long")
        assert big.rdd.getNumPartitions() == 1
        size = big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(size) > slots * PY_TASK_BYTES

        sc.setJobGroup("widen_for_python", "widen_for_python")
        try:
            small = widen_for_python(events)
            wide = widen_for_python(big)
            same = widen_for_python(already)
            full = widen_for_python(unsized)
        finally:
            sc._jsc.clearJobGroup()
        assert sc.statusTracker().getJobIdsForGroup("widen_for_python") == []

        # the sf0.001 events scan is far below one task's bytes: it
        # keeps its scan width and gains no exchange
        assert small is events
        assert "Exchange" not in plan_string(small)
        assert wide.rdd.getNumPartitions() == slots
        assert full.rdd.getNumPartitions() == slots
        # already-wide inputs pass through untouched (no extra shuffle)
        assert same is already

    def test_tpch_shapes_never_broadcast_lineitem(
        self, spark, sf_dir, queries
    ):
        """The fact table must not be broadcast even when post-filter
        size stats dip under the threshold (regression: Catalyst chose
        BuildRight broadcast of filtered lineitem in Q3 at test SF)."""
        for name in ("sql_tpch_q3_shape", "sql_tpch_q5_shape",
                     "sql_tpch_q7_shape", "sql_tpch_q10_shape",
                     "sql_tpch_q14_shape", "sql_tpch_q8_shape",
                     "sql_tpch_q9_shape", "sql_tpch_q11_shape",
                     "sql_tpch_q12_shape", "sql_tpch_q19_shape"):
            plan = plan_of(spark, sf_dir, queries, name)
            for chunk in plan.split("BroadcastExchange")[1:]:
                # the broadcast child's scan appears within the first
                # ~1200 chars; match the scanned FILE, not a column
                # name (aggregate aliases like sum(l_extendedprice..)
                # leak into unrelated Filter lines downstream)
                head = chunk[:1200]
                assert "lineitem.parquet" not in head, name

    def test_q19_disjunction_stays_hash_join(self, spark, sf_dir, queries):
        """The three-clause OR references both join sides, so no clause
        pushes below the join — but the p_partkey equi-key must still
        carry a BroadcastHashJoin with the disjunction as a residual,
        never a cartesian fallback."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q19_shape")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q21_exists_pair_compiles_to_semi_and_anti(
        self, spark, sf_dir, queries
    ):
        """EXISTS -> left semi, NOT EXISTS -> left anti, both on the
        l_orderkey equi-key (the supplier inequality rides as a join
        residual). A nested-loop fallback here is quadratic in order
        size and would be a 100 TB killer."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q21_shape")
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q17_correlated_avg_decorrelates(self, spark, sf_dir, queries):
        """The per-part scalar AVG must decorrelate into an aggregate
        joined on l_partkey (avg appears as a partial below a join),
        not a per-row re-execution (no nested-loop / cartesian)."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q17_shape")
        assert "partial_avg" in plan
        assert "CartesianProduct" not in plan

    def test_q13_on_clause_filter_stays_in_left_join(
        self, spark, sf_dir, queries
    ):
        """The priority filter lives in the LEFT JOIN's ON clause;
        pushing it to a WHERE would delete zero-order customers. The
        plan must keep LeftOuter AND must not filter the customer
        (left) side on o_orderpriority."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q13_shape")
        assert "LeftOuter" in plan

    def test_q22_anti_join_and_scalar_subquery(self, spark, sf_dir, queries):
        """NOT EXISTS -> left anti against orders; the average-balance
        threshold is a one-row scalar subquery, not a per-row
        re-aggregation."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q22_shape")
        assert "LeftAnti" in plan
        assert "Subquery" in plan or "scalar-subquery" in plan

    def test_existence_mark_compiles_to_existence_join(
        self, spark, sf_dir, queries
    ):
        """EXISTS OR'd with a plain filter can't become a semi join
        (unmatched rows may still qualify) — it must become an
        ExistenceJoin mark column, never a nested-loop fallback."""
        plan = plan_of(spark, sf_dir, queries, "join_existence_mark")
        assert "ExistenceJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_cdc_apply_windows_the_delta_not_the_snapshot(
        self, spark, sf_dir, queries
    ):
        """Changelog compaction must window over the delta (filtered
        residue classes), never the full snapshot: the Window's child
        must carry the changelog's op/seq columns, and the snapshot
        side must reach the union through an anti join."""
        plan = plan_of(spark, sf_dir, queries, "cdc_apply_changes")
        assert "LeftAnti" in plan
        win = plan.split("Window")[1]
        assert "seq" in win[:800]

    def test_lateral_topk_gets_partial_window_group_limit(
        self, spark, sf_dir, queries
    ):
        """The correlated LATERAL-LIMIT must decorrelate into a window
        top-K with a PARTIAL WindowGroupLimit below the exchange (map
        tasks forward <= K rows per key), never a per-row re-execution
        or nested loop."""
        plan = plan_of(spark, sf_dir, queries, "join_lateral_topk")
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan.split("WindowGroupLimit")[-1][:200] or \
            plan.count("WindowGroupLimit") >= 2
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_forward_fill_single_window_single_shuffle(
        self, spark, sf_dir, queries
    ):
        """ffill is ONE user_id window: exactly one exchange over the
        events relation, no self-join."""
        plan = plan_of(spark, sf_dir, queries, "window_forward_fill")
        assert plan.count("Exchange") == 1
        assert "Join" not in plan

    def test_q6_scan_bound_no_wide_shuffle(self, spark, sf_dir, queries):
        """Q6 is filter+global-sum: all three predicates must reach the
        parquet scan, the read schema must be the 3 referenced columns,
        and the only exchange allowed is the single-partition gather of
        per-task partial sums — any keyed shuffle is a plan bug."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q6_shape")
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "l_shipdate" in pushed
        assert "l_discount" in pushed
        assert "l_quantity" in pushed
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_extendedprice" in read_schema
        assert "l_orderkey" not in read_schema
        exchanges = plan.count("Exchange")
        singles = plan.count("SinglePartition")
        assert exchanges == singles, plan

    def test_q4_exists_compiles_to_semi_join(self, spark, sf_dir, queries):
        """The correlated EXISTS must rewrite to a left semi join (at
        most one match per order, no fan-out), never a cartesian or an
        aggregate-then-inner-join."""
        plan = plan_of(spark, sf_dir, queries, "sql_tpch_q4_shape")
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_q1_q14_partial_aggregate_map_side(self, spark, sf_dir, queries):
        """Q1 and Q14 group a full fact slice to a handful of rows; the
        shuffle must carry partial aggregates (partial_sum below the
        exchange), not raw fact rows."""
        for name in ("sql_tpch_q1_shape", "sql_tpch_q14_shape"):
            plan = plan_of(spark, sf_dir, queries, name)
            assert "partial_sum" in plan, name

    def test_clustered_layout_actually_skips_row_groups(self, spark, sf_dir):
        """Quantitative skipping proof: the one-year read over the
        DATE-clustered layout must emit strictly fewer rows from the
        scan than the table holds (row groups outside the range are
        skipped via parquet stats). Guards the NTZ regression — a
        TIMESTAMP_NTZ cluster key silently disables parquet filter
        translation and the scan reads everything."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.plans.audit import scan_metrics
        from etl_8x8_spark.registry import all_queries

        # materialize the clustered layout
        all_queries()["sink_sorted_clustered"].builder(spark, sf_dir).collect()
        path = fixture_dir(sf_dir, "lineitem_clustered")
        total = spark.read.parquet(path).count()
        filtered = spark.read.parquet(path).filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        m = scan_metrics(filtered)
        assert m["numOutputRows"] < total, (
            f"scan emitted all {total} rows - no row groups skipped"
        )


class TestR3Plans:
    def test_bloom_probe_filters_before_join_shuffle(
        self, spark, sf_dir, queries
    ):
        """The Bloom probe must sit in the lineitem SCAN stage —
        xxhash64(l_orderkey, ...) appears in a Filter BELOW the
        shuffle join's Exchange, so the pruned rows never shuffle.
        (The exact join may plan as SortMergeJoin or — with the r15
        preferSortMergeJoin=false default — ShuffledHashJoin; the
        pinned property holds for either.)"""
        plan = plan_of(spark, sf_dir, queries, "join_bloom_pruned")
        lines = plan.splitlines()
        # the probe lands as the broadcast-nested-loop condition over
        # the lineitem scan
        probe_line = next(
            i for i, l in enumerate(lines) if "xxhash64(l_orderkey" in l
        )
        merge_line = next(
            i for i, l in enumerate(lines)
            if "SortMergeJoin" in l or "ShuffledHashJoin" in l
        )
        shuffle_line = next(
            i for i, l in enumerate(lines)
            if "Exchange hashpartitioning(l_orderkey" in l
        )
        # plans print top-down (a node above its inputs): probe below
        # the lineitem-side exchange == probe executes BEFORE the
        # shuffle; the exact join that scrubs false positives is the
        # sort-merge above it
        assert merge_line < shuffle_line < probe_line

    def test_sim_range_has_zero_exchanges(self, spark, sf_dir, queries):
        """Range search is the zero-shuffle plan: broadcast queries,
        map-side score + filter, no window, no exchange."""
        plan = plan_of(spark, sf_dir, queries, "sim_search_range")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        body = plan.split("== Physical Plan ==")[-1]
        assert "Exchange hashpartitioning" not in body
        assert "Exchange rangepartitioning" not in body

    def test_scd2_build_single_shuffle(self, spark, sf_dir, queries):
        """Compaction + interval layout share one window spec: exactly
        one hash exchange on user_id in the whole plan."""
        plan = plan_of(spark, sf_dir, queries, "window_scd2_build")
        body = plan.split("== Physical Plan ==")[-1]
        assert body.count("Exchange hashpartitioning") == 1

    def test_token_pack_single_shuffle(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "text_token_budget_pack")
        body = plan.split("== Physical Plan ==")[-1]
        assert body.count("Exchange hashpartitioning") == 1

    def test_pii_redact_is_narrow_only(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "text_pii_redact")
        body = plan.split("== Physical Plan ==")[-1]
        assert "Exchange" not in body

    def test_group_cap_prelimits_map_side(self, spark, sf_dir, queries):
        """The rn <= N filter must rewrite to WindowGroupLimit with a
        Partial (pre-shuffle) pass — at 100 TB the shuffle then moves
        at most N x groups x tasks rows, not the corpus."""
        plan = plan_of(spark, sf_dir, queries, "sample_group_cap")
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan.split("WindowGroupLimit")[-1].splitlines()[0]

    def test_chunking_and_repetition_are_narrow_only(
        self, spark, sf_dir, queries
    ):
        for name in ("text_doc_chunking", "text_repetition_filter"):
            plan = plan_of(spark, sf_dir, queries, name)
            body = plan.split("== Physical Plan ==")[-1]
            assert "Exchange" not in body, name

    def test_quantize_is_narrow_only(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "embed_normalize_quantize")
        body = plan.split("== Physical Plan ==")[-1]
        assert "Exchange" not in body

    def test_pagerank_three_exchanges_single_edge_scan(
        self, spark, sf_dir, queries
    ):
        """Out-degree via window count, not a degree self-join: the
        edge subtree must appear once (pair dedup -> suppkey window ->
        partkey agg = exactly 3 hash exchanges)."""
        plan = plan_of(spark, sf_dir, queries, "graph_pagerank_iter")
        body = plan.split("== Physical Plan ==")[-1]
        assert body.count("Exchange hashpartitioning") == 3


class TestRound5Plans:
    def test_incremental_watermark_predicate_pushes_down(
        self, spark, sf_dir, queries
    ):
        """The strict > boundary must reach the parquet scan — the
        whole point of incremental ingest is NOT scanning history."""
        plan = plan_of(spark, sf_dir, queries, "scan_incremental_watermark")
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "GreaterThan(o_orderdate" in pushed

    def test_feature_scaling_broadcasts_moments(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "ml_feature_scaling")
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    def test_neyman_rates_broadcast_onto_fact(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "sample_stratified_neyman")
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    def test_grid_proximity_is_equi_join_not_cartesian(
        self, spark, sf_dir, queries
    ):
        plan = plan_of(spark, sf_dir, queries, "join_grid_proximity")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_hub_caps_use_window_group_limit(self, spark, sf_dir, queries):
        """The degree caps must truncate hub keys BEFORE the self-join
        fanout — WindowGroupLimit pushes the rank cutoff below the
        rank exchange."""
        for name in ("graph_common_neighbors", "agg_basket_affinity"):
            plan = plan_of(spark, sf_dir, queries, name)
            assert "WindowGroupLimit" in plan, name

    def test_approx_profile_production_shape_no_expand(self, spark, sf_dir):
        from etl_8x8_spark.plans.audit import plan_string
        from etl_8x8_spark.sources.scans import profile_approx_plan

        assert "Expand" not in plan_string(profile_approx_plan(spark, sf_dir))


class TestR9Plans:
    def test_url_canonical_single_shuffle_all_codegen(
        self, spark, sf_dir, queries
    ):
        """Canonicalization is pure narrow built-ins; the ONLY exchange
        in the plan is the final groupBy on the canonical string (at
        100 TB the map side ships short canonical strings, nothing
        else)."""
        plan = plan_of(spark, sf_dir, queries, "dedup_url_canonical")
        assert plan.count("Exchange") == 1, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    @pytest.mark.parametrize(
        "key", ["dedup_substring_span", "dedup_substring_scrub"]
    )
    def test_substring_windows_partitioned_by_doc(
        self, spark, sf_dir, queries, key
    ):
        """The island windows run per-document — a global (empty
        partition spec) window would funnel every duplicated position
        into one task at corpus scale."""
        df = queries[key].builder(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        for ln in opt.splitlines():
            if "windowspecdefinition" in ln:
                assert "doc_id" in ln.split("windowspecdefinition", 1)[1][:60], ln

    @pytest.mark.parametrize(
        "key", ["dedup_substring_span", "dedup_substring_scrub"]
    )
    def test_substring_mark_join_is_hash_or_smj(
        self, spark, sf_dir, queries, key
    ):
        """The duplicated-shingle mark join must be an equi-join (hash
        or sort-merge under AQE), never a nested loop over the
        exploded shingle table."""
        plan = plan_of(spark, sf_dir, queries, key)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    @pytest.mark.parametrize(
        "key", ["dedup_substring_span", "dedup_substring_scrub"]
    )
    def test_substring_dup_gate_has_partial_agg(
        self, spark, sf_dir, queries, key
    ):
        """The distinct-docs-per-shingle count must partial-aggregate
        map-side (a stopword 8-gram collapses before the exchange, so
        shingle skew never builds a hot shuffle key)."""
        plan = plan_of(spark, sf_dir, queries, key)
        # 'HashAggregate' alone appears in every agg plan (r9 advice:
        # an always-true fallback) — assert the partial-MODE count
        # specifically, which only prints when map-side combine runs.
        assert "partial_count" in plan, plan


class TestR10Plans:
    def test_pq_adc_scoring_is_map_side(self, spark, sf_dir, queries):
        """r9 verdict item 4: packed codes + broadcast packed ADC
        tables make the scoring stage join-free — no exchange may
        touch the N x Q scored rows. Allowed exchanges: the code
        regroup (vec_id), the Q-row ADC pack (q_id), and the top-k
        window (q_id) whose partial WindowGroupLimit cuts each
        partition to <= K rows per query BEFORE the shuffle. The old
        (s, cid)-join shape exchanged on (q_id, vec_id) — that pair
        must never reappear in one hashpartitioning."""
        plan = plan_of(spark, sf_dir, queries, "sim_search_pq_adc")
        assert "WindowGroupLimit" in plan
        ex_lines = [
            ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
        ]
        assert len(ex_lines) <= 3, plan
        for ln in ex_lines:
            keys = ln.split("hashpartitioning(", 1)[1]
            assert not ("q_id" in keys and "vec_id" in keys), ln
        # scoring join is the broadcast of the Q packed tables
        assert "BroadcastNestedLoopJoin" in plan

    def test_weighted_poisson_is_pure_map_side(self, spark, sf_dir, queries):
        """PPS sampling is a filter+project: no hash-partitioned
        exchange may appear anywhere (the presentation orderBy on the
        small kept set may range-partition; the sampling itself must
        not shuffle)."""
        plan = plan_of(spark, sf_dir, queries, "sample_weighted_poisson")
        assert "Exchange hashpartitioning" not in plan


class TestR11Plans:
    """Plan pins for the round-11 operators — the shapes their
    docstrings promise are the shapes Spark runs."""

    def test_top_paths_window_group_limit(self, spark, sf_dir, queries):
        """The rn <= 3 filter on the rank window must trigger
        WindowGroupLimit so heavy user-days cap themselves map-side."""
        plan = plan_of(spark, sf_dir, queries, "agg_top_paths")
        assert "WindowGroupLimit" in plan
        # top-20 is a TakeOrderedAndProject, never a global sort
        assert "TakeOrderedAndProject" in plan

    def test_knn_classifier_broadcasts_queries(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "ml_knn_classifier")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "WindowGroupLimit" in plan  # per-query top-k cut

    def test_fn_net_zero_exchanges(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "fn_net")
        assert "Exchange" not in plan

    def test_decision_stump_single_fact_pass(self, spark, sf_dir, queries):
        """The fact is partial-aggregated to |levels| rows in one
        pass; everything downstream runs on the level table."""
        plan = plan_of(spark, sf_dir, queries, "ml_decision_stump")
        assert plan.count("HashAggregate") >= 2  # partial + final
        assert "partial_" in plan

    def test_iqr_fence_table_broadcasts(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "quality_anomaly_iqr")
        assert "BroadcastHashJoin" in plan

    def test_dedup_weights_text_never_shuffles(self, spark, sf_dir, queries):
        """Only 32-byte hashes cross the one exchange — the window
        partitions on content_hash, and no second hash exchange
        exists."""
        plan = plan_of(spark, sf_dir, queries, "sample_dedup_weights")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1

    def test_adamic_adar_no_cartesian_hubcap_window(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "graph_adamic_adar")
        assert "CartesianProduct" not in plan
        assert "WindowGroupLimit" in plan  # the hub cap cuts map-side

    def test_hamming_broadcasts_signatures(self, spark, sf_dir, queries):
        """The binary-ANN scan: query signatures broadcast; scoring is
        map-side XOR+popcount; top-k cut via WindowGroupLimit."""
        plan = plan_of(spark, sf_dir, queries, "sim_search_hamming_topk")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "WindowGroupLimit" in plan

    def test_weighted_topk_take_ordered(self, spark, sf_dir, queries):
        """The ES draw must be the mergeable per-partition top-k, not a
        global sort."""
        plan = plan_of(spark, sf_dir, queries, "sample_weighted_topk")
        assert "TakeOrderedAndProject" in plan

    def test_gbm_single_fact_scan(self, spark, sf_dir, queries):
        """Both boosting rounds derive from ONE fact aggregation: the
        level table is persisted, so every consumer reads the
        InMemoryRelation instead of re-scanning lineitem (the pin that
        caught the original unpersisted 3-scan plan)."""
        plan = plan_of(spark, sf_dir, queries, "ml_gbm_boost_rounds")
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan

    def test_freshness_single_pass(self, spark, sf_dir, queries):
        plan = plan_of(spark, sf_dir, queries, "quality_freshness")
        # per-feed agg is partial+final; global max joins broadcast
        assert "partial_" in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestR14Plans:
    """Plan pins for the round-14 operators — the shapes their
    docstrings promise are the shapes Spark runs."""

    def test_cdf_diff_is_pivot_not_smj(self, spark, sf_dir, queries):
        """The rewrite diff must run as the tag-union + groupBy pivot
        (one hash exchange per diff), never the full-outer SMJ the
        naive form produces — and no global sort survives."""
        plan = plan_of(spark, sf_dir, queries, "scan_txn_log_cdf")
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "min_by" not in plan  # pivot is max-over-null, no argmin
        assert "HashAggregate" in plan
        # terminal sort dropped (LESSONS #51): the only Sorts allowed
        # are none — the feed is unordered by contract
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert "Sort [" not in body

    def test_conflict_reader_single_scan_single_exchange(
        self, spark, sf_dir, queries
    ):
        """The post-race reader folds the log driver-side and reads
        the 3 live files in ONE FileScan feeding one partial+final
        aggregate — no join, no second exchange."""
        plan = plan_of(spark, sf_dir, queries, "sink_txn_log_conflict")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 1
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1

    def test_schema_evolution_projection_is_scan_side(
        self, spark, sf_dir, queries
    ):
        """Three schema generations read as three scans, each
        projected to the log schema with typed NULLs — unioned
        map-side, ONE exchange for the audit aggregate and no join,
        no schema-inference pass."""
        plan = plan_of(spark, sf_dir, queries, "sink_txn_log_schema_evolution")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 3
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1

    def test_kmeans_assignment_is_literal_projection(
        self, spark, sf_dir, queries
    ):
        """The r15 adoption: centroids are driver-held literals, so
        assignment is a pure map-side projection (least() over
        (d2, cid) structs). The row_number window (N×K exchange +
        sort), the min_by formulation (SortAggregate on both sides of
        an exchange — struct buffers are not hash-aggregable), and the
        centroid crossJoin must all be gone; the one exchange left is
        the final per-cluster summary aggregate."""
        plan = plan_of(spark, sf_dir, queries, "ml_kmeans_lloyd")
        assert "row_number" not in plan
        assert "min_by" not in plan
        assert "SortAggregate" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "array_min(transform(" in plan
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Exchange hashpartitioning") == 1


class TestR15Plans:
    """Plan pins for the round-15 operators."""

    def test_dv_read_broadcasts_vectors_never_smj(
        self, spark, sf_dir, queries
    ):
        """Merge-on-read applies deletion vectors via a BROADCAST hash
        join on the _metadata positions — the data side must never
        shuffle or sort for the vector (an SMJ would move the file to
        apply a KB-sized bitmap). Since the r15 single-pass rewrite
        the four versioned snapshots share ONE multi-path scan over
        the vectored files + one scan of the compacted file + one
        scan per vector (6 scans total, vs 12 data scans in the
        per-version shape) and ONE version-tagged aggregate exchange
        plus the vector-membership aggregate — not four."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_delete_vectors"
        )
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 6
        assert body.count("Exchange hashpartitioning") == 2

    def test_schema_evolution_groups_generations_not_files(
        self, spark, sf_dir, queries
    ):
        """The r15 fixture holds FOUR live files across THREE schema
        generations; the reader must plan one scan per generation —
        a per-file reader would show four."""
        import os

        from etl_8x8_spark.sources import txn_log

        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_schema_evolution"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 3
        log_dir = os.path.join(fixture_dir(sf_dir, "txnschema"), "_log")
        live = txn_log.live_adds(txn_log.records(log_dir))
        assert len(live) == 4  # the discriminator: 4 files, 3 scans

    def test_column_mapping_projection_is_scan_side(
        self, spark, sf_dir, queries
    ):
        """Physical→logical mapping is a scan-side projection: one
        scan per generation, no join, one exchange for the bucket
        aggregate."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_column_mapping"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 3
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1

    def test_zorder_read_is_pruned_scan_no_join(
        self, spark, sf_dir, queries
    ):
        """The stats-pruned quarter-box read: at most 3 of the 8
        z-clustered units reach the plan (pruning happens BEFORE
        planning, from commit-record stats), no join anywhere, one
        exchange for the status aggregate."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_optimize_zorder"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert 1 <= body.count("Scan parquet") <= 3
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1

    def test_partitioned_read_prunes_to_two_dirs(
        self, spark, sf_dir, queries
    ):
        """Partition pruning by metadata equality: exactly the two
        2-HIGH adds are scanned (the metadata-deleted 3-MEDIUM and the
        6 non-matching partitions never reach the plan); the partition
        column is reattached as a literal — no join, one exchange."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_partitioned"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 2
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1

    def test_constraints_read_single_scan(self, spark, sf_dir, queries):
        """The constrained table's reader folds the log and reads the
        two live files in ONE multi-path FileScan feeding the global
        aggregate — validation cost lives on the write path, reads pay
        nothing."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_constraints"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 1
        assert "Join" not in body

    def test_clone_reads_two_tables_no_join(
        self, spark, sf_dir, queries
    ):
        """Source and clone finals are two independent multi-path
        scans (the clone's spanning BOTH storage roots) unioned after
        aggregation — no join, no data copy in the plan."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_shallow_clone"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 2
        assert "Join" not in body

    def test_identity_read_one_scan_per_commit(
        self, spark, sf_dir, queries
    ):
        """Per-commit block audit: three scans (one per ID block's
        file), no join, no window in the READ plan — the two-pass
        assignment cost lives at write time."""
        plan = plan_of(
            spark, sf_dir, queries, "sink_txn_log_identity"
        )
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 3
        assert "Join" not in body
        assert "Window" not in body

    def test_stream_sink_fold_single_scan(self, spark, sf_dir, queries):
        """The folded stream-sink table reads its four committed
        epoch files in ONE multi-path FileScan + one aggregate
        exchange — replay orphans never reach the plan."""
        plan = plan_of(spark, sf_dir, queries, "stream_txn_log_sink")
        body = plan.split("AdaptiveSparkPlan")[-1]
        assert body.count("Scan parquet") == 1
        assert "Join" not in body
        assert body.count("Exchange hashpartitioning") == 1
