"""Round-7 tests: the distributed histogram-prune rank
(etl_8x8_spark/functions/ranks.py) that replaced the single-task
global windows in agg_gini_coefficient / agg_lorenz_curve /
agg_rfm_segments / agg_abc_classification / window_ntile_percentile,
plus the HDR histogram error bound the r6 verdict asked to pin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_8x8_spark.functions.ranks import (
    histogram_global_rank,
    ntile_from_rank_sql,
)


def _adversarial_df(spark):
    """200 rows engineered to stress bucketing: heavy ties (the same
    value 50x), a constant run, extreme outliers (bucket clamping),
    and negatives."""
    vals = (
        [7.5] * 50
        + [0.0] * 20
        + [-1e9, 1e9]
        + [float(i) * 0.001 for i in range(100)]
        + [42.0] * 28
    )
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k INT, v DOUBLE"
    )


class TestHistogramGlobalRank:
    @pytest.mark.parametrize("descending", [False, True])
    @pytest.mark.parametrize("buckets", [1, 4, 1024])
    def test_rank_matches_naive_window(self, spark, descending, buckets):
        df = _adversarial_df(spark)
        got = histogram_global_rank(
            df, "v", ["k"], descending=descending, buckets=buckets
        )
        order = [
            F.col("v").desc() if descending else F.col("v").asc(),
            F.col("k").asc(),
        ]
        naive = df.select(
            "k", F.row_number().over(Window.orderBy(*order)).alias("want")
        )
        bad = (
            got.join(naive, "k")
            .filter(F.col("i") != F.col("want"))
            .count()
        )
        assert bad == 0
        assert got.select("n").distinct().collect()[0][0] == df.count()

    def test_cumsum_matches_naive_window(self, spark):
        df = _adversarial_df(spark).withColumn(
            "wt", (F.col("k") % 13 + 1).cast("long")
        )
        got = histogram_global_rank(
            df, "v", ["k"], descending=True, cumsum="wt", buckets=8
        )
        w = Window.orderBy(F.col("v").desc(), F.col("k").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        naive = df.select("k", F.sum("wt").over(w).alias("want"))
        bad = (
            got.join(naive, "k").filter(F.col("cum") != F.col("want")).count()
        )
        assert bad == 0

    def test_constant_column_degrades_exactly(self, spark):
        df = spark.createDataFrame(
            [(i, 5.0) for i in range(20)], "k INT, v DOUBLE"
        )
        got = histogram_global_rank(df, "v", ["k"]).orderBy("k").collect()
        # all-equal values: rank must fall back to the tiebreak order
        assert [r["i"] for r in got] == list(range(1, 21))

    @pytest.mark.parametrize("n,t", [(1, 5), (4, 5), (5, 5), (23, 5), (100, 4), (7, 10)])
    def test_ntile_formula_matches_spark_ntile(self, spark, n, t):
        df = spark.range(n).select(F.col("id").alias("k"))
        w = Window.orderBy("k")
        naive = df.select("k", F.ntile(t).over(w).alias("want"))
        got = df.select(
            "k", F.row_number().over(w).cast("long").alias("i")
        ).select(
            "k",
            F.expr(ntile_from_rank_sql("i", f"CAST({n} AS BIGINT)", t)).alias(
                "tile"
            ),
        )
        bad = got.join(naive, "k").filter(F.col("tile") != F.col("want")).count()
        assert bad == 0

    def test_within_bucket_window_is_partitioned(self, spark):
        """The plan guarantee: the big-relation window runs PARTITIONED
        (by bucket). Exactly one unpartitioned Window may appear — the
        <=B-row bucket-offset relation."""
        df = _adversarial_df(spark)
        got = histogram_global_rank(df, "v", ["k"])
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        rn_lines = [
            ln
            for ln in plan.splitlines()
            if "row_number() windowspecdefinition" in ln
        ]
        assert rn_lines, "row_number window missing from plan"
        for ln in rn_lines:
            assert "windowspecdefinition(_hr_b" in ln, ln


class TestRewrittenQuintileFamily:
    """The five rewritten keys still agree with a naive single-window
    computation at test SF (the oracle harness pins cross-engine
    parity; this pins Spark-vs-Spark plan equivalence)."""

    def test_rfm_matches_naive_ntile(self, spark, sf_dir):
        from etl_8x8_spark.registry import all_queries

        rows = (
            all_queries()["agg_rfm_segments"]
            .builder(spark, sf_dir)
            .select("custkey", "f_score")
            .collect()
        )
        got = {r["custkey"]: r["f_score"] for r in rows}
        from etl_8x8_spark.sources.readers import load_table

        orders = load_table(spark, sf_dir, "orders")
        per = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count("*").alias("frequency")
        )
        w = Window.orderBy("frequency", "custkey")
        want = {
            r["custkey"]: r["f"]
            for r in per.select(
                "custkey", F.ntile(5).over(w).alias("f")
            ).collect()
        }
        assert got == want


class TestHdrErrorBound:
    def test_hdr_percentiles_within_12_5_pct_of_exact(self, spark, sf_dir):
        """The r6 verdict's requested pin: the log-bucket histogram's
        relative error is bounded by half a sub-bucket width (1/8)."""
        from etl_8x8_spark.registry import all_queries
        from etl_8x8_spark.sources.readers import load_table

        got = {
            r["o_orderpriority"]: r
            for r in all_queries()["agg_hdr_histogram_pctl"]
            .builder(spark, sf_dir)
            .collect()
        }
        exact = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(
                F.expr(
                    "percentile(CAST(floor(o_totalprice*100+0.5) AS BIGINT),"
                    " array(0.5, 0.95, 0.99))"
                ).alias("p")
            )
            .collect()
        )
        for r in exact:
            g = got[r["o_orderpriority"]]
            for idx, col in ((0, "p50_cents"), (1, "p95_cents"), (2, "p99_cents")):
                rel = abs(g[col] - r["p"][idx]) / r["p"][idx]
                assert rel <= 0.125, (r["o_orderpriority"], col, rel)

    def test_recursive_hierarchy_runs_as_union_loop(self, spark, sf_dir):
        """sql_recursive_hierarchy must execute as Spark 4's UnionLoop
        (per-round frontier join), not an unrolled/materialized
        expansion; iteration count is log10(|customer|) by
        construction (depth < 10 even at sf100 — see the operator's
        docstring), so the pin is on the loop SHAPE."""
        from etl_8x8_spark.registry import all_queries

        df = all_queries()["sql_recursive_hierarchy"].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "UnionLoop" in plan or "CTERelation" in plan, plan[:500]
        # depth pin at test SF: sf0.001 has 150 customers -> keys
        # <= 150 -> depth 0..2
        depths = [r["depth"] for r in df.collect()]
        assert depths == sorted(depths)
        assert max(depths) <= 3

    def test_hdr_histogram_agg_is_partial(self, spark, sf_dir):
        """The bucket histogram must map-side combine (partial_count
        before the exchange) — the property that keeps the shuffle at
        |groups x buckets| rows at any SF."""
        from etl_8x8_spark.registry import all_queries

        df = all_queries()["agg_hdr_histogram_pctl"].builder(
            spark, sf_dir
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan
