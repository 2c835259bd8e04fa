"""r16 optimization-round pins: the iterative-loop checkpoint escape
hatch and the honest-timing invariants."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


class TestCheckpointEscapeHatch:
    """functions/iterative.py (VERDICT r15 items 5/9): the bounded
    loops persist per round by default; ``CHECKPOINT_EVERY`` makes
    every Nth round a lazy localCheckpoint. Results must be identical
    either way — only the plan boundary moves."""

    def _rows(self, spark, name):
        from etl_8x8_spark.registry import all_queries

        df = all_queries()[name].builder(spark, SF)
        return sorted(map(tuple, df.collect()))

    @pytest.mark.parametrize(
        "name",
        ["graph_pagerank_converged", "graph_bfs_layers", "dedup_cluster_cc"],
    )
    def test_checkpoint_every_round_same_result(
        self, spark, name, monkeypatch
    ):
        from etl_8x8_spark.functions import iterative

        base = self._rows(spark, name)
        spark.catalog.clearCache()
        monkeypatch.setattr(iterative, "CHECKPOINT_EVERY", 1)
        hatch = self._rows(spark, name)
        spark.catalog.clearCache()
        assert base == hatch

    def test_checkpoint_truncates_lineage(self, spark, monkeypatch):
        """With cadence 1 every round is a localCheckpoint: the
        terminal plan must contain a scanned checkpoint RDD instead of
        a persisted InMemoryRelation chain."""
        from etl_8x8_spark.functions import iterative
        from etl_8x8_spark.registry import all_queries

        monkeypatch.setattr(iterative, "CHECKPOINT_EVERY", 1)
        df = all_queries()["graph_bfs_layers"].builder(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "ExistingRDD" in plan
        spark.catalog.clearCache()


class TestInt64GuardsNullTransparent:
    """r16: on EMPTY input the 1-row totals aggregate carries NULL
    sums; the guards must pass NULL through instead of raising —
    AQE can materialize the guarded broadcast side before the
    empty-stream propagation cancels the join (the flaky
    agg_ks_test_two_sample empty-sweep failure)."""

    def test_null_totals_do_not_raise(self, spark):
        from pyspark.sql import functions as F

        from etl_8x8_spark.operators.aggregates import (
            _guard_product_fits_int64,
            _guard_sum_sq_fits_int64,
        )

        empty = spark.range(0).select(
            F.col("id").alias("a"), F.col("id").alias("b")
        )
        totals = empty.agg(
            F.sum("a").cast("long").alias("a"),
            F.sum("b").cast("long").alias("b"),
        )
        g = _guard_product_fits_int64(totals, "a", "b", "t")
        g = _guard_sum_sq_fits_int64(g, "a", "b", "t")
        rows = g.collect()  # the 1-row NULL relation must NOT raise
        assert rows[0]["a"] is None

    def test_oversized_totals_still_raise(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from etl_8x8_spark.operators.aggregates import (
            _guard_product_fits_int64,
        )

        big = spark.range(1).select(
            F.lit(2**33).cast("long").alias("a"),
            F.lit(2**33).cast("long").alias("b"),
        )
        g = _guard_product_fits_int64(big, "a", "b", "t")
        with pytest.raises(Exception, match="2\\^62"):
            g.collect()


class TestPinSessionConfsQuiet:
    def test_repeat_pin_sets_nothing(self, spark, monkeypatch):
        """Every load_table pins the session confs. Once they hold,
        a repeat pin must set nothing: setting the deprecated
        escapedStringLiterals logs a WARN on every call."""
        from etl_8x8_spark.sources.readers import pin_session_confs

        pin_session_confs(spark)
        calls = []
        monkeypatch.setattr(spark.conf, "set", lambda *a: calls.append(a))
        pin_session_confs(spark)
        assert calls == []


class TestNormalizeIgnoresEscapedStringLiterals:
    def test_same_result_under_both_values(self, spark):
        """The whitespace class in the normalize SQL text holds no
        backslash escape, so the legacy
        ``spark.sql.parser.escapedStringLiterals=true`` (which would read
        ``'\\s+'`` as a literal backslash) leaves the result unchanged —
        for ``normalized()`` and for the token split the dedup keys run.
        A fresh session carries the conf, so the shared one stays
        untouched; no ``load_table`` runs to pin it back."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.operators.dedup import _TOKENS_SQLX, normalized

        text = "A \t b\n  C\x0b\f\rd\u00a0e\u2003F"

        def run(escaped: str):
            s = spark.newSession()
            s.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
            row = (
                s.createDataFrame([(text,)], "text string")
                .select(normalized().alias("n"), F.expr(_TOKENS_SQLX).alias("t"))
                .first()
            )
            return row["n"], list(row["t"])

        want = ("a b c d\u00a0e\u2003f", ["a", "b", "c", "d\u00a0e\u2003f"])
        assert run("false") == want
        assert run("true") == want


class TestWidenScanScanOnly:
    """``readers.widen_scan`` reads the input's partition count while
    the query is being built. On a plan with an exchange that can run
    jobs, so every caller must hand it a scan-shaped plan, and the
    helper refuses one with an exchange. Each key that calls it is
    built with the helper wrapped: the wrapped call must run no job."""

    KEYS = (
        "dedup_substring_span",
        "dedup_substring_scrub",
        "dedup_incremental_substring",
        "text_contamination_check",
        "text_bigram_perplexity",
        "text_quality_gopher",
        "text_quality_classifier",
        "pipeline_quality_gate",
        "embed_pq_encode",
        "sim_search_pq_adc",
        "sim_search_ivfpq_topk",
        "dedup_ngram_jaccard",
        "dedup_containment",
        "pipeline_dedup_cascade",
    )

    def test_partition_count_runs_no_jobs(self, spark, monkeypatch, tmp_path):
        from etl_8x8_spark.operators import dedup, similarity, text
        from etl_8x8_spark.registry import all_queries
        from etl_8x8_spark.sources import readers

        sc = spark.sparkContext
        jobs: dict[str, list[int]] = {k: [] for k in self.KEYS}
        current = []

        def counted(df):
            key = current[-1]
            group = f"widen_scan_{key}_{len(jobs[key])}"
            sc.setJobGroup(group, group)
            try:
                # getNumPartitions is the helper's only eager step
                out = readers.widen_scan(df)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[key].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            return out

        for mod in (dedup, similarity, text):
            monkeypatch.setattr(mod, "widen_scan", counted)
        # dedup_incremental_substring widens only while it builds its
        # scratch index, so start from an empty scratch dir
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
        queries = all_queries()
        for key in self.KEYS:
            current.append(key)
            queries[key].builder(spark, SF)

        assert [k for k, v in jobs.items() if not v] == []
        assert {k: v for k, v in jobs.items() if any(v)} == {}

    def test_shuffled_input_is_refused(self, spark):
        """Both widening helpers refuse a plan with an exchange, naming
        the node, before they build an RDD."""
        from etl_8x8_spark.functions.udfs import widen_for_python
        from etl_8x8_spark.sources import readers

        sc = spark.sparkContext
        shuffled = readers.load_table(spark, SF, "events").distinct()
        for widen in (readers.widen_scan, widen_for_python):
            group = f"refuse_{widen.__name__}"
            sc.setJobGroup(group, group)
            try:
                with pytest.raises(ValueError, match="Exchange"):
                    widen(shuffled)
            finally:
                sc._jsc.clearJobGroup()
            assert sc.statusTracker().getJobIdsForGroup(group) == []


class TestPythonStageTasks:
    """A Python task pays a fixed cost whatever its rows, so at the
    test sf each Python stage runs as one task with no exchange before
    it: one job, one stage, one task."""

    @pytest.mark.parametrize("key", ["jwt_verify", "multimodal_decode"])
    def test_one_task_at_small_input(self, spark, key):
        from etl_8x8_spark.registry import all_queries

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        df = all_queries()[key].builder(spark, SF)
        group = f"python_stage_tasks_{key}"
        sc.setJobGroup(group, group)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc._jsc.clearJobGroup()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        tasks = [tracker.getStageInfo(s).numTasks for s in stages]
        assert (len(jobs), len(stages), tasks) == (1, 1, [1])
