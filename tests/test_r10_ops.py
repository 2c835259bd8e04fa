"""Round-10 operator tests: the transformWithStateInPandas session
twin (SURVEY §2b `stream_session_window_tws`) and the r9-advice
rank-sum overflow guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import fixture_dir


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    """Driver-side stand-in for StatefulProcessorHandle: enough to
    unit-test _TwsSessionProcessor's merge/re-arm logic without a
    streaming query (the full worker path is covered by the
    registered-operator tests below)."""

    def __init__(self):
        self.states: dict[str, _FakeValueState] = {}
        self.timers: set[int] = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def registerTimer(self, ts_ms):
        self.timers.add(ts_ms)

    def deleteTimer(self, ts_ms):
        self.timers.discard(ts_ms)


class _FakeExpiredTimer:
    def __init__(self, ts_ms):
        self._t = ts_ms

    def getExpiryTimeInMs(self):
        return self._t


def _pdf(ts_us):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {"ts": np.array(ts_us, dtype="int64").astype("datetime64[us]")}
    )


class TestTwsProcessorUnit:
    def _mk(self):
        from etl_8x8_spark.streaming.streams import _TwsSessionProcessor

        p = _TwsSessionProcessor()
        h = _FakeHandle()
        p.init(h)
        return p, h

    def test_inline_close_and_timer_rearm(self):
        from etl_8x8_spark.streaming.streams import (
            _SESS_GAP_MS,
            _SESS_GAP_US,
        )

        p, h = self._mk()
        t0 = 1_000_000_000_000  # us
        t1 = t0 + 60_000_000  # same session (+60 s)
        t2 = t1 + _SESS_GAP_US + 1  # breaks the session
        out = list(p.handleInputRows((7,), [_pdf([t0, t1, t2])], None))
        assert len(out) == 1
        row = out[0].iloc[0]
        assert (row["session_start_us"], row["session_end_us"], row["n_events"]) == (
            t0,
            t1,
            2,
        )
        # open session is the new one; exactly ONE armed timer at its
        # close time (the t1-session's timer was never armed — both
        # arrived in one batch; re-arm across batches is tested next)
        assert h.states["sess"].get() == (t2, t2, 1)
        assert h.timers == {t2 // 1000 + _SESS_GAP_MS}

    def test_cross_batch_rearm_deletes_stale_timer(self):
        from etl_8x8_spark.streaming.streams import _SESS_GAP_MS

        p, h = self._mk()
        t0 = 1_000_000_000_000
        t1 = t0 + 1_000_000
        assert list(p.handleInputRows((7,), [_pdf([t0])], None)) == []
        first_timer = t0 // 1000 + _SESS_GAP_MS
        assert h.timers == {first_timer}
        assert list(p.handleInputRows((7,), [_pdf([t1])], None)) == []
        # stale timer deleted, new one armed — multi-shot TWS timers
        # would otherwise double-fire
        assert h.timers == {t1 // 1000 + _SESS_GAP_MS}

    def test_timer_close_emits_open_session_once(self):
        from etl_8x8_spark.streaming.streams import _SESS_GAP_MS

        p, h = self._mk()
        t0 = 1_000_000_000_000
        list(p.handleInputRows((7,), [_pdf([t0])], None))
        armed = t0 // 1000 + _SESS_GAP_MS
        out = list(p.handleExpiredTimer((7,), None, _FakeExpiredTimer(armed)))
        assert len(out) == 1 and len(out[0]) == 1
        row = out[0].iloc[0]
        assert (row["session_start_us"], row["n_events"]) == (t0, 1)
        assert not h.states["sess"].exists()
        # a STALE timer (not the armed one) must emit nothing
        list(p.handleInputRows((7,), [_pdf([t0])], None))
        out2 = list(
            p.handleExpiredTimer((7,), None, _FakeExpiredTimer(armed - 999))
        )
        assert sum(len(d) for d in out2) == 0
        assert h.states["sess"].exists()


class TestTwsRegisteredOperator:
    def test_tws_matches_batch_sessionization(self, spark, sf_dir):
        """The TWS-emitted session set equals plain batch
        sessionization exactly — the same pin the
        applyInPandasWithState twin carries, so the two APIs can never
        drift apart."""
        from pyspark.sql import Window

        from etl_8x8_spark.registry import all_queries
        from etl_8x8_spark.sources.readers import load_table
        from etl_8x8_spark.streaming.streams import _SESS_GAP_US

        out = (
            all_queries()["stream_session_window_tws"]
            .builder(spark, sf_dir)
            .collect()
        )
        got = {
            (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in out
        }
        assert len(got) == len(out), "duplicate session emitted"

        events = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("us")
        sess = (
            events.select("user_id", F.expr("unix_micros(ts)").alias("us"))
            .withColumn("prev", F.lag("us").over(w))
            .withColumn(
                "brk",
                F.when(
                    F.col("prev").isNull()
                    | (F.col("us") - F.col("prev") > _SESS_GAP_US),
                    1,
                ).otherwise(0),
            )
            .withColumn(
                "sid",
                F.sum("brk").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            .groupBy("user_id", "sid")
            .agg(
                F.min("us").alias("s"),
                F.max("us").alias("e"),
                F.count("*").alias("n"),
            )
        )
        want = {(r["user_id"], r["s"], r["e"], r["n"]) for r in sess.collect()}
        assert got == want

    def test_tws_path_actually_ran_here(self, spark, sf_dir):
        """On THIS host protobuf is locatable, so the operator must
        have exercised transformWithStateInPandas, not the fallback:
        its own scratch output dir exists and holds the result."""
        from etl_8x8_spark.sources.readers import _sf_tag, scratch_dir
        from etl_8x8_spark.streaming.streams import find_protobuf_pythonpath

        assert find_protobuf_pythonpath() is not None
        out_dir = os.path.join(
            scratch_dir(), f"sess_tws_{_sf_tag(sf_dir)}", "out"
        )
        assert os.path.exists(out_dir), "TWS scratch missing — fallback ran?"

    def test_no_sentinel_leak(self, spark, sf_dir):
        from etl_8x8_spark.registry import all_queries

        out = all_queries()["stream_session_window_tws"].builder(spark, sf_dir)
        assert out.filter(F.col("user_id") < 0).count() == 0

    def test_state_store_conf_restored(self, spark, sf_dir):
        """The RocksDB provider is scoped to the TWS queries — the
        session-global conf must be back to its pre-call value so
        other streaming keys keep their provider."""
        key = "spark.sql.streaming.stateStore.providerClass"
        before = spark.conf.get(key, None)
        from etl_8x8_spark.registry import all_queries

        all_queries()["stream_session_window_tws"].builder(spark, sf_dir)
        assert spark.conf.get(key, None) == before


class TestSumSqOverflowGuard:
    def test_passes_small_totals(self, spark):
        from etl_8x8_spark.operators.aggregates import (
            _guard_sum_sq_fits_int64,
        )

        df = spark.createDataFrame([(1000, 2000)], "a long, b long")
        assert (
            _guard_sum_sq_fits_int64(df, "a", "b", "unit").collect()[0]["a"]
            == 1000
        )

    def test_raises_on_imbalanced_classes_past_2_31(self, spark):
        """r9 advice's exact counterexample: a·b = 2^53 passes the
        product guard, but (a+b)^2 ≈ 2^66 ⇒ the rank-sum numerator
        would wrap — the sum-square guard must raise."""
        import pytest as _pytest

        from etl_8x8_spark.operators.aggregates import (
            _guard_product_fits_int64,
            _guard_sum_sq_fits_int64,
        )

        df = spark.createDataFrame(
            [(2**33, 2**20)], "a long, b long"
        )
        # the old product guard alone lets this through
        ok = _guard_product_fits_int64(df, "a", "b", "unit").collect()
        assert ok[0]["a"] == 2**33
        with _pytest.raises(Exception, match="2\\^62"):
            _guard_sum_sq_fits_int64(df, "a", "b", "unit").collect()


class TestStreamJoinOuter:
    def test_matches_batch_left_join(self, spark, sf_dir):
        """Emitted set == the batch LEFT JOIN exactly (also the
        oracle; pinned here so a rows-only fallback can't mask
        drift), including NULL rows for non-converting clicks."""
        from etl_8x8_spark.registry import all_queries
        from etl_8x8_spark.sources.readers import load_table

        out = all_queries()["stream_join_outer"].builder(spark, sf_dir)
        got = {
            (r["click_id"], r["user_id"], r["purchase_id"], r["lag_us"])
            for r in out.collect()
        }
        ev = load_table(spark, sf_dir, "events")
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("cts"),
        )
        p = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("pu"),
            F.col("ts").alias("pts"),
        )
        want_df = c.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
            "left",
        ).select(
            "click_id",
            "user_id",
            "purchase_id",
            (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
        )
        want = {
            (r["click_id"], r["user_id"], r["purchase_id"], r["lag_us"])
            for r in want_df.collect()
        }
        assert got == want
        # the outer semantics must actually be exercised: both matched
        # and null rows present
        assert any(pid is None for _, _, pid, _ in got)
        assert any(pid is not None for _, _, pid, _ in got)

    def test_no_sentinel_leak(self, spark, sf_dir):
        from etl_8x8_spark.registry import all_queries

        out = all_queries()["stream_join_outer"].builder(spark, sf_dir)
        assert out.filter(F.col("user_id") < 0).count() == 0


class TestIvfPqComposed:
    def test_candidates_come_only_from_probed_cells(self, spark, sf_dir):
        """The IVF prune must be real: every returned neighbor's cell
        is one of its query's nprobe probed cells (recomputed
        independently here with exact cosine)."""
        from etl_8x8_spark.operators.similarity import (
            _IVF_K,
            _IVF_NPROBE,
            _N_QUERIES,
        )
        from etl_8x8_spark.registry import all_queries
        from etl_8x8_spark.sources.readers import load_table

        out = (
            all_queries()["sim_search_ivfpq_topk"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert {r["q_id"] for r in out} == set(range(_N_QUERIES))
        # per-query ranks are 1..n contiguous
        by_q: dict = {}
        for r in out:
            by_q.setdefault(r["q_id"], []).append(r["rank"])
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

        import math

        emb = {
            r["vec_id"]: r["embedding"]
            for r in load_table(spark, sf_dir, "embeddings").collect()
        }

        def pdot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += float(x) * float(y)
            return acc

        def cell_of(v):
            best = None
            for c in range(_IVF_K):
                s = pdot(v, emb[c]) / (
                    math.sqrt(pdot(v, v)) * math.sqrt(pdot(emb[c], emb[c]))
                )
                if best is None or s > best[0] or (s == best[0] and c < best[1]):
                    best = (s, c)
            return best[1]

        def probes_of(q):
            sims = sorted(
                (
                    -(
                        pdot(emb[q], emb[c])
                        / (
                            math.sqrt(pdot(emb[q], emb[q]))
                            * math.sqrt(pdot(emb[c], emb[c]))
                        )
                    ),
                    c,
                )
                for c in range(_IVF_K)
            )
            return {c for _, c in sims[:_IVF_NPROBE]}

        for r in out:
            assert cell_of(emb[r["vec_id"]]) in probes_of(r["q_id"]), r

    def test_plan_shape(self, spark, sf_dir):
        """Probe join broadcasts on cell (equi, not nested-loop); the
        top-k window gets a partial WindowGroupLimit; no exchange
        pairs q_id with vec_id (nothing pairwise shuffles)."""
        from etl_8x8_spark.plans.audit import plan_string
        from etl_8x8_spark.registry import all_queries

        plan = plan_string(
            all_queries()["sim_search_ivfpq_topk"].builder(spark, sf_dir)
        )
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                keys = ln.split("hashpartitioning(", 1)[1]
                assert not ("q_id" in keys and "vec_id" in keys), ln


class TestMannKendall:
    def test_known_series(self, spark, tmp_path):
        """Monotone-increasing days → S = n(n-1)/2, z > 0; ties reduce
        var18 exactly by t(t-1)(2t+5)."""
        import datetime

        rows = [
            (i, datetime.date(2024, 1, 1 + i), float(100 + i))
            for i in range(5)
        ]
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        )
        d = str(tmp_path / "orders.parquet")
        df.write.parquet(d)

        from etl_8x8_spark.operators.windows import window_mann_kendall

        out = window_mann_kendall(spark, str(tmp_path)).collect()[0]
        n = 5
        assert out["n_days"] == n
        assert out["s_stat"] == n * (n - 1) // 2  # all pairs increasing
        assert out["var18"] == n * (n - 1) * (2 * n + 5)  # no ties
        assert out["z_micro"] > 0
        assert out["tau_micro"] == 1_000_000  # tau = +1 exactly

    def test_tie_correction(self, spark, tmp_path):
        """Two days share a revenue → var18 drops by t(t-1)(2t+5) with
        t=2, and the tied pair contributes 0 to S."""
        import datetime

        rows = [
            (0, datetime.date(2024, 1, 1), 100.0),
            (1, datetime.date(2024, 1, 2), 100.0),
            (2, datetime.date(2024, 1, 3), 50.0),
        ]
        df = spark.createDataFrame(
            rows, "o_orderkey long, o_orderdate date, o_totalprice double"
        )
        df.write.parquet(str(tmp_path / "orders.parquet"))
        from etl_8x8_spark.operators.windows import window_mann_kendall

        out = window_mann_kendall(spark, str(tmp_path)).collect()[0]
        n = 3
        assert out["s_stat"] == -2  # (d1,d3):-1, (d2,d3):-1, (d1,d2):0
        assert out["var18"] == n * (n - 1) * (2 * n + 5) - 2 * 1 * 9
        assert out["z_micro"] < 0


class TestWeightedPoisson:
    def test_inclusion_math_exact(self, spark, sf_dir):
        """Every kept row satisfies u*W_CAP*RATE_INV < w*2^32 and every
        dropped row violates it — recomputed row-by-row in Python
        integers (the determinism contract: same hash, same sample, on
        any engine or partitioning)."""
        from etl_8x8_spark.operators.setops import (
            _WPOIS_RATE_INV,
            _WPOIS_WCAP,
            sample_weighted_poisson,
        )
        from etl_8x8_spark.sources.readers import load_table

        kept = {
            r["doc_id"]
            for r in sample_weighted_poisson(spark, sf_dir).collect()
        }
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.length("text").alias("L")
        )
        n_checked = 0
        for r in docs.collect():
            u = ((r["doc_id"] % 2147483648) * 2654435761) % 4294967296
            w = min(r["L"], _WPOIS_WCAP)
            want = u * _WPOIS_WCAP * _WPOIS_RATE_INV < w * 4294967296
            assert (r["doc_id"] in kept) == want, r["doc_id"]
            n_checked += 1
        assert n_checked > 0 and kept, "empty corpus or empty sample"


class TestTwsCacheProcessorUnit:
    def _mk(self):
        from etl_8x8_spark.streaming.streams import _TwsCacheProcessor

        p = _TwsCacheProcessor()
        h = _FakeHandle()
        p.init(h)
        return p, h

    def test_hit_miss_and_timer_rearm(self):
        from etl_8x8_spark.streaming.streams import _CACHE_TTL_MS

        p, h = self._mk()
        t0 = 1_000_000_000_000
        out1 = list(p.handleInputRows((9,), [_pdf([t0, t0 + 1])], None))
        r = out1[0].iloc[0]
        assert (r["n_new"], r["n_total"], r["was_cached"], r["evicted"]) == (
            2,
            2,
            False,
            False,
        )
        assert h.timers == {(t0 + 1) // 1000 + _CACHE_TTL_MS}
        t1 = t0 + 5_000_000
        out2 = list(p.handleInputRows((9,), [_pdf([t1])], None))
        r2 = out2[0].iloc[0]
        assert (r2["n_new"], r2["n_total"], r2["was_cached"]) == (1, 3, True)
        # stale timer deleted, single re-armed timer at new last-access
        assert h.timers == {t1 // 1000 + _CACHE_TTL_MS}

    def test_eviction_emits_final_total_and_clears(self):
        from etl_8x8_spark.streaming.streams import _CACHE_TTL_MS

        p, h = self._mk()
        t0 = 1_000_000_000_000
        list(p.handleInputRows((9,), [_pdf([t0, t0 + 1, t0 + 2])], None))
        armed = (t0 + 2) // 1000 + _CACHE_TTL_MS
        out = list(p.handleExpiredTimer((9,), None, _FakeExpiredTimer(armed)))
        r = out[0].iloc[0]
        assert (r["n_new"], r["n_total"], r["was_cached"], r["evicted"]) == (
            0,
            3,
            True,
            True,
        )
        assert not h.states["total"].exists()
        # next access after eviction is a MISS again
        out2 = list(p.handleInputRows((9,), [_pdf([t0 + 10])], None))
        assert bool(out2[0].iloc[0]["was_cached"]) is False


class TestParquetBloomScan:
    def test_bloom_filters_actually_written(self, spark, sf_dir):
        """The footer must carry a bloom filter on o_custkey (read back
        through parquet-mr itself — neither pyarrow nor duckdb expose
        bloom offsets in this environment) and NOT on the untargeted
        columns. Guards the silent-drop trap: parquet-mr skips a
        requested bloom when the column stays dictionary-encoded."""
        import glob

        from etl_8x8_spark.registry import all_queries

        # ensure the fixture exists
        all_queries()["scan_parquet_bloom"].builder(spark, sf_dir).collect()
        path = fixture_dir(sf_dir, "orders_bloom")
        f = glob.glob(path + "/*.parquet")[0]
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        rg = reader.getFooter().getBlocks().get(0)
        got = {}
        for i in range(rg.getColumns().size()):
            col = rg.getColumns().get(i)
            got[col.getPath().toDotString()] = (
                reader.readBloomFilter(col) is not None
            )
        reader.close()
        assert got["o_custkey"] is True, got
        assert got["o_orderkey"] is False, got

    def test_point_filter_pushes_down(self, spark, sf_dir, queries=None):
        from etl_8x8_spark.plans.audit import plan_string
        from etl_8x8_spark.registry import all_queries

        plan = plan_string(
            all_queries()["scan_parquet_bloom"].builder(spark, sf_dir)
        )
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "o_custkey" in pushed
