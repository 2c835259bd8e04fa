"""Round-13 tests: the driver-canonicalizer output lint (r12 verdict
item 2) and the embed_jl_project scalar-output fix (item 1).

The driver's correctness harness pandas-``sort_values``/hashes RAW
cells with no list-stringify fallback, so any top-level ARRAY / MAP /
STRUCT output column kills the key with ``TypeError: unhashable
type: 'list'`` (exactly how embed_jl_project went red in r12 while
being mathematically correct). These tests pin the invariant at the
schema level — cheaper and stricter than sampling materialized cells,
because the Spark schema is what *guarantees* the pandas dtype.
"""

from __future__ import annotations

import os

from etl_8x8_spark.registry import all_queries

from tests.conftest import fixture_dir

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# Pandas maps these Spark types to scalar (hashable, sortable) cells;
# everything else (array/map/struct) becomes list/dict objects that
# the driver canonicalizer cannot sort_values over.
_COMPLEX = {"array", "map", "struct"}


class TestDriverCanonLint:
    def test_no_complex_toplevel_columns_anywhere(self, spark, sf_dir):
        """Every registered query's output schema is scalar-only.

        Builds all registry DataFrames at sf0.001 (lazy for the
        declarative ops; the iterative trainers run their small
        fixed-point loops) and asserts no top-level complex type
        survives to the output. This is the standing guard the r12
        verdict asked for: no future key may trip the driver's
        unhashable-cell failure mode again.
        """
        offenders = []
        for name, spec in sorted(all_queries().items()):
            df = spec.builder(spark, sf_dir)
            bad = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in df.schema.fields
                if f.dataType.typeName() in _COMPLEX
            ]
            if bad:
                offenders.append(f"{name} -> {bad}")
            spark.catalog.clearCache()
        assert not offenders, (
            "driver canonicalizer cannot hash complex cells; emit "
            "scalars (array_join / to_json / explode) in: "
            + "; ".join(offenders)
        )


class TestPhashPayloadWidth:
    def test_payload_is_exact_width_for_any_text_length(self, spark):
        """The r12 advice item: text||text only reaches the 60-char
        fingerprint width when len(text) >= 30. The repeat-to-width
        payload must be exactly _PHASH_PREFIX chars for 1-char, short,
        boundary, long, empty and NULL texts — and cycle the text (not
        pad with a constant), so the fingerprint still reflects
        payload content."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.operators.multimodal import (
            _PHASH_PREFIX,
            phash_payload,
        )

        rows = [("a",), ("xyz",), ("m" * 29,), ("n" * 30,), ("q" * 200,),
                ("",), (None,)]
        df = spark.createDataFrame(rows, ["text"])
        out = df.select(
            "text", phash_payload(F.col("text")).alias("s")
        ).collect()
        for r in out:
            assert len(r["s"]) == _PHASH_PREFIX, r
        by_text = {r["text"]: r["s"] for r in out}
        assert by_text["xyz"] == ("xyz" * 20)
        assert by_text["a"] == "a" * _PHASH_PREFIX
        assert by_text[""] == " " * _PHASH_PREFIX
        assert by_text[None] == " " * _PHASH_PREFIX
        assert by_text["q" * 200] == "q" * _PHASH_PREFIX


class TestEmbedJlProjectScalar:
    def test_proj_micro_is_string_and_roundtrips(self, spark, sf_dir):
        """The r12 red cell: proj_micro must now be a comma-joined
        STRING of exactly 16 micro-quantized coordinates, and the
        norm-ratio invariant (JL preserves norms around 1.0) must
        still hold on the real fixture."""
        out = all_queries()["embed_jl_project"].builder(spark, sf_dir)
        schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert schema["proj_micro"] == "string"
        assert schema["norm_ratio_micro"] == "bigint"
        rows = out.limit(50).collect()
        assert rows, "fixture embeddings table is non-empty"
        for r in rows:
            coords = r["proj_micro"].split(",")
            assert len(coords) == 16
            for c in coords:
                int(c)  # every coordinate is a clean integer literal
            if r["norm_ratio_micro"] is not None:
                # JL with a ±1 sign matrix keeps ||proj||/||x|| near 1;
                # wide tolerance — this guards plumbing, not the bound.
                assert 0 < r["norm_ratio_micro"] < 3_000_000


class TestTxnLogMerge:
    def test_copy_on_write_touches_exactly_one_base_file(
        self, spark, sf_dir
    ):
        """The stats-pruning contract: update keys are all ≡ 0 mod 4,
        so the merge must rewrite data0 ONLY — data1..3 survive as the
        original files (never rewritten), the insert file is separate,
        and the final live set is exactly {data0_m, data1, data2,
        data3, dataIns}. Also: no commit tmp files may survive (the
        atomic-publish protocol leaves none on success)."""
        import os

        from etl_8x8_spark.sources import txn_log

        all_queries()["sink_txn_log_merge"].builder(spark, sf_dir).collect()
        base = fixture_dir(sf_dir, "txnmerge")
        log_dir = os.path.join(base, "_log")
        names = sorted(os.listdir(log_dir))
        assert [n for n in names if n.endswith(".tmp")] == []
        recs = dict(txn_log.records(log_dir))
        assert len(recs) == 5  # 4 base commits + 1 merge commit
        live = txn_log.live_adds(recs.items())
        assert sorted(live) == [
            "data0_m",
            "data1",
            "data2",
            "data3",
            "dataIns",
        ]
        # merge commit removed only the touched file
        assert recs[4]["removes"] == ["data0"]

    def test_merged_state_matches_declarative_merge(self, spark, sf_dir):
        """The copy-on-write result must equal the one-shot full-outer
        MERGE relation computed in-memory from the same source — the
        cross-check the oracle does in DuckDB, repeated here in Spark
        so a failure localizes to the protocol (not engine parity)."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.sources.readers import load_table

        out = {
            (r["o_orderstatus"], r["last_action"]): (r["n_rows"])
            for r in all_queries()["sink_txn_log_merge"]
            .builder(spark, sf_dir)
            .collect()
        }
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        n_orders = orders.count()
        n_upd = orders.filter(F.col("o_orderkey") % 20 == 0).count()
        n_ins = orders.filter(F.col("o_orderkey") % 100 == 0).count()
        assert sum(n for (_, a), n in out.items() if a == "update") == n_upd
        assert sum(n for (_, a), n in out.items() if a == "insert") == n_ins
        assert (
            sum(n for (_, a), n in out.items() if a == "keep")
            == n_orders - n_upd
        )


class TestIncrementalSubstring:
    def test_planted_verdicts(self, spark, sf_dir):
        """Every overlap batch doc (interior copied from the index)
        must report 'overlap' with its longest span covering at least
        the 20 planted tokens; every '_nv'-suffixed doc must report
        'novel' with zeroed span stats."""
        from etl_8x8_spark.operators.dedup import _SPAN_K

        rows = (
            all_queries()["dedup_incremental_substring"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert rows
        overlaps = []
        for r in rows:
            # batch ids are negated (corpus-size-proof namespace):
            # odd negatives = overlap family, even negatives = novel
            assert r["batch_doc_id"] < 0, r
            if r["batch_doc_id"] % 2 == 0:
                assert r["verdict"] == "novel", r
                assert r["n_spans"] == 0 and r["dup_tokens"] == 0, r
            else:
                overlaps.append(r)
                if r["verdict"] == "overlap":
                    # any match implies at least one full K-shingle span
                    assert r["max_span_tokens"] >= _SPAN_K, r
        # the plant works: nearly every overlap-family doc carries a copied
        # interior (a source doc shorter than ~12 tokens yields an
        # interior under K tokens and legitimately reads 'novel'), and
        # full-length plants reach the full 20-token span
        found = [r for r in overlaps if r["verdict"] == "overlap"]
        assert len(found) >= 0.9 * len(overlaps)
        assert max(r["max_span_tokens"] for r in found) >= 20

    def test_index_is_reused_across_runs(self, spark, sf_dir):
        """The cross-run contract: a second invocation must PROBE the
        persisted shingle index, not rebuild it — the published index
        dir (inode and mtime) is unchanged by run 2."""
        import os

        q = all_queries()["dedup_incremental_substring"].builder
        q(spark, sf_dir).collect()
        idx = fixture_dir(sf_dir, "substr_sh_index")
        st1 = os.stat(idx)
        q(spark, sf_dir).collect()
        st2 = os.stat(fixture_dir(sf_dir, "substr_sh_index"))
        assert (st1.st_ino, st1.st_mtime_ns) == (st2.st_ino, st2.st_mtime_ns)


class TestTxnLogCheckpoint:
    def test_checkpoint_plus_suffix_equals_full_replay(
        self, spark, sf_dir
    ):
        """The O(suffix) reader contract: the persisted checkpoint's
        live set must equal the fold of commits v0..v4, and checkpoint
        + suffix replay must land on exactly the same live set as a
        full-log fold — so skipping v0..v4 loses nothing."""
        import os

        from etl_8x8_spark.sources import txn_log

        all_queries()["scan_txn_log_checkpoint"].builder(
            spark, sf_dir
        ).collect()
        log_dir = os.path.join(fixture_dir(sf_dir, "txnckpt"), "_log")
        names = sorted(os.listdir(log_dir))
        assert "00004.checkpoint.json" in names
        assert not [n for n in names if n.endswith(".tmp")]

        def fold(upto=None, start_live=(), after=-1):
            recs = txn_log.records(log_dir, upto, after)
            return sorted(txn_log.live_adds(recs, start_live))

        ckpt = txn_log.read(log_dir, 4, kind="checkpoint")
        assert sorted(ckpt["live"]) == fold(upto=4)
        assert fold() == fold(start_live=ckpt["live"], after=4)
        assert fold() == ["compactA", "compactB"]


class TestTxnLogVacuum:
    def test_garbage_deleted_live_intact_state_unchanged(
        self, spark, sf_dir
    ):
        """The retention contract: after VACUUM the logically-removed
        slice directories are physically GONE (time travel to v0/v1
        would fail — the documented retention tradeoff), the live
        compacted file survives, the audit record lists exactly what
        was deleted, and the logical table state still matches the
        in-memory recompute (vacuum never changes state)."""
        import json
        import os

        from pyspark.sql import functions as F

        from etl_8x8_spark.sources.readers import load_table

        out = (
            all_queries()["sink_txn_log_vacuum"]
            .builder(spark, sf_dir)
            .collect()
        )
        base = fixture_dir(sf_dir, "txnvac")
        assert not os.path.exists(os.path.join(base, "sliceA"))
        assert not os.path.exists(os.path.join(base, "sliceB"))
        assert os.path.exists(os.path.join(base, "dataC"))
        audit = json.load(
            open(os.path.join(base, "_log", "00002.vacuum.json"))
        )
        assert sorted(audit["deleted"]) == ["sliceA", "sliceB"]
        # logical state unchanged by vacuum: matches direct recompute
        expect = {
            (r["o_orderpriority"], r["n"])
            for r in load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 5 != 0)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert {(r["o_orderpriority"], r["n"]) for r in out} == expect


class TestQuantizedStatsNumpyTwin:
    """The DuckDB oracles prove cross-engine PARITY of the quantized
    power sums; these twins prove the MATH — the quantization must not
    move Pearson r or the OLS fit beyond micro-rounding of the
    float64 reference computed by numpy on the raw columns."""

    def test_corr_matrix_matches_numpy(self, spark, sf_dir):
        import duckdb
        import numpy as np

        rows = (
            all_queries()["agg_corr_matrix"].builder(spark, sf_dir).collect()
        )
        con = duckdb.connect()
        cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        data = con.sql(
            f"SELECT {', '.join(cols)} FROM '{sf_dir}/lineitem.parquet'"
        ).fetchnumpy()
        for r in rows:
            a = np.asarray(data[r["col_x"]], dtype=np.float64)
            b = np.asarray(data[r["col_y"]], dtype=np.float64)
            want = float(np.corrcoef(a, b)[0, 1])
            # operator reports floor(r*1e6+0.5)/1e6 of the QUANTIZED
            # columns; hundredth-quantization of 2-dp/integral data is
            # exact, so only micro-rounding separates the two paths
            assert abs(r["corr"] - want) < 2e-6, (r, want)

    def test_linear_regression_matches_numpy(self, spark, sf_dir):
        import duckdb
        import numpy as np

        rows = (
            all_queries()["agg_linear_regression"]
            .builder(spark, sf_dir)
            .collect()
        )
        con = duckdb.connect()
        for r in rows:
            d = con.sql(
                f"SELECT l_quantity AS x, l_extendedprice AS y "
                f"FROM '{sf_dir}/lineitem.parquet' "
                f"WHERE l_returnflag = '{r['l_returnflag']}'"
            ).fetchnumpy()
            x = np.asarray(d["x"], dtype=np.float64)
            y = np.asarray(d["y"], dtype=np.float64)
            slope, intercept = np.polyfit(x, y, 1)
            cc = float(np.corrcoef(x, y)[0, 1])
            assert abs(r["slope"] - slope) < 1e-4 * max(1, abs(slope))
            assert abs(r["intercept"] - intercept) < 1e-4 * max(
                1, abs(intercept)
            )
            assert abs(r["r2"] - cc * cc) < 2e-6
            assert r["n"] == len(x)
