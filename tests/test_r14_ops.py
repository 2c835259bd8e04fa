"""Round-14 tests: the r13 ADVICE fixes.

1. ``multimodal_resize``'s engine/oracle contract is BYTE-based — the
   engine truncates the UTF-8 byte stream at the 16-byte budget, so
   the oracle must count octets, not code points. The r13 oracle used
   ``ascii()`` per character and only agreed on pure-ASCII fixtures;
   this pins parity on a corpus where multi-byte characters exist AND
   one is split by the byte budget.
2. ``scan_xml``'s fixture synthesis XML-escapes interpolated text, so
   names carrying ``& < >`` survive the round-trip un-corrupted.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from etl_8x8_spark.registry import all_queries
from etl_8x8_spark.sources import txn_log

from tests.conftest import fixture_dir

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


class TestResizeByteOracle:
    def test_non_ascii_parity_engine_vs_duckdb(self, spark, tmp_path):
        """Engine and oracle must agree on texts where the UTF-8 byte
        stream diverges from the code-point stream: multi-byte chars
        inside the budget, a multi-byte char SPLIT by the 16-byte cut,
        empty text, and short-ASCII (pad path)."""
        texts = [
            "héllo wörld padding beyond budget",   # 2-byte chars inside
            "世界世界世界世界世界",                  # 3-byte chars, split at 16
            "ascii only but long enough to cut",   # pure-ASCII control
            "ab",                                  # shorter than budget
            "",                                    # empty
            "é" * 8,                               # exactly 16 bytes
        ]
        pdf = pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        )
        fix_dir = tmp_path / "sfx"
        fix_dir.mkdir()
        pdf.to_parquet(fix_dir / "documents.parquet", index=False)

        spec = all_queries()["multimodal_resize"]
        got = {
            r["doc_id"]: (r["resized_bytes"], r["resized_checksum"])
            for r in spec.builder(spark, str(fix_dir)).collect()
        }

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS "
            f"SELECT * FROM '{fix_dir}/documents.parquet'"
        )
        want = {
            int(doc_id): (int(rb), int(ck))
            for doc_id, rb, ck in con.execute(spec.oracle).fetchall()
        }
        assert got == want

        # and both equal the ground truth computed in plain Python
        for i, t in enumerate(texts):
            b = t[:32].encode("utf-8")[:16]
            assert got[i] == (16, sum(b) % 1_000_000_007), (i, t)


class TestScanXmlEscaping:
    def test_special_chars_survive_roundtrip(self, spark, tmp_path):
        """A supplier name carrying & < > must come back verbatim and
        NOT be routed to _corrupt_record — the fixture writer escapes,
        the StAX parser un-escapes (r13 ADVICE)."""
        pdf = pd.DataFrame(
            {
                "s_suppkey": [1, 2, 41 * 1],  # include one %41 corrupt row
                "s_name": [
                    "Tom & Jerry <Ltd> a>b",
                    "plain name",
                    "also & <plain>",
                ],
                "s_acctbal": [10.5, 20.25, 30.0],
                "s_nationkey": [0, 1, 2],
            }
        )
        # key 41 hits the planted %41 corrupt rule; 1 and 2 must parse
        fix_dir = tmp_path / "sfy"
        fix_dir.mkdir()
        pdf.to_parquet(fix_dir / "supplier.parquet", index=False)

        rows = {
            r["s_suppkey"]: r
            for r in all_queries()["scan_xml"]
            .builder(spark, str(fix_dir))
            .collect()
        }
        assert rows[1]["s_name"] == "Tom & Jerry <Ltd> a>b"
        assert not rows[1]["is_corrupt"]
        assert rows[1]["s_acctbal"] == 10.5
        assert rows[2]["s_name"] == "plain name"
        assert not rows[2]["is_corrupt"]
        assert rows[41]["is_corrupt"]  # the planted rule, not escaping


class TestTxnLogConflict:
    def _base(self, sf_dir):
        return fixture_dir(sf_dir, "txnconflict")

    def test_retry_and_abort_branches(self, spark, sf_dir):
        """The audit sidecar pins the protocol paths: B lost exactly
        one CAS and resolved by RETRY (disjoint append) into v3; C
        lost once, ABORTED (overlap with A's rewrite), and its
        post-abort re-read already included B's v3 commit — so the
        recompute targeted v4 directly and won without racing B."""
        import json

        all_queries()["sink_txn_log_conflict"].builder(
            spark, sf_dir
        ).collect()
        base = self._base(sf_dir)
        audit = json.load(open(os.path.join(base, "_AUDIT.json")))
        assert audit["A"] == {
            "cas_failures": 0,
            "resolution": "win",
            "version": 2,
        }
        assert audit["B"]["cas_failures"] == 1
        assert audit["B"]["resolution"] == "retry"
        assert audit["B"]["version"] == 3
        assert audit["C"]["aborted"] is True
        assert audit["C"]["cas_failures"] == 1  # lost to A only
        assert audit["C"]["version"] == 4

    def test_log_and_live_set(self, spark, sf_dir):
        """Versions 0-4 each committed exactly once, no tmp orphans
        survive, C's aborted staged file is gone, and the folded live
        set is exactly {dataE_ac, dataO, dataN}."""
        all_queries()["sink_txn_log_conflict"].builder(
            spark, sf_dir
        ).collect()
        base = self._base(sf_dir)
        log_dir = txn_log.log_of(base)
        assert [n for n in os.listdir(log_dir) if ".tmp" in n] == []
        assert txn_log.versions(log_dir) == [0, 1, 2, 3, 4]
        # the aborted rewrite's directory was discarded
        assert not os.path.exists(os.path.join(base, "dataE_c"))
        live = txn_log.live_adds(txn_log.records(log_dir))
        assert sorted(live) == ["dataE_ac", "dataN", "dataO"]

    def test_cas_primitive_second_writer_loses(self, tmp_path):
        """The link-based CAS the operator commits through: the second
        commit to a version must fail and leave the winner's bytes
        untouched (rename would silently clobber them)."""
        log_dir = str(tmp_path)
        assert txn_log.commit(log_dir, 7, {"who": "X"}) is True
        assert txn_log.commit(log_dir, 7, {"who": "Y"}) is False
        assert txn_log.read(log_dir, 7) == {"who": "X"}


class TestTxnLogSchemaEvolution:
    def test_old_files_never_rewritten(self, spark, sf_dir):
        """ADD COLUMN is O(1): the gen1 parquet on disk still carries
        the ORIGINAL 2-column schema after two ALTERs, yet the reader
        surfaces it at the latest 4-column schema with NULLs."""
        out = (
            all_queries()["sink_txn_log_schema_evolution"]
            .builder(spark, sf_dir)
            .collect()
        )
        base = fixture_dir(sf_dir, "txnschema")
        # the r15 generation-grouped fixture writes gen1 as TWO files
        # of the same schema generation (gen1a/gen1b)
        for g in ("gen1a", "gen1b"):
            gen1 = spark.read.parquet(os.path.join(base, g))
            assert gen1.columns == ["o_orderkey", "o_totalprice"]
        gen3 = spark.read.parquet(os.path.join(base, "gen3"))
        assert "channel" in gen3.columns
        # pre-alter rows surface under the sentinel for BOTH young cols
        pre = [
            r
            for r in out
            if r["priority"] == "<pre-alter>"
        ]
        assert pre and all(r["channel"] == "<pre-alter>" for r in pre)
        # gen2 rows: real priority, NULL channel
        mid = [
            r
            for r in out
            if r["priority"] != "<pre-alter>"
            and r["channel"] == "<pre-alter>"
        ]
        assert mid
        # gen3 rows: both populated
        assert any(
            r["priority"] != "<pre-alter>" and r["channel"] != "<pre-alter>"
            for r in out
        )

    def test_dropped_column_disappears_on_read(self, spark, sf_dir):
        """The log owns the schema in BOTH directions: a DROP COLUMN
        metadata record makes the column vanish from the resolved read
        even though every byte of it remains in the live files."""
        all_queries()["sink_txn_log_schema_evolution"].builder(
            spark, sf_dir
        ).collect()
        base = fixture_dir(sf_dir, "txnschema")
        # replay the reader's fold with one extra DROP-COLUMN record
        recs = list(txn_log.records(txn_log.log_of(base)))
        live = txn_log.live_adds(recs)
        schema = [r["schema"] for _, r in recs if "schema" in r][-1]
        schema = [c for c in schema if c[0] != "o_totalprice"]  # DROP
        from pyspark.sql import functions as F

        parts = []
        for p in live:
            df = spark.read.parquet(os.path.join(base, p))
            have = set(df.columns)
            parts.append(
                df.select(
                    *[
                        F.col(c) if c in have
                        else F.lit(None).cast(t).alias(c)
                        for c, t in schema
                    ]
                )
            )
        resolved = parts[0]
        for part in parts[1:]:
            resolved = resolved.unionByName(part)
        assert resolved.columns == [
            "o_orderkey",
            "o_orderpriority",
            "channel",
        ]


class TestTxnLogTailReader:
    def test_offsets_partitions_and_single_serving(self, spark, sf_dir):
        """Reader unit contract (pipelining-safe, traced from Spark
        4's real call order): the FIRST poll of a run returns the TRUE
        latest (the checkpointed position is unknowable, so anything
        less risks a backward batch + replay); steady state advances
        one commit per poll; answers are monotone; and
        partitions(start, end) yields one input partition per added
        file of exactly the commits in [start, end)."""
        from etl_8x8_spark.sources.txn_log_stream import TxnLogTailReader

        # the query builder materializes the 4-commit fixture
        all_queries()["stream_txn_log_tail"].builder(
            spark, sf_dir
        ).collect()
        base = fixture_dir(sf_dir, "txntail")
        r = TxnLogTailReader({"path": base})
        assert r.initialOffset() == {"version": 0}
        # first poll: TRUE latest — the whole backlog in one batch
        assert r.latestOffset() == {"version": 4}
        # drained: stays put, never regresses
        assert r.latestOffset() == {"version": 4}
        parts = r.partitions({"version": 1}, {"version": 3})
        assert [p.version for p in parts] == [1, 2]
        assert [os.path.basename(p.path) for p in parts] == [
            "tail1",
            "tail2",
        ]
        assert r.partitions({"version": 2}, {"version": 2}) == []

    def test_steady_state_one_commit_per_poll(self, spark, tmp_path):
        """With the backlog drained, commits landing one at a time are
        served one per poll (commit-aligned micro-batches); a BURST of
        late commits drains one per poll too — monotone throughout."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.sources.txn_log_stream import TxnLogTailReader

        base = str(tmp_path / "t")
        log_dir = os.path.join(base, "_log")
        os.makedirs(log_dir)

        def land(v):
            d = f"tail{v}"
            spark.range(5).select(
                F.col("id").alias("o_orderkey"),
                (F.col("id") * 1.0).alias("o_totalprice"),
            ).write.parquet(os.path.join(base, d))
            txn_log.commit(log_dir, v, {"adds": [d], "removes": []})

        land(0)
        r = TxnLogTailReader({"path": base})
        assert r.latestOffset() == {"version": 1}  # first poll: top
        land(1)
        assert r.latestOffset() == {"version": 2}  # one per poll
        land(2)
        land(3)  # burst
        assert r.latestOffset() == {"version": 3}
        assert r.latestOffset() == {"version": 4}
        assert r.latestOffset() == {"version": 4}  # idle: monotone hold

    def test_stream_result_matches_batch_fold(self, spark, sf_dir):
        """End-to-end: the drained stream's per-version aggregate
        equals the batch groupBy over the same orders split — every
        commit served exactly once."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.sources.readers import load_table

        got = {
            r["version"]: r["n_rows"]
            for r in all_queries()["stream_txn_log_tail"]
            .builder(spark, sf_dir)
            .collect()
        }
        want = {
            r["v"]: r["n"]
            for r in load_table(spark, sf_dir, "orders")
            .groupBy((F.col("o_orderkey") % 4).alias("v"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want


class TestTxnLogCdf:
    def test_carried_rows_emit_nothing(self, spark, sf_dir):
        """The feed's compression contract: a rewrite that carries a
        row forward unchanged produces NO feed row for it — v1 touches
        only the %20 keys, so feed volume is the change volume, not
        the file volume. Also pins per-commit change-type purity and
        the pre/post pairing of updates."""
        from collections import Counter

        rows = (
            all_queries()["scan_txn_log_cdf"].builder(spark, sf_dir).collect()
        )
        by_ver = Counter((r["_commit_version"], r["_change_type"]) for r in rows)
        kinds_per_ver = {}
        for (v, t), _n in by_ver.items():
            kinds_per_ver.setdefault(v, set()).add(t)
        assert kinds_per_ver[1] == {"update_preimage", "update_postimage"}
        assert kinds_per_ver[2] == {"insert"}
        assert kinds_per_ver[3] == {"delete"}
        # updates come in exact pre/post pairs
        assert by_ver[(1, "update_preimage")] == by_ver[(1, "update_postimage")]
        # compression: v1's feed is only the changed keys, far below
        # the rewritten file's row count
        from etl_8x8_spark.sources.readers import load_table

        n_orders = load_table(spark, sf_dir, "orders").count()
        n_changed = by_ver[(1, "update_preimage")]
        assert 0 < n_changed < n_orders / 10

    def test_version_ordering_of_preimages(self, spark, sf_dir):
        """A key hit by the v1 bump and the v3 delete (60 | key) must
        carry the BUMPED price in its v3 delete pre-image — the feed
        reflects each commit's actual pre-state, not the original
        table."""
        rows = (
            all_queries()["scan_txn_log_cdf"].builder(spark, sf_dir).collect()
        )
        post = {
            r["o_orderkey"]: r["o_totalprice"]
            for r in rows
            if r["_change_type"] == "update_postimage"
        }
        deletes = {
            r["o_orderkey"]: r["o_totalprice"]
            for r in rows
            if r["_change_type"] == "delete"
        }
        both = [k for k in deletes if k % 60 == 0]
        assert both, "fixture has keys divisible by 60"
        for k in both:
            assert deletes[k] == post[k]  # deleted at the bumped price


class TestTxnLogTailRestart:
    def test_checkpoint_restart_no_duplicates(self, spark, tmp_path):
        """The recovery contract end-to-end: drain a 3-commit log with
        a checkpointed stream into a FILE sink (the memory sink does
        not support recovery), stop, land 2 MORE commits, restart from
        the same checkpoint. Pins BOTH halves: the restarted run's
        input (recentProgress numInputRows) is exactly the new
        commits' rows — nothing re-served; and the sink holds every
        version exactly once — nothing skipped."""
        from pyspark.sql import functions as F

        from etl_8x8_spark.sources.txn_log_stream import (
            register_txn_log_tail_source,
        )

        base = str(tmp_path / "tailtable")
        log_dir = os.path.join(base, "_log")
        os.makedirs(log_dir)

        def land_commit(version: int, n_rows: int) -> None:
            d = f"tail{version}"
            spark.range(n_rows).select(
                (F.col("id") + version * 1000).alias("o_orderkey"),
                (F.col("id") * 1.5).alias("o_totalprice"),
            ).write.parquet(os.path.join(base, d))
            txn_log.commit(log_dir, version, {"adds": [d], "removes": []})

        for v, n in ((0, 10), (1, 20), (2, 30)):
            land_commit(v, n)

        register_txn_log_tail_source(spark)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def run_phase() -> int:
            q = (
                spark.readStream.format("txn_log_tail")
                .option("path", base)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            n_in = sum(p["numInputRows"] for p in q.recentProgress)
            q.stop()
            q.awaitTermination()
            return n_in

        n1 = run_phase()
        assert n1 == 60  # versions 0-2, once each

        land_commit(3, 40)
        land_commit(4, 50)

        n2 = run_phase()
        assert n2 == 90  # ONLY versions 3-4 — offsets resumed

        rows = spark.read.parquet(out).collect()
        by_v = {}
        for r in rows:
            by_v[r["version"]] = by_v.get(r["version"], 0) + 1
        # every commit exactly once across both runs: no replay, no gap
        assert by_v == {0: 10, 1: 20, 2: 30, 3: 40, 4: 50}



class TestTxnLogRestore:
    def test_restore_is_metadata_only_and_preserves_history(
        self, spark, sf_dir
    ):
        """RESTORE must not touch data bytes (fileA's mtime is older
        than the restore commit's), the restore commit is exactly the
        live-set symmetric difference, and the 'bad' intermediate
        versions remain queryable afterward (history preserved, not
        erased)."""
        from pyspark.sql import functions as F

        all_queries()["sink_txn_log_restore"].builder(
            spark, sf_dir
        ).collect()
        base = fixture_dir(sf_dir, "txnrestore")
        log_dir = os.path.join(base, "_log")
        rec3 = txn_log.read(log_dir, 3)
        assert rec3 == {"adds": ["fileA"], "removes": ["fileB", "fileC"]}
        # metadata-only: fileA predates the restore commit record
        a_mtime = os.stat(
            os.path.join(base, "fileA", "_SUCCESS")
        ).st_mtime_ns
        restore_mtime = os.stat(
            os.path.join(log_dir, "00003.json")
        ).st_mtime_ns
        assert a_mtime < restore_mtime
        # history preserved: v1's snapshot (the bad compaction) still
        # reads — its file was logically removed, never deleted
        bad = spark.read.parquet(os.path.join(base, "fileB"))
        assert bad.filter(F.col("o_orderkey") % 10 == 0).count() == 0
        # and the restored live state equals v0's relation
        from etl_8x8_spark.sources.readers import load_table

        n_orders = load_table(spark, sf_dir, "orders").count()
        assert (
            spark.read.parquet(os.path.join(base, "fileA")).count()
            == n_orders
        )


class TestTxnLogAsOfTs:
    def test_resolver_boundaries(self, spark, sf_dir):
        """The Delta rule at the edges: an exact commit ts resolves TO
        that version, one tick earlier resolves to the previous one,
        and before-history resolves to -1 with zeroed stats."""
        rows = {
            r["query_ts"]: r
            for r in all_queries()["scan_txn_log_as_of_ts"]
            .builder(spark, sf_dir)
            .collect()
        }
        assert rows[999]["version"] == -1
        assert rows[999]["n"] == 0
        assert rows[1000]["version"] == 0   # exact boundary: inclusive
        assert rows[1500]["version"] == 0   # between commits: floor
        assert rows[2000]["version"] == 1
        assert rows[2999]["version"] == 1   # one tick before v2
        assert rows[3000]["version"] == 2
        assert rows[9999]["version"] == 2   # far future: latest
        # the three snapshots are genuinely distinguishable
        assert rows[1000]["n"] < rows[2000]["n"]
        assert rows[3000]["n"] < rows[2000]["n"]
