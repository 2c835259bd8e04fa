"""Tests for the transaction-log protocol (``sources/txn_log.py``)
and the crash consistency of the tables built on it (LESSONS #44).

The protocol: data files are immutable; table state is the fold of an
ordered log of {adds, removes}; a commit becomes visible when its
record, staged in a private ``*.json.<id>.tmp`` file, is hard-linked to
``NNNNN.json``. The link is create-if-absent, so a second commit to
the same version fails and leaves the winner's record untouched.

Crash model under test:
- writer dies AFTER writing data files but BEFORE the link → the data
  files and a ``.tmp`` record are on disk, but a reader must serve
  exactly the last committed snapshot (orphans invisible);
- a visible-but-torn ``*.json`` cannot be produced by the protocol
  (the link publishes a fully written file), so if one IS found the
  reader must fail stop rather than silently serve a partial state.
"""

from __future__ import annotations

import os
import shutil

import pytest

from etl_8x8_spark.registry import all_queries
from etl_8x8_spark.sources import txn_log
from etl_8x8_spark.sources.readers import scratch_dir

from tests.conftest import fixture_dir

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _run(spark):
    q = all_queries()["sink_txn_log_commit"]
    return sorted(
        tuple(r) for r in q.builder(spark, SF_DIR).collect()
    )


def _base() -> str:
    return fixture_dir(SF_DIR, "txnlog")


class TestTxnLogCrashConsistency:
    def test_uncommitted_write_is_invisible(self, spark):
        """Writer death between data-file write and log link: the
        orphaned data dir and the half-written .tmp record must not
        change what a reader serves."""
        committed = _run(spark)  # builds + commits 3 versions
        base = _base()
        log_dir = os.path.join(base, "_log")
        # simulate the dying writer: a fourth data dir fully written...
        orphan = os.path.join(base, "dataD")
        if os.path.exists(orphan):
            shutil.rmtree(orphan)
        shutil.copytree(os.path.join(base, "dataC"), orphan)
        # ...and its commit record only half-flushed, never linked
        tmp = os.path.join(log_dir, "00003.json.tmp")
        with open(tmp, "w") as f:
            f.write('{"adds": ["dataD"], "rem')  # torn mid-write
        try:
            assert _run(spark) == committed  # last committed snapshot
        finally:
            os.remove(tmp)
            shutil.rmtree(orphan)

    def test_reader_replays_to_compacted_state(self, spark):
        """The fold must end at {dataC}: a reader that still sees the
        removed dataA/dataB (or misses dataC) is serving a snapshot
        that never existed."""
        _run(spark)
        log_dir = txn_log.log_of(_base())
        assert list(txn_log.live_adds(txn_log.records(log_dir))) == ["dataC"]

    def test_torn_visible_record_fails_stop(self, spark):
        """A torn *.json is impossible under the protocol (the link
        publishes a complete file); if one exists the reader must
        raise, not fold a partial log into a snapshot that never
        existed."""
        _run(spark)
        torn = os.path.join(_base(), "_log", "00003.json")
        with open(torn, "w") as f:
            f.write('{"adds": ["dataD"], "rem')
        try:
            with pytest.raises(Exception):
                _run(spark)
        finally:
            os.remove(torn)
        # and the reader recovers once the torn record is gone
        assert len(_run(spark)) > 0


class TestCdcStreamLogConsistency:
    def test_every_log_prefix_is_a_valid_snapshot(self, spark):
        """cdc_stream_apply (txn-log rebased in r12): folding ANY
        prefix of the commit log must yield a readable, complete
        table — the before-or-after guarantee per batch. Version 0 is
        the bulk load (all rows); later snapshots change monotonically
        by the applied deltas, and bucket files referenced by each
        prefix must all exist (immutability: removes never delete)."""
        q = all_queries()["cdc_stream_apply"]
        final_n = q.builder(spark, SF_DIR).count()
        sf_tag = os.path.basename(SF_DIR.rstrip("/")) or "sf"
        base = os.path.join(scratch_dir(), f"cdc_stream_{sf_tag}")
        log_dir = txn_log.log_of(base)
        data = os.path.join(base, "data")
        assert txn_log.versions(log_dir) == [0, 1, 2, 3]  # load + 3 batches
        counts = []
        for v in range(4):
            live = txn_log.live_adds(txn_log.records(log_dir, upto=v))
            paths = [os.path.join(data, p) for p in live]
            assert all(os.path.isdir(p) for p in paths)  # immutable
            counts.append(spark.read.parquet(*paths).count())
        assert counts[-1] == final_n
        # v0 = table; v1 adds inserts; v2 row-neutral updates;
        # v3 shrinks by the deletes
        assert counts[1] > counts[0]
        assert counts[2] == counts[1]
        assert counts[3] < counts[2]


class TestTimeTravel:
    def test_versions_are_the_planted_states(self, spark):
        """v0 = evens only, v1 = whole table, v2 = v1 minus the
        mod-10 deletes — and no state leaks across versions."""
        rows = {
            r["version"]: r
            for r in all_queries()["scan_txn_log_time_travel"]
            .builder(spark, SF_DIR)
            .collect()
        }
        assert sorted(rows) == [0, 1, 2]
        assert rows[0]["n"] < rows[1]["n"]  # evens ⊂ all
        assert rows[2]["n"] < rows[1]["n"]  # deletes shrink
        # v2 must still contain the even non-mod-10 keys from v0
        assert rows[2]["n"] > rows[0]["n"] // 2


class TestTxnLogPrimitives:
    """``sources/txn_log.py`` itself, on a bare log directory."""

    def test_second_commit_to_a_version_loses(self, tmp_path):
        log_dir = str(tmp_path)
        assert txn_log.commit(log_dir, 7, {"who": "X"}) is True
        winner = (tmp_path / "00007.json").read_bytes()
        assert txn_log.commit(log_dir, 7, {"who": "Y"}) is False
        assert (tmp_path / "00007.json").read_bytes() == winner
        assert txn_log.read(log_dir, 7) == {"who": "X"}
        assert sorted(os.listdir(log_dir)) == ["00007.json"]  # no tmp left
        with pytest.raises(FileExistsError):
            txn_log.commit_or_raise(log_dir, 7, {"who": "Z"})
        assert txn_log.append(log_dir, {"who": "W"}) == 8

    def test_records_skip_non_commits_and_stop_at_upto(self, tmp_path):
        log_dir = str(tmp_path)
        for v in range(4):
            txn_log.commit(log_dir, v, {"adds": [f"f{v}"], "removes": []})
        txn_log.commit(log_dir, 2, {"version": 2, "live": []}, "checkpoint")
        txn_log.commit(log_dir, 3, {"deleted": []}, kind="vacuum")
        (tmp_path / "00004.json.tmp").write_text('{"adds": ["f4"], "rem')
        assert [v for v, _ in txn_log.records(log_dir)] == [0, 1, 2, 3]
        assert [v for v, _ in txn_log.records(log_dir, upto=1)] == [0, 1]
        assert [v for v, _ in txn_log.records(log_dir, after=1)] == [2, 3]
        assert txn_log.versions(log_dir, kind="checkpoint") == [2]

    def test_live_adds_folds_str_and_dict_entries(self):
        recs = [
            (0, {"adds": ["a", {"path": "b", "rows": 3}], "removes": []}),
            (1, {"adds": [{"path": "c"}], "removes": ["a"]}),
        ]
        assert txn_log.live_adds(recs) == {
            "b": {"path": "b", "rows": 3},
            "c": {"path": "c"},
        }
        # a checkpoint's live set seeds the fold of the suffix
        assert list(txn_log.live_adds(recs[1:], ["a", "z"])) == ["z", "c"]

    def test_live_paths_fold_from_the_latest_checkpoint(self, tmp_path):
        base = str(tmp_path)
        log_dir = txn_log.reset(base)
        for v in range(4):
            removes = ["f2"] if v == 3 else []
            txn_log.commit(log_dir, v, {"adds": [f"f{v}"], "removes": removes})
        # a checkpoint unlike the fold of v0..v1 shows where folds start
        txn_log.commit(log_dir, 1, {"version": 1, "live": ["ck"]}, "checkpoint")

        def paths(*names):
            return [os.path.join(base, n) for n in names]

        assert txn_log.live_paths(base, 0) == paths("f0")
        assert txn_log.live_paths(base, 1) == paths("ck")
        assert txn_log.live_paths(base, 2) == paths("ck", "f2")
        assert txn_log.live_paths(base) == paths("ck", "f3")

    def test_removing_a_path_that_is_not_live_raises(self):
        recs = [(0, {"adds": ["a"], "removes": []}),
                (1, {"adds": [], "removes": ["b"]})]
        with pytest.raises(ValueError, match="'b'"):
            txn_log.live_adds(recs)
