"""Streaming semantics tests: late-data drop under watermark (since
r11 also value-hash-oracled via dual-sentinel phasing; this test pins
the DROP semantics directly) and the partitioned-sink hot-split."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries
from etl_8x8_spark.sources.readers import load_table, scratch_dir
from etl_8x8_spark.sources.sinks import write_parquet_partitioned


class TestWatermarkLateData:
    def test_late_rows_dropped_from_finalized_windows(self, spark, sf_dir):
        out = (
            all_queries()["stream_watermark_late_data"]
            .builder(spark, sf_dir)
            .collect()
        )
        assert out, "sentinel phases must finalize the real windows"
        emitted = {(r.window_start, r.event_type): r.n_events for r in out}

        # batch equivalent over the ORIGINAL events only (no late
        # copies), restricted to the emitted windows
        events = load_table(spark, sf_dir, "events")
        batch = (
            events.groupBy(
                F.unix_timestamp(F.date_trunc("hour", "ts")).alias("ws"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        batch_counts = {(r.ws, r.event_type): r.n for r in batch}

        # earliest-window sanity: the late copies duplicated the 20
        # earliest events; if they had NOT been dropped, the earliest
        # emitted windows would exceed their batch counts
        for key, n in emitted.items():
            assert key in batch_counts
            assert n == batch_counts[key], (
                f"window {key}: emitted {n} != batch {batch_counts[key]} — "
                "late duplicates leaked into a finalized window"
            )

        earliest_ws = min(ws for ws, _ in emitted)
        assert any(ws == earliest_ws for ws, _ in batch_counts), (
            "the late-copy windows are among the finalized ones"
        )

        # r11: the dual sentinel phases flush append state COMPLETELY,
        # so the emitted set equals the full batch aggregate — this is
        # what makes the plain GROUP BY the driver oracle
        assert set(emitted) == set(batch_counts), (
            "sentinel flush must finalize every real window"
        )


class TestPartitionedSinkSplit:
    def test_hot_partition_splits_into_multiple_files(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        path = os.path.join(scratch_dir(), "test_sink_split")
        # At test volume AQE's partition coalescing (correctly) merges
        # the salted shuffle back into one task; disable it so the
        # salt's task-splitting is observable like it would be at
        # production partition sizes.
        prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            write_parquet_partitioned(
                orders, path, ["o_orderstatus"], files_per_partition=4
            )
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", prev
            )
        part_dirs = glob.glob(os.path.join(path, "o_orderstatus=*"))
        assert part_dirs, "partition directories must exist"
        for d in part_dirs:
            files = glob.glob(os.path.join(d, "*.parquet"))
            # hash-salt splits each hot partition value across multiple
            # tasks (up to 4); every status has thousands of rows, so
            # expect more than one file per value
            assert 2 <= len(files) <= 4, f"{d}: {len(files)} files"

        # read-back equality: nothing lost or duplicated
        back = spark.read.parquet(path)
        assert back.count() == orders.count()

    def test_single_file_per_partition_default(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        path = os.path.join(scratch_dir(), "test_sink_nosplit")
        write_parquet_partitioned(orders, path, ["o_orderstatus"])
        for d in glob.glob(os.path.join(path, "o_orderstatus=*")):
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, f"{d}: {len(files)} files"


class TestCompaction:
    def test_compact_reduces_files_preserves_rows(self, spark, sf_dir):
        from etl_8x8_spark.sources.sinks import compact_parquet

        orders = load_table(spark, sf_dir, "orders")
        path = os.path.join(scratch_dir(), "test_compaction")
        # simulate a streaming writer's small-files mess: 64 tiny files
        orders.repartition(64).write.mode("overwrite").parquet(path)
        n_rows = orders.count()
        before, after = compact_parquet(
            spark, path, target_rows_per_file=n_rows
        )
        assert before >= 32
        assert after == 1
        back = spark.read.parquet(path)
        assert back.count() == n_rows
        # spot-check content integrity, not just counts
        assert (
            back.agg(F.sum("o_orderkey")).collect()[0][0]
            == orders.agg(F.sum("o_orderkey")).collect()[0][0]
        )


class TestCheckpointResume:
    def test_restart_processes_only_the_delta_exactly_once(self, spark, sf_dir):
        """Exactly-once resume: a file-stream aggregate is driven to
        completion, the query object is discarded (the 'crash'), new
        data lands, and a NEW query started from the SAME checkpoint
        must fold in only the unseen file — no reprocessing (doubled
        counts) and no loss."""
        import shutil

        from etl_8x8_spark.streaming.streams import _EVENTS_STREAM_SCHEMA

        base = os.path.join(scratch_dir(), "test_ckpt_resume")
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "in")
        ckpt = os.path.join(base, "ckpt")
        out = os.path.join(base, "out")
        events = load_table(spark, sf_dir, "events")

        def run_once() -> None:
            s = spark.readStream.schema(_EVENTS_STREAM_SCHEMA).parquet(src)
            agg = s.groupBy("event_type").agg(F.count("*").alias("n"))
            q = (
                agg.writeStream.format("memory")
                .queryName("ckpt_resume_tbl")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # phase 1: half the data
        half = events.filter(F.col("event_id") % 2 == 0)
        half.write.mode("append").parquet(src)
        run_once()
        phase1 = {
            r.event_type: r.n
            for r in spark.table("ckpt_resume_tbl").collect()
        }

        # "crash", then the other half arrives; resume from checkpoint
        events.filter(F.col("event_id") % 2 == 1).write.mode(
            "append"
        ).parquet(src)
        run_once()
        phase2 = {
            r.event_type: r.n
            for r in spark.table("ckpt_resume_tbl").collect()
        }

        expected = {
            r.event_type: r.n
            for r in events.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        # complete-mode state survived the restart: totals equal the
        # batch answer exactly (reprocessing would overshoot, state
        # loss would undershoot)
        assert phase2 == expected
        assert all(phase1[k] <= phase2[k] for k in phase1)


class TestPhaseDriver:
    """``streams.run_phases`` on a synthetic 3-phase stream, outside
    any registry key. The build is a stateful dedup on user_id, so a
    row survives only if the checkpoint carried state across phases."""

    def _run(self, spark, sf_dir):
        from etl_8x8_spark.streaming.streams import run_phases

        def phase(k: int):
            # spark.range spreads 5 rows over several partitions: only
            # the driver's coalesce makes the phase one input file
            return spark.range(10 * k, 10 * k + 5).selectExpr(
                "id AS event_id",
                "timestamp_micros(id * 1000000) AS ts",
                "id % 3 AS user_id",
                "'click' AS event_type",
                "CAST(id AS DOUBLE) AS value",
                "CAST(NULL AS STRING) AS props",
            )

        def build(read):
            return read().dropDuplicates(["user_id"]).select(
                "event_id", "user_id"
            )

        out = run_phases(
            spark, "phase_probe", sf_dir, [phase(k) for k in range(3)], build
        )
        return sorted(tuple(r) for r in out.collect())

    def test_one_file_per_phase_and_fresh_rerun(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import _sf_tag

        in_dir = os.path.join(
            scratch_dir(), f"phase_probe_{_sf_tag(sf_dir)}", "in"
        )
        first = self._run(spark, sf_dir)
        assert len(glob.glob(os.path.join(in_dir, "*.parquet"))) == 3
        # phase 0 already holds every user, so the later phases emit
        # nothing: one row per user, all from phase 0
        assert sorted(u for _, u in first) == [0, 1, 2]
        assert all(e < 5 for e, _ in first)

        # a rerun that kept in/ or ckpt/ would see 6 files or re-emit
        second = self._run(spark, sf_dir)
        assert len(glob.glob(os.path.join(in_dir, "*.parquet"))) == 3
        assert second == first


class TestTxnLogStreamsEmpty:
    def test_txn_log_streams_survive_empty_orders(self, spark, sf_dir, tmp_path):
        """The empty-table sweep skips every ``stream_*`` key, so this
        builds the two transaction-log streams on an sf dir whose
        ``orders`` has its schema and no row, twice each: the second
        build reuses the derived log the first one published."""
        d = str(tmp_path / "empty_orders")
        spark.read.parquet(f"{sf_dir}/orders.parquet").limit(0).coalesce(
            1
        ).write.parquet(os.path.join(d, "orders.parquet"))
        for name in ("stream_txn_log_tail", "stream_txn_log_sink"):
            for _ in range(2):
                assert all_queries()[name].builder(spark, d).count() == 0
