"""Streaming source over the transaction-log table (r14) — the Delta
streaming-source shape: the stream's OFFSET is the log version, each
micro-batch serves the commits that landed since the last checkpoint,
and the rows of a batch are exactly the rows the new commits ADDED.

Unlike the paginated-API demo source (``custom_source.py``, a
``SimpleDataSourceStreamReader`` whose rows flow through the driver),
this is the FULL ``DataSourceStreamReader``: ``partitions(start, end)``
returns one :class:`InputPartition` per (commit, added file) and
``read(partition)`` runs ON EXECUTORS, streaming each file's Arrow
record batches straight into Spark — file-level parallelism identical
to a parquet scan, which is what makes the source viable when a single
commit adds terabytes. The driver only ever touches metadata: the log
listing (``latestOffset``) and the commit records (``partitions``).

Offset discipline — learned the hard way from Spark 4's actual call
order (traced, r14): the engine may call ``latestOffset`` BEFORE
``initialOffset``, pipelines the next poll while the previous batch is
still running (so a ``commit``-anchored throttle sees stale state),
and treats WHATEVER the poll returns as the next batch end — a
non-monotone answer makes it plan a BACKWARD batch, commit the
regressed offset, and replay commits (row duplication; the r14 debug
fixture read versions 1/2 two and three times). Therefore:

- ``latestOffset`` is SELF-MONOTONE via a high-water mark the reader
  owns; engine signals (``partitions``/``commit`` offsets) only ever
  lift it.
- The FIRST poll of a run returns the TRUE latest — the reader cannot
  know the checkpointed position (restarts never call
  ``initialOffset``), and any answer behind it triggers the backward-
  batch replay above. Consequence: a pre-existing backlog (initial
  load or post-restart catch-up) lands in ONE batch, kept parallel by
  per-file partitions.
- Steady state advances ONE commit per poll — new commits land as
  commit-aligned micro-batches, the granularity real lakehouse
  sources get from ``maxFilesPerTrigger`` (the Python DataSource API
  has no ReadLimit hook, so the source throttles itself).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from etl_8x8_spark.sources import txn_log

_SCHEMA = "o_orderkey bigint, o_totalprice double, version bigint"


class _CommitFile(InputPartition):
    def __init__(self, version: int, path: str) -> None:
        self.version = version
        self.path = path


class TxnLogTailReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.base = options["path"]
        self.log_dir = txn_log.log_of(self.base)
        self._hwm: int | None = None  # high-water mark of SERVED offsets

    # -- offsets: {"version": N} == "commits < N consumed" ------------
    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        versions = txn_log.versions(self.log_dir)
        top = versions[-1] + 1 if versions else 0
        if self._hwm is None:
            # first poll of this run: the checkpointed position is
            # unknowable here, so the only replay-safe answer is the
            # true latest (backlog catch-up = one file-parallel batch)
            nxt = top
        else:
            # steady state: one commit per poll, never backward
            nxt = max(min(self._hwm + 1, top), self._hwm)
        self._hwm = nxt
        return {"version": nxt}

    def partitions(self, start: dict, end: dict):
        # engine-known offsets can only LIFT the high-water mark
        seen = max(start["version"], end["version"])
        if self._hwm is None or seen > self._hwm:
            self._hwm = seen
        parts: list[_CommitFile] = []
        for v in range(start["version"], end["version"]):
            for add in txn_log.read(self.log_dir, v)["adds"]:
                path = os.path.join(self.base, txn_log.add_path(add))
                parts.append(_CommitFile(v, path))
        # an empty batch still needs ≥0 partitions; Spark handles []
        return parts

    def read(self, partition: _CommitFile):
        # EXECUTOR-side: stream the file's Arrow batches directly —
        # no per-row Python, no driver hop
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(
            os.path.join(partition.path, f)
            for f in os.listdir(partition.path)
            if f.endswith(".parquet")
        )
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches(
                columns=["o_orderkey", "o_totalprice"]
            ):
                n = batch.num_rows
                # look columns up by NAME: iter_batches yields them in
                # file-schema order, not requested order, so a commit
                # written with swapped column order must still map right
                idx = batch.schema.get_field_index
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(idx("o_orderkey")).cast(pa.int64()),
                        batch.column(idx("o_totalprice")).cast(
                            pa.float64()
                        ),
                        pa.array([partition.version] * n, pa.int64()),
                    ],
                    names=["o_orderkey", "o_totalprice", "version"],
                )

    def commit(self, end: dict) -> None:
        # offsets are durable in Spark's checkpoint; the reader only
        # lifts its high-water mark (a completed batch can never move
        # the safe frontier backward)
        if self._hwm is None or end["version"] > self._hwm:
            self._hwm = end["version"]


class TxnLogTailSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txn_log_tail"

    def schema(self) -> str:
        return _SCHEMA

    def streamReader(self, schema) -> TxnLogTailReader:
        return TxnLogTailReader(self.options)


def register_txn_log_tail_source(spark) -> None:
    """Idempotent registration (per-session)."""
    key = "_txn_log_tail_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(TxnLogTailSource)
        setattr(spark, key, True)
