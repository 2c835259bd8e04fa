"""Timestamp-encoding robustness for the events table.

The driver's testdata has shipped ``events.ts`` three different ways
across rounds: TIMESTAMP(NANOS) (r1-r2), micros-native with no
isAdjustedToUTC flag — i.e. TIMESTAMP_NTZ to Spark — (r3), and plain
micros-UTC is the obvious third variant. Round 3 lost three window
queries, the whole bench, and two plan tests to the NTZ variant, so
this suite pins the contract: ``load_table`` normalizes EVERY variant
to session-zone TIMESTAMP (LTZ) micros, and the ts-consuming window
family produces identical results on all of them.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from etl_8x8_spark.sources.readers import load_table, scratch_dir

from tests.conftest import SF_DIR

_VARIANTS = ("micros_utc", "micros_ntz", "nanos")


@pytest.fixture(scope="module")
def variant_dirs(spark):
    """Write the SAME events rows in the three parquet encodings.

    Each variant lands in its own sf-dir-shaped directory so
    ``load_table(spark, vdir, "events")`` exercises the exact
    production read path.
    """
    src = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    base = os.path.join(scratch_dir(), "ts_variants")
    shutil.rmtree(base, ignore_errors=True)
    dirs = {}
    for name in _VARIANTS:
        vdir = os.path.join(base, name)
        os.makedirs(vdir, exist_ok=True)
        ts = src.column("ts")
        if name == "micros_utc":
            typ = pa.timestamp("us", tz="UTC")
        elif name == "micros_ntz":
            typ = pa.timestamp("us")
        else:
            typ = pa.timestamp("ns")
        cast = src.set_column(
            src.schema.get_field_index("ts"), "ts", ts.cast(typ)
        )
        pq.write_table(cast, os.path.join(vdir, "events.parquet"))
        # queries may join events against the other tables; link them in
        for f in os.listdir(SF_DIR):
            if f != "events.parquet":
                os.symlink(
                    os.path.join(SF_DIR, f), os.path.join(vdir, f)
                )
        dirs[name] = vdir
    yield dirs
    shutil.rmtree(base, ignore_errors=True)


def test_load_table_normalizes_every_variant_to_ltz(spark, variant_dirs):
    for name, vdir in variant_dirs.items():
        df = load_table(spark, vdir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
            f"variant {name}: expected TIMESTAMP (LTZ), "
            f"got {df.schema['ts'].dataType}"
        )


def test_ts_values_identical_across_variants(spark, variant_dirs):
    ref = None
    for name, vdir in variant_dirs.items():
        rows = sorted(
            (r.event_id, r.ts)
            for r in load_table(spark, vdir, "events")
            .select("event_id", "ts")
            .collect()
        )
        if ref is None:
            ref = rows
        else:
            assert rows == ref, f"variant {name} diverges from micros_utc"


@pytest.mark.parametrize(
    "query",
    [
        "window_lag_lead",
        "window_sessionize",
        "window_dedup_latest",
        "window_trailing_range",
    ],
)
def test_ts_window_family_runs_on_every_variant(spark, variant_dirs, query):
    """The four unix_micros/range-window consumers of events.ts must
    analyze AND produce identical results on every encoding — the r3
    failure was an AnalysisException raised before a single row moved.
    """
    from etl_8x8_spark.registry import all_queries

    builder = all_queries()[query].builder
    ref = None
    for name, vdir in variant_dirs.items():
        out = builder(spark, vdir)
        rows = sorted(map(tuple, out.collect()))
        if ref is None:
            ref = rows
        else:
            assert rows == ref, f"{query} diverges on variant {name}"
        assert rows, f"{query} produced no rows on variant {name}"


def _events_as(src: pa.Table, typ: pa.DataType) -> pa.Table:
    i = src.schema.get_field_index("ts")
    return src.set_column(i, "ts", src.column("ts").cast(typ))


def test_rewritten_events_file_is_inferred_again(spark, tmp_path):
    """``load_table`` remembers each table's footer schema per session;
    a file rewritten in place under another ts encoding must be read
    with its new footer (a path-keyed memo would read nanos as NTZ
    micros), still normalized to LTZ with the same values."""
    src = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    path = os.path.join(tmp_path, "events.parquet")
    seen = []
    for typ in (pa.timestamp("us"), pa.timestamp("ns")):
        pq.write_table(_events_as(src, typ), path)
        df = load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        seen.append(sorted(df.select("event_id", "ts").collect()))
    assert seen[0] == seen[1]


def test_overwritten_table_directory_shows_added_column(spark, tmp_path):
    """A Spark-written ``<t>.parquet`` directory overwritten with one
    more column: the next ``load_table`` must see the column."""
    from pyspark.sql import functions as F

    path = os.path.join(tmp_path, "region.parquet")
    base = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    base.coalesce(1).write.mode("overwrite").parquet(path)
    assert "added" not in load_table(spark, str(tmp_path), "region").columns
    base.withColumn("added", F.lit(1)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    back = load_table(spark, str(tmp_path), "region")
    assert back.columns[-1] == "added"
    assert {r.added for r in back.select("added").collect()} == {1}
