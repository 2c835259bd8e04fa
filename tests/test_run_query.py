"""``bench.run_query``: the one per-query run loop that the bench, the
profiler and the scale experiment share.

Each run builds the query and writes it to the noop sink; the cache is
cleared after every run and after a failure, the job group is unset on
the way out, and the exception of a failed run propagates.
"""

from __future__ import annotations

import glob
import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

import bench
from etl_8x8_spark.sources.readers import load_table


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persisted_counts(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
    df = df.persist()
    df.count()
    return df


def test_persisting_builder_leaves_cache_empty(spark, sf_dir):
    runs = bench.run_query(spark, _persisted_counts, sf_dir)
    assert len(runs) == bench.RUNS
    assert _cache_empty(spark)


def _raise_in_build(spark, sf_dir):
    _persisted_counts(spark, sf_dir)
    raise ValueError("boom in build")


def _raise_in_exec(spark, sf_dir):
    _persisted_counts(spark, sf_dir)
    return spark.range(1).select(F.raise_error(F.lit("boom in exec")))


@pytest.mark.parametrize(
    "builder, match",
    [(_raise_in_build, "boom in build"), (_raise_in_exec, "boom in exec")],
)
def test_failing_builder_cleans_up_and_propagates(spark, sf_dir, builder, match):
    with pytest.raises(Exception, match=match):
        bench.run_query(spark, builder, sf_dir)
    assert _cache_empty(spark)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_registry_key_runs_three_times_with_jobs(spark, sf_dir):
    import __spark_entry__ as entry_mod

    runs = bench.run_query(spark, entry_mod.queries()["scan_parquet"], sf_dir)
    assert len(runs) == 3
    for r in runs:
        assert r["jobs"] >= 1
        assert r["stages"] >= r["jobs"]
        assert abs(r["build_s"] + r["exec_s"] - r["s"]) <= 0.002
    assert bench.best_warm(runs) in runs[1:]


def test_noop_sink_only_inside_run_query():
    """No other timing loop in the bench or the tools: the noop sink
    is written in exactly one place."""
    root = os.path.dirname(os.path.abspath(bench.__file__))
    noop = re.compile(r"""format\(\s*["']noop["']\s*\)""")
    paths = [os.path.join(root, "bench.py")]
    paths += sorted(glob.glob(os.path.join(root, "tools", "*.py")))
    hits = {}
    for path in paths:
        with open(path) as fh:
            hits[os.path.relpath(path, root)] = len(noop.findall(fh.read()))
    assert len(noop.findall(inspect.getsource(bench.run_query))) == 1
    assert sum(hits.values()) == 1, hits
