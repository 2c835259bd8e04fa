"""``session.get_spark``: the compiled-class cache of whole-stage codegen
holds a working set larger than Spark's default of 100 classes."""

from __future__ import annotations

import bench
from etl_8x8_spark.session import CODEGEN_CACHE_MAX_ENTRIES

PROJECTIONS = 120


def _pass_compiles(spark) -> int:
    """Codegen compiles of one pass over ``PROJECTIONS`` one-stage
    projections, each with its own literal and so its own generated
    code."""
    before = bench.codegen_compiles(spark)
    for i in range(PROJECTIONS):
        df = spark.range(8).selectExpr(f"id * {i} + 7919 AS x")
        df.write.format("noop").mode("overwrite").save()
    return bench.codegen_compiles(spark) - before


def test_repeated_working_set_above_100_classes_compiles_once(spark):
    assert CODEGEN_CACHE_MAX_ENTRIES > PROJECTIONS > 100
    first = _pass_compiles(spark)
    assert first > 100  # the working set really exceeds Spark's default
    assert _pass_compiles(spark) == 0
