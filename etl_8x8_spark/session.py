"""SparkSession construction tuned for the engine.

Used by tests and bench.py. The driver supplies its own session to
``__spark_entry__.entry``/``queries()``; query builders must therefore
never rely on session-level config set here — anything
correctness-critical (e.g. timezone-sensitive expressions) is avoided
or made explicit inside the builders themselves.

The compiled-class cache of whole-stage codegen is sized here because
its size is a static conf, fixed when the JVM starts. Spark keeps the
classes Janino compiles in one JVM-wide LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). A
repeated workload whose compiled working set is larger than the cache
misses on every access: each pass evicts every class before its next
use and compiles it again. The comment on ``CODEGEN_CACHE_MAX_ENTRIES``
gives the measured working sets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Compiled working sets, counted as CodegenMetrics compilations over one
# pass at local[4]: the 16 perfbench `adhoc_small` keys compile 145
# classes at sf0.01 (over Spark's default of 100, so every steady pass
# compiled 87-102 of them again), `etl_ingest` 70. One pass over all
# 334 registry keys at sf0.001 with an unbounded cache compiled 3,958
# classes (median key 9, largest 54, `text_textrank_keywords`) and left
# Metaspace at 272 MB, so the cache stays bounded.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "etl_8x8_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession with scale-aware defaults.

    AQE is on (runtime coalescing + skew-join splitting), Arrow is on
    for the pandas_udf path, shuffle partitions sized to cores rather
    than Spark's default 200 (wrong in both directions: too many for
    local test data, too few for a 1000-executor cluster — production
    deployments override via spark-submit conf).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow shuffled hash join when one side fits a per-partition
        # hash map (the optimization guide's §9 production baseline):
        # SMJ pays two full sorts per join that SHJ skips. Measured on
        # the join-heavy bench subset (alternating sessions, 2 rounds):
        # TPC-H q21 7.4→2.1 s, q9 5.3→1.6 s, 9-query subset total
        # 28.5→15.4 s warm at sf0.1/local[32]. Size safety is AQE's
        # runtime stats, not this flag — oversized build sides still
        # degrade to SMJ; extreme-scale deployments can restore the
        # Spark default via spark-submit conf.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Progress bars write to stdout in local mode; on a 140-query
        # bench they overflow the driver's stdout-tail window and
        # truncate the one JSON line that matters (BENCH_r04 lost the
        # first 69 per-query numbers to them).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
