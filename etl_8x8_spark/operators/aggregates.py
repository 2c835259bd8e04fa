"""Aggregation operators (SURVEY.md §2b "Aggregations").

All pure built-ins: Spark runs every ``groupBy().agg()`` as a partial
(map-side) hash aggregate followed by a final hash aggregate after a
shuffle on the grouping keys — the partial combine means the shuffle
volume is O(groups × partitions), not O(rows), which is what makes
these safe at 100 TB. Low-cardinality keys (returnflag × linestatus =
6 groups) shuffle kilobytes no matter the input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8x8_spark.functions.parity import (
    DEC,
    davg,
    dsum,
    oracle_davg,
    oracle_dsum,
)
from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table

# TPC-H Q1 cutoff, kept as a date-less string so both engines parse it
# identically as a timestamp literal.
_Q1_CUTOFF = "1998-09-02 00:00:00"

_AGG_HASH_GROUP_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {oracle_dsum("l_quantity", "sum_qty")},
  {oracle_dsum("l_extendedprice", "sum_base_price")},
  {oracle_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  {oracle_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
  {oracle_davg("l_quantity", "avg_qty")},
  {oracle_davg("l_extendedprice", "avg_price")},
  {oracle_davg("l_discount", "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q1-shape pricing summary — the engine's flagship query.

    Generalizes the reference's record-level transform pipeline
    (extract -> validate -> transform -> emit, ``src/handlers.py:67-88``)
    to a set-oriented scan -> filter -> hash-aggregate. The shipdate
    filter and the 4-column projection both push into the parquet scan.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register("agg_hash_group", oracle=_AGG_HASH_GROUP_ORACLE)
def agg_hash_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sum/avg/count — partial+final hash aggregate."""
    return q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "agg_distinct_count",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group.

    Spark expands COUNT(DISTINCT) into a two-stage aggregate
    (partial distinct on (event_type, user_id), then count) — no
    row-level shuffle of duplicates. For the approximate/sketch path at
    100 TB see ``agg_approx_distinct`` (HLL, no exact-oracle twin).
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(1 AS INTEGER) AS within_rsd
FROM events
GROUP BY event_type
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct — the 100 TB path for distinct counts.

    One pass, fixed memory per group, no distinct-expansion shuffle.
    rsd=0.5% keeps the sketch ~few KB. The raw estimate is engine-
    specific (DuckDB's sketch differs), so the HASHED output carries
    the exact count plus a ``within_rsd`` accuracy flag the oracle can
    predict as 1 — the sketch is still built and checked, but the
    cross-engine comparison is on deterministic columns. A pytest
    additionally bounds the estimate against exact.
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.005).alias("est"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "event_type",
            "n_users",
            (
                F.abs(F.col("est") - F.col("n_users"))
                <= F.greatest(F.lit(2.0), F.col("n_users") * 0.02)
            )
            .cast("int")
            .alias("within_rsd"),
        )
    )


_ROLLUP_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  GROUPING(l_returnflag, l_linestatus) AS grp_id,
  {oracle_dsum("l_quantity", "sum_qty")},
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (flag, status), (flag), ().

    Spark executes rollup as a single Expand + hash aggregate — one
    shuffle for all grouping sets, not one job per level.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp_id"),
            dsum("l_quantity", "sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "grp_id", "sum_qty", "n_rows")
    )


_CUBE_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  GROUPING(l_returnflag, l_linestatus) AS grp_id,
  {oracle_dsum("l_extendedprice", "sum_price")},
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab totals over all 2^k grouping sets."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp_id"),
            dsum("l_extendedprice", "sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "grp_id", "sum_price", "n_rows")
    )


@register(
    "agg_map_collect",
    oracle="""
SELECT n_regionkey,
       to_json(map_from_entries(list_sort(list(struct_pack(k := n_name, v := n_nationkey)))))
         AS nation_map
FROM nation
GROUP BY n_regionkey
""",
)
def agg_map_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key->value map result per group (R11's dict-shaped bulk lookup
    output, reference ``common/aws_utils/ssm.py:76-101``).

    Entries sorted before map construction so the JSON rendering is
    deterministic and hash-comparable across engines.
    """
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.to_json(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("n_name").alias("k"),
                            F.col("n_nationkey").alias("v"),
                        )
                    )
                )
            )
        ).alias("nation_map")
    )


@register(
    "agg_quantile_sketch",
    oracle="""
SELECT l_returnflag,
       CAST(floor((quantile_cont(l_extendedprice, 0.5)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS p50,
       CAST(floor((quantile_cont(l_extendedprice, 0.95)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS p95,
       CAST(floor((quantile_cont(l_extendedprice, 0.99)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS p99,
       CAST(1 AS INTEGER) AS p50_ok,
       CAST(1 AS INTEGER) AS p95_ok,
       CAST(1 AS INTEGER) AS p99_ok,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per group — the second sketch in the
    engine (with ``agg_approx_distinct``'s HLL): a mergeable
    KLL/Greenwald-Khanna-style summary computed partially per
    partition, merged at the final aggregate, so the shuffle carries
    sketches (KBs) instead of values.

    The sketch estimates are engine-specific, so the HASHED output is
    scalar: exact percentiles (Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the interpolation formula — see
    ``agg_percentile_exact``) plus per-quantile ``p*_ok`` flags
    asserting the sketch landed within 2% of exact, which the oracle
    predicts as 1. No top-level arrays — the round-2 driver hasher
    crashed on ARRAY<double> output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95, 0.99], 10_000
        ).alias("pa"),
        F.expr(
            "percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))"
        ).alias("pe"),
        F.count("*").alias("n_rows"),
    )

    def ok(i: int) -> F.Column:
        a, e = F.col("pa")[i], F.col("pe")[i]
        return (
            (F.abs(a - e) <= F.greatest(F.abs(e), F.lit(1.0)) * 0.02)
            .cast("int")
        )

    return agg.select(
        "l_returnflag",
        (F.floor((F.col("pe")[0]) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p50"),
        (F.floor((F.col("pe")[1]) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p95"),
        (F.floor((F.col("pe")[2]) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p99"),
        ok(0).alias("p50_ok"),
        ok(1).alias("p95_ok"),
        ok(2).alias("p99_ok"),
        "n_rows",
    )


@register(
    "observe_metrics",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability (R13 ``log_emit`` generalized, reference
    ``common/logging.py:11-19``): ``df.observe`` attaches named
    metrics (row count, sum, null count) that are collected as a side
    channel of the SAME job — no second pass over the data, the
    Spark-native replacement for per-record log lines.

    The observation must not perturb results, which is exactly what
    the oracle checks; tests/test_aggregates.py asserts the metrics
    themselves via the Observation API.
    """
    orders = load_table(spark, sf_dir, "orders")
    observed = orders.observe(
        "orders_ingest",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum("o_totalprice").alias("total_value"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_keys"),
    )
    return observed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders")
    )


@register(
    "agg_pivot",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (cross-tab): order counts by priority × status.

    The pivot values are declared explicitly — at 100 TB an undeclared
    pivot adds a full distinct-scan job just to discover the columns;
    declaring them keeps it a single partial+final aggregate with one
    shuffle, exactly like a plain groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


_GROUPING_SETS_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS grp_id,
       {oracle_dsum("l_quantity", "sum_qty")},
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping-set unions — the general form of
    rollup/cube: here (flag-only, status-only, grand total) WITHOUT
    the combined (flag, status) level, which neither rollup nor cube
    can express. Executes as one Expand + single shuffle, same as
    rollup (never one job per set)."""
    from etl_8x8_spark.operators.sql_queries import register_table_views

    register_table_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        f"""
        SELECT l_returnflag,
               l_linestatus,
               GROUPING_ID(l_returnflag, l_linestatus) AS grp_id,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                 AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def hll_merged_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type distinct-user estimate from UNIONED per-(type,
    hour) HLL sketches — the re-aggregatable rollup artifact. Shared
    by ``agg_hll_merge`` and the lossless-union pytest."""
    events = load_table(spark, sf_dir, "events")
    per_cell = (
        events.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hour")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"))
    )
    return (
        per_cell.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("merged"))
        .select(
            "event_type",
            F.hll_sketch_estimate("merged").alias("approx_users"),
        )
    )


@register(
    "agg_hll_merge",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(1 AS INTEGER) AS within_tol
FROM events
GROUP BY event_type
""",
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches): build one
    distinct-user sketch per (event_type, hour) cell, then UNION the
    sketches up to event_type — the re-aggregatable rollup pattern
    that powers 100 TB distinct counts (sketch each partition/day
    once, merge downstream; never re-scan raw data). The finalize step
    is ``hll_sketch_estimate`` over the unioned binary sketch.

    ``agg_approx_distinct`` is the one-shot HLL++ variant; this one
    demonstrates partial-sketch REUSE. The sketch estimate is engine-
    specific, so the HASHED output is the exact count plus a
    ``within_tol`` flag (merged estimate within 2.5% ≈ 3σ at lgK=14)
    the oracle predicts as 1; the lossless-union pytest pins the
    merged estimate to the one-level sketch exactly.
    """
    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    merged = hll_merged_estimates(spark, sf_dir)
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("approx_users") - F.col("n_users"))
            <= F.greatest(F.lit(2.0), F.col("n_users") * 0.025)
        )
        .cast("int")
        .alias("within_tol"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct count via bitmap partial aggregates —
    the third point on the distinct-count spectrum: ``countDistinct``
    (exact, distinct-expansion shuffle), HLL (approximate, mergeable),
    and THIS (exact AND mergeable).

    user_ids are bucketed (``bitmap_bucket_number``), each
    (event_type, bucket) cell builds a fixed-size bitmap of bit
    positions, and the per-type count is the SUM of per-bucket bitmap
    cardinalities — buckets partition the id space, so the sum is
    exact. Both aggregation levels are map-side combinable; the
    per-cell bitmaps are the re-aggregatable daily-rollup artifact,
    like the HLL sketches in ``agg_hll_merge`` but lossless (the
    trade: bitmap size scales with id density, HLL is fixed-size).
    Hash-matches DuckDB's plain COUNT(DISTINCT) — exactness is the
    whole point.
    """
    events = load_table(spark, sf_dir, "events")
    per_bucket = (
        events.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"))
    )


@register(
    "agg_heavy_hitters",
    oracle="""
SELECT user_id, n_events FROM (
  SELECT user_id, COUNT(*) AS n_events,
         row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
  FROM events GROUP BY user_id
) WHERE rk <= 10
""",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: the 10 most active users, two-phase —
    partial counts map-side, one shuffle on user_id, then a global
    TakeOrderedAndProject (each task keeps its local top-10; the
    driver merges k·tasks rows, never the full count table). user_id
    tiebreak keeps rank-10 ties deterministic.

    Scale: the count table after the shuffle is |users|-sized and
    never globally sorted — top-k short-circuits it. For cardinalities
    where even per-user counts can't shuffle, the sketch path is
    count-min + a candidate re-count; this exact two-phase is correct
    whenever user_id fits a groupBy (billions of keys are fine).
    """
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(10)
    )


_FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_signup_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_full_funnel
"""


@register("agg_window_funnel", oracle=_FUNNEL_ORACLE)
def agg_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who signed up → then clicked
    (at or after their first signup) → then purchased (at or after
    that first qualifying click). Each stage is a conditional-min
    aggregate joined back on user_id — the ORDER of events matters,
    which is what separates a funnel from three independent counts.

    Plan shape: three groupBy/join rounds, all keyed on user_id, so
    after the first shuffle every subsequent stage joins
    co-partitioned data (AQE keeps the partitioning); per-stage state
    is one timestamp per user. The staged-min formulation avoids
    holding per-user event arrays (a collect_list funnel blows up on
    power users at 100 TB).
    """
    events = load_table(spark, sf_dir, "events")
    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_signup_click")))
        .crossJoin(p.agg(F.count("*").alias("n_full_funnel")))
    )


_MOM_ORACLE = """
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(30,6))) AS sx,
         SUM(CAST(value AS DECIMAL(30,6)) * CAST(value AS DECIMAL(30,6)))
           AS sxx,
         SUM(CAST(value AS DECIMAL(30,6)) * CAST(user_id AS DECIMAL(30,6)))
           AS sxy,
         SUM(CAST(user_id AS DECIMAL(30,6))) AS sy,
         SUM(CAST(user_id AS DECIMAL(30,6)) * CAST(user_id AS DECIMAL(30,6)))
           AS syy
  FROM events GROUP BY event_type
)
SELECT event_type,
       n,
       CAST(floor((CAST(sx AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_value,
       CAST(floor((sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                  / (n - 1))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS stddev_value,
       CAST(floor(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS corr_value_user
FROM s
"""


@register("agg_stats_moments", oracle=_MOM_ORACLE)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments per group — mean, sample stddev, Pearson
    correlation — computed from EXACT decimal power sums (Σx, Σx²,
    Σxy, ...) rather than Spark's native single-pass moment
    aggregates.

    Why not ``F.stddev``/``F.corr``: their streaming co-moment updates
    merge partial states in partition order, which is
    NONDETERMINISTIC — the same query can hash differently run to run,
    let alone across engines. Decimal power sums are associative and
    exact, so the derived doubles are bit-stable everywhere; the
    float arithmetic happens once, at finalization. Same partial-agg
    plan shape (map-side combine, one shuffle) and the same
    sketch-style mergeability — this is how you get deterministic
    variance at 100 TB.
    """
    from etl_8x8_spark.functions.parity import DEC

    events = load_table(spark, sf_dir, "events")
    x = F.col("value").cast(DEC)
    y = F.col("user_id").cast(DEC)
    s = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    var_x = sxx - sx * sx / n
    var_y = syy - sy * sy / n
    return s.select(
        "event_type",
        "n",
        (F.floor((sx / n) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("mean_value"),
        (F.floor((F.sqrt(var_x / (n - 1))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("stddev_value"),
        (F.floor(((sxy - sx * sy / n) / (F.sqrt(var_x) * F.sqrt(var_y))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("corr_value_user"),
    )


_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_w
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_w FROM events
),
cells AS (
  SELECT f.cohort_w,
         CAST(floor(epoch(a.active_w) - epoch(f.cohort_w)) / 604800 AS INT)
           AS week_offset,
         a.user_id
  FROM active a JOIN firsts f ON a.user_id = f.user_id
),
sizes AS (
  SELECT cohort_w, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_w
)
SELECT CAST(floor(epoch(c.cohort_w)) AS BIGINT) AS cohort_week,
       c.week_offset,
       COUNT(*) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size
FROM cells c JOIN sizes s ON c.cohort_w = s.cohort_w
GROUP BY 1, 2, s.cohort_size
"""


@register("agg_retention_cohorts", oracle=_COHORT_ORACLE)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    each cell counting how many of a cohort were active N weeks later
    — the retention table every growth dashboard renders. Output is
    all-integer (cells + cohort sizes; ratios are the reader's one
    division) so cross-engine hashes are trivially exact.

    Plan: two aggregations over events (first-week per user, distinct
    active weeks per user) meeting in a user_id join — after the first
    shuffle on user_id, both sides are co-partitioned, and the final
    (cohort, offset) rollup is a small second shuffle. Per-user state
    is two timestamps, never an event list.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w")
    )
    active = events.select(
        "user_id", F.date_trunc("week", "ts").alias("active_w")
    ).distinct()
    cells = active.join(firsts, "user_id").select(
        "cohort_w",
        (
            (F.unix_timestamp("active_w") - F.unix_timestamp("cohort_w"))
            / 604800
        )
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_w").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        cells.join(sizes, "cohort_w")
        .groupBy("cohort_w", "week_offset", "cohort_size")
        .agg(F.count("*").alias("n_active"))
        .select(
            F.unix_timestamp("cohort_w").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
        )
    )


_HIST_BINS = 20
_HIST_LO, _HIST_HI = 0.0, 100000.0


@register(
    "agg_histogram",
    oracle=f"""
SELECT CAST(CASE WHEN o_totalprice < {_HIST_LO} THEN 0
            WHEN o_totalprice >= {_HIST_HI} THEN {_HIST_BINS + 1}
            ELSE floor((o_totalprice - {_HIST_LO})
                       / {(_HIST_HI - _HIST_LO) / _HIST_BINS}) + 1 END
            AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(floor((CAST(MIN(o_totalprice) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS lo,
       CAST(floor((CAST(MAX(o_totalprice) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS hi
FROM orders
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin numeric histogram (the data-profiling primitive):
    ``width_bucket`` assigns each order price to one of {_HIST_BINS}
    equal bins over [{_HIST_LO}, {_HIST_HI}); per-bin count plus
    observed min/max. DuckDB has no width_bucket, so the oracle spells
    out the same left-closed bin arithmetic — identical IEEE division,
    identical edges.

    Scale: a histogram is a tiny-cardinality groupBy — partial
    (map-side) counting collapses each input partition to ≤ bins+2
    rows before the shuffle, so the exchange moves KBs no matter how
    many TBs are scanned. The profile-everything pass at 100 TB is
    this plan per column.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket(
                "o_totalprice",
                F.lit(_HIST_LO),
                F.lit(_HIST_HI),
                F.lit(_HIST_BINS),
            )
            .cast("int")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            (F.floor((F.min("o_totalprice").cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("lo"),
            (F.floor((F.max("o_totalprice").cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("hi"),
        )
    )


@register(
    "agg_count_if",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE value >= 500.0) AS n_big,
       COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_even_user,
       CAST(SUM(CAST(value AS DECIMAL(30,6)))
              FILTER (WHERE value >= 500.0) AS DOUBLE) AS sum_big
FROM events
GROUP BY event_type
""",
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates in ONE pass — count_if / filtered sum
    instead of N self-joins or N separate jobs: every predicate is a
    column-level condition evaluated inside the same partial
    aggregate, so adding a condition adds zero shuffles (the
    multi-metric report pattern).
    """
    from etl_8x8_spark.functions.parity import DEC

    events = load_table(spark, sf_dir, "events")
    big = F.col("value") >= 500.0
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count_if(big).alias("n_big"),
        F.count_if(F.col("user_id") % 2 == 0).alias("n_even_user"),
        F.sum(F.when(big, F.col("value").cast(DEC)))
        .cast("double")
        .alias("sum_big"),
    )


_MAU_DAYS = 7  # trailing window (events span ~30 days)

_ROLLING_ORACLE = f"""
WITH active AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM active)
SELECT CAST(floor(epoch(t.d)) AS BIGINT) AS day,
       COUNT(DISTINCT a.user_id) AS n_active_7d
FROM days t
JOIN active a ON a.d >= t.d - INTERVAL {_MAU_DAYS - 1} DAY AND a.d <= t.d
GROUP BY t.d
"""


@register("agg_rolling_actives", oracle=_ROLLING_ORACLE)
def agg_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 7-day active users per day (the WAU/MAU curve) —
    the classically painful rolling-distinct: a distinct count cannot
    be summed across days, so the naive plan re-expands (day × user)
    pairs for every window position.

    Here each (day, id-bucket) cell aggregates once into a BITMAP
    partial; the trailing window is then a bounded self-join over
    cells (≤ {_MAU_DAYS} rows per cell, carrying KB-sized bitmaps —
    never user rows), OR-merged per target day and counted. Exact,
    mergeable, and the per-day re-aggregation cost is bitmap-OR over
    {_MAU_DAYS} blobs instead of a distinct over {_MAU_DAYS} days of
    raw events. The oracle recomputes every window from raw
    (day, user) pairs — the semantics both must agree on.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.date_trunc("day", "ts").alias("d"),
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("d", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    days = daily.select("d").distinct().select(F.col("d").alias("target_d"))
    window_cells = days.join(
        daily,
        (F.col("d") <= F.col("target_d"))
        & (
            F.col("d")
            >= F.col("target_d") - F.expr(f"INTERVAL {_MAU_DAYS - 1} DAYS")
        ),
    )
    merged = window_cells.groupBy("target_d", "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg(F.col("bm"))).alias("n_bucket")
    )
    return merged.groupBy("target_d").agg(
        F.sum("n_bucket").alias("n_active_7d")
    ).select(
        F.unix_timestamp("target_d").alias("day"),
        F.col("n_active_7d").cast("long").alias("n_active_7d"),
    )


@register(
    "agg_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure,
       CAST(floor((value) * 1e6 + 0.5) AS BIGINT) / 1e6 AS value
FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
         CAST(l_quantity AS DOUBLE) AS value
  FROM lineitem WHERE l_linenumber = 1
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem WHERE l_linenumber = 1
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount
  FROM lineitem WHERE l_linenumber = 1
)
""",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long reshape (``unpivot``/melt — the inverse of
    ``agg_pivot``): three measure columns become (measure, value)
    rows. Narrow-only: the reshape is a per-row flatMap with no
    shuffle, and the 3× row multiplication carries only the id + one
    value — the long format every metrics store and plotting layer
    wants.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber") == 1
    )
    return (
        li.select("l_orderkey", "l_linenumber",
                  F.col("l_quantity").cast("double").alias("quantity"),
                  F.col("l_extendedprice").alias("extendedprice"),
                  F.col("l_discount").alias("discount"))
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount"],
            "measure",
            "raw_value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            (F.floor((F.col("raw_value")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("value"),
        )
    )


@register(
    "agg_percentile_exact",
    oracle="""
SELECT l_returnflag,
       CAST(floor((quantile_cont(l_extendedprice, 0.5)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS p50,
       CAST(floor((quantile_cont(l_extendedprice, 0.95)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS p95,
       CAST(floor((CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS p50_disc
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles per group — continuous (interpolated, the
    textbook definition) and discrete (an actual data value) — the
    precision twin of ``agg_quantile_sketch``: exact needs the full
    sorted group (memory ∝ group size), the sketch needs KBs; use
    exact for low-cardinality grouped reports, the sketch beyond.
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the same
    linear-interpolation formula, so even the interpolated doubles
    hash-match.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.floor((F.percentile("l_extendedprice", F.lit(0.5))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p50"),
        (F.floor((F.percentile("l_extendedprice", F.lit(0.95))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p95"),
        # percentile_approx at max accuracy degenerates to the exact
        # discrete quantile — the same value DuckDB's quantile_disc picks
        (F.floor((F.expr(
                "percentile_approx(l_extendedprice, 0.5, 2147483647)"
            ).cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("p50_disc"),
    )


@register(
    "agg_string_agg",
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n
FROM nation
GROUP BY n_regionkey
""",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL LISTAGG / string_agg): nation
    names per region, comma-joined in a DETERMINISTIC order — the
    explicit sort is the whole point: collect_list order is partition-
    arrival order and differs run to run; array_sort before the join
    makes the result reproducible (and hash-checkable) anywhere.
    """
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations"
        ),
        F.count("*").alias("n"),
    )


@register(
    "agg_min_max_by",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC)
           AS rmax,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice ASC, o_orderkey ASC)
           AS rmin
  FROM orders
)
SELECT o_custkey,
       MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS biggest_order,
       MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS smallest_order,
       CAST(floor((MAX(o_totalprice)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS max_price,
       CAST(floor((MIN(o_totalprice)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS min_price
FROM ranked
GROUP BY o_custkey
""",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax per group WITHOUT a window or self-join: the
    order id carrying each customer's highest/lowest price, in one
    aggregate pass. The ordering key is a (price, id) STRUCT — bare
    max_by on a tied price picks an arbitrary row, which is both
    nondeterministic and un-oracle-able; the composite key makes ties
    break on id in both engines. Highest id wins maxima, lowest id
    wins minima — lexicographic min over (price, id) already breaks
    ties on the smallest id, so both keys use the plain struct (a
    negated id in the min key would invert the tiebreak).

    Scale: map-side combinable like any min/max — the per-group state
    is one (key, value) pair; a row_number window doing the same job
    pays a full sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("biggest_order"),
        F.min_by(
            "o_orderkey", F.struct("o_totalprice", "o_orderkey")
        ).alias("smallest_order"),
        (F.floor((F.max("o_totalprice")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("max_price"),
        (F.floor((F.min("o_totalprice")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("min_price"),
    )


# ---------------------------------------------------------------------------
# time-series gap fill — dense hourly spine with zero-filled holes
# ---------------------------------------------------------------------------


@register(
    "agg_timeseries_gapfill",
    oracle="""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT t.event_type,
       CAST(floor(epoch(s.hour)) AS BIGINT) AS hour_s,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM types t CROSS JOIN spine s
LEFT JOIN counts c ON c.event_type = t.event_type AND c.hour = s.hour
""",
)
def agg_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly event counts with missing hours ZERO-FILLED — the
    gap-fill every time-series consumer (dashboards, anomaly scans,
    forecasting featurizers) needs, because a groupBy emits no row for
    an empty hour and downstream windows silently skip the gap.

    The hour spine is generated relationally — one min/max aggregate,
    ``sequence()`` + ``explode`` — then cross-joined with the distinct
    type dimension and LEFT-joined against the per-(type, hour)
    counts. Hours serialize as integer epoch seconds (timezone-proof
    across engines).

    Scale: the counts aggregate is the only real shuffle (partial+
    final on a bounded key). The spine is O(hours) rows from a 1-row
    aggregate — years of hours is ~10⁴ rows, broadcastable; the
    left join therefore never shuffles the dense side.
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = events.select("event_type").distinct()
    counts = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    return (
        types.crossJoin(spine)
        .join(F.broadcast(counts), ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.unix_timestamp("hour").alias("hour_s"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# distribution drift — population stability index between eras
# ---------------------------------------------------------------------------

_PSI_BIN_W = 50  # value-bucket width; least(floor(v/50), 9) -> 10 bins
_PSI_SPLIT = "2024-01-16 00:00:00"


@register(
    "agg_psi_drift",
    oracle=f"""
WITH binned AS (
  SELECT event_type,
         ts < TIMESTAMP '{_PSI_SPLIT}' AS era_a,
         least(CAST(floor(value / {_PSI_BIN_W}) AS INT), 9) AS bin
  FROM events
),
cells AS (
  SELECT event_type, bin,
         COUNT(*) FILTER (era_a) AS ca,
         COUNT(*) FILTER (NOT era_a) AS cb
  FROM binned GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb
  FROM cells GROUP BY 1
),
terms AS (
  SELECT c.event_type,
         CAST(CAST(floor((((c.ca + 0.5) / (t.na + 5.0) - (c.cb + 0.5) / (t.nb + 5.0))
           * ln(((c.ca + 0.5) / (t.na + 5.0)) / ((c.cb + 0.5) / (t.nb + 5.0)))) * 1e12 + 0.5) AS BIGINT) / 1e12 AS DECIMAL(28, 12)) AS term
  FROM cells c JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(floor((CAST(SUM(term) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS psi,
       SUM(term) > 0.1 AS drifted
FROM terms GROUP BY event_type
""",
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two eras of the event value
    distribution, per event type — the standard drift monitor a
    pipeline runs before trusting yesterday's model features on
    today's data (PSI > 0.1 = investigate, > 0.25 = retrain).

    Values bucket into 10 fixed-width bins; each era's smoothed bin
    share (Laplace +0.5) feeds the PSI term (pa−pb)·ln(pa/pb). The
    per-bin terms are rounded to DECIMAL(28,12) BEFORE the final sum,
    so the cross-engine result is exact regardless of either engine's
    summation order (the LESSONS #9 float-fold discipline — ln() on
    identical doubles is bit-identical, float ADDITION order is not).

    Scale: two shuffles on bounded keys (type×bin cells, then type);
    everything else is map-side arithmetic. The same plan runs per-day
    against a reference window for continuous monitoring.
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        "event_type",
        (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("era_a"),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.count_if("era_a").alias("ca"),
        F.count_if(~F.col("era_a")).alias("cb"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 0.5) / (F.col("na") + 5.0)
    pb = (F.col("cb") + 0.5) / (F.col("nb") + 5.0)
    terms = cells.join(F.broadcast(tot), "event_type").select(
        "event_type",
        (F.floor(((pa - pb) * F.log(pa / pb)) * 1e12 + 0.5).cast("long") / F.lit(1e12))
        .cast("decimal(28,12)")
        .alias("term"),
    )
    return terms.groupBy("event_type").agg(
        (F.floor((F.sum("term").cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("psi"),
        (F.sum("term") > 0.1).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# incremental re-aggregation — partials merged without raw re-scan
# ---------------------------------------------------------------------------


@register(
    "agg_partial_reaggregate",
    oracle="""
WITH partials AS (  -- the per-(type, day) partial state a daily job persists
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(value AS DECIMAL(14, 2))) AS DECIMAL(38, 2)) AS psum,
         COUNT(*) AS pcnt,
         MIN(value) AS pmin, MAX(value) AS pmax
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(pcnt) AS BIGINT) AS n,
       CAST(SUM(psum) AS DOUBLE) AS total,
       CAST(floor((CAST(SUM(psum) AS DOUBLE) / SUM(pcnt)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean,
       MIN(pmin) AS vmin, MAX(pmax) AS vmax,
       CAST(COUNT(*) AS BIGINT) AS n_partials
FROM partials GROUP BY event_type
""",
)
def agg_partial_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental re-aggregation: fold per-(type, day) PARTIAL
    aggregate states (decimal sum, count, min, max) into per-type
    totals — the mergeable-state pattern that makes 100 TB rollups
    incremental. A daily job persists the partials table (KB per day);
    month-end totals, backfills, and late-day corrections then merge
    states instead of re-scanning raw events. ``agg_hll_merge`` is the
    sketch cousin; this is the exact-algebra one (sum/count/min/max
    all form commutative monoids, so merge order can't change the
    answer — the decimal sums make that literally bit-true).

    Scale: two shuffles on bounded keys (type×day, then type) — and
    in production only the SECOND ever re-runs; the brief's "sketch
    each partition once, merge downstream" for exact aggregates.
    """
    events = load_table(spark, sf_dir, "events")
    partials = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(14,2)"))
        .cast("decimal(38,2)")
        .alias("psum"),
        F.count("*").alias("pcnt"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    return partials.groupBy("event_type").agg(
        F.sum("pcnt").cast("long").alias("n"),
        F.sum("psum").cast("double").alias("total"),
        (F.floor((F.sum("psum").cast("double") / F.sum("pcnt")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("mean"),
        F.min("pmin").alias("vmin"),
        F.max("pmax").alias("vmax"),
        F.count("*").cast("long").alias("n_partials"),
    )


@register(
    "agg_mode",
    oracle="""
WITH counts AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS qty,
         COUNT(*) AS cnt
  FROM lineitem
  GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
),
ranked AS (
  SELECT l_returnflag, qty, cnt,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY cnt DESC, qty ASC) AS rk
  FROM counts
)
SELECT l_returnflag,
       qty AS mode_qty,
       CAST(cnt AS BIGINT) AS mode_count
FROM ranked WHERE rk = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a DETERMINISTIC
    tie-break (smallest value wins) — the categorical summary
    statistic. Spark 4 ships ``F.mode()``, but its tie behavior is
    whichever value the hash aggregate saw last, which can differ
    between runs, partitionings, and engines; a mode that isn't
    reproducible is useless as a pipeline feature, so this builds the
    deterministic variant from first principles.

    Plan: count per (group, value) — ONE shuffle with map-side
    partial aggregation doing the heavy lifting, since the map side
    collapses each partition to its distinct (group, value) pairs —
    then a row_number window over the tiny counted relation picks
    (max count, min value) per group. At 100 TB the window input is
    |groups| x |distinct values|, not |rows|; for true high-cardinality
    value domains the same two-phase shape holds because the first
    shuffle's output is bounded by the distinct domain, never the data.
    """
    from pyspark.sql import Window

    lineitem = load_table(spark, sf_dir, "lineitem")
    counts = (
        lineitem.select(
            "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
        )
        .groupBy("l_returnflag", "qty")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("qty")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_qty"),
            F.col("cnt").cast("long").alias("mode_count"),
        )
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def _corr_matrix_oracle() -> str:
    # quantized-integer power sums (see the operator docstring): each
    # column floors to exact hundredths ONCE, products are BIGINT
    # multiplies, and only the accumulate is wide (DuckDB's BIGINT SUM
    # promotes to HUGEINT — the exact mirror of Spark's decimal(38,0))
    quant = {c: f"CAST(floor({c} * 100 + 0.5) AS BIGINT)" for c in _CORR_COLS}
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM({quant[c]}) AS s_{c}")
        sums.append(f"SUM({quant[c]} * {quant[c]}) AS ss_{c}")
    for a, b in _CORR_PAIRS:
        sums.append(f"SUM({quant[a]} * {quant[b]}) AS sp_{a}_{b}")
    branches = []
    for a, b in _CORR_PAIRS:
        cov = (
            f"(n * CAST(sp_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        )
        var_a = f"(n * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        var_b = f"(n * CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        branches.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y,"
            f" CAST(floor(({cov} / sqrt({var_a} * {var_b})) * 1e6 + 0.5) AS BIGINT) / 1e6 AS corr FROM s"
        )
    return (
        "WITH s AS (SELECT "
        + ", ".join(sums)
        + " FROM lineitem)\n"
        + "\nUNION ALL ".join(branches)
        + "\nORDER BY col_x, col_y"
    )


@register("agg_corr_matrix", oracle=_corr_matrix_oracle())
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact's numeric
    columns (the feature-engineering/EDA primitive), as (col_x, col_y,
    corr) rows for the 6 unordered pairs of 4 columns.

    Every co-moment is an EXACT power sum; floats appear only at
    finalization, so the result is bit-stable across engines and run
    orders — F.corr's streaming co-moment merge is partition-order-
    dependent and can hash differently run to run. Pearson correlation
    is invariant under positive scaling, so the sums run on each
    column QUANTIZED ONCE to integer hundredths (exact for these
    2-dp/integral columns): per-row products are cheap long×long
    multiplies and only the ACCUMULATE is wide — Spark decimal(38,0)
    vs DuckDB's HUGEINT-promoted BIGINT SUM, the same integers in both
    engines (r13: 2.2 → 1.0 s at sf0.1 vs decimal×decimal products).
    Overflow headroom: the largest product (price_cents², ~1e14) sums
    to ~1e26 at 10^12 rows — inside both 38-digit accumulators.

    One scan, one 1-row shuffle: all 4 + 4 + 6 sums fold in a single
    map-side partial aggregate, and the matrix unpivots from the
    single aggregate row with stack() (NOT a 6-branch union, which
    would re-scan the fact per pair). At 100 TB the plan is scan-bound
    with a constant-size shuffle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    quant = {
        c: F.floor(F.col(c) * 100 + 0.5).cast("long") for c in _CORR_COLS
    }
    base = lineitem.select(
        *[quant[c].alias(f"q_{c}") for c in _CORR_COLS]
    )
    aggs = [F.count("*").alias("n")]
    for c in _CORR_COLS:
        x = F.col(f"q_{c}")
        aggs.append(F.sum(x.cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(F.sum((x * x).cast("decimal(38,0)")).alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum(
                (F.col(f"q_{a}") * F.col(f"q_{b}")).cast("decimal(38,0)")
            ).alias(f"sp_{a}_{b}")
        )
    s = base.agg(*aggs)
    n = F.col("n")
    corr_cols = []
    for a, b in _CORR_PAIRS:
        sp = F.col(f"sp_{a}_{b}").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        ssa = F.col(f"ss_{a}").cast("double")
        ssb = F.col(f"ss_{b}").cast("double")
        cov = n * sp - sa * sb
        var_a = n * ssa - sa * sa
        var_b = n * ssb - sb * sb
        corr_cols.append(
            (F.floor((cov / F.sqrt(var_a * var_b)) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias(f"c_{a}_{b}")
        )
    wide = s.select(*corr_cols)
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{a}_{b}" for a, b in _CORR_PAIRS
    )
    return wide.select(
        F.expr(
            f"stack({len(_CORR_PAIRS)}, {stack_args})"
            " AS (col_x, col_y, corr)"
        )
    ).orderBy("col_x", "col_y")


_LINREG_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
         SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
         SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
         SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy,
         SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CAST(floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS slope,
       CAST(floor(((CAST(sy AS DOUBLE) / 100
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(sx AS DOUBLE) / 100)) / n) * 1e6 + 0.5) AS BIGINT) / 1e6 AS intercept,
       CAST(floor((((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS r2
FROM s
ORDER BY l_returnflag
"""


@register("agg_linear_regression", oracle=_LINREG_ORACLE)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (slope / intercept / R²) of
    extended price on quantity — the closed-form ML-adjacent aggregate
    (feature drift monitors, quick trend fits) computed WITHOUT
    ``F.regr_slope``/``regr_r2``, whose streaming co-moment merges are
    partition-order-dependent doubles and can hash differently between
    engines and runs.

    Like agg_corr_matrix (r13 form): the five power sums (Sx, Sy,
    Sxx, Sxy, Syy) run on x and y QUANTIZED ONCE to exact integer
    hundredths — slope and R² are invariant under the common scaling,
    the intercept divides the scale back out in finalization — so the
    per-row products are cheap long×long multiplies and only the
    accumulate is wide (decimal(38,0) / DuckDB HUGEINT: identical
    integers both engines). Doubles appear only in the closed-form
    finalization, pure IEEE arithmetic on bit-identical inputs. One
    scan, one |groups|-row shuffle — scan-bound at 100 TB; headroom:
    max product price_cents² ~1e14 sums to ~1e26 at 10^12 rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    base = lineitem.select(
        "l_returnflag", x.alias("qx"), y.alias("qy")
    )
    qx, qy = F.col("qx"), F.col("qy")
    s = base.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qx.cast("decimal(38,0)")).alias("sx"),
        F.sum(qy.cast("decimal(38,0)")).alias("sy"),
        F.sum((qx * qx).cast("decimal(38,0)")).alias("sxx"),
        F.sum((qx * qy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((qy * qy).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov / var_x
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        (F.floor((slope) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("slope"),
        (
            F.floor(((sy / 100 - slope * (sx / 100)) / n) * 1e6 + 0.5)
            .cast("long")
            / F.lit(1e6)
        ).alias("intercept"),
        (F.floor((cov * cov / (var_x * var_y)) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("r2"),
    ).orderBy("l_returnflag")


_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT CAST(user_id % 8 AS BIGINT) AS cohort,
         event_type,
         COUNT(*) AS c
  FROM events
  GROUP BY 1, 2
),
terms AS (
  SELECT cohort,
         CAST(CAST(floor((c * ln(c)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS DECIMAL(30,6)) AS term,
         c
  FROM counts
)
SELECT cohort,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(floor((ln(SUM(c)) - CAST(SUM(term) AS DOUBLE) / SUM(c)) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS entropy
FROM terms
GROUP BY cohort
ORDER BY cohort
"""


@register("agg_entropy", oracle=_ENTROPY_ORACLE)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution per user cohort
    (the diversity / anomaly signal: a cohort whose entropy collapses
    is doing one thing on repeat). Uses H = ln(N) - (Σ c·ln c)/N so
    only counts are aggregated.

    Cross-engine determinism: each c·ln(c) term is rounded to 6
    decimals and cast to DECIMAL before the per-cohort sum, so the
    accumulation is exact and order-independent — a raw double sum of
    log terms would depend on reduce order and hash-diverge between
    engines. Two shuffles, both tiny: (cohort, type) counts (map-side
    combined from the scan), then |cohorts| rows.
    """
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy(
        (F.col("user_id") % 8).cast("long").alias("cohort"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    terms = counts.select(
        "cohort",
        "c",
        (F.floor((F.col("c") * F.log(F.col("c"))) * 1e6 + 0.5).cast("long") / F.lit(1e6)).cast(DEC).alias("term"),
    )
    return (
        terms.groupBy("cohort")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            (F.floor((F.log(F.sum("c"))
                - F.sum("term").cast("double") / F.sum("c")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("entropy"),
        )
        .orderBy("cohort")
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n_transitions,
       CAST(floor((CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS prob
FROM trans
ORDER BY from_type, to_type
"""


@register("agg_markov_transitions", oracle=_MARKOV_ORACLE)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (from_type, to_type) pair, how often one
    event type follows another, with row-normalized probabilities —
    the sequence-mining primitive under next-action prediction and
    bot/behavior fingerprinting.

    Plan: ONE user_id window shuffle produces the lagged pairs, one
    map-side-combined groupBy counts them, and the probability
    normalization is a window over the |types|² aggregate (25 rows at
    any corpus size — never the fact). Probabilities are exact-count
    ratios, so the doubles are bit-identical across engines.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    w_from = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        (F.floor((F.col("n").cast("double") / F.sum("n").over(w_from)) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("prob"),
    ).orderBy("from_type", "to_type")


_MAD_K = 3.0  # outlier threshold in MAD-sigmas
_MAD_SCALE = 1.4826  # consistency constant: MAD -> sigma for normals

_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med,
         abs(e.value - m.med) AS ad
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, median(ad) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(floor((MIN(d.med)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS med,
       CAST(floor((MIN(m.mad)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mad,
       CAST(SUM(CASE WHEN d.ad > {_MAD_K} * {_MAD_SCALE} * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@register("agg_robust_mad", oracle=_MAD_ORACLE)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier statistics per group: median, median absolute
    deviation (MAD), and the count of |x − med| > 3·1.4826·MAD — the
    outlier monitor that, unlike z-scores (agg_stats_moments /
    window_anomaly_zscore), is itself immune to the outliers it
    hunts (mean and stddev both move with the contamination; medians
    don't).

    Three passes over the fact (median → MAD → threshold count), each
    a narrow scan into a per-group aggregate, with the tiny per-group
    stats broadcast back. Exact interpolated medians share the
    same formula on both engines (Spark ``percentile`` / DuckDB
    ``median``); like agg_percentile_exact this is the
    low-cardinality-group report variant — exact medians buffer a
    group per task, so beyond ~10⁷-row groups the quantile sketch is
    the scale path.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.floor((F.min("med")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("med"),
            (F.floor((F.min("mad")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("mad"),
            F.sum(
                F.when(
                    F.col("ad") > _MAD_K * _MAD_SCALE * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


_OHLC_ORACLE = """
WITH base AS (
  SELECT event_type,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
         epoch_us(ts) AS t_us, event_id, value
  FROM events
),
ranked AS (
  SELECT event_type, hour_start, value,
         row_number() OVER (PARTITION BY event_type, hour_start
                            ORDER BY t_us, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, hour_start
                            ORDER BY t_us DESC, event_id DESC) AS rn_d
  FROM base
)
SELECT event_type, hour_start,
       MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY event_type, hour_start
ORDER BY event_type, hour_start
"""


@register("agg_ohlc_bars", oracle=_OHLC_ORACLE)
def agg_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars (open/high/low/close + count) per event type
    per hour — the time-series downsampling primitive under every
    financial chart and metrics rollup.

    Open and close use the struct-ordering argmin/argmax idiom
    (fn_struct): ``min(struct(t_us, event_id, value))`` carries the
    earliest row's value out of a plain aggregate with a
    deterministic event_id tie-break, so the whole bar is ONE
    map-side-combined groupBy — no window, no per-group sort, and at
    100 TB the shuffle carries |types × hours| partial structs, never
    rows. The oracle uses the row_number rewrite as independent
    ground truth for the same semantics.
    """
    events = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    base = events.select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("long")
        .alias("hour_start"),
        t_us.alias("t_us"),
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("t_us", "event_id", "value")).alias("f")
    last_s = F.max(F.struct("t_us", "event_id", "value")).alias("l")
    return (
        base.groupBy("event_type", "hour_start")
        .agg(
            first_s,
            last_s,
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "hour_start",
            F.col("f.value").alias("open"),
            "high",
            "low",
            F.col("l.value").alias("close"),
            "n_events",
        )
        .orderBy("event_type", "hour_start")
    )


_WMEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS v,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
c AS (
  SELECT l_returnflag, v, wt,
         SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v, wt
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS tot
  FROM w
)
SELECT l_returnflag,
       MIN(v) AS wmedian,
       CAST(MIN(tot) AS BIGINT) AS total_weight
FROM c WHERE cum * 2 >= tot
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group: the price at which half the
    shipped QUANTITY (not half the line count) sits below — the
    billing/capacity percentile where rows carry different mass, which
    plain ``percentile`` silently gets wrong.

    Lower weighted median by definition: the smallest v whose
    cumulative weight reaches half the total. The naive form (one
    cumulative-weight window per group) serializes each group into a
    single task — with 3 return-flag groups that is 3-way parallelism
    and the 10× sweep measured 8.3× (the low-cardinality window-key
    ceiling, same disease window_anomaly_zscore's tiling fixed). This
    is the HISTOGRAM-PRUNE form instead:

      1. per-group (min, max, total-weight) — one map-side agg;
      2. per-(group, bucket) weight sums over 1024 equal-width value
         buckets — map-side combined, shuffle is |groups·buckets|;
      3. the crossing bucket + weight-below from a window over that
         TINY relation;
      4. the exact crossing value from a cumulative window over ONLY
         the crossing bucket's rows (~1/1024 of the group).

    Every stage is either map-side or windowed over a bounded
    relation, so group count no longer caps parallelism. Ties in v
    stay exact: equal values always land in the same bucket, and the
    residual pass uses the same integer `cum·2 ≥ tot` crossing test
    as the oracle's single-window definition.
    """
    from pyspark.sql import Window

    B = 1024
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    stats = li.groupBy("l_returnflag").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sum("wt").alias("tot"),
    )
    joined = li.join(F.broadcast(stats), "l_returnflag")
    width = (F.col("mx") - F.col("mn")) / F.lit(B)
    bidx = F.when(width <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("v") - F.col("mn")) / width), F.lit(B - 1)
        )
    )
    bw = (
        joined.select("l_returnflag", bidx.alias("b"), "wt")
        .groupBy("l_returnflag", "b")
        .agg(F.sum("wt").alias("w"))
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bc = bw.select(
        "l_returnflag", "b", "w", F.sum("w").over(wcum).alias("cumw")
    ).join(F.broadcast(stats.select("l_returnflag", "tot")), "l_returnflag")
    crossing = (
        bc.filter(F.col("cumw") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min_by(
                F.struct(
                    F.col("b").alias("cb"),
                    (F.col("cumw") - F.col("w")).alias("below"),
                ),
                F.col("b"),
            ).alias("x")
        )
        .select(
            "l_returnflag", F.col("x.cb").alias("cb"), F.col("x.below").alias("below")
        )
    )
    resid = joined.withColumn("b", bidx).join(
        F.broadcast(crossing), "l_returnflag"
    ).filter(F.col("b") == F.col("cb"))
    rcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = resid.select(
        "l_returnflag",
        "v",
        "tot",
        (F.col("below") + F.sum("wt").over(rcum)).alias("cum"),
    )
    return (
        sel.filter(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("v").alias("wmedian"),
            F.min("tot").cast("long").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


_OVERLAP_ORACLE = """
WITH flags AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
)
SELECT day_start,
       CAST(SUM(c) AS BIGINT) AS clickers,
       CAST(SUM(p) AS BIGINT) AS purchasers,
       CAST(SUM(c * p) AS BIGINT) AS both_n,
       CAST(floor((CAST(SUM(c * p) AS DOUBLE)
             / nullif(SUM(c) + SUM(p) - SUM(c * p), 0)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS jaccard
FROM flags
GROUP BY day_start
ORDER BY day_start
"""


@register("agg_audience_overlap", oracle=_OVERLAP_ORACLE)
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience overlap: distinct users who clicked, who
    purchased, who did BOTH, and the Jaccard overlap — the segment
    intersection every growth dashboard runs, and the relational form
    of a bitmap AND (agg_bitmap_distinct holds the bitmap variant).

    Two-level aggregate: the (day, user) flag table collapses
    map-side (each task emits one row per user-day it saw), then the
    per-day roll-up is |days| rows. Exact distinct-intersection
    without count_distinct's dedup shuffle carrying event volume —
    the first groupBy's output is bounded by active user-days.
    """
    events = load_table(spark, sf_dir, "events")
    flags = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts")))
            .cast("long")
            .alias("day_start"),
            "user_id",
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("c"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p"),
        )
    )
    both = F.sum(F.col("c") * F.col("p"))
    return (
        flags.groupBy("day_start")
        .agg(
            F.sum("c").cast("long").alias("clickers"),
            F.sum("p").cast("long").alias("purchasers"),
            both.cast("long").alias("both_n"),
            (F.floor((both.cast("double")
                / F.nullif(
                    F.sum("c") + F.sum("p") - both, F.lit(0)
                )) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("jaccard"),
        )
        .orderBy("day_start")
    )


_TTEST_ORACLE = """
WITH s AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS variant,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(30,6))) AS sx,
         SUM(CAST(value AS DECIMAL(30,6))
             * CAST(value AS DECIMAL(30,6))) AS sxx
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY 1
),
m AS (
  SELECT variant, n,
         CAST(sx AS DOUBLE) / n AS mean,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           / (n - 1) AS var
  FROM s
),
ab AS (
  SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
         b.n AS n_b, b.mean AS mean_b, b.var AS var_b
  FROM m a JOIN m b ON a.variant = 0 AND b.variant = 1
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(floor((mean_a) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(floor((mean_b) * 1e6 + 0.5) AS BIGINT) / 1e6 AS mean_b,
       CAST(floor(((mean_a - mean_b)
             / sqrt(var_a / n_a + var_b / n_b)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS t_stat,
       CAST(floor((pow(var_a / n_a + var_b / n_b, 2)
             / (pow(var_a / n_a, 2) / (n_a - 1)
                + pow(var_b / n_b, 2) / (n_b - 1))) * 1e6 + 0.5) AS BIGINT) / 1e6 AS welch_df
FROM ab
"""


@register("agg_ab_test_ttest", oracle=_TTEST_ORACLE)
def agg_ab_test_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test over an A/B split (user_id parity):
    per-variant mean and variance from EXACT decimal power sums, then
    the t statistic and Welch–Satterthwaite degrees of freedom in
    closed form — the experimentation-platform primitive, computed the
    same deterministic way as agg_linear_regression (floats only at
    finalization, so both engines hash identically).

    One scan → two partial-aggregated rows → a 2-row self-join pairs
    the variants. Scan-bound at any scale; the statistical math costs
    nothing.
    """
    events = load_table(spark, sf_dir, "events")
    x = F.col("value").cast(DEC)
    s = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy((F.col("user_id") % 2).cast("long").alias("variant"))
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
        )
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    m = s.select(
        "variant",
        n,
        (sx / n).alias("mean"),
        ((sxx - sx * sx / n) / (n - 1)).alias("var"),
    )
    a = m.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    ab = a.crossJoin(F.broadcast(b))
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    return ab.select(
        F.col("n_a").cast("long").alias("n_a"),
        (F.floor((F.col("mean_a")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("mean_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.floor((F.col("mean_b")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("mean_b"),
        (F.floor(((F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(se2_a + se2_b)) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("t_stat"),
        (F.floor((F.pow(se2_a + se2_b, 2)
            / (
                F.pow(se2_a, 2) / (F.col("n_a") - 1)
                + F.pow(se2_b, 2) / (F.col("n_b") - 1)
            )) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("welch_df"),
    )


_GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS x
  FROM orders
  GROUP BY o_custkey
),
ranked AS (
  SELECT x,
         row_number() OVER (ORDER BY x, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM spend
)
SELECT CAST(MIN(n) AS BIGINT) AS n_customers,
       CAST(floor(((2.0 * CAST(SUM(CAST(i AS DECIMAL(30,6)) * x) AS DOUBLE))
             / (MIN(n) * CAST(SUM(x) AS DOUBLE))
             - (MIN(n) + 1.0) / MIN(n)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS gini
FROM ranked
"""


@register("agg_gini_coefficient", oracle=_GINI_ORACLE)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality /
    concentration metric (revenue concentration risk, whale
    detection): G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted
    per-customer totals.

    Plan: the fact collapses to per-customer totals first (map-side
    combined groupBy); the global rank i is the DISTRIBUTED
    histogram-prune rank (functions/ranks.py) — bucket offsets from a
    <=1024-row window plus a bucket-partitioned row_number — so no
    single task ever sorts the customer relation (the r6 verdict's
    "WindowExec: No Partition Defined" debt, retired). Both Σ(i·x)
    and Σx accumulate in exact decimal (i is an exact integer rank,
    x an exact decimal), so the final two-term formula is IEEE on
    identical inputs and the oracle's one-window definition matches
    bit-for-bit.
    """
    from ..functions.ranks import histogram_global_rank

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("x")
    )
    ranked = histogram_global_rank(spend, "x", ["o_custkey"]).select("x", "i")
    n = F.count("*")
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        (F.floor(((2.0 * F.sum(F.col("i").cast(DEC) * F.col("x")).cast("double"))
            / (n * F.sum("x").cast("double"))
            - (n + F.lit(1.0)) / n) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("gini"),
    )


_KM_HORIZON_H = 120  # administrative censoring horizon (hours)

_KM_ORACLE = f"""
WITH first_click AS (
  SELECT user_id, MIN(ts) AS c_ts FROM events
  WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
  SELECT f.user_id, f.c_ts, MIN(e.ts) AS p_ts
  FROM first_click f
  LEFT JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase'
   AND e.ts > f.c_ts
  GROUP BY f.user_id, f.c_ts
),
hrs AS (
  SELECT user_id,
         CASE WHEN p_ts IS NOT NULL
              THEN (epoch_us(p_ts) - epoch_us(c_ts)) // 3600000000
         END AS h
  FROM conv
),
life AS (
  SELECT user_id,
         CASE WHEN h IS NOT NULL AND h <= {_KM_HORIZON_H}
              THEN h ELSE {_KM_HORIZON_H} END AS t,
         CASE WHEN h IS NOT NULL AND h <= {_KM_HORIZON_H}
              THEN 0 ELSE 1 END AS censored
  FROM hrs
),
per_t AS (
  SELECT t, SUM(1 - censored) AS d, COUNT(*) AS ended
  FROM life GROUP BY t
),
risk AS (
  SELECT t, d,
         SUM(ended) OVER (ORDER BY t
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS n_risk
  FROM per_t
),
terms AS (
  SELECT t, d, n_risk,
         CASE WHEN d >= n_risk THEN NULL
              ELSE CAST(CAST(floor((ln(1.0 - CAST(d AS DOUBLE) / n_risk)) * 1e9 + 0.5) AS BIGINT) / 1e9
                        AS DECIMAL(30,9)) END AS lnterm,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS wipe
  FROM risk WHERE d > 0
)
SELECT CAST(t AS BIGINT) AS t_hours,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS conversions,
       CASE WHEN MAX(wipe) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
            THEN 0.0
            ELSE CAST(floor((exp(CAST(SUM(lnterm)
                       OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                       AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS survival
FROM terms
ORDER BY t_hours
"""


@register("agg_survival_curve", oracle=_KM_ORACLE)
def agg_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-convert: hours from
    each user's first click to their first subsequent purchase,
    administratively censored at {_KM_HORIZON_H} h — S(t) = fraction
    still unconverted at t, the churn/conversion analytics staple that
    a plain average-time-to-convert gets wrong under censoring.

    Determinism (LESSONS.md #21): the KM product Π(1 − dᵢ/nᵢ) is
    computed as exp(Σ ln-terms) with each term rounded to 9 decimals
    and summed in DECIMAL, so the cumulative product is order-free
    and engine-identical; the degenerate d = n step (everyone left
    converts) wipes survival to exactly 0 instead of ln(0).

    Plan: per-user first-click and first-conversion are two map-side
    aggregates plus one user-keyed join; everything after operates on
    the |distinct event times| relation (hours — bounded by the
    horizon), where the unpartitioned risk-set windows are free.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    first_click = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    # Both sides come from one `events` scan: joining `user_id` to
    # itself builds a predicate Spark warns is trivially true, so the
    # purchase side's key gets its own name.
    purchases = events.filter(
        F.col("event_type") == "purchase"
    ).select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    conv = (
        first_click.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts")),
            "left",
        )
        .groupBy("user_id", "c_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    dt_h = (
        F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    ) / F.lit(3600 * 1_000_000)
    hours = F.floor(dt_h)
    converted = F.col("p_ts").isNotNull() & (hours <= _KM_HORIZON_H)
    life = conv.select(
        F.when(converted, hours)
        .otherwise(F.lit(_KM_HORIZON_H))
        .alias("t"),
        F.when(converted, 0).otherwise(1).alias("censored"),
    )
    per_t = life.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.count("*").alias("ended"),
    )
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # at-risk at t = everyone whose observed time is >= t: a reverse
    # cumulative sum — no eager count() action, single plan
    w_rev = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = per_t.select(
        "t",
        "d",
        F.sum("ended").over(w_rev).alias("n_risk"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            (F.floor((F.log(
                    1.0 - F.col("d").cast("double") / F.col("n_risk")
                )) * 1e9 + 0.5).cast("long") / F.lit(1e9)).cast("decimal(30,9)"),
        ).alias("lnterm"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias(
            "wipe"
        ),
    )
    return terms.select(
        F.col("t").cast("long").alias("t_hours"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("conversions"),
        F.when(F.max("wipe").over(w) == 1, F.lit(0.0))
        .otherwise(
            (F.floor((F.exp(F.sum("lnterm").over(w).cast("double"))) * 1e6 + 0.5).cast("long") / F.lit(1e6))
        )
        .alias("survival"),
    ).orderBy("t_hours")


# ---------------------------------------------------------------------------
# market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 0.005  # pair must appear in >= 0.5% of baskets
# Hub cap: one mega-basket with B brands contributes B^2/2 pairs, so a
# single adversarial order (a crawler cart, a wholesale bulk order)
# makes the self-join quadratic on its key. Keep the K
# lexicographically-smallest brands per basket — deterministic in both
# engines and a no-op on TPC-H-shaped orders (<= 7 lineitems/order).
_BASKET_CAP = 32

_BASKET_ORACLE = f"""
WITH items_all AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
items AS (
  SELECT ok, brand FROM (
    SELECT ok, brand, row_number() OVER (PARTITION BY ok ORDER BY brand) AS rk
    FROM items_all
  ) WHERE rk <= {_BASKET_CAP}
),
n AS (
  SELECT COUNT(DISTINCT ok) AS n_baskets FROM items
),
brand_n AS (
  SELECT brand, COUNT(*) AS bn FROM items GROUP BY brand
),
pair_n AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS pn
  FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT p.brand_a, p.brand_b,
       CAST(p.pn AS BIGINT) AS n_pair,
       CAST(floor(CAST(p.pn AS DOUBLE) / n.n_baskets * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS support,
       CAST(floor(CAST(p.pn AS DOUBLE) / na.bn * 1e6 + 0.5) AS BIGINT)
         / 1e6 AS conf_a_to_b,
       CAST(floor(CAST(p.pn AS DOUBLE) * n.n_baskets / (na.bn * nb.bn)
                  * 1e6 + 0.5) AS BIGINT) / 1e6 AS lift
FROM pair_n p
JOIN brand_n na ON na.brand = p.brand_a
JOIN brand_n nb ON nb.brand = p.brand_b
CROSS JOIN n
WHERE CAST(p.pn AS DOUBLE) / n.n_baskets >= {_BASKET_MIN_SUPPORT}
ORDER BY p.brand_a, p.brand_b
"""


@register("agg_basket_affinity", oracle=_BASKET_ORACLE)
def agg_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: for every brand pair bought
    together in one order, support (share of baskets containing
    both), confidence (P(b | a)), and lift (observed co-occurrence
    over the independence expectation) — the recommender/affinity
    primitive.

    Plan: broadcast-join part onto lineitem, ONE distinct pass to
    (order, brand) items, then a self-equi-join on the order key —
    both sides shuffle on the SAME key so the exchange is reused, and
    per-order fanout is basket_size² with basket size a data-model
    constant, so candidate volume scales linearly with orders. Brand
    marginals are a |brands|-row relation broadcast back in, and the
    basket total is a 1-row broadcast cross join. All three metrics
    are exact-integer ratios floor-quantized to 6 dp (floor(x*1e6+0.5),
    tie-stable across engines) — deterministic across engines. The
    support threshold is scale-free (a fraction of baskets, not an
    absolute count).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items_all = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # Hub cap (see _BASKET_CAP): rank brands within each basket and
    # keep the K smallest. The window partitions on ok — the SAME key
    # the pair self-join shuffles on (exchange reuse), and the
    # WindowGroupLimit pushdown truncates mega-baskets to K rows
    # before they fan out.
    w_cap = Window.partitionBy("ok").orderBy("brand")
    # Persist: `items` feeds FOUR consumers (the n_baskets broadcast,
    # the brand_n broadcast, and both sides of the pair self-join) and
    # each broadcast subquery is its own job — un-persisted, the
    # join+distinct+window lineage re-executed 3x (r7 bench: 2.13 s ->
    # 3.51 s at sf0.1). The relation is (order, brand) pairs — linear
    # in orders with a small constant — so MEMORY_AND_DISK spills
    # gracefully at 100 TB and caching still beats three recomputes.
    from pyspark import StorageLevel

    items = (
        items_all.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= _BASKET_CAP)
        .drop("rk")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = items.agg(F.countDistinct("ok").alias("n_baskets"))
    brand_n = items.groupBy("brand").agg(F.count("*").alias("bn"))
    a, b = items.alias("a"), items.alias("b")
    pair_n = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b"))
        .agg(F.count("*").alias("pn"))
    )
    na = F.broadcast(brand_n.select(F.col("brand").alias("brand_a"), F.col("bn").alias("na")))
    nb = F.broadcast(brand_n.select(F.col("brand").alias("brand_b"), F.col("bn").alias("nb")))
    return (
        pair_n.join(na, "brand_a")
        .join(nb, "brand_b")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("pn").cast("double") / F.col("n_baskets") >= _BASKET_MIN_SUPPORT
        )
        .select(
            "brand_a",
            "brand_b",
            F.col("pn").cast("long").alias("n_pair"),
            # floor-quantize, not round(): Spark's round() HALF_UPs the
            # shortest decimal repr while DuckDB rounds the binary
            # value — a 1-ulp tie flips the 6th digit (LESSONS #22).
            (
                F.floor(F.col("pn").cast("double") / F.col("n_baskets") * 1e6 + 0.5)
                .cast("long")
                / F.lit(1e6)
            ).alias("support"),
            (
                F.floor(F.col("pn").cast("double") / F.col("na") * 1e6 + 0.5)
                .cast("long")
                / F.lit(1e6)
            ).alias("conf_a_to_b"),
            (
                F.floor(
                    F.col("pn").cast("double")
                    * F.col("n_baskets")
                    / (F.col("na") * F.col("nb"))
                    * 1e6
                    + 0.5
                )
                .cast("long")
                / F.lit(1e6)
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


# ---------------------------------------------------------------------------
# chi-square test of independence
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH obs AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         COUNT(*) AS n_obs
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
tot AS (
  SELECT segment, priority, n_obs,
         SUM(n_obs) OVER (PARTITION BY segment) AS row_n,
         SUM(n_obs) OVER (PARTITION BY priority) AS col_n,
         SUM(n_obs) OVER () AS grand_n
  FROM obs
),
cells AS (
  SELECT segment, priority, n_obs,
         CAST(row_n AS DOUBLE) * col_n / grand_n AS expected,
         CAST(floor(
           (n_obs - CAST(row_n AS DOUBLE) * col_n / grand_n)
           * (n_obs - CAST(row_n AS DOUBLE) * col_n / grand_n)
           / (CAST(row_n AS DOUBLE) * col_n / grand_n) * 1e6 + 0.5
         ) AS BIGINT) AS contrib_u
  FROM tot
)
SELECT segment, priority,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(floor(expected * 1e6 + 0.5) AS BIGINT) / 1e6 AS expected,
       CAST(contrib_u AS DOUBLE) / 1e6 AS contribution,
       CAST(SUM(contrib_u) OVER () AS DOUBLE) / 1e6 AS chi2_total
FROM cells
ORDER BY segment, priority
"""


@register("agg_chi_square", oracle=_CHI2_ORACLE)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer
    market segment and order priority: per-cell observed vs expected
    counts, each cell's (O-E)²/E contribution, and the overall
    statistic — the categorical-association primitive behind
    segmentation and A/B sanity checks.

    Plan: the fact-sized work is one shuffle join (orders ⋈
    customer on the key both engines index) feeding a map-side-
    combined groupBy to the |segments|×|priorities| contingency
    table; every window after that runs over ≤ cells rows. The
    marginals are window sums over the cell table (no second scan of
    the fact). Determinism: expected counts are double expressions
    of exact integers (identical in both engines); contributions are
    floor-quantized to micro-units and the statistic is their exact
    integer sum — no order-dependent double accumulation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    obs = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n_obs"))
    )
    from pyspark.sql import Window

    w_row = Window.partitionBy("segment")
    w_col = Window.partitionBy("priority")
    w_all = Window.partitionBy()
    tot = obs.select(
        "segment",
        "priority",
        "n_obs",
        F.sum("n_obs").over(w_row).alias("row_n"),
        F.sum("n_obs").over(w_col).alias("col_n"),
        F.sum("n_obs").over(w_all).alias("grand_n"),
    )
    expected = F.col("row_n").cast("double") * F.col("col_n") / F.col("grand_n")
    contrib_u = (
        F.floor(
            (F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected * 1e6
            + 0.5
        )
    ).cast("long")
    cells = tot.select(
        "segment",
        "priority",
        F.col("n_obs").cast("long").alias("n_obs"),
        (F.floor(expected * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("expected"),
        contrib_u.alias("contrib_u"),
    )
    return cells.select(
        "segment",
        "priority",
        "n_obs",
        "expected",
        (F.col("contrib_u").cast("double") / 1e6).alias("contribution"),
        (F.sum("contrib_u").over(w_all).cast("double") / 1e6).alias("chi2_total"),
    ).orderBy("segment", "priority")


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d), precomputed so neither engine's log10 is in the path.
_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}

# Pick the power-of-ten scale with integer range comparisons (prices sit
# in [1, 1e8)) — floor(log10(x)) would hang engine-specific log ulps on
# exact powers of ten; a CASE ladder is pure comparisons.
_BENFORD_SCALE_SQL = """CASE
  WHEN o_totalprice >= 10000000 THEN 10000000.0
  WHEN o_totalprice >= 1000000 THEN 1000000.0
  WHEN o_totalprice >= 100000 THEN 100000.0
  WHEN o_totalprice >= 10000 THEN 10000.0
  WHEN o_totalprice >= 1000 THEN 1000.0
  WHEN o_totalprice >= 100 THEN 100.0
  WHEN o_totalprice >= 10 THEN 10.0
  ELSE 1.0 END"""

_BENFORD_CASE_DOUBLE = "\n".join(
    f"  WHEN digit = {d} THEN {s}" for d, s in _BENFORD.items()
)

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT CAST(floor(o_totalprice / ({_BENFORD_SCALE_SQL})) AS BIGINT)
             AS digit
  FROM orders WHERE o_totalprice >= 1
),
counts AS (
  SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
),
tot AS (
  SELECT digit, n_obs, SUM(n_obs) OVER () AS n_total FROM counts
),
cells AS (
  SELECT digit, n_obs, n_total,
         CAST(n_obs AS DOUBLE) / n_total AS obs_share,
         CASE {_BENFORD_CASE_DOUBLE} END AS benford_share
  FROM tot
)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(floor(obs_share * 1e6 + 0.5) AS BIGINT) / 1e6 AS obs_share,
       benford_share,
       CAST(floor(
         (obs_share - benford_share) * (obs_share - benford_share)
         / benford_share * n_total * 1e6 + 0.5) AS BIGINT) / 1e6
           AS contribution
FROM cells
ORDER BY digit
"""


@register("agg_benford_digit", oracle=_BENFORD_ORACLE)
def agg_benford_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit shares vs the log10(1 + 1/d) expectation, with each
    digit's chi-square contribution — the classic fabricated-data /
    fraud screen for financial columns.

    Plan: the leading digit comes from a pure comparison CASE ladder
    (no log10 — engine log ulps on exact powers of ten would flip
    floor), then ONE map-side-combined groupBy to at most 9 groups;
    everything after runs over ≤ 9 rows. Expected shares are inlined
    literal constants, observed shares are exact-integer ratios, and
    contributions are floor-quantized — nothing order- or
    engine-dependent anywhere.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    p = F.col("o_totalprice")
    scale = (
        F.when(p >= 10_000_000, 1e7)
        .when(p >= 1_000_000, 1e6)
        .when(p >= 100_000, 1e5)
        .when(p >= 10_000, 1e4)
        .when(p >= 1_000, 1e3)
        .when(p >= 100, 1e2)
        .when(p >= 10, 1e1)
        .otherwise(1.0)
    )
    counts = (
        orders.select(F.floor(p / scale).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    tot = counts.select(
        "digit", "n_obs", F.sum("n_obs").over(w_all).alias("n_total")
    )
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD.items() for x in kv]
    )[F.col("digit").cast("int")]
    obs_share = F.col("n_obs").cast("double") / F.col("n_total")
    return tot.select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        (F.floor(obs_share * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("obs_share"),
        benford.alias("benford_share"),
        (
            F.floor(
                (obs_share - benford)
                * (obs_share - benford)
                / benford
                * F.col("n_total")
                * 1e6
                + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("contribution"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# count-min sketch build + point-query audit
# ---------------------------------------------------------------------------

# d=4 hash rows (distinct odd Knuth-style multipliers), w=64 buckets.
_CMS_MULTS = [2654435761, 2246822519, 3266489917, 668265263]
_CMS_W = 64
_CMS_TOPN = 5  # audit the estimate for the N heaviest true keys

_CMS_HASH_SQL = "(((user_id % 2147483648) * {m}) % 4294967296) % {w}"

_CMS_ORACLE = f"""
WITH truth AS (
  SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
),
heavy AS (
  SELECT user_id, true_n FROM truth
  ORDER BY true_n DESC, user_id LIMIT {_CMS_TOPN}
),
cells AS (
  {" UNION ALL ".join(
      f'''SELECT {i} AS row_i,
          {_CMS_HASH_SQL.format(m=m, w=_CMS_W)} AS bucket,
          COUNT(*) AS cell_n
      FROM events GROUP BY 2'''
      for i, m in enumerate(_CMS_MULTS))}
),
est AS (
  SELECT h.user_id, h.true_n, MIN(c.cell_n) AS est_n
  FROM heavy h
  JOIN cells c
    ON c.bucket = CASE c.row_i
         {" ".join(
             f"WHEN {i} THEN {_CMS_HASH_SQL.format(m=m, w=_CMS_W)}"
             for i, m in enumerate(_CMS_MULTS))}
       END
  GROUP BY h.user_id, h.true_n
)
SELECT user_id,
       CAST(true_n AS BIGINT) AS true_n,
       CAST(est_n AS BIGINT) AS est_n
FROM est
ORDER BY true_n DESC, user_id
"""


@register("agg_count_min_sketch", oracle=_CMS_ORACLE)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event owners: build the d×w counter
    matrix in one pass, then audit it by answering point queries for
    the heaviest true keys (est = min over rows; CMS guarantees
    est ≥ truth). The mergeable-sketch primitive behind frequency
    estimation when the key space is too large to count exactly.

    Plan: the sketch build is d map-side-combined groupBys over the
    SAME scan (Catalyst caches the scan; each groupBy's key space is w
    buckets, so the shuffle is d×w rows total at ANY corpus size —
    that fixed size is the whole point of a sketch). The audit joins
    the 256-cell sketch (broadcast) against the top-N true keys.
    Hashes are masked Knuth multiplies — exact 64-bit integer math in
    both engines, no engine hash function in the path.
    """
    events = load_table(spark, sf_dir, "events")

    def bucket(m: int):
        return ((F.col("user_id") % F.lit(2147483648)) * F.lit(m)) % F.lit(
            4294967296
        ) % F.lit(_CMS_W)

    cells = None
    for i, m in enumerate(_CMS_MULTS):
        c = events.groupBy(bucket(m).alias("bucket")).agg(
            F.count("*").alias("cell_n")
        ).select(F.lit(i).alias("row_i"), "bucket", "cell_n")
        cells = c if cells is None else cells.unionByName(c)

    truth = events.groupBy("user_id").agg(F.count("*").alias("true_n"))
    heavy = truth.orderBy(F.col("true_n").desc(), "user_id").limit(_CMS_TOPN)
    probe = heavy.select(
        "user_id",
        "true_n",
        *[
            bucket(m).alias(f"b{i}")
            for i, m in enumerate(_CMS_MULTS)
        ],
    )
    bucket_match = F.col("bucket") == F.when(
        F.col("row_i") == 0, F.col("b0")
    ).when(F.col("row_i") == 1, F.col("b1")).when(
        F.col("row_i") == 2, F.col("b2")
    ).otherwise(F.col("b3"))
    return (
        probe.join(F.broadcast(cells), bucket_match)
        .groupBy("user_id", "true_n")
        .agg(F.min("cell_n").alias("est_n"))
        .select(
            "user_id",
            F.col("true_n").cast("long").alias("true_n"),
            F.col("est_n").cast("long").alias("est_n"),
        )
        .orderBy(F.col("true_n").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# sessionized bounce rate
# ---------------------------------------------------------------------------

_BOUNCE_GAP_US = 30 * 60 * 1_000_000  # same 30-min gap as window_sessionize

_BOUNCE_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   >= {_BOUNCE_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sid
  FROM seq
),
s2 AS (
  SELECT user_id, sid,
         MIN(ts) AS start_ts,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT CAST(CAST(date_trunc('day', start_ts) AS DATE) AS STRING) AS day_str,
       CAST(COUNT(*) AS BIGINT) AS sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS bounces,
       CAST(floor(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS bounce_rate
FROM s2
GROUP BY 1
ORDER BY day_str
"""


@register("agg_bounce_rate", oracle=_BOUNCE_ORACLE)
def agg_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: sessionize each user's event stream with the
    standard 30-minute inactivity gap, then the share of
    single-event sessions per session-start day — the
    engagement-health KPI composed from sessionization + rollup.

    Plan: ONE (user_id, ts) window shuffle marks session starts and
    numbers them with a running sum (same pattern as
    window_sessionize); the per-session rollup re-shuffles on
    (user, session) — a key strictly finer than the window key, so
    AQE coalesces it cheaply — and the daily rollup is
    calendar-bounded. The rate is an exact-integer ratio,
    floor-quantized.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (t - F.unix_micros(F.lag("ts").over(w)) >= _BOUNCE_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = seq.select(
        "user_id", "ts", F.sum("new_s").over(run).alias("sid")
    )
    s2 = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("start_ts"), F.count("*").alias("n_events")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        s2.groupBy(
            F.date_trunc("day", F.col("start_ts"))
            .cast("date")
            .cast("string")
            .alias("day_str")
        )
        .agg(
            F.count("*").cast("long").alias("sessions"),
            bounces.cast("long").alias("bounces"),
            (
                F.floor(
                    bounces.cast("double") / F.count("*") * 1e6 + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("bounce_rate"),
        )
        .orderBy("day_str")
    )


# ---------------------------------------------------------------------------
# Lorenz curve (inequality deciles; companion to agg_gini_coefficient)
# ---------------------------------------------------------------------------

_LORENZ_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS s
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT s,
         row_number() OVER (ORDER BY s, o_custkey) AS rk,
         COUNT(*) OVER () AS n,
         ntile(10) OVER (ORDER BY s, o_custkey) AS decile
  FROM spend
),
cum AS (
  SELECT decile, rk, n,
         SUM(CAST(floor(s * 1e2 + 0.5) AS BIGINT))
           OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cum_u,
         SUM(CAST(floor(s * 1e2 + 0.5) AS BIGINT)) OVER () AS tot_u
  FROM ranked
)
SELECT decile,
       CAST(MAX(rk) AS BIGINT) AS n_customers_cum,
       CAST(floor(CAST(MAX(rk) AS DOUBLE) / MAX(n) * 1e6 + 0.5) AS BIGINT)
           / 1e6 AS pop_share_cum,
       CAST(floor(CAST(MAX(cum_u) AS DOUBLE) / MAX(tot_u) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS spend_share_cum
FROM cum
GROUP BY decile
ORDER BY decile
"""


@register("agg_lorenz_curve", oracle=_LORENZ_ORACLE)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in deciles: customers ranked by total spend, the
    cumulative population share vs cumulative spend share at each
    decile boundary — the curve the Gini coefficient integrates, and
    the direct "top 10% drive X% of revenue" readout.

    Plan: the fact collapses to per-customer totals (map-side
    combined); rank, decile, and the cumulative spend all derive from
    the DISTRIBUTED histogram-prune rank (functions/ranks.py): the
    exact global row_number and exact running integer-cent sum come
    from bucket offsets + a bucket-partitioned window, and ntile(10)
    is the closed-form function of (rank, n) — so the naive form's
    THREE single-task global windows (rank/ntile/cumsum) become zero.
    Spend quantizes to integer cents so the cumulative sums are
    exact; both shares are floor-quantized integer ratios.
    """
    from ..functions.ranks import histogram_global_rank, ntile_from_rank_sql

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("s")
    )
    spend = spend.withColumn(
        "s_u", F.floor(F.col("s") * 1e2 + 0.5).cast("long")
    )
    ranked = histogram_global_rank(
        spend, "s", ["o_custkey"], cumsum="s_u", rank_col="rk"
    )
    tot = spend.agg(F.sum("s_u").alias("tot_u"))
    cum = ranked.crossJoin(F.broadcast(tot)).select(
        F.expr(ntile_from_rank_sql("rk", "n", 10)).alias("decile"),
        "rk",
        "n",
        F.col("cum").alias("cum_u"),
        "tot_u",
    )
    return (
        cum.groupBy("decile")
        .agg(
            F.max("rk").cast("long").alias("n_customers_cum"),
            (
                F.floor(
                    F.max("rk").cast("double") / F.max("n") * 1e6 + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("pop_share_cum"),
            (
                F.floor(
                    F.max("cum_u").cast("double") / F.max("tot_u") * 1e6 + 0.5
                ).cast("long")
                / F.lit(1e6)
            ).alias("spend_share_cum"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# HDR-style log-bucket histogram percentiles — the mergeable-sketch
# way to get latency/price percentiles at 100 TB
# --------------------------------------------------------------------------

# Bucket layout: octave w = bit-width of the value in cents (exact via
# the binary-string length — no float log2, so no libm tie risk), with
# 4 linear sub-buckets per octave => relative error <= 1/8. Bucket ids,
# boundaries, and midpoints are ALL integer arithmetic (shift + floor
# div), bit-identical across engines at any SF.
_HDR_SUBS = 4


def _hdr_mid_sql(b: str, shift: str, idiv: str) -> str:
    """Midpoint (in cents) of histogram bucket ``b``: engine-portable
    integer expr. ``shift``/``idiv`` = the engine's shift-left and
    floor-div spellings ('shiftleft(1, {e})' / 'div' for Spark,
    '(CAST(1 AS BIGINT) << ({e}))' / '//' for DuckDB)."""
    # Octave base 2^(w-1); b idiv 4 = w-1. MUST be integer floor div:
    # divide-then-cast diverges across engines (Spark CAST(1.5 AS INT)=1
    # truncates, DuckDB rounds to 2), which shifted midpoints whenever a
    # picked bucket's sub-index was >= 2.
    p = shift.format(e=f"(({b}) {idiv} 4)")
    sub = f"(({b}) % 4)"
    lo = f"({p} + ({sub} * {p}) {idiv} 4)"
    hi = f"({p} + (({sub} + 1) * {p}) {idiv} 4 - 1)"
    return f"(({lo} + {hi}) {idiv} 2)"


_HDR_SPARK_MID = lambda b: _hdr_mid_sql(  # noqa: E731
    b, "shiftleft(CAST(1 AS BIGINT), CAST({e} AS INT))", "div"
)
_HDR_DUCK_MID = lambda b: _hdr_mid_sql(  # noqa: E731
    b, "(CAST(1 AS BIGINT) << CAST({e} AS INT))", "//"
)

_HDR_ORACLE = f"""
WITH cents AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT) AS c
  FROM orders
),
bucketed AS (
  SELECT o_orderpriority,
         (length(bin(c)) - 1) * 4
           + ((c - (CAST(1 AS BIGINT) << (length(bin(c)) - 1))) * 4)
             // (CAST(1 AS BIGINT) << (length(bin(c)) - 1)) AS b
  FROM cents
),
hist AS (
  SELECT o_orderpriority, b, COUNT(*) AS cnt
  FROM bucketed GROUP BY o_orderpriority, b
),
cum AS (
  SELECT o_orderpriority, b, cnt,
         SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY b) AS cum,
         SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
  FROM hist
),
picked AS (
  SELECT o_orderpriority,
         CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN b END) AS b50,
         MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN b END) AS b95,
         MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN b END) AS b99
  FROM cum GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST({_HDR_DUCK_MID("b50")} AS BIGINT) AS p50_cents,
       CAST({_HDR_DUCK_MID("b95")} AS BIGINT) AS p95_cents,
       CAST({_HDR_DUCK_MID("b99")} AS BIGINT) AS p99_cents
FROM picked
ORDER BY o_orderpriority
"""


@register("agg_hdr_histogram_pctl", oracle=_HDR_ORACLE)
def agg_hdr_histogram_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram percentiles (p50/p95/p99 of order value per
    priority): values land in log2 octaves x 4 linear sub-buckets
    (<= 12.5% relative error), the histogram is a tiny mergeable
    GROUP BY, and percentiles read off the cumulative counts. The
    octave is the value's bit width via ``bin()`` string length —
    exact integer arithmetic end to end, no float log, no libm
    parity risk.

    This is the percentile you actually run at 100 TB: unlike exact
    percentile (full sort) or percentile_approx (opaque state), the
    log-bucket histogram is a ~100-group aggregate that map-side
    combines to kilobytes per partition, merges associatively across
    executors/days/reruns, and supports incremental refresh — the
    same design as HdrHistogram/DDSketch's bucket layer.

    Scale: one scan, one partial+final hash agg on (priority, bucket)
    [~5 x 100 groups], then a window cumsum over those groups. The
    raw values never shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    c = F.floor(F.col("o_totalprice") * 1e2 + 0.5).cast("long")
    octv = F.length(F.bin(F.col("c"))) - 1  # floor(log2(c)), exactly
    bucket = octv * _HDR_SUBS + F.expr(
        f"((c - shiftleft(CAST(1 AS BIGINT), length(bin(c)) - 1)) * 4)"
        f" div shiftleft(CAST(1 AS BIGINT), length(bin(c)) - 1)"
    )
    hist = (
        orders.select("o_orderpriority", c.alias("c"))
        .select("o_orderpriority", bucket.alias("b"))
        .groupBy("o_orderpriority", "b")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.partitionBy("o_orderpriority").orderBy("b")
    wall = Window.partitionBy("o_orderpriority")
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )

    def _pick(p: int) -> F.Column:
        return F.min(
            F.when(
                F.col("cum") >= F.expr(f"({p} * n + 99) div 100"),
                F.col("b"),
            )
        )

    picked = cum.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n"),
        _pick(50).alias("b50"),
        _pick(95).alias("b95"),
        _pick(99).alias("b99"),
    )
    return picked.select(
        "o_orderpriority",
        "n",
        F.expr(f"CAST({_HDR_SPARK_MID('b50')} AS BIGINT)").alias("p50_cents"),
        F.expr(f"CAST({_HDR_SPARK_MID('b95')} AS BIGINT)").alias("p95_cents"),
        F.expr(f"CAST({_HDR_SPARK_MID('b99')} AS BIGINT)").alias("p99_cents"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# differential-privacy noisy-count release (Laplace mechanism)
# ---------------------------------------------------------------------------

# ε for the Laplace mechanism (sensitivity 1 for a count ⇒ scale
# b = 1/ε). Noise is DETERMINISTIC here: the uniform draw comes from a
# Knuth hash seeded by the released statistic itself, so both engines
# derive bit-identical noise and the oracle can value-hash the output.
# That makes this a demo of the MECHANISM (inverse-CDF Laplace,
# post-processing clamp), explicitly NOT a private release — real DP
# needs a secret, fresh random source; the plan shape is identical.
_DP_EPS = 1.0

_DP_ORACLE = f"""
WITH c AS (
  SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY event_type
),
u AS (
  SELECT event_type, n_true,
         (CAST(((n_true % 2147483648) * 2654435761) % 4294967296
               % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS uu
  FROM c
),
n AS (
  SELECT event_type, n_true,
         CAST(round(
           (CASE WHEN uu < 0.5 THEN 1.0 ELSE -1.0 END)
           * (floor(ln(1.0 - 2.0 * abs(uu - 0.5)) * 1e6) / 1e6)
           / {_DP_EPS}
         ) AS BIGINT) AS noise
  FROM u
)
SELECT event_type, CAST(n_true AS BIGINT) AS n_true, noise,
       greatest(CAST(0 AS BIGINT), n_true + noise) AS n_released
FROM n
ORDER BY event_type
"""


@register("agg_dp_count_laplace", oracle=_DP_ORACLE)
def agg_dp_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release per event type: inverse-
    CDF Laplace noise (scale 1/ε, count sensitivity 1) added to each
    group count, clamped non-negative (post-processing preserves DP).
    The output keeps the true count alongside — this operator is the
    MECHANISM demo + calibration audit (noise distribution, clamp
    rate), not a private release: the uniform draw is a deterministic
    Knuth hash seeded by the statistic so both engines agree
    bit-for-bit (a real release swaps in a secret RNG; the plan is
    unchanged).

    Determinism note: ln() is not IEEE-correctly-rounded, so the ln
    term is floor-quantized to micro-units before scaling (the
    agg_survival_curve precedent) — a cross-engine ulp difference
    would need to straddle a 1e-6 boundary to flip the hash.

    Scale: one partial+final groupBy on a low-cardinality key; the
    noise transform is a scalar expression over |groups| rows. At
    100 TB the count shuffle is the whole cost — noise is free.
    """
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("event_type").agg(F.count("*").alias("n_true"))
    uu = (
        (
            ((F.col("n_true") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
            % F.lit(1_000_000)
        ).cast("double")
        + 0.5
    ) / 1_000_000.0
    lnq = F.floor(F.log(1.0 - 2.0 * F.abs(uu - 0.5)) * 1e6) / 1e6
    noise = F.round(
        F.when(uu < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0)) * lnq / _DP_EPS
    ).cast("long")
    return (
        c.select(
            "event_type",
            F.col("n_true").cast("long").alias("n_true"),
            noise.alias("noise"),
        )
        .select(
            "event_type",
            "n_true",
            "noise",
            F.greatest(F.lit(0).cast("long"), F.col("n_true") + F.col("noise")).alias(
                "n_released"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov–Smirnov test — distributed, integer-exact
# ---------------------------------------------------------------------------

# D is computed as max|C1·n2 − C2·n1| over the distinct-value CDF grid
# — pure int64 arithmetic (exact while n1·n2 < 2^63; at extreme corpus
# sizes swap the numerator to double). Evaluating on DISTINCT values
# (not raw rows) is what makes ties exact: the empirical CDFs jump
# together at a tied value, and a raw-row scan would expose partial
# within-tie counts and overstate D.
_KS_ALPHA_COEF = 1.358  # c(α) at α = 0.05, classical two-sample KS


def _guard_product_fits_int64(
    totals: DataFrame, a: str, b: str, op_name: str
) -> DataFrame:
    """Fail LOUDLY when ``a·b >= 2^62`` (r8 advice): the KS / rank-sum
    integer numerators are exact only below that product; past it they
    would wrap int64 and return a silently-wrong statistic. The check
    multiplies in double on the 1-row totals relation (the double
    rounding slack near 2^62 is ~512 — irrelevant at a 2-sided margin
    of 2x). raise_error is embedded in the ``a`` column itself so
    Catalyst cannot prune it.

    NULL totals pass through un-raised (r16): on EMPTY input the
    1-row global aggregate carries NULL sums, and AQE may materialize
    the guarded broadcast side before empty-stream propagation
    cancels the join — the old NULL→otherwise CASE then raised
    spuriously (a scheduling race: agg_ks_test_two_sample failed
    call 2 of the empty-table sweep under load, passed isolated).
    Nothing real is guarded at n=0; the empty crossJoin output is
    unchanged."""
    ok = F.col(a).cast("double") * F.col(b).cast("double") < F.lit(float(2**62))
    ok = F.col(a).isNull() | F.col(b).isNull() | ok
    return totals.withColumn(
        a,
        F.when(ok, F.col(a)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{op_name}: {a}*{b} >= 2^62 — int64 rank/CDF "
                        "numerator would overflow; switch the numerator "
                        "to double for this scale (see docstring). "
                        f"{a}="
                    ),
                    F.col(a).cast("string"),
                    F.lit(f" {b}="),
                    F.col(b).cast("string"),
                )
            ).cast("long")
        ),
    )

def _guard_sum_sq_fits_int64(
    totals: DataFrame, a: str, b: str, op_name: str
) -> DataFrame:
    """Fail LOUDLY when ``(a+b)^2 >= 2^62`` (r9 advice): rank-SUM
    numerators like ROC's r1_x2 are bounded by ~2·a·(a+b), not a·b —
    with imbalanced classes (a=2^33, b=2^20) the product guard passes
    while the numerator wraps at ~2^67. (a+b)^2 < 2^62 gives
    2·a·(a+b) <= 2·(a+b)^2 < 2^63, inside int64. Embedded in ``a``
    (used downstream) so Catalyst cannot prune it. NULL totals pass
    through un-raised (r16) — see _guard_product_fits_int64."""
    tot = F.col(a).cast("double") + F.col(b).cast("double")
    ok = tot * tot < F.lit(float(2**62))
    ok = F.col(a).isNull() | F.col(b).isNull() | ok
    return totals.withColumn(
        a,
        F.when(ok, F.col(a)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{op_name}: ({a}+{b})^2 >= 2^62 — the int64 "
                        "rank-sum numerator (~2·a·n) would overflow even "
                        "when the pair product fits; switch the numerator "
                        f"to double at this scale. {a}="
                    ),
                    F.col(a).cast("string"),
                    F.lit(f" {b}="),
                    F.col(b).cast("string"),
                )
            ).cast("long")
        ),
    )


_KS_ORACLE = f"""
WITH s AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY value
),
t AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM s
),
c AS (
  SELECT CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS k1,
         CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS k2
  FROM s
)
SELECT t.n1, t.n2,
       CAST(MAX(ABS(c.k1 * t.n2 - c.k2 * t.n1)) AS BIGINT) AS d_num,
       CAST(floor(CAST(MAX(ABS(c.k1 * t.n2 - c.k2 * t.n1)) AS DOUBLE)
                  * 1e6 / (t.n1 * t.n2)) AS BIGINT) AS d_micro,
       CAST(floor(CAST(MAX(ABS(c.k1 * t.n2 - c.k2 * t.n1)) AS DOUBLE)
                  * 1e6 / (t.n1 * t.n2)) AS BIGINT)
         > CAST(floor({_KS_ALPHA_COEF}
                      * sqrt((t.n1 + t.n2) / CAST(t.n1 * t.n2 AS DOUBLE))
                      * 1e6) AS BIGINT) AS reject_h0
FROM c CROSS JOIN t
GROUP BY t.n1, t.n2
"""


@register("agg_ks_test_two_sample", oracle=_KS_ORACLE)
def agg_ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test (click vs view value
    distributions): D = sup|F̂1 − F̂2| over the pooled distinct-value
    grid, with the α=0.05 classical rejection threshold — the drift
    test a feature pipeline runs between data slices (complements
    agg_psi_drift's binned divergence with an exact, bin-free
    statistic).

    Exactness: D's numerator is max|C1·n2 − C2·n1| in int64 (no float
    CDFs), evaluated on distinct values so tied observations jump the
    CDFs together; the threshold comparison is micro-quantized through
    correctly-rounded IEEE sqrt on both engines.

    Scale: the raw scan collapses to |distinct values| rows in one
    partial+final groupBy; the ordered CDF accumulation runs on
    histogram_global_rank's bucket-partitioned windows (functions/
    ranks.py — no single-task global window); the final sup is a
    1-row aggregate. int64 D-numerator is exact while n1·n2 < 2^63 —
    beyond that (≥ ~3·10^9 rows per side) switch the numerator to
    double.
    """
    from etl_8x8_spark.functions.ranks import histogram_global_rank

    events = load_table(spark, sf_dir, "events")
    s = (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    ranked = histogram_global_rank(s, "value", [], cumsums=["c1", "c2"])
    totals = s.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # Runtime overflow guard (r8 advice): the int64 D-numerator
    # |C1·n2 − C2·n1| is exact only while n1·n2 < 2^62. Past that
    # (≥ ~2·10^9 rows per side) fail LOUDLY instead of returning a
    # silently-wrong statistic; the fix at that scale is switching
    # the numerator to double (documented above). The guard is one
    # double multiply on a 1-row relation — free.
    totals = _guard_product_fits_int64(totals, "n1", "n2", "agg_ks_test_two_sample")
    d_num_row = F.abs(
        F.col("cum_c1") * F.col("n2") - F.col("cum_c2") * F.col("n1")
    )
    d_micro = F.floor(
        F.max(d_num_row).cast("double") * 1e6 / (F.col("n1") * F.col("n2"))
    ).cast("long")
    thresh = F.floor(
        F.lit(_KS_ALPHA_COEF)
        * F.sqrt(
            (F.col("n1") + F.col("n2"))
            / (F.col("n1") * F.col("n2")).cast("double")
        )
        * 1e6
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(totals))
        .groupBy("n1", "n2")
        .agg(
            F.max(d_num_row).cast("long").alias("d_num"),
            d_micro.alias("d_micro"),
            (d_micro > thresh).alias("reject_h0"),
        )
    )


# ---------------------------------------------------------------------------
# ROC-AUC via rank-sum (Mann–Whitney U) — distributed, tie-exact
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH s AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cp,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cn
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY value
),
t AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS n_pos, CAST(SUM(cn) AS BIGINT) AS n_neg
  FROM s
),
c AS (
  SELECT cp, cn,
         CAST(SUM(cp + cn) OVER (ORDER BY value) AS BIGINT) AS ktot
  FROM s
),
r AS (
  SELECT CAST(SUM(cp * (2 * (ktot - cp - cn) + cp + cn + 1)) AS BIGINT)
           AS r1_x2
  FROM c
)
SELECT t.n_pos, t.n_neg,
       (r.r1_x2 - t.n_pos * (t.n_pos + 1)) / 2 AS u_stat,
       CAST(floor(CAST(r.r1_x2 - t.n_pos * (t.n_pos + 1) AS DOUBLE)
                  * 1e6 / (2 * t.n_pos * t.n_neg)) AS BIGINT) AS auc_micro
FROM r CROSS JOIN t
"""


@register("agg_roc_auc_rank", oracle=_AUC_ORACLE)
def agg_roc_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of `value` as a score separating purchases
    (positive) from clicks (negative), via the rank-sum identity
    AUC = U/(n⁺·n⁻) with Mann–Whitney U = R⁺ − n⁺(n⁺+1)/2 — the
    standard way to compute AUC distributively WITHOUT materializing
    the ROC curve, and the model-eval primitive of a feature/training
    pipeline at any scale.

    Tie handling is exact and integer-only: on the distinct-value
    grid each tied group contributes its AVERAGE rank, kept integral
    by doubling (avg_rank×2 = 2·rank_offset + group_size + 1), so
    U (and AUC's numerator) involve no floats until the final
    micro-quantized division.

    Scale: same shape as agg_ks_test_two_sample — groupBy collapse to
    distinct values, bucket-partitioned cumulative rank
    (histogram_global_rank, no global window), 1-row finale. u_stat
    is exact while ranks fit int64 (n² < 2^63).
    """
    from etl_8x8_spark.functions.ranks import histogram_global_rank

    events = load_table(spark, sf_dir, "events")
    s = (
        events.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("cp"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("cn"),
        )
    )
    s = s.withColumn("ct", F.col("cp") + F.col("cn"))
    # r16 (guide §2.4 "one pass instead of N"): the class totals are
    # sums over the SAME distinct-value grid the rank probe already
    # aggregates, so fold them into the final aggregate instead of a
    # separate totals branch. The old shape re-derived `s` per
    # consumer — 5 full scans of events + 4 groupBy exchanges (column
    # pruning makes each consumer's exchange structurally different,
    # so ReuseExchange never applied; plans/r16/agg_roc_auc_rank_
    # before.txt) — plus a broadcast crossJoin of the totals. Folding
    # totals into the finale removes one whole scan+aggregate branch
    # and the crossJoin. persist on the rank input was A/B'd under the
    # honest per-run cache clear and LOSES (alternating blocks:
    # unpersisted 1.74/0.95 s vs persisted 2.40/2.04 s — the r8
    # agg_abc finding again: materialization sits serial on the
    # stats→offsets→probe critical path, re-derivation from the tiny
    # collapsed relation is cheaper), so the default stays.
    ranked = histogram_global_rank(s, "value", [], cumsums=["ct"])
    r1_x2 = F.sum(
        F.col("cp") * (2 * (F.col("cum_ct") - F.col("ct")) + F.col("ct") + 1)
    ).cast("long")
    agg = ranked.agg(
        F.sum("cp").cast("long").alias("n_pos"),
        F.sum("cn").cast("long").alias("n_neg"),
        r1_x2.alias("r1x2"),
    )
    # The global aggregate emits one row even over an empty grid
    # (all sums NULL) where the old groupBy form emitted none —
    # reproduce the empty result, and do it BEFORE the guards (a NULL
    # n_pos would route the guard CASE into its raise_error branch;
    # the old shape never evaluated the guard on empty input because
    # the crossJoin had no left rows).
    agg = agg.where(F.col("n_pos").isNotNull())
    # Two int64 guards (r8 + r9 advice). The U DENOMINATOR needs
    # n_pos*n_neg < 2^62; but the rank-sum NUMERATOR r1_x2 is bounded
    # by ~2*n_pos*(n_pos+n_neg), not the product — with imbalanced
    # classes (n_pos=2^33, n_neg=2^20) the product guard passes while
    # r1_x2 wraps at ~2^67. Guard the quantity that bounds it:
    # (n_pos+n_neg)^2 < 2^62 gives r1_x2 <= 2*n_pos*n < 2*n^2 < 2^63,
    # inside int64. Both checks are embedded in n_pos (used
    # downstream) so Catalyst cannot prune them.
    agg = _guard_product_fits_int64(agg, "n_pos", "n_neg", "agg_roc_auc_rank")
    agg = _guard_sum_sq_fits_int64(agg, "n_pos", "n_neg", "agg_roc_auc_rank")
    return agg.select(
        "n_pos",
        "n_neg",
        ((F.col("r1x2") - F.col("n_pos") * (F.col("n_pos") + 1)) / 2)
        .cast("double")
        .alias("u_stat"),
        F.floor(
            (F.col("r1x2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            * 1e6
            / (2 * F.col("n_pos") * F.col("n_neg"))
        )
        .cast("long")
        .alias("auc_micro"),
    )


_OVERLAP_HLL_ORACLE = """
WITH flags AS (
  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
         user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
)
SELECT day_start,
       CAST(SUM(c) AS BIGINT) AS clickers,
       CAST(SUM(p) AS BIGINT) AS purchasers,
       CAST(SUM(c * p) AS BIGINT) AS both_n,
       CAST(1 AS INTEGER) AS inter_within_band
FROM flags
GROUP BY day_start
ORDER BY day_start
"""


@register("agg_audience_overlap_approx", oracle=_OVERLAP_HLL_ORACLE)
def agg_audience_overlap_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HLL twin of ``agg_audience_overlap`` — the 100 TB form:
    per-day clicker/purchaser/union audiences as DataSketches HLL
    sketches and the intersection by inclusion–exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B)) — the shuffle moves three
    ~16 KB sketches per day instead of every distinct user-day, and
    the sketches are MERGEABLE (daily refresh unions yesterday's
    sketch; cross-segment overlap matrices union pairwise without
    rescanning raw events).

    Cross-engine contract (the ``agg_stickiness_dau_mau_approx``
    idiom): raw estimates are engine-specific, so the hashed columns
    are the exact counts (reusing the SAME (day,user) flag collapse
    as the exact key — no second distinct expansion) plus a
    within-band flag the oracle predicts as 1. Tolerance is scaled to
    the UNION size, not the intersection: an I–E difference of three
    ~0.8%-rsd estimates carries error ∝ rsd·|A∪B| (≈√3·0.8%), so the
    band is max(5, 3.5%·|A∪B|) — per-day unions here are ≤ a few
    hundred, where the absolute floor dominates.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    flags = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(day.alias("day"), F.col("user_id"))
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
        )
    )
    agg = flags.groupBy("day").agg(
        F.sum("c").cast("long").alias("clickers"),
        F.sum("p").cast("long").alias("purchasers"),
        F.sum(F.col("c") * F.col("p")).cast("long").alias("both_n"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.when(F.col("c") == 1, F.col("user_id")), 14)
        ).alias("c_est"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.when(F.col("p") == 1, F.col("user_id")), 14)
        ).alias("p_est"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("u_est"),
    )
    union_exact = (
        F.col("clickers") + F.col("purchasers") - F.col("both_n")
    ).cast("double")
    inter_est = F.col("c_est") + F.col("p_est") - F.col("u_est")
    band = F.greatest(F.lit(5.0), union_exact * 0.035)
    return agg.select(
        F.col("day").cast("long").alias("day_start"),
        "clickers",
        "purchasers",
        "both_n",
        (F.abs(inter_est - F.col("both_n")) <= band)
        .cast("int")
        .alias("inter_within_band"),
    ).orderBy("day_start")


# ---------------------------------------------------------------------------
# mutual information between two categorical columns (r11)
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 8 AS BIGINT) AS cohort,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, cohort, c,
         SUM(c) OVER (PARTITION BY event_type) AS cx,
         SUM(c) OVER (PARTITION BY cohort) AS cy,
         SUM(c) OVER () AS nt
  FROM cells
)
SELECT event_type, cohort, CAST(c AS BIGINT) AS n,
       CAST(floor(ln((CAST(c AS DOUBLE) / CAST(cx AS DOUBLE))
                     * (CAST(nt AS DOUBLE) / CAST(cy AS DOUBLE)))
                  * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS pmi,
       CAST(floor((CAST(c AS DOUBLE) / nt)
                  * (CAST(floor(ln((CAST(c AS DOUBLE) / CAST(cx AS DOUBLE))
                                   * (CAST(nt AS DOUBLE) / CAST(cy AS DOUBLE)))
                                * 1e6 + 0.5) AS BIGINT) / 1e6)
                  * 1e9 + 0.5) AS BIGINT) / 1e9 AS mi_contrib
FROM m
ORDER BY event_type, cohort
"""


@register("agg_mutual_information", oracle=_MI_ORACLE)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical COLUMNS (event type
    × user cohort) as the per-cell decomposition: pointwise MI
    ln(p(x,y)/(p(x)p(y))) and each cell's contribution
    p(x,y)·pmi — Σ mi_contrib is the MI in nats, the model-free
    column-dependency measure feature selection ranks by (χ² tests
    significance; MI measures magnitude). Distinct from
    text_pmi_cooccur, which scores token co-occurrence within
    documents — this is the dependence of one column on another.

    Plan: ONE aggregate over the fact to the |X|·|Y| cell table
    (map-side combined); marginals and the total are windows over
    those ~40 rows, never a second fact scan. The pmi log is
    floor-quantized to 6 dp before entering mi_contrib (9 dp — the
    p(x,y) factor shrinks magnitudes), so every derived value is
    arithmetic both engines execute bit-identically.

    Scale: fact-scan bound; the shuffle carries |cells| rows. At
    adversarial cardinality (|X|·|Y| beyond memory) the windows
    become two more tiny keyed aggregates + joins — same exchanges.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", (F.col("user_id") % 8).cast("long").alias("cohort")
    ).agg(F.count("*").alias("c"))
    wx = Window.partitionBy("event_type")
    wy = Window.partitionBy("cohort")
    wall = Window.partitionBy()
    m = cells.select(
        "event_type",
        "cohort",
        "c",
        F.sum("c").over(wx).alias("cx"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wall).alias("nt"),
    )
    # (c/cx)·(nt/cy), each factor in DOUBLE: cx·cy as BIGINT would
    # overflow once both marginals exceed ~3e9 rows (DuckDB's window
    # SUM widens to HUGEINT and would silently diverge) — per-factor
    # double division is IEEE-identical in both engines at any scale
    pmi = (
        F.floor(
            F.log(
                (F.col("c").cast("double") / F.col("cx").cast("double"))
                * (F.col("nt").cast("double") / F.col("cy").cast("double"))
            )
            * 1e6
            + 0.5
        ).cast("long")
        / F.lit(1e6)
    )
    return m.select(
        "event_type",
        "cohort",
        F.col("c").cast("long").alias("n"),
        pmi.alias("pmi"),
        (
            F.floor(
                (F.col("c").cast("double") / F.col("nt")) * pmi * 1e9 + 0.5
            ).cast("long")
            / F.lit(1e9)
        ).alias("mi_contrib"),
    ).orderBy("event_type", "cohort")


# ---------------------------------------------------------------------------
# top user-day event paths (sequence mining) (r11)
# ---------------------------------------------------------------------------

_PATH_STEPS = 3
_PATH_TOP = 20

_PATHS_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, date_trunc('day', ts) AS d, event_type,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, d,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_PATH_STEPS}
  GROUP BY user_id, d
),
counted AS (SELECT path, COUNT(*) AS n FROM paths GROUP BY path)
SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank,
       path,
       CAST(n AS BIGINT) AS n_sessions
FROM counted
ORDER BY rank
LIMIT {_PATH_TOP}
"""


@register("agg_top_paths", oracle=_PATHS_ORACLE)
def agg_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: the first {_PATH_STEPS} events of each
    user-day, joined into an ordered path string, counted corpus-wide,
    top {_PATH_TOP} — the Sankey/flow primitive behind onboarding and
    funnel-exploration dashboards (agg_markov_transitions gives the
    memoryless edge view; this is the exact-prefix view).

    Plan: rank window on (user_id, day) — the `rn <= {_PATH_STEPS}`
    filter triggers WindowGroupLimit, so each map task forwards at
    most {_PATH_STEPS} rows per user-day BEFORE the shuffle (a heavy
    user caps itself); path assembly sorts the ≤{_PATH_STEPS}-element
    struct array per group (deterministic order — collect_list alone
    is arrival-ordered and hash-unstable); the path count is a
    map-side-combined groupBy and the top-{_PATH_TOP} is
    TakeOrderedAndProject, never a global sort.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("day", "ts")).orderBy(
        "ts", "event_id"
    )
    ranked = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_STEPS)
        .select(
            "user_id",
            F.date_trunc("day", "ts").alias("d"),
            "rn",
            "event_type",
        )
    )
    paths = ranked.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n"))
    top = counted.orderBy(F.desc("n"), F.asc("path")).limit(_PATH_TOP)
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "path",
        F.col("n").cast("long").alias("n_sessions"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Haar wavelet decomposition of the daily revenue series — r12
# ---------------------------------------------------------------------------

_HAAR_LEVELS = 3

_HAAR_STAGE_SQL = """
l{r} AS (
  SELECT pos // 2 AS pos,
         CAST(SUM(val) AS BIGINT) AS val,
         CAST(SUM(CASE WHEN pos % 2 = 0 THEN val ELSE -val END)
              AS BIGINT) AS detail
  FROM l{p} GROUP BY 1
)"""

_HAAR_ORACLE = (
    """
WITH l0 AS (
  SELECT CAST(floor(epoch_us(CAST(o_orderdate AS TIMESTAMP))
                    / 86400000000) AS BIGINT) AS pos,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS val
  FROM orders GROUP BY 1
),"""
    + ",".join(
        _HAAR_STAGE_SQL.format(r=r, p=r - 1)
        for r in range(1, _HAAR_LEVELS + 1)
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS level, pos AS block,"
        f" val AS approx_cents, detail AS detail_cents FROM l{r}"
        for r in range(1, _HAAR_LEVELS + 1)
    )
    + """
ORDER BY level, block
"""
)


@register("agg_haar_wavelet", oracle=_HAAR_ORACLE)
def agg_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet decomposition of the daily revenue
    series, three levels: each level halves the resolution, keeping
    per block the total (approximation coefficient) and the
    first-half-minus-second-half difference (detail coefficient) —
    the multi-resolution summary behind time-series compression,
    change localization, and wavelet-domain similarity search (a
    detail coefficient near zero marks a block safe to store at the
    coarser resolution).

    Exactness: revenue is integer CENTS from the first aggregate on;
    the unnormalized transform needs only adds/subtracts (no /sqrt(2)
    — normalization is a reader-side constant per level), so every
    coefficient is an exact BIGINT in both engines and the decomposed
    series reconstructs exactly.

    Scale: the fact aggregates ONCE to the day grain (map-side
    partial, the only exchange that sees data volume); each further
    level is a groupBy over a relation that HALVES per round —
    day-count-sized, not fact-sized, the agg_partial_reaggregate
    cascade. A depth-K decomposition shuffles K tiny relations
    regardless of corpus size.
    """
    orders = load_table(spark, sf_dir, "orders")
    epoch_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    cur = (
        orders.groupBy(
            F.floor(epoch_us / F.lit(86400 * 1_000_000))
            .cast("long")
            .alias("pos")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("val")
        )
    )
    outs = []
    for r in range(1, _HAAR_LEVELS + 1):
        # group key aliased 'blk', NOT 'pos': an alias named like the
        # child column would shadow the parity expression inside agg
        nxt = cur.groupBy(F.expr("pos div 2").alias("blk")).agg(
            F.sum("val").alias("val"),
            F.sum(
                F.when(F.col("pos") % 2 == 0, F.col("val")).otherwise(
                    -F.col("val")
                )
            ).alias("detail"),
        )
        outs.append(
            nxt.select(
                F.lit(r).cast("long").alias("level"),
                F.col("blk").alias("block"),
                F.col("val").alias("approx_cents"),
                F.col("detail").alias("detail_cents"),
            )
        )
        cur = nxt.select(F.col("blk").alias("pos"), "val")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level", "block")
