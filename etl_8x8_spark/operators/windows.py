"""Window-function operators (SURVEY.md §2b "Window functions").

Windows shuffle once on the partition key, then sort within
partitions; the three operators here share the scale posture: the
partition key must be high-cardinality enough that one key's rows fit
in one task (customers/users: yes). All arithmetic inside frames is
either integer (epoch micros) or decimal-accumulated so the running
results hash-match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_8x8_spark.functions.parity import DEC
from etl_8x8_spark.registry import register
from etl_8x8_spark.sources.readers import load_table


@register(
    "window_rank_topn_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
""",
)
def window_rank_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. o_orderkey tiebreak keeps ranks
    deterministic (SURVEY.md §7 risk register). Spark inserts a
    partial top-K per partition (WindowGroupLimit) before the shuffle,
    so only 3 rows per (customer, input-partition) move."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "window_running_sum",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_spend
FROM orders
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend in order-date order, decimal-
    accumulated so the prefix sums are exact in both engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT event_id, user_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag) and next event type (lead).

    Gaps computed on epoch micros (integer) — no timezone rendering,
    no float drift.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    return events.select(
        "event_id",
        "user_id",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "window_ntile_percentile",
    oracle="""
SELECT c_custkey,
       ntile(4) OVER w AS spend_quartile,
       CAST(floor((percent_rank() OVER w) * 1e6 + 0.5) AS BIGINT) / 1e6 AS pct_rank,
       CAST(floor((cume_dist() OVER w) * 1e6 + 0.5) AS BIGINT) / 1e6 AS cume,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk
FROM customer
WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_ntile_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucketing, percentile
    rank, cumulative distribution, rank/dense_rank — deterministic via
    the c_custkey tiebreak.

    The c_custkey tiebreak makes the ordering TOTAL (no peer rows), so
    every one of these five functions is a closed form of the global
    row_number i and count n: rank = dense_rank = i, percent_rank =
    (i-1)/(n-1), cume_dist = i/n, and ntile(4) is the exact
    (rank, n) tile formula. That lets the whole query run on the
    DISTRIBUTED histogram-prune rank (functions/ranks.py) — bucket
    offsets + a bucket-partitioned row_number — instead of one
    single-task unpartitioned window, so it stays parallel when the
    ranked relation grows with SF. The oracle keeps the literal
    five-function window as independent ground truth.
    """
    from ..functions.ranks import histogram_global_rank, ntile_from_rank_sql

    customer = load_table(spark, sf_dir, "customer")
    ranked = histogram_global_rank(
        customer.select("c_custkey", "c_acctbal"),
        "c_acctbal",
        ["c_custkey"],
        descending=True,
    )
    from ..functions.parity import q6

    i, n = F.col("i"), F.col("n")
    return ranked.select(
        "c_custkey",
        F.expr(ntile_from_rank_sql("i", "n", 4)).alias("spend_quartile"),
        q6(
            (i - 1).cast("double")
            / F.greatest(n - 1, F.lit(1)).cast("double"),
            "pct_rank",
        ),
        q6(i.cast("double") / n.cast("double"), "cume"),
        i.alias("rnk"),
        i.alias("drnk"),
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "window_sessionize",
    oracle=f"""
WITH seq AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(new_session) OVER wcum AS BIGINT) AS session_seq,
       CAST(rn - MAX(CASE WHEN new_session = 1 THEN rn END) OVER wcum + 1
            AS BIGINT) AS session_pos
FROM seq
WINDOW wcum AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
""",
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization: assign every event its per-user
    session number and position within that session (30-minute
    inactivity gap) — the row-level *enrichment* twin of the
    per-session aggregate ``stream_session_window`` computes, and the
    standard first step of clickstream / training-log pipelines.

    All four derived values (lag, row_number, running sum, running
    max) share ONE window spec (user_id, ordered by ts), so the plan
    is a single shuffle + single sort with one Window operator — no
    second shuffle for the position-in-session, which is computed as
    ``rn - max(rn at session starts so far) + 1`` instead of a
    row_number over the (user, session) key. Gap arithmetic is exact
    integer micros (``unix_micros`` / ``epoch_us``) on both engines.

    Scale: one shuffle on user_id (high-cardinality), per-task state
    is one user's event list — the sessionization that survives 100 TB
    as long as no single user exceeds a task's memory.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_session = (
        F.when(prev_us.isNull() | (us - prev_us >= _SESSION_GAP_US), 1)
        .otherwise(0)
    )
    rn = F.row_number().over(w)
    df = events.select(
        "event_id",
        "user_id",
        "ts",
        new_session.alias("_new"),
        rn.alias("_rn"),
    )
    return df.select(
        "event_id",
        "user_id",
        F.sum("_new").over(wcum).cast("long").alias("session_seq"),
        (
            F.col("_rn")
            - F.max(F.when(F.col("_new") == 1, F.col("_rn"))).over(wcum)
            + 1
        )
        .cast("long")
        .alias("session_pos"),
    )


_TRAIL_DAYS = 30
_TRAIL_US = _TRAIL_DAYS * 86_400 * 1_000_000


@register(
    "window_trailing_range",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
              OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                    RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS trailing_spend,
       CAST(COUNT(*)
              OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                    RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
            AS BIGINT) AS trailing_orders
FROM orders
""",
)
def window_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-DAY per-customer spend — a RANGE frame over event
    time, not a ROWS frame: the frame holds every order whose date is
    within 30 days of the current one, however many rows that is (the
    moving-average/trailing-revenue shape every retention dashboard
    uses; a ROWS frame silently computes the wrong thing on irregular
    event spacing).

    The order key is integer epoch MICROS (``unix_micros`` /
    ``epoch_us``) so the range arithmetic is exact; a RANGE frame over
    raw timestamps would bind the interval to engine-specific interval
    semantics. Peers (same customer, same date) share one frame value
    by definition of RANGE, which keeps the result deterministic
    without a tiebreak column.

    Scale: same posture as every window here — one shuffle on
    o_custkey; the range frame is evaluated with a sliding two-pointer
    over the sorted partition, so per-task cost stays linear.
    """
    orders = load_table(spark, sf_dir, "orders")
    epoch_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_us)
        .rangeBetween(-_TRAIL_US, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("trailing_spend"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_orders"),
    )


@register(
    "window_first_last",
    oracle="""
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey)
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional window values per customer order history: first
    order ever, last order ever (explicit full frame — the default
    frame under ORDER BY stops at CURRENT ROW, the classic
    last_value trap), and the second order via nth_value over the
    running frame (NULL until two orders exist)."""
    orders = load_table(spark, sf_dir, "orders")
    running = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(running).alias("first_order"),
        F.last("o_orderkey").over(full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(running).alias("second_order"),
    )


@register(
    "window_dedup_latest",
    oracle="""
SELECT event_id, user_id, ts_us, event_type
FROM (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
) WHERE rk = 1
""",
)
def window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — the CDC/changelog compaction read
    (SCD1): each user's most recent event wins, ties broken by the
    highest event_id (the arrival-order surrogate). One shuffle;
    WindowGroupLimit keeps only each task's local winner moving.

    This is how an upsert stream materializes to current state in a
    MERGE-less lake: append everything, compact on read (or
    periodically with the same expression into
    ``sink_partition_overwrite``).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_type",
        )
    )


@register(
    "window_cumulative_users",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_d FROM events
  GROUP BY user_id
),
daily AS (
  SELECT first_d, COUNT(*) AS new_users FROM firsts GROUP BY first_d
)
SELECT CAST(floor(epoch(first_d)) AS BIGINT) AS day,
       new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS total_users
FROM daily
""",
)
def window_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new users + cumulative users-to-date (the growth curve).
    The trick is algebraic, not stateful: "distinct users seen by day
    d" = "users whose FIRST event is ≤ d", so the cumulative distinct
    collapses to first-touch per user → count per day → running sum —
    one user-keyed aggregate plus a window over a DAYS-sized relation
    (the unpartitioned window is fine: it sorts #days rows, not
    #events). The naive per-day distinct re-expansion it replaces is
    O(days × events).
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_d")
    )
    daily = firsts.groupBy("first_d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("first_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.unix_timestamp("first_d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("total_users"),
    )


# --------------------------------------------------------------------------
# SCD2 build from a change log (CDC compaction)
# --------------------------------------------------------------------------


@register(
    "window_scd2_build",
    oracle="""
WITH log AS (
  SELECT user_id, ts, event_id, event_type AS attr
  FROM events WHERE event_type IN ('signup', 'purchase', 'error')
),
changes AS (
  SELECT user_id, ts, event_id, attr,
         lag(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_attr
  FROM log
),
real_changes AS (
  SELECT user_id, ts, event_id, attr FROM changes
  WHERE prev_attr IS NULL OR attr <> prev_attr
)
SELECT user_id,
       CAST(row_number() OVER w - 1 AS BIGINT) AS version,
       attr,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM real_changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def window_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD2 dimension FROM a change log (the CDC→warehouse
    step that produces what ``join_dim_scd2`` consumes): treat each
    user's events as attribute-change records, drop no-op changes
    (new value == previous value — CDC compaction), then derive
    version numbers and half-open validity intervals
    [valid_from, valid_to) with the open current version flagged.

    Both windows share ONE spec (user_id, ordered by ts with event_id
    as the deterministic tiebreak), so compaction + interval layout is
    a single shuffle + single sort; ``lead`` over the compacted rows
    closes each interval at the NEXT real change, which is exactly the
    leak-free contract the point-in-time join tests.

    Scale: one shuffle on the entity key; per-task state is one
    entity's (compacted) history. The same plan incrementalizes:
    re-run over (existing open versions ∪ new changes) per batch —
    ``stream_foreach_batch_upsert`` holds the write-side half.
    """
    events = load_table(spark, sf_dir, "events")
    log = events.filter(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select("user_id", "ts", "event_id", F.col("event_type").alias("attr"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    compacted = (
        log.withColumn("prev_attr", F.lag("attr").over(w))
        .filter(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .drop("prev_attr")
    )
    return compacted.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("version"),
        "attr",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# rolling z-score anomaly flag
# --------------------------------------------------------------------------

_Z_LOOKBACK = 100  # trailing rows in the reference window
_Z_MIN_N = 20  # minimum history before flagging
_Z_THRESHOLD = 3.0


@register(
    "window_anomaly_zscore",
    oracle=f"""
WITH stats AS (
  SELECT event_id, event_type, value,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(value AS DECIMAL(14, 2))) OVER w
              AS DECIMAL(38, 2)) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(14, 2)) * CAST(value AS DECIMAL(14, 2)))
              OVER w AS DECIMAL(38, 4)) AS s2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, value,
       CAST(n AS BIGINT) AS n_ref,
       CAST(floor(((value - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                    / (n - 1))) * 1e4 + 0.5) AS BIGINT) / 1e4 AS z,
       abs((value - CAST(s1 AS DOUBLE) / n)
           / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1))) > {_Z_THRESHOLD} AS is_anomaly
FROM stats
WHERE n >= {_Z_MIN_N}
""",
)
def window_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's value scored
    against the trailing 100-row reference window of its OWN
    event type (current row excluded — an outlier must not inflate its
    own baseline). |z| > 3 with ≥ 20 rows of history flags the row —
    the standard streaming-metrics outlier monitor, expressed as one
    batch window.

    Mean and variance come from DECIMAL power sums over the frame
    (sum, sum-of-squares) with the float division/sqrt happening once
    at finalization — the ``agg_stats_moments`` discipline, which
    makes the z-scores bit-identical across engines where a native
    windowed ``stddev`` would drift with summation order.

    Scale — the TILE + HALO rewrite: a window partitioned by
    event_type alone caps parallelism at the number of types (5 tasks
    at ANY cluster size — measured 5.0× at the 10× replica). Because
    the frame is a bounded trailing 100 rows, the window instead
    partitions by (event_type, time tile), with each tile's last 100
    rows REPLICATED into the next tile as halo rows: every row's frame
    is then complete inside its own tile, halo rows are dropped from
    the output, and the result is bit-identical to the global window
    (the oracle still declares the global frame). Parallelism becomes
    types × tiles; the halo adds ≤100 rows per tile.

    The tile width ADAPTS to stream density (one bounded stats
    aggregate → driver scalar): enough days that an average tile holds
    4× the lookback, so every halo can be filled from the single
    previous tile (the exactness condition — a tile under 100 rows
    with earlier history would truncate frames). Dense streams get
    1-day tiles (types × days parallelism); sparse test SFs collapse
    toward one tile, which is just the global window again.
    """
    events = load_table(spark, sf_dir, "events")
    # approx distinct counts: tile sizing only needs rough density —
    # the tile width changes PARALLELISM, never values (halo keeps the
    # result bit-identical at any width satisfying the exactness
    # condition, and the 4x safety factor absorbs the ±2% HLL error).
    # Two exact countDistincts would plan an Expand (3x the scan).
    n_rows, n_types, n_days = (
        events.agg(
            F.count("*"),
            F.approx_count_distinct("event_type"),
            F.approx_count_distinct(F.date_trunc("day", "ts")),
        ).collect()[0]
    )
    avg_per_type_day = max(1.0, n_rows / max(1, n_types * n_days))
    tile_days = max(1, int(-(-4 * _Z_LOOKBACK // avg_per_type_day)))
    tile = F.floor(
        F.datediff(F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("date"))
        / tile_days
    )
    base = events.select(
        "event_id", "event_type", "ts", "value", tile.alias("tile")
    )
    w_tail = Window.partitionBy("event_type", "tile").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    halo = (
        base.withColumn("rn", F.row_number().over(w_tail))
        .filter(F.col("rn") <= _Z_LOOKBACK)
        .drop("rn")
        .withColumn("tile", F.col("tile") + 1)
        .withColumn("is_halo", F.lit(True))
    )
    union = base.withColumn("is_halo", F.lit(False)).unionByName(halo)
    w = (
        Window.partitionBy("event_type", "tile")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_LOOKBACK, -1)
    )
    vdec = F.col("value").cast("decimal(14,2)")
    n = F.count("*").over(w)
    s1 = F.sum(vdec).over(w).cast("decimal(38,2)")
    s2 = F.sum(vdec * vdec).over(w).cast("decimal(38,4)")
    stats = (
        union.select(
            "event_id",
            "event_type",
            "value",
            "is_halo",
            n.alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
        )
        .filter(~F.col("is_halo"))
        .filter(F.col("n") >= _Z_MIN_N)
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return stats.select(
        "event_id",
        "event_type",
        "value",
        F.col("n").cast("long").alias("n_ref"),
        (F.floor(z * 1e4 + 0.5).cast("long") / F.lit(1e4)).alias("z"),
        (F.abs(z) > _Z_THRESHOLD).alias("is_anomaly"),
    )


@register(
    "window_gap_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM days
)
SELECT user_id,
       CAST(MIN(day) AS STRING) AS island_start,
       CAST(MAX(day) AS STRING) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM isl GROUP BY user_id, grp
""",
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (streak detection). The classic O(n) relational trick: day
    minus its per-user rank is constant exactly within a consecutive
    run, so islands fall out of one window + one groupBy — no
    self-join, no iteration.

    Scale: day-distinct shrinks events to ≤ users x days rows first;
    then one shuffle on user_id shared by the window and (via AQE
    partition reuse) the island groupBy. Per-user state is one sort of
    its active days.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "grp", F.date_sub("day", F.row_number().over(w))
    )
    return isl.groupBy("user_id", "grp").agg(
        F.min("day").cast("string").alias("island_start"),
        F.max("day").cast("string").alias("island_end"),
        F.count("*").cast("long").alias("n_days"),
    ).drop("grp")


@register(
    "window_rolling_median",
    oracle="""
SELECT user_id, event_id,
       CAST(floor((median(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) * 1e6 + 0.5) AS BIGINT) / 1e6 AS med7
FROM events
""",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-event median of ``value`` per user — the robust
    (outlier-proof) twin of a rolling mean, used for sensor smoothing
    and monitor baselines. Spark has no native windowed median; the
    engine collects the bounded frame, sorts it, and interpolates the
    middle — exact, because the frame is a FIXED 7 rows, so the sort
    is O(1) per row and the collected array never grows with data
    size (this is NOT the unbounded collect_list anti-pattern).

    The 1e-6 rounding absorbs the one-ulp difference between the two
    engines' even-count interpolation expressions
    (a + (b-a)/2 vs (a+b)/2).
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, lo).otherwise((lo + hi) / 2)
    return events.select(
        "user_id", "event_id", (F.floor((med) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("med7")
    )


# --------------------------------------------------------------------------
# trailing exponentially-weighted moving average
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.2
_EWMA_K = 32  # trailing frame width


@register(
    "window_ewma_smooth",
    oracle=f"""
WITH fr AS (
  SELECT event_id, user_id, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN {_EWMA_K - 1} PRECEDING
                                    AND CURRENT ROW) AS lx
  FROM events
)
SELECT event_id, user_id, value,
       CAST(floor((list_reduce(lx,
             (acc, v) -> acc * {1 - _EWMA_ALPHA} + v * {_EWMA_ALPHA})) * 1e6 + 0.5) AS BIGINT) / 1e6 AS ewma
FROM fr
""",
)
def window_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA over each user's event-value stream — the
    standard smoothing signal (α = {_EWMA_ALPHA}, seeded with the
    oldest value in the frame). A TRUE recursive EWMA
    (y_t = αx_t + (1-α)y_{{t-1}}) has unbounded lookback and no
    windowable form; this is the K-row truncated variant — with
    α = 0.2 the dropped tail weighs (1-α)^{_EWMA_K} ≈ 8e-4 — defined
    EXACTLY so it stays deterministic and cross-engine checkable.

    Both engines fold the SAME frame list left-to-right (Spark
    ``aggregate`` seeded with element 1 over the tail; DuckDB
    ``list_reduce``, which seeds identically), so the double
    arithmetic executes in the same IEEE order and the values match
    bit-for-bit before the display rounding.

    Scale: the window partitions by user_id (unbounded cardinality —
    no parallelism ceiling, unlike an event-type key), and the frame
    buffers K=32 doubles per row. One shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    lx = F.collect_list("value").over(w)
    ewma = (F.floor((F.aggregate(
            F.slice(lx, 2, F.greatest(F.size(lx) - 1, F.lit(0))),
            F.element_at(lx, 1),
            lambda acc, v: acc * (1 - _EWMA_ALPHA) + v * _EWMA_ALPHA,
        )) * 1e6 + 0.5).cast("long") / F.lit(1e6))
    return events.select(
        "event_id", "user_id", "value", ewma.alias("ewma")
    )


_PCT_CHANGE_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders
  GROUP BY 1
)
SELECT day_str,
       revenue,
       CAST(floor(((revenue - lag(revenue) OVER (ORDER BY day_str))
             / lag(revenue) OVER (ORDER BY day_str) * 100) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS pct_change
FROM daily
ORDER BY day_str
"""


@register("window_pct_change", oracle=_PCT_CHANGE_ORACLE)
def window_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change: daily revenue with day-over-day
    percent delta (the dashboard / trend-report primitive).

    Scale posture: the unpartitioned lag window runs AFTER the daily
    aggregation, so its input is bounded by the calendar (one row per
    day — thousands of rows at any corpus size, same accepted
    dim-sized-input caveat as window_ntile_percentile), while the
    fact-sized work is an ordinary map-side-combined groupBy. Revenue
    is an exact decimal sum finalized to double once; the ratio is
    computed from two already-final doubles, so it hashes identically
    on DuckDB.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"))
    daily = daily.select(
        F.col("day").cast("date").cast("string").alias("day_str"),
        F.col("rev_dec").cast("double").alias("revenue"),
    )
    w = Window.orderBy("day_str")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day_str",
        "revenue",
        (F.floor(((F.col("revenue") - prev) / prev * 100) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias(
            "pct_change"
        ),
    ).orderBy("day_str")


# 7 days in microseconds — the attribution lookback window.
_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000

_ATTRIBUTION_ORACLE = f"""
WITH marked AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_us,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS raw_touch_id
  FROM events
)
SELECT event_id, user_id, t_us AS purchase_us,
       CASE WHEN t_us - touch_us <= {_ATTR_WINDOW_US}
            THEN raw_touch_id END AS touch_id,
       CASE WHEN t_us - touch_us <= {_ATTR_WINDOW_US}
            THEN t_us - touch_us END AS gap_us
FROM marked
WHERE event_type = 'purchase'
"""


@register("window_attribution_last_touch", oracle=_ATTRIBUTION_ORACLE)
def window_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent click/view by the same user within a 7-day lookback, else
    unattributed (NULL) — the marketing-analytics primitive.

    ``F.last(..., ignorenulls=True)`` over a rows-frame ending at the
    PREVIOUS row ( -1 ) finds the latest touch strictly before the
    purchase without a self-join: one user_id shuffle + per-user sort,
    versus the naive events-x-events as-of join that reshuffles the
    fact twice. The two last() calls pick the same touch row because
    both are non-null on exactly the touch rows under the same total
    order (ts, event_id). Per-user partitions are bounded (user count
    grows with data; per-user history doesn't), so one task never
    holds more than one user's tail — the same posture as
    window_sessionize. Gap arithmetic is integer epoch-micros
    (``unix_micros`` / ``epoch_us``) on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_us = F.last(F.when(is_touch, us), ignorenulls=True).over(w)
    raw_touch_id = F.last(
        F.when(is_touch, F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        events.select(
            "event_id",
            "user_id",
            "event_type",
            us.alias("purchase_us"),
            touch_us.alias("t_us"),
            raw_touch_id.alias("raw_touch_id"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "purchase_us",
            F.when(
                (F.col("purchase_us") - F.col("t_us"))
                <= F.lit(_ATTR_WINDOW_US),
                F.col("raw_touch_id"),
            ).alias("touch_id"),
            F.when(
                (F.col("purchase_us") - F.col("t_us"))
                <= F.lit(_ATTR_WINDOW_US),
                F.col("purchase_us") - F.col("t_us"),
            ).alias("gap_us"),
        )
    )


_TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS t_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us
  FROM events
),
segs AS (
  -- quantize VALUE (small) to integer micro-units, then weight by the
  -- exact integer duration in decimal space: value*dt reaches ~1e13
  -- and floor(x*1e6) on it would overflow BIGINT — quantize before
  -- the multiply, never after (the r6 verify caught the overflow).
  SELECT user_id,
         next_us - t_us AS dt,
         CAST(CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS HUGEINT)
           * CAST(next_us - t_us AS HUGEINT) AS wv_u
  FROM seq WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(dt) AS BIGINT) AS total_us,
       CAST(floor((CAST(SUM(wv_u) AS DOUBLE) / 1e6 / CAST(SUM(dt) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) / 1e6
           AS twap
FROM segs
GROUP BY user_id
ORDER BY user_id
"""


@register("window_time_weighted_avg", oracle=_TWAP_ORACLE)
def window_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) of ``value`` per user: each
    reading is weighted by how long it was current (time until the
    next event), the correct average for irregularly-sampled series —
    a plain mean over-weights bursts, which is exactly when readings
    cluster. The series' last reading has no duration and is excluded
    (standard left-continuous step-function convention).

    One user_id window shuffle (lead) feeding a map-side-combined
    groupBy. Each value is floor-quantized to integer micro-units
    BEFORE weighting by the exact integer micro-second duration
    (quantizing value·Δt after the multiply overflows the BIGINT
    floor at day-long gaps — LESSONS #32), so the accumulation is
    exact and order-free; durations are integer epoch-micros
    throughout.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts"))
    seq = events.select(
        "user_id",
        "value",
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    )
    dt = F.col("next_us") - F.col("t_us")
    # quantize VALUE to integer micro-units BEFORE weighting: the
    # product value*dt (~1e13 at day-long gaps) would overflow the
    # BIGINT floor-quantize; micro-value x exact integer dt stays
    # exact in decimal space at any gap length.
    mv = F.floor(F.col("value") * 1e6 + 0.5).cast("long")
    segs = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        dt.alias("dt"),
        (mv.cast("decimal(18,0)") * dt.cast("decimal(18,0)")).alias("wv_u"),
    )
    return (
        segs.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("total_us"),
            (F.floor((F.sum("wv_u").cast("double") / 1e6
                / F.sum("dt").cast("double")) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("twap"),
        )
        .orderBy("user_id")
    )


_FFILL_ORACLE = """
SELECT event_id, user_id,
       CASE WHEN event_type <> 'error' THEN value END AS raw_value,
       last_value(CASE WHEN event_type <> 'error' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS filled_value
FROM events
"""


@register("window_forward_fill", oracle=_FFILL_ORACLE)
def window_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (pandas ``ffill`` at engine scale): carry the last
    valid observation forward within each user's timeline. Error
    events' readings are the planted missing values (a sensor in an
    error state reports garbage); rows before any valid reading stay
    NULL — ffill never invents data.

    ``last(..., ignorenulls=True)`` over an UNBOUNDED PRECEDING rows
    frame is the one-shuffle form; the naive rewrite (self as-of join
    per missing row) reshuffles the fact once per gap. Same posture
    as every user-partitioned window: per-task state is one user's
    tail, constant as users grow.
    """
    events = load_table(spark, sf_dir, "events")
    valid = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        valid.alias("raw_value"),
        F.last(valid, ignorenulls=True).over(w).alias("filled_value"),
    )


_INTERP_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
),
nb AS (
  SELECT *,
    last_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t_us, event_id
            ROWS UNBOUNDED PRECEDING) AS pt,
    last_value(v IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t_us, event_id
            ROWS UNBOUNDED PRECEDING) AS pv,
    first_value(CASE WHEN v IS NOT NULL THEN t_us END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t_us, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
    first_value(v IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t_us, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM base
)
SELECT event_id, user_id,
       CAST(floor((CASE
         WHEN v IS NOT NULL THEN v
         WHEN pt IS NOT NULL AND nt IS NOT NULL AND nt > pt
           THEN pv + (nv - pv) * (t_us - pt) / (nt - pt)
       END) * 1e6 + 0.5) AS BIGINT) / 1e6 AS interp_value,
       (v IS NULL AND pt IS NOT NULL AND nt IS NOT NULL)
           AS was_interpolated
FROM nb
"""


@register("window_linear_interpolate", oracle=_INTERP_ORACLE)
def window_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing readings between each user's
    surrounding valid observations, time-weighted on the actual
    event-time axis (epoch micros) — the repair step for sensor /
    metric series where ffill's step function biases downstream
    aggregates. Rows before the first or after the last valid reading
    stay NULL (interpolation never extrapolates).

    Two frames over ONE (user_id, ts) sort: last(ignorenulls) looking
    back carries (t, v) of the previous valid row, first(ignorenulls)
    looking forward carries the next — still a single shuffle; the
    naive form is two as-of self-joins (two extra fact shuffles). The
    arithmetic runs on integer micros and IEEE doubles from identical
    inputs, rounded once at the boundary.
    """
    events = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    v = F.when(F.col("event_type") != "error", F.col("value"))
    base = events.select(
        "event_id", "user_id", t_us.alias("t_us"), v.alias("v")
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vt = F.when(F.col("v").isNotNull(), F.col("t_us"))
    nb = base.select(
        "event_id",
        "user_id",
        "t_us",
        "v",
        F.last(vt, ignorenulls=True).over(back).alias("pt"),
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.first(vt, ignorenulls=True).over(fwd).alias("nt"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("t_us") - F.col("pt")
    ) / (F.col("nt") - F.col("pt"))
    return nb.select(
        "event_id",
        "user_id",
        (F.floor((F.when(F.col("v").isNotNull(), F.col("v")).when(
                F.col("pt").isNotNull()
                & F.col("nt").isNotNull()
                & (F.col("nt") > F.col("pt")),
                interp,
            )) * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("interp_value"),
        (
            F.col("v").isNull()
            & F.col("pt").isNotNull()
            & F.col("nt").isNotNull()
        ).alias("was_interpolated"),
    )


_RANK_CHANGE_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING)
             AS month_str,
         o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders
  GROUP BY 1, 2
),
ranked AS (
  SELECT month_str, o_orderpriority, revenue,
         CAST(rank() OVER (PARTITION BY month_str
                           ORDER BY revenue DESC, o_orderpriority)
              AS BIGINT) AS rnk
  FROM daily
)
SELECT month_str, o_orderpriority, revenue, rnk,
       CAST(lag(rnk) OVER (PARTITION BY o_orderpriority
                           ORDER BY month_str) - rnk
            AS BIGINT) AS rank_gain
FROM ranked
ORDER BY month_str, rnk
"""


@register("window_rank_change", oracle=_RANK_CHANGE_ORACLE)
def window_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard rank tracking: each order priority's revenue rank
    within the month, and how many places it gained (positive) or
    lost (negative) versus the previous month — the movers-and-shakers
    report. NULL gain on an entity's first month.

    Two windows over the MONTHLY aggregate (|months × priorities|
    rows — calendar-bounded, never the fact): rank within month, then
    lag along each entity's month series. The fact-sized work is one
    map-side-combined groupBy; both windows ride the tiny relation,
    so this composes rank+lag without touching event volume twice.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("month_str"),
        "o_orderpriority",
    ).agg(
        F.sum(F.col("o_totalprice").cast(DEC))
        .cast("double")
        .alias("revenue")
    )
    w_rank = Window.partitionBy("month_str").orderBy(
        F.desc("revenue"), F.asc("o_orderpriority")
    )
    ranked = daily.withColumn(
        "rnk", F.rank().over(w_rank).cast("long")
    )
    w_series = Window.partitionBy("o_orderpriority").orderBy("month_str")
    return ranked.select(
        "month_str",
        "o_orderpriority",
        "revenue",
        "rnk",
        (F.lag("rnk").over(w_series) - F.col("rnk"))
        .cast("long")
        .alias("rank_gain"),
    ).orderBy("month_str", "rnk")


_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
  FROM orders
  GROUP BY 1
),
cums AS (
  SELECT day_str,
         SUM(rev) OVER (ORDER BY day_str
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily
),
curve AS (
  SELECT day_str, cum,
         MAX(cum) OVER (ORDER BY day_str
                        ROWS UNBOUNDED PRECEDING) AS peak
  FROM cums
)
SELECT day_str,
       CAST(cum AS DOUBLE) AS cum_revenue,
       CAST(peak AS DOUBLE) AS peak_revenue,
       CAST(peak - cum AS DOUBLE) AS drawdown
FROM curve
ORDER BY day_str
"""


@register("window_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown curve of cumulative daily revenue: running total,
    running peak, and how far below the peak each day sits — the
    finance risk primitive (max drawdown = max of this column),
    equally useful on any cumulative KPI. Exact decimal all the way:
    the running sum, and the running max OVER the running sum, never
    leave decimal until the output cast, so peak − cum is exact.

    The unpartitioned windows ride the DAILY aggregate (calendar-
    bounded — thousands of rows at any fact size; the fact-sized work
    is one map-side-combined groupBy), the same accepted posture as
    window_pct_change.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("day_str")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    w = Window.orderBy("day_str").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.select(
        "day_str", F.sum("rev").over(w).alias("cum")
    ).select(
        "day_str", "cum", F.max("cum").over(w).alias("peak")
    )
    return curve.select(
        "day_str",
        F.col("cum").cast("double").alias("cum_revenue"),
        F.col("peak").cast("double").alias("peak_revenue"),
        (F.col("peak") - F.col("cum")).cast("double").alias("drawdown"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day_str,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(value)
             AS daily_avg
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(SUM(CAST(daily_avg AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
             AS mean,
         CAST(SUM(CAST(floor(daily_avg * daily_avg * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / (1e6 * COUNT(*)) AS m2,
         COUNT(*) AS nd
  FROM daily GROUP BY 1
),
s2 AS (
  SELECT event_type, mean,
         CAST(floor(sqrt(greatest(m2 - mean * mean, 0)) * 1e6 + 0.5)
              AS BIGINT) AS std_u
  FROM stats
),
dev AS (
  SELECT d.event_type, d.day_str, d.daily_avg, s.std_u,
         CAST(floor((d.daily_avg - s.mean) * 1e6 + 0.5) AS BIGINT)
           - (s.std_u // 4) AS dev_u
  FROM daily d JOIN s2 s USING (event_type)
),
pre AS (
  SELECT event_type, day_str, daily_avg, std_u,
         SUM(dev_u) OVER (PARTITION BY event_type ORDER BY day_str
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS prefix_u
  FROM dev
),
cm AS (
  SELECT event_type, day_str, daily_avg, std_u, prefix_u,
         MIN(prefix_u) OVER (PARTITION BY event_type ORDER BY day_str
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS runmin_u
  FROM pre
)
SELECT event_type, day_str, daily_avg,
       CAST(CASE WHEN runmin_u < 0 THEN prefix_u - runmin_u
                 ELSE prefix_u END AS DOUBLE) / 1e6 AS cusum,
       (CASE WHEN runmin_u < 0 THEN prefix_u - runmin_u
             ELSE prefix_u END) > 3 * std_u AS is_alarm
FROM cm
ORDER BY event_type, day_str
"""


@register("window_cusum_detect", oracle=_CUSUM_ORACLE)
def window_cusum_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection over per-type daily
    means: flags the day a metric's level has drifted up by more
    than the allowance (k = sigma/4) for long enough to accumulate
    past the decision threshold (h = 3 sigma) — the classic
    sequential-monitoring primitive.

    The CUSUM recursion S_i = max(0, S_{i-1} + dev_i) is not a
    window aggregate, but its closed form is: S_i = prefix_i -
    min(0, min_{j<=i} prefix_j). That turns the sequential loop
    into two stock window passes (running SUM, then running MIN)
    over the SAME partition key — one shuffle, no recursion, no
    UDF.

    Scale posture: the only fact-sized work is the map-side-combined
    daily rollup; the window input is calendar-bounded (days ×
    event types) at any corpus size. Determinism: daily means are
    decimal-exact doubles; deviations are quantized to integer
    micro-units with floor(x*1e6 + 0.5) — floor over bitwise-
    identical doubles is engine-independent, unlike round(), whose
    tie-breaking differs between Spark and DuckDB (a 1-ulp tie
    flipped the 6th digit at sf0.001) — and accumulated as BIGINTs,
    so both window passes are exact integer arithmetic. sigma/4 is
    an integer floor-div (Spark ``div`` == DuckDB ``//`` on
    non-negative ints), and the alarm test is a pure integer
    compare.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day_str"),
        )
        .agg(
            F.sum(F.col("value").cast(DEC)).alias("s"),
            F.count("value").alias("c"),
        )
        .select(
            "event_type",
            "day_str",
            (F.col("s").cast("double") / F.col("c")).alias("daily_avg"),
        )
    )
    stats = (
        daily.groupBy("event_type")
        .agg(
            (F.sum(F.col("daily_avg").cast(DEC)).cast("double") / F.count("*")).alias("mean"),
            (
                F.sum(
                    F.floor(
                        F.col("daily_avg") * F.col("daily_avg") * 1e6 + 0.5
                    ).cast("long")
                ).cast("double")
                / (1e6 * F.count("*"))
            ).alias("m2"),
        )
        .select(
            "event_type",
            "mean",
            F.floor(
                F.sqrt(F.greatest(F.col("m2") - F.col("mean") * F.col("mean"), F.lit(0.0)))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("std_u"),
        )
    )
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day_str",
        "daily_avg",
        "std_u",
        (
            F.floor((F.col("daily_avg") - F.col("mean")) * 1e6 + 0.5).cast("long")
            - F.expr("div(std_u, 4)")
        ).alias("dev_u"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_str")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dev.select(
        "event_type",
        "day_str",
        "daily_avg",
        "std_u",
        F.sum("dev_u").over(w).alias("prefix_u"),
    )
    cm = pre.select(
        "event_type",
        "day_str",
        "daily_avg",
        "std_u",
        "prefix_u",
        F.min("prefix_u").over(w).alias("runmin_u"),
    )
    cusum_u = F.when(
        F.col("runmin_u") < 0, F.col("prefix_u") - F.col("runmin_u")
    ).otherwise(F.col("prefix_u"))
    return cm.select(
        "event_type",
        "day_str",
        "daily_avg",
        (cusum_u.cast("double") / 1e6).alias("cusum"),
        (cusum_u > 3 * F.col("std_u")).alias("is_alarm"),
    ).orderBy("event_type", "day_str")


# ---------------------------------------------------------------------------
# rolling correlation between two metric series
# ---------------------------------------------------------------------------

_RCORR_DAYS = 7  # trailing window, in rows over the daily grid

_ROLLING_CORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day_str,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE)
             AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE)
             AS y
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
q AS (
  SELECT day_str,
         coalesce(x, 0) AS x, coalesce(y, 0) AS y,
         CAST(floor(coalesce(x, 0) * 1e6 + 0.5) AS BIGINT) AS x_u,
         CAST(floor(coalesce(y, 0) * 1e6 + 0.5) AS BIGINT) AS y_u,
         CAST(floor(coalesce(x, 0) * coalesce(y, 0) * 1e2 + 0.5) AS BIGINT)
             AS xy_u,
         CAST(floor(coalesce(x, 0) * coalesce(x, 0) * 1e2 + 0.5) AS BIGINT)
             AS xx_u,
         CAST(floor(coalesce(y, 0) * coalesce(y, 0) * 1e2 + 0.5) AS BIGINT)
             AS yy_u
  FROM daily
),
wsum AS (
  SELECT day_str, x, y,
         COUNT(*) OVER w AS n,
         SUM(x_u) OVER w AS sx, SUM(y_u) OVER w AS sy,
         SUM(xy_u) OVER w AS sxy,
         SUM(xx_u) OVER w AS sxx, SUM(yy_u) OVER w AS syy
  FROM q
  WINDOW w AS (ORDER BY day_str
               ROWS BETWEEN {_RCORR_DAYS - 1} PRECEDING AND CURRENT ROW)
)
SELECT day_str, x AS click_value, y AS purchase_value,
       CASE WHEN n >= 2 AND
                 (n * (CAST(sxx AS DOUBLE) / 1e2)
                  - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
                 * (n * (CAST(syy AS DOUBLE) / 1e2)
                  - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
                 > 0
            THEN CAST(floor(
              (n * (CAST(sxy AS DOUBLE) / 1e2)
               - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6))
              / sqrt(
                 (n * (CAST(sxx AS DOUBLE) / 1e2)
                  - (CAST(sx AS DOUBLE) / 1e6) * (CAST(sx AS DOUBLE) / 1e6))
                 * (n * (CAST(syy AS DOUBLE) / 1e2)
                  - (CAST(sy AS DOUBLE) / 1e6) * (CAST(sy AS DOUBLE) / 1e6)))
              * 1e6 + 0.5) AS BIGINT) / 1e6
       END AS rolling_corr
FROM wsum
ORDER BY day_str
"""


@register("window_rolling_corr", oracle=_ROLLING_CORR_ORACLE)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing {7}-day Pearson correlation between the daily click
    and purchase value series — the co-movement monitor behind
    metric-health dashboards ("did purchases decouple from
    clicks?").

    Plan: the fact collapses to one conditional-sum daily rollup
    (map-side combined, two metrics in one pass); the rolling window
    runs over the calendar-bounded daily grid. Correlation comes
    from the five component sums (Σx, Σy, Σxy, Σx², Σy²), each
    floor-quantized to integer units and window-summed EXACTLY, so
    the only double math is the final closed-form ratio of
    identical integers — deterministic across engines without any
    round() tie-break exposure. Degenerate windows (n < 2 or zero
    variance) yield NULL, not NaN.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day_str")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast(DEC))
        )
        .cast("double")
        .alias("y"),
    )
    x = F.coalesce(F.col("x"), F.lit(0.0))
    y = F.coalesce(F.col("y"), F.lit(0.0))
    q = daily.select(
        "day_str",
        x.alias("x"),
        y.alias("y"),
        F.floor(x * 1e6 + 0.5).cast("long").alias("x_u"),
        F.floor(y * 1e6 + 0.5).cast("long").alias("y_u"),
        F.floor(x * y * 1e2 + 0.5).cast("long").alias("xy_u"),
        F.floor(x * x * 1e2 + 0.5).cast("long").alias("xx_u"),
        F.floor(y * y * 1e2 + 0.5).cast("long").alias("yy_u"),
    )
    w = Window.orderBy("day_str").rowsBetween(-(_RCORR_DAYS - 1), Window.currentRow)
    wsum = q.select(
        "day_str",
        "x",
        "y",
        F.count("*").over(w).alias("n"),
        F.sum("x_u").over(w).alias("sx"),
        F.sum("y_u").over(w).alias("sy"),
        F.sum("xy_u").over(w).alias("sxy"),
        F.sum("xx_u").over(w).alias("sxx"),
        F.sum("yy_u").over(w).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double") / 1e6
    sy = F.col("sy").cast("double") / 1e6
    sxy = F.col("sxy").cast("double") / 1e2
    sxx = F.col("sxx").cast("double") / 1e2
    syy = F.col("syy").cast("double") / 1e2
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.floor(
        (n * sxy - sx * sy) / F.sqrt(varx * vary) * 1e6 + 0.5
    ).cast("long") / F.lit(1e6)
    return wsum.select(
        "day_str",
        F.col("x").alias("click_value"),
        F.col("y").alias("purchase_value"),
        F.when((n >= 2) & (varx * vary > 0), corr).alias("rolling_corr"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# Bollinger bands over daily revenue
# ---------------------------------------------------------------------------

_BOLL_DAYS = 20  # trailing window length in rows over the daily grid

_BOLLINGER_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders GROUP BY 1
),
q AS (
  SELECT day_str, revenue,
         CAST(floor(revenue * 1e2 + 0.5) AS BIGINT) AS x_u,
         CAST(floor(revenue + 0.5) AS BIGINT) AS xd,
         CAST(CAST(floor(revenue + 0.5) AS BIGINT) AS DECIMAL(19,0))
           * CAST(CAST(floor(revenue + 0.5) AS BIGINT) AS DECIMAL(19,0))
           AS xxd
  FROM daily
),
wsum AS (
  SELECT day_str, revenue,
         COUNT(*) OVER w AS n,
         SUM(x_u) OVER w AS sx,
         SUM(xd) OVER w AS sxd,
         SUM(xxd) OVER w AS sxxd
  FROM q
  WINDOW w AS (ORDER BY day_str
               ROWS BETWEEN {_BOLL_DAYS - 1} PRECEDING AND CURRENT ROW)
),
-- var_u = n*Sxd^2 - (Sxd)^2 cancels EXACTLY in integer space; the
-- variance term runs in WHOLE-DOLLAR units so the cancelled result
-- fits BIGINT with 4 orders of headroom (the cents-unit version
-- overflowed at sf0.1), and casting the huge raw Sxd^2 decimal to
-- double (engine-specific rounding; 1-ulp band flips) never happens
vu AS (
  SELECT day_str, revenue, n, sx,
         CAST(CAST(n AS DECIMAL(38,0)) * sxxd
              - CAST(sxd AS DECIMAL(38,0)) * CAST(sxd AS DECIMAL(38,0))
              AS BIGINT) AS var_u
  FROM wsum
)
SELECT day_str, revenue,
       CAST(floor(CAST(sx AS DOUBLE) / 1e2 / n * 1e6 + 0.5) AS BIGINT) / 1e6
           AS mid_band,
       CAST(floor((CAST(sx AS DOUBLE) / 1e2 / n
             - 2 * sqrt(CAST(var_u AS DOUBLE) / n / n)) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS lower_band,
       CAST(floor((CAST(sx AS DOUBLE) / 1e2 / n
             + 2 * sqrt(CAST(var_u AS DOUBLE) / n / n)) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS upper_band,
       n >= {_BOLL_DAYS}
         AND (revenue > CAST(floor((CAST(sx AS DOUBLE) / 1e2 / n
             + 2 * sqrt(CAST(var_u AS DOUBLE) / n / n)) * 1e6 + 0.5)
             AS BIGINT) / 1e6
           OR revenue < CAST(floor((CAST(sx AS DOUBLE) / 1e2 / n
             - 2 * sqrt(CAST(var_u AS DOUBLE) / n / n)) * 1e6 + 0.5)
             AS BIGINT) / 1e6) AS is_breach
FROM vu
ORDER BY day_str
"""


@register("window_bollinger_bands", oracle=_BOLLINGER_ORACLE)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over daily revenue: trailing 20-day mean ±2σ
    envelope with breach flags (warm-up rows never flag) — the
    volatility-envelope monitor behind metric alerting and
    trading-style dashboards.

    Plan: fact collapses to one decimal-exact daily rollup; the
    trailing window runs over the calendar-bounded grid. The mean is
    exact 1e2-unit integers; the VARIANCE cancels n·Σx²−(Σx)² exactly
    in integer space (whole-dollar units, DECIMAL intermediates) so
    the only decimal→double conversion is of a BIGINT-ranged value —
    converting the raw ~1e24 Σx² rounds differently across engines
    (found as 1-ulp band flips at sf0.1). Every double then derives
    from an exactly-representable long via the same IEEE op sequence;
    bands floor-quantize once on output.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").cast("string").alias("day_str")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    q = daily.select(
        "day_str",
        "revenue",
        F.floor(F.col("revenue") * 1e2 + 0.5).cast("long").alias("x_u"),
        # variance components in WHOLE-DOLLAR units (see oracle note):
        # squares in exact DECIMAL — BIGINT floor(revenue^2) saturates
        # past revenue ~3e9 (Spark saturates, DuckDB errors)
        F.floor(F.col("revenue") + 0.5).cast("long").alias("xd"),
        (
            F.floor(F.col("revenue") + 0.5)
            .cast("decimal(19,0)")
            * F.floor(F.col("revenue") + 0.5).cast("decimal(19,0)")
        ).alias("xxd"),
    )
    w = Window.orderBy("day_str").rowsBetween(-(_BOLL_DAYS - 1), Window.currentRow)
    wsum = q.select(
        "day_str",
        "revenue",
        F.count("*").over(w).alias("n"),
        F.sum("x_u").over(w).alias("sx"),
        F.sum("xd").over(w).alias("sxd"),
        F.sum("xxd").over(w).alias("sxxd"),
    )
    # var_u = n·Σx² − (Σx)²: the cancellation happens EXACTLY in
    # integer space and the result fits BIGINT — casting the raw Σx²
    # decimal (~1e24) to double rounds differently across engines
    # (Java BigDecimal vs DuckDB int128 paths; 1-ulp flips crossed
    # the 1e-6 quantization boundary at sf0.1). From here every
    # double derives from an exactly-representable long through the
    # same IEEE op sequence in both engines.
    wsum = wsum.withColumn(
        "var_u",
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxxd")
            - F.col("sxd").cast("decimal(38,0)")
            * F.col("sxd").cast("decimal(38,0)")
        ).cast("long"),
    )
    mean = F.col("sx").cast("double") / 1e2 / F.col("n")
    var = F.col("var_u").cast("double") / F.col("n") / F.col("n")
    sd2 = 2 * F.sqrt(var)
    quant = lambda c: F.floor(c * 1e6 + 0.5).cast("long") / F.lit(1e6)  # noqa: E731
    lower = quant(mean - sd2)
    upper = quant(mean + sd2)
    return wsum.select(
        "day_str",
        "revenue",
        quant(mean).alias("mid_band"),
        lower.alias("lower_band"),
        upper.alias("upper_band"),
        (
            (F.col("n") >= _BOLL_DAYS)
            & ((F.col("revenue") > upper) | (F.col("revenue") < lower))
        ).alias("is_breach"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# seasonal decomposition (trend / weekly seasonal / residual)
# ---------------------------------------------------------------------------

_SD_HALF = 3  # centered moving-average half-width (7-day trend)

_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders GROUP BY 1
),
tr AS (
  SELECT day, revenue,
         CASE WHEN COUNT(*) OVER w = {2 * _SD_HALF + 1}
              THEN CAST(SUM(CAST(floor(revenue * 1e2 + 0.5) AS BIGINT))
                        OVER w AS DOUBLE) / 1e2 / {2 * _SD_HALF + 1}
         END AS trend
  FROM daily
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {_SD_HALF} PRECEDING AND {_SD_HALF} FOLLOWING)
),
det AS (
  SELECT day, revenue, trend,
         CAST(floor((revenue - trend) * 1e6 + 0.5) AS BIGINT) AS det_u
  FROM tr
),
seas AS (
  SELECT day, revenue, trend, det_u,
         CASE WHEN COUNT(det_u) OVER dw > 0
              THEN CAST(floor(
                     CAST(SUM(det_u) OVER dw AS DOUBLE)
                     / COUNT(det_u) OVER dw + 0.5) AS BIGINT)
         END AS seas_u
  FROM det
  WINDOW dw AS (PARTITION BY dayofweek(day))
)
SELECT CAST(day AS STRING) AS day_str, revenue,
       CAST(floor(trend * 1e6 + 0.5) AS BIGINT) / 1e6 AS trend,
       CAST(seas_u AS DOUBLE) / 1e6 AS seasonal,
       CASE WHEN det_u IS NOT NULL
            THEN CAST(det_u - seas_u AS DOUBLE) / 1e6 END AS residual
FROM seas
ORDER BY day_str
"""


@register("window_seasonal_decompose", oracle=_SEASONAL_ORACLE)
def window_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    centered 7-day moving-average trend, day-of-week seasonal means
    of the detrended series, and the residual — the
    trend-vs-seasonality-vs-noise split behind forecasting and
    anomaly triage.

    Plan: the fact collapses to one decimal-exact daily rollup; the
    centered trend window and the day-of-week partition both run
    over the calendar grid. Edge days (incomplete 7-day window) get
    NULL trend and propagate NULL through seasonal/residual, exactly
    as both engines' frames count them. All intermediates live in
    floor-quantized integer units; the seasonal mean's integer sum /
    count division is floor-quantized the same way on both sides, so
    the residual identity revenue = trend + seasonal + residual is
    exact in micro-units.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    span = 2 * _SD_HALF + 1
    w = Window.orderBy("day").rowsBetween(-_SD_HALF, _SD_HALF)
    tr = daily.select(
        "day",
        "revenue",
        F.when(
            F.count("*").over(w) == span,
            F.sum(F.floor(F.col("revenue") * 1e2 + 0.5).cast("long"))
            .over(w)
            .cast("double")
            / 1e2
            / span,
        ).alias("trend"),
    )
    det = tr.select(
        "day",
        "revenue",
        "trend",
        F.floor((F.col("revenue") - F.col("trend")) * 1e6 + 0.5)
        .cast("long")
        .alias("det_u"),
    )
    dw = Window.partitionBy(F.dayofweek("day") - 1)
    seas = det.select(
        "day",
        "revenue",
        "trend",
        "det_u",
        F.when(
            F.count("det_u").over(dw) > 0,
            F.floor(
                F.sum("det_u").over(dw).cast("double") / F.count("det_u").over(dw)
                + 0.5
            ).cast("long"),
        ).alias("seas_u"),
    )
    return seas.select(
        F.col("day").cast("string").alias("day_str"),
        "revenue",
        (F.floor(F.col("trend") * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("trend"),
        (F.col("seas_u").cast("double") / 1e6).alias("seasonal"),
        F.when(
            F.col("det_u").isNotNull(),
            (F.col("det_u") - F.col("seas_u")).cast("double") / 1e6,
        ).alias("residual"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# relative strength index (RSI)
# ---------------------------------------------------------------------------

_RSI_DAYS = 14

_RSI_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders GROUP BY 1
),
diffs AS (
  SELECT day_str, revenue,
         CAST(floor(revenue * 1e2 + 0.5) AS BIGINT)
           - lag(CAST(floor(revenue * 1e2 + 0.5) AS BIGINT))
             OVER (ORDER BY day_str) AS d_u
  FROM daily
),
gl AS (
  SELECT day_str, revenue,
         CASE WHEN d_u > 0 THEN d_u ELSE 0 END AS gain_u,
         CASE WHEN d_u < 0 THEN -d_u ELSE 0 END AS loss_u,
         CASE WHEN d_u IS NULL THEN 0 ELSE 1 END AS has_d
  FROM diffs
),
wsum AS (
  SELECT day_str, revenue,
         SUM(gain_u) OVER w AS sg,
         SUM(loss_u) OVER w AS sl,
         SUM(has_d) OVER w AS nd
  FROM gl
  WINDOW w AS (ORDER BY day_str
               ROWS BETWEEN {_RSI_DAYS - 1} PRECEDING AND CURRENT ROW)
)
SELECT day_str, revenue,
       CASE WHEN nd >= {_RSI_DAYS}
            THEN CASE WHEN sl = 0 THEN CAST(100.0 AS DOUBLE)
                 ELSE CAST(floor(
                   (100 - 100.0 / (1 + CAST(sg AS DOUBLE) / sl)) * 1e6 + 0.5)
                   AS BIGINT) / 1e6
                 END
       END AS rsi
FROM wsum
ORDER BY day_str
"""


@register("window_rsi", oracle=_RSI_ORACLE)
def window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index over daily revenue (Wilder's
    simple-average form, {14}-day window): the bounded [0, 100]
    momentum oscillator — overbought/oversold detection for any
    metric series, not just prices.

    Plan: decimal daily rollup, then lag-diff and trailing sums over
    the calendar grid. Revenue quantizes to integer cents BEFORE the
    diff, so gains/losses and their window sums are exact integers;
    RSI is a closed-form double over two integers, floor-quantized.
    Warm-up rows (fewer than {14} diffs in the window) are NULL, and
    an all-gain window pins RSI to exactly 100.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").cast("string").alias("day_str")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"))
    r_u = F.floor(F.col("revenue") * 1e2 + 0.5).cast("long")
    w_lag = Window.orderBy("day_str")
    diffs = daily.select(
        "day_str", "revenue", (r_u - F.lag(r_u).over(w_lag)).alias("d_u")
    )
    gl = diffs.select(
        "day_str",
        "revenue",
        F.when(F.col("d_u") > 0, F.col("d_u")).otherwise(0).alias("gain_u"),
        F.when(F.col("d_u") < 0, -F.col("d_u")).otherwise(0).alias("loss_u"),
        F.when(F.col("d_u").isNull(), 0).otherwise(1).alias("has_d"),
    )
    w = Window.orderBy("day_str").rowsBetween(-(_RSI_DAYS - 1), Window.currentRow)
    wsum = gl.select(
        "day_str",
        "revenue",
        F.sum("gain_u").over(w).alias("sg"),
        F.sum("loss_u").over(w).alias("sl"),
        F.sum("has_d").over(w).alias("nd"),
    )
    rsi = F.when(F.col("sl") == 0, F.lit(100.0)).otherwise(
        F.floor(
            (100 - 100.0 / (1 + F.col("sg").cast("double") / F.col("sl"))) * 1e6
            + 0.5
        ).cast("long")
        / F.lit(1e6)
    )
    return wsum.select(
        "day_str",
        "revenue",
        F.when(F.col("nd") >= _RSI_DAYS, rsi).alias("rsi"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# Holt double-exponential (level + trend) forecast (r9)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.2  # level smoothing
_HOLT_BETA = 0.1  # trend smoothing
_HOLT_H = 7  # forecast horizon (days)

_HOLT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders
  GROUP BY 1
),
series AS (
  SELECT list(revenue ORDER BY day_str) AS ys FROM daily
),
fitted AS (
  SELECT list_reduce(
           list_prepend([ys[1], ys[2] - ys[1]],
                        list_transform(ys[3:len(ys)], y -> [y, 0.0])),
           (acc, p) -> [
             {_HOLT_ALPHA} * p[1] + (1 - {_HOLT_ALPHA}) * (acc[1] + acc[2]),
             {_HOLT_BETA} * (({_HOLT_ALPHA} * p[1]
                              + (1 - {_HOLT_ALPHA}) * (acc[1] + acc[2]))
                             - acc[1])
               + (1 - {_HOLT_BETA}) * acc[2]
           ]) AS lb
  FROM series
)
SELECT h,
       CAST(floor((lb[1] + h * lb[2]) * 1e6 + 0.5) AS BIGINT) / 1e6
         AS forecast,
       CAST(floor(lb[1] * 1e6 + 0.5) AS BIGINT) / 1e6 AS level,
       CAST(floor(lb[2] * 1e6 + 0.5) AS BIGINT) / 1e6 AS trend
FROM fitted
CROSS JOIN (SELECT unnest(generate_series(1, {_HOLT_H})) AS h) hs
"""


@register("window_holt_forecast", oracle=_HOLT_ORACLE)
def window_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over the
    daily-revenue series, with a {_HOLT_H}-day linear forecast
    ŷ(h) = l + h·b — the trend-aware sibling of window_ewma_smooth
    and the one classical smoother the time-series family
    (EWMA / RSI / Bollinger / seasonal decompose) was missing.

    The recurrence (l_t = αy_t + (1−α)(l_{{t-1}}+b_{{t-1}});
    b_t = β(l_t − l_{{t-1}}) + (1−β)b_{{t-1}}, textbook init
    l₁ = y₁, b₁ = y₂ − y₁) is inherently sequential, so it runs as
    ONE left fold over the ordered daily array — Spark ``aggregate``
    and DuckDB ``list_reduce`` execute the identical IEEE operation
    sequence (the EWMA parity idiom; the new level term is inlined
    twice in the trend update in BOTH engines so even the rounding
    matches), making the full fit value-hash-checkable.

    Scale posture: the fact-sized work is the map-side-combined daily
    groupBy; the fold's input is calendar-bounded (one value per day
    — thousands of rows at any corpus size, the accepted dim-sized
    caveat of window_pct_change). Per-key forecasting at scale swaps
    the global collect for a groupBy(key).agg(sort_array(collect_list
    (struct(day, y)))) — same fold, unbounded key parallelism.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"))
    daily = daily.select(
        F.col("day").cast("date").cast("string").alias("day_str"),
        F.col("rev_dec").cast("double").alias("revenue"),
    )
    # one ordered array for the whole (calendar-bounded) series;
    # array_sort on (day_str, revenue) structs = ORDER BY day_str
    series = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day_str", "revenue"))
        ).alias("rows")
    ).select(F.transform(F.col("rows"), lambda r: r["revenue"]).alias("ys"))
    a, b = _HOLT_ALPHA, _HOLT_BETA
    y1 = F.element_at("ys", 1)
    y2 = F.element_at("ys", 2)
    rest = F.slice(F.col("ys"), 3, F.greatest(F.size("ys") - 2, F.lit(0)))
    lb = F.aggregate(
        rest,
        F.array(y1, y2 - y1),
        lambda acc, v: F.array(
            a * v + (1 - a) * (F.element_at(acc, 1) + F.element_at(acc, 2)),
            b
            * (
                (a * v + (1 - a) * (F.element_at(acc, 1) + F.element_at(acc, 2)))
                - F.element_at(acc, 1)
            )
            + (1 - b) * F.element_at(acc, 2),
        ),
    )
    fitted = series.select(lb.alias("lb"))
    hs = spark.range(1, _HOLT_H + 1).select(F.col("id").cast("int").alias("h"))
    q6 = lambda c: F.floor(c * 1e6 + 0.5).cast("long") / F.lit(1e6)  # noqa: E731
    return fitted.crossJoin(F.broadcast(hs)).select(
        "h",
        q6(
            F.element_at("lb", 1) + F.col("h") * F.element_at("lb", 2)
        ).alias("forecast"),
        q6(F.element_at("lb", 1)).alias("level"),
        q6(F.element_at("lb", 2)).alias("trend"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (r10)
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS rev
  FROM orders
  GROUP BY 1
),
pairs AS (
  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day_str < b.day_str
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY rev)
  WHERE t > 1
)
SELECT n AS n_days,
       s AS s_stat,
       n * (n - 1) * (2 * n + 5) - tie18 AS var18,
       CAST(floor(
         (CASE WHEN s > 0 THEN (s - 1) / sqrt((n * (n - 1) * (2 * n + 5) - tie18) / 18.0)
               WHEN s < 0 THEN (s + 1) / sqrt((n * (n - 1) * (2 * n + 5) - tie18) / 18.0)
               ELSE 0.0 END) * 1e6 + 0.5) AS BIGINT) AS z_micro,
       CAST(floor(s * 2e6 / (n * (n - 1)) + 0.5) AS BIGINT) AS tau_micro
FROM pairs, nn, ties
"""


@register("window_mann_kendall", oracle=_MK_ORACLE)
def window_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test over the daily-revenue series — the
    standard nonparametric "is this metric trending?" monitor (no
    distribution assumption, robust to outliers), completing the
    trend family: window_cusum_detect finds level SHIFTS,
    window_holt_forecast extrapolates, Mann-Kendall TESTS monotone
    trend. S = Σ_{i<j} sign(y_j − y_i) stays exact-integer, the tie
    correction VAR(S)·18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays
    exact-integer, and the z score touches doubles only through
    IEEE-correctly-rounded sqrt/divide — cross-engine deterministic,
    micro-quantized (with Kendall's tau = 2S/(n(n−1)) alongside).

    Scale: the fact-sized work is the map-side-combined daily groupBy;
    the pairwise sign sum runs on the CALENDAR-BOUNDED daily relation
    (n ≈ thousands of days at any corpus size — n² of a dim relation,
    the accepted caveat of the whole daily-series family; per-key
    monitoring swaps the self-join for a per-key sort + merge-sort
    inversion count, O(n log n) per key).

    Revenue comparisons happen on DECIMAL, never double, so sign() has
    no float-tie ambiguity in either engine.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("day_str")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.day_str") < F.col("b.day_str"))
        .select(
            F.when(F.col("b.rev") > F.col("a.rev"), 1)
            .when(F.col("b.rev") < F.col("a.rev"), -1)
            .otherwise(0)
            .alias("sg")
        )
        .agg(F.sum("sg").cast("long").alias("s"))
    )
    nn = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie18")
    )
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / sd)
        .when(F.col("s") < 0, (F.col("s") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return (
        pairs.crossJoin(nn)
        .crossJoin(ties)
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            var18.cast("long").alias("var18"),
            F.floor(z * 1e6 + 0.5).cast("long").alias("z_micro"),
            F.floor(
                F.col("s") * 2e6 / (F.col("n") * (F.col("n") - 1)) + 0.5
            )
            .cast("long")
            .alias("tau_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive triple-exponential (level+trend+seasonal) (r10)
# ---------------------------------------------------------------------------

_HW_ALPHA = 0.2  # level smoothing
_HW_BETA = 0.1  # trend smoothing
_HW_GAMMA = 0.3  # seasonal smoothing
_HW_P = 7  # season length (weekly)
_HW_H = 7  # forecast horizon (days)

# acc layout: [level, trend, s_next, s_next+1, ..., s_next+6] — the
# seasonal slot about to be CONSUMED sits at index 3 (1-based) and the
# freshly-updated one is appended at the tail, so the array rotates one
# slot per day. Init (textbook additive): l = mean(y[1..7]),
# b = (mean(y[8..14]) - mean(y[1..7])) / 7, s_i = y_i - l; the fold
# starts at day 8.
_HW_ORACLE = f"""
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
  FROM orders
  GROUP BY 1
),
series AS (
  SELECT list(revenue ORDER BY day_str) AS ys FROM daily
),
init AS (
  SELECT ys,
         list_reduce(ys[1:{_HW_P}], (a, v) -> a + v) / {_HW_P} AS l0,
         (list_reduce(ys[{_HW_P + 1}:{2 * _HW_P}], (a, v) -> a + v) / {_HW_P}
          - list_reduce(ys[1:{_HW_P}], (a, v) -> a + v) / {_HW_P})
           / {_HW_P} AS b0
  FROM series
),
fitted AS (
  SELECT list_reduce(
           list_prepend(
             list_concat([l0, b0],
                         list_transform(ys[1:{_HW_P}], y -> y - l0)),
             list_transform(ys[{_HW_P + 1}:len(ys)], y -> [y])),
           (acc, p) -> list_concat(
             [
               {_HW_ALPHA} * (p[1] - acc[3])
                 + (1 - {_HW_ALPHA}) * (acc[1] + acc[2]),
               {_HW_BETA} * (({_HW_ALPHA} * (p[1] - acc[3])
                              + (1 - {_HW_ALPHA}) * (acc[1] + acc[2]))
                             - acc[1])
                 + (1 - {_HW_BETA}) * acc[2]
             ],
             list_append(
               acc[4:{_HW_P + 2}],
               {_HW_GAMMA} * (p[1] - ({_HW_ALPHA} * (p[1] - acc[3])
                              + (1 - {_HW_ALPHA}) * (acc[1] + acc[2])))
                 + (1 - {_HW_GAMMA}) * acc[3]
             ))) AS st
  FROM init
)
SELECT h,
       CAST(floor((st[1] + h * st[2]
                   + st[2 + ((h - 1) % {_HW_P}) + 1]) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS forecast,
       CAST(floor(st[1] * 1e6 + 0.5) AS BIGINT) / 1e6 AS level,
       CAST(floor(st[2] * 1e6 + 0.5) AS BIGINT) / 1e6 AS trend,
       CAST(floor(st[2 + ((h - 1) % {_HW_P}) + 1] * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS seasonal
FROM fitted
CROSS JOIN (SELECT unnest(generate_series(1, {_HW_H})) AS h) hs
"""


@register("window_holt_winters", oracle=_HW_ORACLE)
def window_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple-exponential smoothing (level +
    trend + weekly seasonal) over the daily-revenue series with an
    h-step forecast ŷ(h) = l + h·b + s_{(h-1) mod 7} — completing the
    classical-forecasting family (EWMA → Holt → Holt-Winters): the
    smoother a revenue/traffic pipeline actually runs when the series
    has a day-of-week cycle.

    The recurrence consumes the 7-days-ago seasonal index each step,
    so the fold state is a ROTATING 9-slot array [l, b, s₁..s₇]: the
    head seasonal slot is consumed, the refreshed one appended. Spark
    ``aggregate`` and DuckDB ``list_reduce`` execute the identical
    IEEE sequence (the Holt parity idiom — every compound term is
    inlined the same way in both engines), so the full fit
    value-hash-verifies. Textbook init: l = mean(week 1),
    b = (mean(week 2) − mean(week 1))/7, s_i = y_i − l.

    Scale posture: identical to window_holt_forecast — fact-sized work
    is the map-side-combined daily groupBy; the fold input is
    calendar-bounded; per-key forecasting swaps the global array for
    per-key ``sort_array(collect_list(...))`` with unbounded key
    parallelism.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev_dec"))
    daily = daily.select(
        F.col("day").cast("date").cast("string").alias("day_str"),
        F.col("rev_dec").cast("double").alias("revenue"),
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day_str", "revenue"))).alias(
            "rows"
        )
    ).select(F.transform(F.col("rows"), lambda r: r["revenue"]).alias("ys"))
    P = _HW_P
    a, b, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    week1 = F.aggregate(
        F.slice("ys", 1, P), F.lit(0.0), lambda acc, v: acc + v
    ) / P
    week2 = F.aggregate(
        F.slice("ys", P + 1, P), F.lit(0.0), lambda acc, v: acc + v
    ) / P
    l0 = week1
    b0 = (week2 - week1) / P
    init = series.select(
        "ys",
        F.concat(
            F.array(l0, b0),
            F.transform(F.slice("ys", 1, P), lambda y: y - l0),
        ).alias("acc0"),
    )

    def step(acc, y):
        lnew = a * (y - F.element_at(acc, 3)) + (1 - a) * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        bnew = (
            b
            * (
                (
                    a * (y - F.element_at(acc, 3))
                    + (1 - a)
                    * (F.element_at(acc, 1) + F.element_at(acc, 2))
                )
                - F.element_at(acc, 1)
            )
            + (1 - b) * F.element_at(acc, 2)
        )
        snew = (
            g
            * (
                y
                - (
                    a * (y - F.element_at(acc, 3))
                    + (1 - a)
                    * (F.element_at(acc, 1) + F.element_at(acc, 2))
                )
            )
            + (1 - g) * F.element_at(acc, 3)
        )
        return F.concat(
            F.array(lnew, bnew),
            F.slice(acc, 4, P - 1),
            F.array(snew),
        )

    rest = F.slice(
        F.col("ys"), P + 1, F.greatest(F.size("ys") - P, F.lit(0))
    )
    st = F.aggregate(rest, F.col("acc0"), step)
    fitted = init.select(st.alias("st"))
    hs = spark.range(1, _HW_H + 1).select(F.col("id").cast("int").alias("h"))
    q6 = lambda c: F.floor(c * 1e6 + 0.5).cast("long") / F.lit(1e6)  # noqa: E731
    seas = F.element_at(
        F.col("st"), 2 + ((F.col("h") - 1) % P).cast("int") + 1
    )
    return fitted.crossJoin(F.broadcast(hs)).select(
        "h",
        q6(
            F.element_at("st", 1) + F.col("h") * F.element_at("st", 2) + seas
        ).alias("forecast"),
        q6(F.element_at("st", 1)).alias("level"),
        q6(F.element_at("st", 2)).alias("trend"),
        q6(seas).alias("seasonal"),
    )


# --------------------------------------------------------------------------
# autocorrelation of the daily-revenue series (r11)
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 7)


def _acf_lag_sql(k: int) -> str:
    return f"""
SELECT CAST({k} AS BIGINT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(floor(((COUNT(*) * CAST(SUM(x * y) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                   / sqrt((COUNT(*) * CAST(SUM(x * x) AS DOUBLE)
                           - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
                          * (COUNT(*) * CAST(SUM(y * y) AS DOUBLE)
                             - CAST(SUM(y) AS DOUBLE)
                               * CAST(SUM(y) AS DOUBLE))))
                  * 1e6 + 0.5) AS BIGINT) / 1e6 AS acf
FROM (
  SELECT lag(revenue, {k}) OVER (ORDER BY day_str) AS x,
         revenue AS y
  FROM daily
) WHERE x IS NOT NULL
"""


_ACF_ORACLE = (
    """
WITH daily AS (
  SELECT CAST(CAST(date_trunc('day', o_orderdate) AS DATE) AS STRING)
             AS day_str,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS revenue
  FROM orders
  GROUP BY 1
)
"""
    + " UNION ALL ".join(f"({_acf_lag_sql(k)})" for k in _ACF_LAGS)
    + "\nORDER BY lag"
)


@register("window_autocorr", oracle=_ACF_ORACLE)
def window_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags {1, 7}: the Pearson
    correlation between the series and its k-day-lagged self — lag 1
    reads momentum, lag 7 reads weekly seasonality (the signal
    window_seasonal_decompose then extracts). The standard first
    diagnostic before fitting any of the forecast family.

    Exactness: the daily series is an exact DECIMAL revenue sum; each
    lag pairs rows via ONE ordered window over the calendar-bounded
    daily relation (days don't grow with corpus size — the
    window_holt_forecast argument), and the five correlation component
    sums fold the decimal values exactly, so the final quantized
    double is engine-identical. Per-lag aggregates are 1-row; the
    union is |lags| rows.
    """
    from etl_8x8_spark.functions.parity import DEC

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").cast("string").alias(
            "day_str"
        )
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue"))
    out = None
    for k in _ACF_LAGS:
        w = Window.orderBy("day_str")
        paired = daily.select(
            F.lag("revenue", k).over(w).alias("x"), F.col("revenue").alias("y")
        ).filter(F.col("x").isNotNull())
        agg = paired.agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        n = F.col("n")
        sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
        sxy = F.col("sxy").cast("double")
        acf = (n * sxy - sx * sy) / F.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        row = agg.select(
            F.lit(k).cast("long").alias("lag"),
            n.cast("long").alias("n_pairs"),
            (F.floor(acf * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias("acf"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag")


# --------------------------------------------------------------------------
# Theil-Sen robust trend estimator (r11 wave 3)
# --------------------------------------------------------------------------

_TS_ORACLE = """
WITH daily AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day_no,
         SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS revenue
  FROM orders
  GROUP BY 1
),
slopes AS (
  SELECT (CAST(b.revenue AS DOUBLE) - CAST(a.revenue AS DOUBLE))
           / (b.day_no - a.day_no) AS slope
  FROM daily a JOIN daily b ON a.day_no < b.day_no
),
med AS (
  SELECT (SELECT COUNT(*) FROM daily) AS n_days,
         COUNT(*) AS n_pairs,
         quantile_cont(slope, 0.5) AS slope_med
  FROM slopes
),
dm AS (
  SELECT quantile_cont(CAST(revenue AS DOUBLE), 0.5) AS rev_med,
         quantile_cont(CAST(day_no AS DOUBLE), 0.5) AS day_med
  FROM daily
)
SELECT CAST(m.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       CAST(floor(m.slope_med * 1e6 + 0.5) AS BIGINT) / 1e6 AS slope,
       CAST(floor((d.rev_med - m.slope_med * d.day_med) * 1e6 + 0.5)
            AS BIGINT) / 1e6 AS intercept
FROM med m CROSS JOIN dm d
"""


@register("window_theil_sen", oracle=_TS_ORACLE)
def window_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the MEDIAN of all
    pairwise slopes (and the median-based intercept) — the
    breakdown-resistant line fit that one bad day cannot bend, the
    robust sibling of agg_linear_regression's OLS and the estimator
    behind window_mann_kendall's trend test.

    Scale argument = mann_kendall's: the pairwise slope set is
    O(days²) on the CALENDAR-BOUNDED daily relation (days don't grow
    with corpus size; the fact collapses to ≤ a-few-thousand rows
    first), so the self-join is a constant-size tail after a
    scan-bound daily aggregate.

    The slope median is HISTOGRAM-PRUNED (the agg_weighted_median
    idiom), not a single-reducer ``percentile`` over the ~2.9 M slope
    rows (profiled at ~10 s — the one-buffer exact percentile was the
    whole cost of this operator). Two passes over the pair relation:
    pass A counts FIXED order-preserving buckets
    (``floor(asinh(slope)·256)`` — monotone, sign-symmetric,
    log-spaced, so no min/max pre-pass and no broadcast-stats join is
    needed) and the driver folds the ≤ a-few-thousand bucket counts
    (a BOUNDED metadata collect, the Bloom-bitmap class) into the two
    crossing buckets for the middle ranks; pass B rank-selects the two
    middle VALUES from only those buckets (~0.4 %-relative slope
    span) and applies ``percentile``'s own interpolation arithmetic
    (0.5·lo + 0.5·hi), so the result is bit-identical to the exact
    percentile both engines computed before. Bucketing only PRUNES —
    any monotone bucket map yields the same selected values. The daily
    relation is persisted pre-spread across cores so the fact
    scans once and both pair passes regenerate from ~2.4 k cached rows
    (a broadcast nested-loop — milliseconds). Medians over daily
    itself stay plain ``percentile`` (thousands of rows).
    """
    orders = load_table(spark, sf_dir, "orders")
    from etl_8x8_spark.functions.parity import DEC

    epoch_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    daily = (
        orders.groupBy(
            F.floor(epoch_us / F.lit(86400 * 1_000_000)).cast("long").alias(
                "day_no"
            )
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue"))
        # AQE coalesces the tiny post-agg shuffle to ONE partition,
        # which would single-thread every pair-generation pass; spread
        # the stream side of the nested-loop join across the cores.
        # r15: lazy persist instead of eager localCheckpoint (the
        # pagerank A/B rationale): the bucket-count collect below
        # materializes it, and identical re-built plans reuse the
        # cache across bench runs.
        .repartition(16)
        .persist()
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.day_no") < F.col("b.day_no")).select(
        (
            (F.col("b.revenue").cast("double") - F.col("a.revenue").cast("double"))
            / (F.col("b.day_no") - F.col("a.day_no"))
        ).alias("slope")
    )
    bidx = F.floor(F.asinh(F.col("slope")) * F.lit(256.0)).cast("long")
    counts = {
        r["bkt"]: r["w"]
        for r in slopes.select(bidx.alias("bkt"))
        .groupBy("bkt")
        .agg(F.count("*").alias("w"))
        .collect()
    }
    # percentile semantics: NULL slopes are excluded from the median
    # ranks but count("*") counts them — split the null bucket out
    n_null = counts.pop(None, 0)
    n = sum(counts.values())
    n_pairs_total = n + n_null
    if n == 0:  # no non-null slopes: percentile returns NULL
        med = spark.range(1).select(
            F.lit(n_pairs_total).cast("long").alias("n_pairs"),
            F.lit(None).cast("double").alias("slope_med"),
        )
    else:
        # the two middle 1-indexed ranks of percentile(0.5) over n
        # values: 0-based position (n-1)/2 -> lower rank
        # (n+1) div 2, higher rank n div 2 + 1 (equal when n is odd)
        k1, k2 = (n + 1) // 2, n // 2 + 1
        cum, b1, b2 = 0, None, None
        for bk in sorted(counts):
            nxt = cum + counts[bk]
            if b1 is None and nxt >= k1:
                b1 = bk
            if nxt >= k2:
                b2 = bk
                break
            cum = nxt
        # convert the crossing buckets to VALUE bounds with a full
        # bucket of slack on each side: the histogram then only needs
        # to be approximately placed (any ulp-level asinh
        # non-monotonicity is absorbed by the margin) — exactness
        # comes from the value-predicate count below, not bucket ids
        import math

        lo = math.sinh((b1 - 1) / 256.0)
        hi = math.sinh((b2 + 2) / 256.0)
        s = F.col("slope")
        one = slopes.agg(
            F.sum(F.when(s < lo, 1).otherwise(0)).cast("long").alias(
                "cnt_lt"
            ),
            F.sort_array(
                F.collect_list(F.when((s >= lo) & (s <= hi), s))
            ).alias("cand"),
        )
        med = one.select(
            F.lit(n_pairs_total).cast("long").alias("n_pairs"),
            # percentile()'s interpolation form exactly: (hi-pos)·lo +
            # (pos-lo_idx)·hi = 0.5·lo + 0.5·hi at p=0.5 (odd n:
            # lo == hi, and 0.5v+0.5v == v exactly)
            (
                F.lit(0.5)
                * F.element_at(
                    "cand", (F.lit(k1) - F.col("cnt_lt")).cast("int")
                )
                + F.lit(0.5)
                * F.element_at(
                    "cand", (F.lit(k2) - F.col("cnt_lt")).cast("int")
                )
            ).alias("slope_med"),
        )
    dm = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.percentile(F.col("revenue").cast("double"), F.lit(0.5)).alias(
            "rev_med"
        ),
        F.percentile(F.col("day_no").cast("double"), F.lit(0.5)).alias(
            "day_med"
        ),
    )
    return med.crossJoin(dm).select(
        "n_days",
        "n_pairs",
        (F.floor(F.col("slope_med") * 1e6 + 0.5).cast("long") / F.lit(1e6)).alias(
            "slope"
        ),
        (
            F.floor(
                (F.col("rev_med") - F.col("slope_med") * F.col("day_med"))
                * 1e6
                + 0.5
            ).cast("long")
            / F.lit(1e6)
        ).alias("intercept"),
    )
