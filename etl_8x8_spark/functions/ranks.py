"""Distributed global ranking — the histogram-prune rank.

A global ``row_number()/ntile()/running-sum`` window (``Window.orderBy``
with no partition) serializes the whole relation into ONE task. Fine
for a 25-row rollup; wrong for anything whose cardinality grows with
data volume (customers, parts, documents). The 10x sweeps measured the
disease directly: ``agg_weighted_median``'s naive form ran 8.3x at 10x
data because 3 window keys capped parallelism at 3.

This module generalizes the fix ``agg_weighted_median`` proved
(SURVEY.md §2b "histogram-prune"): bucket the ordering column into B
equal-width buckets (bucket id is MONOTONE in the ordering column, and
equal values always share a bucket), compute per-bucket counts/sums
with one map-side-combined aggregate, turn those <=B rows into
per-bucket offsets with a window over the TINY bucket relation, then
rank WITHIN each bucket in parallel (``Window.partitionBy(bucket)``).

    global row_number  = bucket offset + within-bucket row_number
    global running sum = bucket sum offset + within-bucket running sum

Both are EXACT (not approximations): bucket boundaries only partition
the sort, they never reorder it. Parallelism becomes min(B, distinct
buckets) instead of 1, and each task sorts ~N/B rows. At 100 TB raise
``buckets``; the bucket-offset window stays a <=B-row single task
either way.

``ntile_from_rank_sql`` closes the loop for quantile scoring: Spark's
``ntile(t)`` is a pure function of (row_number, n, t) — first
``n % t`` tiles get ``ceil(n/t)`` rows, the rest ``floor(n/t)`` — so
an exact distributed row_number gives an exact distributed ntile with
no extra shuffle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default bucket count: 1024-way parallelism upper bound, 1024-row
#: offset relation. Raise at higher SF (cost is only the tiny window).
DEFAULT_BUCKETS = 1024


def histogram_global_rank(
    df: DataFrame,
    value: str,
    tiebreaks: list[str],
    *,
    descending: bool = False,
    buckets: int = DEFAULT_BUCKETS,
    cumsum: str | None = None,
    rank_col: str = "i",
    total_col: str = "n",
    cumsum_col: str = "cum",
    cumsums: list[str] | None = None,
    persist: bool = False,
) -> DataFrame:
    """Add an EXACT global ``row_number`` over ``(value [DESC],
    *tiebreaks ASC)`` — and optionally an exact running sum of
    ``cumsum`` in that order — without a single-task global window.

    Returns ``df`` plus ``rank_col`` (1-based long), ``total_col``
    (long row count) and, if ``cumsum`` is given, ``cumsum_col``
    (running sum of ``cumsum`` through the current row, same dtype
    arithmetic as ``sum``). ``cumsums`` adds further running sums in
    the same order, one column ``cum_<name>`` per listed column — all
    share the one bucket aggregate and the one partitioned window.

    The ordering must be total: ``tiebreaks`` must make (value,
    *tiebreaks) unique for deterministic output (same contract as
    every rank window in this repo). ``value`` must be numeric.
    NULL ordering values are never silently dropped (a bare NULL
    bucket id would vanish at the inner offsets equi-join — the
    round-7 advice): they route to sentinel bucket -1, which sorts
    FIRST ascending and LAST descending — exactly Spark's default
    NULLS FIRST (asc) / NULLS LAST (desc) window ordering — and
    tiebreaks order them deterministically within the bucket.
    Callers with a strict non-null contract should assert upstream.

    ``persist`` (default OFF — measured, round 8): the input feeds
    three consumers (min/max stats broadcast, bucket-counts
    broadcast, final probe), but when the input ends in a SHUFFLE
    (the typical ``groupBy`` collapse), Spark's ReuseExchange dedupes
    that exchange across all three branches of the one executed plan
    — the "recompute" is already free, and caching only inserts an
    InMemoryRelation materialization into the serial
    stats->offsets->probe critical path (agg_abc_classification
    measured 0.93 s un-persisted vs 2.0 s persisted at sf0.1).
    Enable it when the input's lineage is NOT exchange-reusable at
    its tail — chained rank calls (windows/broadcast-joins between
    calls), or a bare table scan you don't want re-read three times
    at scale. Enabled, the cache stays registered until
    ``clearCache``/GC — the terminal action may run long after this
    builder returns, so unpersisting here would drop it before use.
    """
    if persist:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    mnc, mxc, bcol = "_hr_mn", "_hr_mx", "_hr_b"
    stats = df.agg(
        F.min(value).alias(mnc), F.max(value).alias(mxc)
    )
    j = df.crossJoin(F.broadcast(stats))
    width = (F.col(mxc).cast("double") - F.col(mnc).cast("double")) / F.lit(
        float(buckets)
    )
    # Equal values always share a bucket (same double -> same floor),
    # and the index is monotone in value, so bucket order == sort
    # order across buckets. width<=0 (constant column) degrades to one
    # bucket — semantically exact, single-task, same as the naive form.
    # A NULL value would otherwise yield a NULL bucket id that the
    # inner offsets equi-join silently drops — sentinel bucket -1
    # instead: sorts before every real bucket ascending and after
    # them under the descending bucket order (Spark's own NULLS
    # FIRST / NULLS LAST defaults for asc/desc windows).
    bidx = (
        F.when(F.col(value).isNull(), F.lit(-1))
        .when(width <= 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col(value).cast("double") - F.col(mnc).cast("double"))
                    / width
                ),
                F.lit(buckets - 1),
            )
        )
        .cast("int")
    )
    j = j.withColumn(bcol, bidx).drop(mnc, mxc)

    pairs = ([(cumsum, cumsum_col)] if cumsum is not None else []) + [
        (c, f"cum_{c}") for c in (cumsums or [])
    ]
    aggs = [F.count("*").alias("_hr_cnt")] + [
        F.sum(src).alias(f"_hr_bs{k}") for k, (src, _) in enumerate(pairs)
    ]
    bstats = j.groupBy(bcol).agg(*aggs)
    # Offsets: window over <=`buckets` rows — a bounded single task by
    # construction, independent of data volume. This DOES log Spark's
    # "No Partition Defined" warning, but over a relation whose size
    # is fixed by `buckets`, not by the data (a constant partition key
    # doesn't silence it: Catalyst folds foldable keys out of the
    # partition spec).
    border = F.col(bcol).desc() if descending else F.col(bcol).asc()
    wone = Window.partitionBy()
    woff = (
        wone.orderBy(border)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = [
        bcol,
        (F.sum("_hr_cnt").over(woff) - F.col("_hr_cnt")).alias("_hr_coff"),
        F.sum("_hr_cnt").over(wone).alias("_hr_n"),
    ]
    for k in range(len(pairs)):
        sel.append(
            (F.sum(f"_hr_bs{k}").over(woff) - F.col(f"_hr_bs{k}")).alias(
                f"_hr_soff{k}"
            )
        )
    offsets = bstats.select(*sel)
    j = j.join(F.broadcast(offsets), bcol)

    vorder = F.col(value).desc() if descending else F.col(value).asc()
    win = Window.partitionBy(bcol).orderBy(
        vorder, *[F.col(t).asc() for t in tiebreaks]
    )
    out = j.withColumn(
        rank_col,
        (F.col("_hr_coff") + F.row_number().over(win)).cast("long"),
    ).withColumn(total_col, F.col("_hr_n").cast("long"))
    drop = [bcol, "_hr_coff", "_hr_n"]
    wrun = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for k, (src, outcol) in enumerate(pairs):
        out = out.withColumn(
            outcol, F.col(f"_hr_soff{k}") + F.sum(src).over(wrun)
        )
        drop.append(f"_hr_soff{k}")
    return out.drop(*drop)


def histogram_global_rank_multi(
    df: DataFrame,
    specs: list[tuple[str, str, bool]],
    key: list[str],
    *,
    buckets: int = DEFAULT_BUCKETS,
    total_col: str = "n",
) -> DataFrame:
    """Exact global row_numbers for SEVERAL orderings of ``df`` in one
    pass — the k-column generalization of ``histogram_global_rank``.

    ``specs`` is ``[(value_col, rank_col, descending), ...]`` (the
    value columns must share one orderable numeric type); ``key`` is
    the tiebreak column list, and must uniquely identify a row (it is
    also the regroup/join-back key). Returns ``df`` plus one 1-based
    long ``rank_col`` per spec and ``total_col``.

    Why it exists (round 8, measured): k sequential
    ``histogram_global_rank`` calls cost k serialized broadcast
    rounds — stats job, offsets job, probe — and at local sf0.1 that
    LATENCY, not row volume, dominated (agg_rfm_segments: 4.98 s
    chained, 2.2 s as three independent calls joined). Exploding to
    (spec, value) rows folds all k orderings into ONE stats
    broadcast, ONE bucket histogram, ONE probe + regroup: the data
    cost is a k-times row multiply (linear, map-side) in exchange for
    collapsing k broadcast rounds into two — the right trade at any
    scale when k orderings of the SAME relation are needed at once.

    Descending specs rank ascending on the NEGATED value (exact for
    integers and IEEE doubles — negation reorders nothing among
    ties), so one uniform ascending window serves every spec; the
    per-bucket offsets window partitions on the spec id and the probe
    window on (spec, bucket) — nothing unpartitioned anywhere, and
    the offsets relation is <= k x ``buckets`` rows by construction.
    NULL ordering values route to a per-DIRECTION sentinel bucket
    (never silently dropped): ascending specs send them to bucket -1
    (ranked first — Spark's ASC NULLS FIRST default), descending
    specs to bucket +``buckets`` (ranked last — DESC NULLS LAST),
    deterministic by tiebreak in both cases.
    """
    # r15 (guide §4.4, the multimodal_phash_dedup / embed_jl_project
    # finding): every expression below is assembled as a SQL STRING
    # and shipped through selectExpr/F.expr — the identical expression
    # tree in ~10 py4j round-trips instead of several hundred chained
    # Column ops (the helper was ~60% of agg_rfm_segments' ~1 s plan-
    # construction cost). Semantics are pinned by the same oracle
    # hashes as the Column form it replaces.
    cids = list(range(len(specs)))

    def q(name: str) -> str:
        # backtick-escape (r16 ADVICE): a column name containing a
        # backtick would otherwise break out of the quoted identifier
        return "`{}`".format(name.replace("`", "``"))

    def src_sql(v: str, desc: bool) -> str:
        return f"(- {q(v)})" if desc else q(v)

    stats = df.selectExpr(
        *[
            s
            for c, (v, _, desc) in enumerate(specs)
            for s in (
                f"min({src_sql(v, desc)}) AS _hm_mn{c}",
                f"max({src_sql(v, desc)}) AS _hm_mx{c}",
            )
        ]
    )

    # The explode carries EVERY df column (k identical copies): the
    # regroup then restores them with first() instead of a join-back
    # to df — one less shuffle+join stage on the critical path, paid
    # with a k-times payload multiply through the probe shuffle
    # (cheap: this helper's inputs are collapsed, narrow relations).
    payload = [c for c in df.columns if c not in key]
    structs = ", ".join(
        f"struct({c} AS cid, {src_sql(v, desc)} AS val)"
        for c, (v, _, desc) in enumerate(specs)
    )
    e = df.selectExpr(
        *[q(c) for c in df.columns],
        f"explode(array({structs})) AS _hm",
    ).selectExpr(
        *[q(c) for c in df.columns],
        "_hm.cid AS _hm_cid",
        "_hm.val AS _hm_v",
    )
    e = e.crossJoin(F.broadcast(stats))

    def pick(prefix: str) -> str:
        whens = " ".join(
            f"WHEN _hm_cid = {c} THEN {prefix}{c}" for c in cids[1:]
        )
        return (
            f"(CASE {whens} ELSE {prefix}0 END)" if whens else f"{prefix}0"
        )

    mn, mx = pick("_hm_mn"), pick("_hm_mx")
    width = (
        f"((CAST({mx} AS DOUBLE) - CAST({mn} AS DOUBLE)) / {float(buckets)!r}D)"
    )
    # NULLs: per-spec sentinel bucket (never the silent NULL-bucket
    # drop — see the single-column form). Ascending specs route NULLs
    # to bucket -1 (ranked first — Spark's ASC NULLS FIRST default);
    # descending specs route them to bucket +buckets (ranked last —
    # Spark's DESC NULLS LAST default and the single-column form's
    # behavior). Without the split, the negation trick would rank
    # NULLs FIRST for descending specs too (r8 advice).
    desc_cids = [c for c, (_, _, d) in enumerate(specs) if d]
    null_bucket = "-1"
    if desc_cids:
        in_list = ", ".join(str(c) for c in desc_cids)
        null_bucket = (
            f"(CASE WHEN _hm_cid IN ({in_list}) THEN {buckets} ELSE -1 END)"
        )
    bidx = (
        "CAST(CASE WHEN _hm_v IS NULL THEN "
        + null_bucket
        + f" WHEN {width} <= 0 THEN 0 ELSE least(floor("
        + f"(CAST(_hm_v AS DOUBLE) - CAST({mn} AS DOUBLE)) / {width}"
        + f"), {buckets - 1}) END AS INT)"
    )
    e = e.selectExpr(
        *[q(c) for c in df.columns],
        "_hm_cid",
        "_hm_v",
        f"{bidx} AS _hm_b",
    )

    bstats = e.groupBy("_hm_cid", "_hm_b").agg(F.count("*").alias("_hm_cnt"))
    offsets = bstats.selectExpr(
        "_hm_cid",
        "_hm_b",
        "SUM(_hm_cnt) OVER (PARTITION BY _hm_cid ORDER BY _hm_b ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - _hm_cnt"
        " AS _hm_coff",
        "SUM(_hm_cnt) OVER (PARTITION BY _hm_cid) AS _hm_n",
    )
    e = e.join(F.broadcast(offsets), ["_hm_cid", "_hm_b"])

    order_keys = ", ".join(["_hm_v ASC"] + [f"{q(k)} ASC" for k in key])
    ranked = e.selectExpr(
        *[q(c) for c in df.columns],
        "_hm_cid",
        "CAST(_hm_coff + ROW_NUMBER() OVER (PARTITION BY _hm_cid, _hm_b"
        f" ORDER BY {order_keys}) AS BIGINT) AS _hm_i",
        "CAST(_hm_n AS BIGINT) AS _hm_nn",
    )
    return ranked.groupBy(*key).agg(
        *[F.expr(f"first({q(c)})").alias(c) for c in payload],
        *[
            F.expr(f"max(CASE WHEN _hm_cid = {c} THEN _hm_i END)").alias(
                rank_col
            )
            for c, (_, rank_col, _) in enumerate(specs)
        ],
        F.max("_hm_nn").alias(total_col),
    )


def ntile_from_rank_sql(i: str, n: str, t: int) -> str:
    """Exact ``ntile(t)`` from a 1-based global row_number ``i`` and
    total count ``n`` (SQL expressions) — Spark/DuckDB ntile
    semantics: the first ``n % t`` tiles hold ``ceil(n/t)`` rows, the
    rest ``floor(n/t)``.

    Integer arithmetic on longs (floor-div as (a - a%b)/b, the double
    quotient cast back to BIGINT), returns int. The divisor is guarded
    for the n < t case (where every row falls in the first branch
    anyway). SQL text, not chained Column ops (guide §4.4)."""

    def idiv(a: str, b: str) -> str:
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"

    qq = idiv(n, str(t))
    r = f"CAST(({n}) % {t} AS BIGINT)"
    cut = f"({r} * ({qq} + 1))"
    lo = f"(1 + {idiv(f'({i}) - 1', f'({qq} + 1)')})"
    hi = f"(1 + {r} + {idiv(f'({i}) - 1 - {cut}', f'greatest({qq}, 1)')})"
    return (
        f"CAST(CASE WHEN ({i}) <= {cut} THEN {lo} ELSE {hi} END AS INT)"
    )
