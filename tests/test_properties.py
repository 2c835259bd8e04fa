"""Property-based tests (hypothesis): the as-of window pattern against
a brute-force reference, and partitioned-sink roundtrip integrity.

Example counts are kept small — every example runs real Spark jobs —
but the generators cover the adversarial structure (timestamp ties,
users with no clicks, click-after-purchase) that fixed fixtures miss.
"""

from __future__ import annotations

import os
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=10),  # ts (coarse -> many ties)
        st.booleans(),  # is_purchase
    ),
    min_size=0,
    max_size=20,
)


def _asof_spark(spark, rows):
    df = spark.createDataFrame(
        [
            (i, int(uid), int(ts), "purchase" if p else "click")
            for i, (uid, ts, p) in enumerate(rows)
        ],
        "event_id long, user_id long, ts long, event_type string",
    )
    clicks = df.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = df.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts"),
            F.col("purchase_id").asc_nulls_first(),
            F.col("click_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return {
        r.purchase_id: r.last_click_id
        for r in clicks.unionByName(purchases)
        .withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("purchase_id").isNotNull())
        .collect()
    }


def _asof_brute(rows):
    out = {}
    for i, (uid, ts, is_p) in enumerate(rows):
        if not is_p:
            continue
        candidates = [
            (cts, j)
            for j, (cuid, cts, cp) in enumerate(rows)
            if not cp and cuid == uid and cts <= ts
        ]
        out[i] = max(candidates)[1] if candidates else None
    return out


class TestAsofProperty:
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=events_strategy)
    def test_union_window_asof_equals_brute_force(self, spark, rows):
        assert _asof_spark(spark, rows) == _asof_brute(rows)


class TestSinkRoundtripProperty:
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1_000_000),
                st.sampled_from(["alpha", "beta", "gamma"]),  # partition col
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
            min_size=1,
            max_size=30,
        ),
        files_per_partition=st.sampled_from([1, 3]),
    )
    def test_partitioned_write_preserves_rows(
        self, spark, rows, files_per_partition
    ):
        from etl_8x8_spark.sources.readers import scratch_dir
        from etl_8x8_spark.sources.sinks import write_parquet_partitioned

        df = spark.createDataFrame(rows, "k long, part string, v double")
        path = os.path.join(scratch_dir(), "prop_sink")
        write_parquet_partitioned(
            df, path, ["part"], files_per_partition=files_per_partition
        )
        back = spark.read.parquet(path)
        assert sorted(
            (r.k, r.part, r.v) for r in back.collect()
        ) == sorted(rows)


# ---------------------------------------------------------------------------
# Gap sessionization vs a brute-force single-pass reference
# ---------------------------------------------------------------------------

session_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=50),  # ts (gap threshold = 10)
    ),
    min_size=0,
    max_size=25,
)

_GAP = 10


def _sessionize_brute(rows):
    """Per-user linear scan, the textbook definition."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for i, (uid, ts) in enumerate(rows):
        by_user[uid].append((ts, i))
    out = {}
    for uid, evs in by_user.items():
        evs.sort()
        seq, pos, prev = 0, 0, None
        for ts, i in evs:
            if prev is None or ts - prev >= _GAP:
                seq += 1
                pos = 1
            else:
                pos += 1
            out[i] = (seq, pos)
            prev = ts
    return out


@given(session_events)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sessionize_window_pattern_matches_brute_force(spark, rows):
    df = spark.createDataFrame(
        [(i, int(uid), int(ts)) for i, (uid, ts) in enumerate(rows)],
        "event_id long, user_id long, ts long",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    new_s = F.when(prev.isNull() | (F.col("ts") - prev >= _GAP), 1).otherwise(0)
    rn = F.row_number().over(w)
    got = {
        r.event_id: (r.seq, r.pos)
        for r in df.select(
            "event_id", "user_id", "ts", new_s.alias("_new"), rn.alias("_rn")
        )
        .select(
            "event_id",
            F.sum("_new").over(wcum).alias("seq"),
            (
                F.col("_rn")
                - F.max(F.when(F.col("_new") == 1, F.col("_rn"))).over(wcum)
                + 1
            ).alias("pos"),
        )
        .collect()
    }
    assert got == _sessionize_brute(rows)


# ---------------------------------------------------------------------------
# Connected components (min-label propagation) vs union-find
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=0,
    max_size=15,
)


def _cc_union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, rep = min of component
    reps = {}
    for v in range(n_nodes):
        r = find(v)
        reps.setdefault(r, []).append(v)
    out = {}
    for r, members in reps.items():
        m = min(members)
        for v in members:
            out[v] = m
    return out


@given(edge_lists)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_label_propagation_matches_union_find(spark, edges):
    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    if edges:
        pairs = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
        )
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    es = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionByName(
        pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(15):
        prop = es.join(labels, es.b == labels.doc_id).select(
            F.col("a").alias("doc_id"), "label"
        )
        new_labels = (
            labels.unionByName(prop).groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == _cc_union_find(n, edges)


# ---------------------------------------------------------------------------
# portable-hash family: Spark vs DuckDB vs pure-Python reference
# ---------------------------------------------------------------------------

token_lists = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=0,
        max_size=8,
    ),
    min_size=1,
    max_size=12,
)


def _py_token_hash(tok: str) -> int:
    from etl_8x8_spark.operators.dedup import _PH_CHAR_MUL, _PH_P

    acc = 0
    for ch in tok:
        acc = (acc * _PH_CHAR_MUL + ord(ch)) % _PH_P
    return acc


def _py_signature(tokens: list[str]) -> list[int]:
    from etl_8x8_spark.operators.dedup import (
        _MINHASH_FUNCS,
        _PH_B_MOD,
        _PH_B_MUL,
        _PH_P,
        _PH_TOK_MUL,
    )

    th = [_py_token_hash(t) for t in tokens]
    m = max(len(th) - 2, 1)
    sh = []
    for i in range(m):
        acc = th[i]
        for k in (1, 2):
            if i + k < len(th):
                acc = (acc * _PH_TOK_MUL + th[i + k]) % _PH_P
        sh.append(acc)
    sig = [1 << 62] * _MINHASH_FUNCS
    for a in sh:
        b = (a * _PH_B_MUL) % _PH_B_MOD
        for i in range(_MINHASH_FUNCS):
            sig[i] = min(sig[i], (a + i * b) % _PH_P)
    return sig


def _py_bands(sig: list[int]) -> list[int]:
    from etl_8x8_spark.operators.dedup import (
        _BANDS,
        _PH_P,
        _PH_TOK_MUL,
        _ROWS_PER_BAND,
    )

    bands = []
    for b in range(_BANDS):
        h = 0
        for r in range(_ROWS_PER_BAND):
            h = (h * _PH_TOK_MUL + sig[b * _ROWS_PER_BAND + r]) % _PH_P
        bands.append(h)
    return bands


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens=token_lists)
def test_minhash_signature_triple_parity(spark, tokens):
    """The r5 portable hash family — signature AND band hashes — must
    agree bit-for-bit across Spark, DuckDB, and a pure-Python reference
    on ADVERSARIAL token lists (empty tokens, 1-token docs,
    punctuation) — this is the property the LSH oracles stand on.
    ascii('') is 0 in both engines (pinned here via the empty-token
    case). The Spark side is the SQL text the LSH builders run."""
    import duckdb

    from etl_8x8_spark.operators.dedup import (
        _BANDS,
        _band_hash_sql,
        _band_hashes_sqlx,
        _minhash_signature_sql,
        _minhash_signature_sqlx,
        _shingle_hashes_sql,
        _shingle_hashes_sqlx,
        _token_hashes_sql,
        _token_hashes_sqlx,
    )

    expected = _py_signature(tokens)
    expected_bands = _py_bands(expected)

    df = spark.createDataFrame([(tokens,)], "toks array<string>")
    srow = (
        df.select(F.expr(_token_hashes_sqlx("toks")).alias("th"))
        .select(
            F.expr(_minhash_signature_sqlx(_shingle_hashes_sqlx("th"))).alias(
                "sig"
            )
        )
        .select("sig", F.expr(_band_hashes_sqlx("sig")).alias("bands"))
        .first()
    )
    assert list(srow["sig"]) == expected
    assert list(srow["bands"]) == expected_bands

    con = duckdb.connect()
    sql_toks = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in tokens) + "]"
    bands_sql = ", ".join(_band_hash_sql("sig", str(j)) for j in range(_BANDS))
    drow = con.execute(
        f"SELECT sig, [{bands_sql}] AS bands FROM ("
        f"SELECT {_minhash_signature_sql(_shingle_hashes_sql('th'))} AS sig "
        f"FROM (SELECT {_token_hashes_sql(f'{sql_toks}')} AS th))"
    ).fetchone()
    assert list(drow[0]) == expected
    assert list(drow[1]) == expected_bands


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tokens=token_lists)
def test_shingle_strings_cross_engine_parity(spark, tokens):
    """The STRING shingles (used by the exact-Jaccard verify step and
    the containment oracle) must agree between Spark's shifted-slice
    zip_with build and DuckDB's generate_series slice build, including
    the short-document truncation path (< n tokens)."""
    import duckdb

    from etl_8x8_spark.operators.dedup import _shingles_sql, _shingles_sqlx

    df = spark.createDataFrame([(tokens,)], "toks array<string>")
    srow = df.select(F.expr(_shingles_sqlx("toks")).alias("s")).first()
    con = duckdb.connect()
    sql_toks = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in tokens) + "]"
    drow = con.execute(
        f"SELECT {_shingles_sql(f'{sql_toks}')} AS s"
    ).fetchone()
    assert sorted(srow["s"]) == sorted(drow[0])


# Finite float32 values of every magnitude, subnormals and signed zeros
# included: each product is exact in a double, so only the summation
# order can make the engines disagree.
float32_pairs = st.lists(
    st.tuples(
        st.floats(width=32, allow_nan=False, allow_infinity=False),
        st.floats(width=32, allow_nan=False, allow_infinity=False),
    ),
    min_size=0,
    max_size=16,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=float32_pairs)
def test_dot_cross_engine_parity(spark, pairs):
    """functions/vectors.py promises bit-identical doubles: Spark's
    ``dot_sql`` (aggregate over zip_with) and DuckDB's ``oracle_dot``
    (list_reduce) both fold left from 0.0 in element order. Compared
    bit for bit, so an empty array and a zero sum's sign are pinned."""
    import duckdb

    from etl_8x8_spark.functions.vectors import dot_sql, oracle_dot

    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    got = df.select(F.expr(dot_sql("a", "b")).alias("d")).first()["d"]
    want = duckdb.connect().execute(
        f"SELECT {oracle_dot('a', 'b')} FROM ("
        "SELECT CAST(? AS FLOAT[]) AS a, CAST(? AS FLOAT[]) AS b)",
        [a, b],
    ).fetchone()[0]
    assert struct.pack("<d", got) == struct.pack("<d", want)
