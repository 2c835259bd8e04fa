"""Round-15 operator tests: deletion vectors (merge-on-read DELETE),
their CDF interaction, and the schema-evolution reader's generation-
grouped scan plan.

The DV tests pin the two properties that make merge-on-read real:
the data file's bytes still HOLD the deleted rows (nothing was
rewritten — the vector is applied at scan), and the change feed for a
DV commit emits exactly the newly-deleted rows even though the commit
adds/removes no files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries
from etl_8x8_spark.sources import txn_log
from etl_8x8_spark.sources.readers import load_table

from tests.conftest import fixture_dir


@pytest.fixture(scope="module")
def dv_table(spark, sf_dir):
    """Build the DV table once; return (result_rows, base, log_dir)."""
    q = all_queries()["sink_txn_log_delete_vectors"]
    rows = {r.version: (r.n, r.sum_price) for r in q.builder(spark, sf_dir).collect()}
    base = fixture_dir(sf_dir, "txndv")
    return rows, base, os.path.join(base, "_log")


def test_dv_versioned_snapshots(spark, sf_dir, dv_table):
    rows, _, _ = dv_table
    orders = load_table(spark, sf_dir, "orders")
    n1 = orders.count()
    n2 = orders.filter(F.col("o_orderkey") % 7 != 0).count()
    n3 = orders.filter(
        (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 11 != 0)
    ).count()
    assert rows[1][0] == n1
    assert rows[2][0] == n2 < n1
    assert rows[3][0] == n3 < n2
    # compaction is semantics-preserving: v4 == v3 exactly
    assert rows[4] == rows[3]


def test_dv_file_bytes_never_rewritten(spark, sf_dir, dv_table):
    """The merge-on-read pin: the RAW data files still hold every
    deleted key — only the scan-time vector hides them."""
    _, base, _ = dv_table
    raw_a = spark.read.parquet(os.path.join(base, "fileA"))
    raw_b = spark.read.parquet(os.path.join(base, "fileB"))
    # deleted keys are still physically present in both originals
    assert raw_a.filter(F.col("o_orderkey") % 7 == 0).count() > 0
    assert raw_b.filter(F.col("o_orderkey") % 7 == 0).count() > 0
    assert raw_b.filter(F.col("o_orderkey") % 11 == 0).count() > 0
    # the compacted file, by contrast, scans plain — vector folded in
    raw_c = spark.read.parquet(os.path.join(base, "fileA_c"))
    assert (
        raw_c.filter(
            (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 11 == 0)
        ).count()
        == 0
    )


def test_dv_replacement_not_stacking(spark, sf_dir, dv_table):
    """v3's vector for fileB must CONTAIN v2's positions (old ∪ new):
    readers consult exactly one vector per file, never a stack."""
    _, base, _ = dv_table
    v2 = spark.read.parquet(os.path.join(base, "dv", "v00002_fileB"))
    v3 = spark.read.parquet(os.path.join(base, "dv", "v00003_fileB"))
    assert v3.count() > v2.count()
    assert v2.join(v3, ["_fp", "_ri"], "left_anti").count() == 0


def test_dv_cdf_emits_newly_deleted_only(spark, sf_dir, dv_table):
    """CDF interaction: the DV commit's feed is the newly-deleted rows
    — v2 emits keys ≡ 0 (mod 7); v3 emits keys ≡ 0 (mod 11) that were
    NOT already dead under the v2 vector."""
    from etl_8x8_spark.sources.scans import _dv_cdf_deletes

    _, base, log_dir = dv_table
    orders = load_table(spark, sf_dir, "orders")

    feed2 = _dv_cdf_deletes(spark, base, log_dir, 2)
    assert feed2.columns == [
        "o_orderkey",
        "_change_type",
        "_commit_version",
        "o_totalprice",
    ]
    got2 = {r.o_orderkey for r in feed2.collect()}
    want2 = {
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 7 == 0).collect()
    }
    assert got2 == want2

    feed3 = _dv_cdf_deletes(spark, base, log_dir, 3).collect()
    got3 = {r.o_orderkey for r in feed3}
    want3 = {
        r.o_orderkey
        for r in orders.filter(
            (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 7 != 0)
        ).collect()
    }
    assert got3 == want3
    assert all(r._change_type == "delete" for r in feed3)
    assert all(r._commit_version == 3 for r in feed3)


# ---------------------------------------------------------------------------
# column mapping (RENAME/DROP as log metadata)
# ---------------------------------------------------------------------------


def test_column_mapping_read(spark, sf_dir):
    q = all_queries()["sink_txn_log_column_mapping"]
    got = {r.bucket: (r.n, r.sum_price) for r in q.builder(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    extra = orders.filter(F.col("o_orderkey") % 25 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"), "o_totalprice"
    )
    want = {
        r.bucket: r.n
        for r in orders.select("o_orderkey", "o_totalprice")
        .unionByName(extra)
        .groupBy((F.col("o_orderkey") % 5).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {b: n for b, (n, _) in got.items()} == want


def test_column_mapping_drop_survives_in_file_not_in_read(spark, sf_dir):
    """DROP is metadata: the dropped column's BYTES are still in every
    pre-drop file; the read surface no longer has it — and the RENAME
    is invisible to physical writers (f2 still writes col_2)."""
    all_queries()["sink_txn_log_column_mapping"].builder(spark, sf_dir)
    base = fixture_dir(sf_dir, "txncolmap")
    raw_f1 = spark.read.parquet(os.path.join(base, "f1"))
    assert raw_f1.columns == ["col_1", "col_2", "col_3"]
    assert raw_f1.filter(F.col("col_3").isNotNull()).count() > 0
    # the post-drop file stopped writing the dropped physical column
    raw_f3 = spark.read.parquet(os.path.join(base, "f3"))
    assert raw_f3.columns == ["col_1", "col_2"]
    # the log's latest schema has no col_3 mapping: reads can't see it
    recs = txn_log.records(txn_log.log_of(base))
    schema = [r["schema"] for _, r in recs if "schema" in r][-1]
    assert [e[1] for e in schema] == ["o_orderkey", "price"]


def test_alter_and_dv_commits_add_no_data_files(spark, sf_dir, dv_table):
    """The O(1)-ALTER and merge-on-read claims, counted on the log: the
    column-mapping RENAME (v1) and DROP (v3) and the two DV DELETEs
    (v2, v3) commit metadata only, and each log holds exactly 5
    commits — the same at any scale factor."""
    all_queries()["sink_txn_log_column_mapping"].builder(spark, sf_dir)
    log_dir = txn_log.log_of(fixture_dir(sf_dir, "txncolmap"))
    colmap = dict(txn_log.records(log_dir))
    dv = dict(txn_log.records(dv_table[2]))
    assert sorted(colmap) == sorted(dv) == [0, 1, 2, 3, 4]
    assert [v for v, r in colmap.items() if not r["adds"]] == [1, 3]
    assert [v for v, r in dv.items() if not r["adds"]] == [2, 3]
    assert all(dv[v]["dv"] for v in (2, 3))


# ---------------------------------------------------------------------------
# avro container codec + DataSource scan
# ---------------------------------------------------------------------------


def test_avro_codec_roundtrip(tmp_path):
    from etl_8x8_spark.sources.avro_source import (
        read_container,
        write_container,
    )

    fields = [("k", "long"), ("s", "string"), ("x", "double")]
    recs = [(i, f"row_{i}·", i * 0.5) for i in range(-3, 1000)]
    p = str(tmp_path / "t.avro")
    write_container(p, fields, recs, records_per_block=100)
    got, flags = [], []
    for block, ok in read_container(p, fields):
        got.extend(block)
        flags.append(ok)
    assert got == recs
    assert all(flags) and len(flags) == 11  # 1003 rows / 100 per block


def test_avro_torn_tail_recovers_prefix(tmp_path):
    from etl_8x8_spark.sources.avro_source import (
        read_container,
        write_container,
    )

    fields = [("k", "long"), ("s", "string"), ("x", "double")]
    recs = [(i, f"r{i}", float(i)) for i in range(200)]
    p = str(tmp_path / "torn.avro")
    write_container(p, fields, recs, records_per_block=100)
    with open(p, "rb+") as fh:
        fh.seek(0, os.SEEK_END)
        fh.truncate(fh.tell() - 8)  # tear into the last block's sync
    blocks = list(read_container(p, fields))
    assert [ok for _, ok in blocks] == [True, False]
    assert [r for b, _ in blocks for r in b] == recs[:100]


def test_avro_bad_header_raises(tmp_path):
    from etl_8x8_spark.sources.avro_source import read_container

    p = str(tmp_path / "junk.avro")
    with open(p, "wb") as fh:
        fh.write(b"PAR1 definitely not avro")
    with pytest.raises(ValueError):
        list(read_container(p, [("k", "long")]))


def test_scan_avro_recovers_good_block_only(spark, sf_dir):
    df = all_queries()["scan_avro"].builder(spark, sf_dir)
    rows = df.collect()
    orders = load_table(spark, sf_dir, "orders")
    n_orders = orders.count()
    n_good = orders.filter(F.col("o_orderkey") % 50 == 0).count()
    assert sum(r.n for r in rows) == n_orders + n_good
    # the n_recovered marker is key<0; key 0 negates to itself, so the
    # testdata's single o_orderkey=0 row is recovered but unmarked —
    # operator and oracle share the same rule, so the hash still pins it
    n_marked = orders.filter(
        (F.col("o_orderkey") % 50 == 0) & (F.col("o_orderkey") > 0)
    ).count()
    assert sum(r.n_recovered for r in rows) == n_marked


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER: stats pruning before vs after the clustering rewrite
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def zorder_table(spark, sf_dir):
    q = all_queries()["sink_txn_log_optimize_zorder"]
    rows = q.builder(spark, sf_dir).collect()
    return rows, fixture_dir(sf_dir, "txnzorder")


def test_zorder_result_matches_direct(spark, sf_dir, zorder_table):
    rows, _ = zorder_table
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    chi = b[0] + (b[1] - b[0]) // 4
    khi = b[2] + (b[3] - b[2]) // 4
    want = {
        r.o_orderstatus: r.n
        for r in orders.filter(
            (F.col("o_custkey") <= chi) & (F.col("o_orderkey") <= khi)
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.o_orderstatus: r.n for r in rows} == want


def test_zorder_pruning_effective(spark, sf_dir, zorder_table):
    """The heart of the key: the quarter-box predicate intersects ALL
    8 pre-OPTIMIZE slices (mod-8 layout => every file spans the full
    range of both columns) but <= 3 of the 8 z-clustered units."""
    _, base = zorder_table
    log_dir = os.path.join(base, "_log")
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderkey"), F.max("o_orderkey"),
    ).collect()[0]
    chi = b[0] + (b[1] - b[0]) // 4
    khi = b[2] + (b[3] - b[2]) // 4

    def kept(adds):
        return [
            a for a in adds if a["cmin"] <= chi and a["kmin"] <= khi
        ]

    pre = txn_log.read(log_dir, 0)["adds"]
    assert len(pre) == 8 and len(kept(pre)) == 8  # no pruning possible
    post = list(txn_log.live_adds(txn_log.records(log_dir)).values())
    assert len(post) == 8
    assert len(kept(post)) <= 3  # z-clustering makes the box local


def test_zorder_optimize_preserves_state(spark, sf_dir, zorder_table):
    """OPTIMIZE rewrites layout, never content: the live set's full
    row count equals the source table's."""
    _, base = zorder_table
    live = txn_log.live_adds(txn_log.records(txn_log.log_of(base)))
    total = sum(a["rows"] for a in live.values())
    assert total == load_table(spark, sf_dir, "orders").count()


def test_zvalue_interleave_bits():
    """Morton spot-checks computed through the Spark expression."""
    from etl_8x8_spark.sources.scans import _zvalue

    from etl_8x8_spark.session import get_spark

    spark = get_spark("zvalue_test", cpus=2, shuffle_partitions=2)
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023)], "c long, k long"
    )
    got = [
        r.z
        for r in df.select(
            _zvalue(F.col("c"), F.col("k")).alias("z")
        ).collect()
    ]

    def morton(c, k):
        z = 0
        for b in range(10):
            z |= ((c >> b) & 1) << (2 * b + 1)
            z |= ((k >> b) & 1) << (2 * b)
        return z

    assert got == [
        morton(c, k)
        for c, k in [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023)]
    ]


# ---------------------------------------------------------------------------
# partitioned txn table: pruning + metadata-only DELETE
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def part_table(spark, sf_dir):
    q = all_queries()["sink_txn_log_partitioned"]
    rows = q.builder(spark, sf_dir).collect()
    return rows, fixture_dir(sf_dir, "txnpart")


def test_partitioned_delete_and_prune(spark, sf_dir, part_table):
    """The metadata DELETE removed 3-MEDIUM from reads; the IN
    predicate then serves entirely from 2-HIGH's two live adds."""
    rows, base = part_table
    orders = load_table(spark, sf_dir, "orders")
    # result: only 2-HIGH survives the predicate ∩ delete
    assert [r.o_orderpriority for r in rows] == ["2-HIGH"]
    assert rows[0].n == orders.filter(
        F.col("o_orderpriority") == "2-HIGH"
    ).count()
    live = txn_log.live_adds(txn_log.records(txn_log.log_of(base)))
    assert len(live) == 8  # 10 written, 2 metadata-deleted
    want = {"2-HIGH", "3-MEDIUM"}
    kept = [
        a for a in live.values()
        if a["partition"]["o_orderpriority"] in want
    ]
    assert len(kept) == 2  # partition pruning: 2 dirs of 8 scanned
    assert all(
        a["partition"]["o_orderpriority"] == "2-HIGH" for a in kept
    )


def test_partitioned_bytes_survive_delete(spark, sf_dir, part_table):
    """The deleted partition's files still exist physically (VACUUM,
    not DELETE, reclaims bytes) and still hold its rows."""
    _, base = part_table
    for p in ("v0_p2", "v1_p2"):
        raw = spark.read.parquet(os.path.join(base, p))
        assert raw.count() > 0
        # partition column is NOT in the file — metadata owns it
        assert "o_orderpriority" not in raw.columns


# ---------------------------------------------------------------------------
# exactly-once streaming sink
# ---------------------------------------------------------------------------


def test_stream_sink_exactly_once(spark, sf_dir):
    """The harness replays the final epoch with the same batch_id
    (inside the builder); the log must hold each epoch EXACTLY once
    and the folded table must equal the batch source."""
    df = all_queries()["stream_txn_log_sink"].builder(spark, sf_dir)
    total = df.agg(F.sum("n_rows")).collect()[0][0]
    orders = load_table(spark, sf_dir, "orders")
    assert total == orders.count()

    base = fixture_dir(sf_dir, "txnsink")
    recs = txn_log.records(txn_log.log_of(base))
    epochs = [rec["epoch"] for _, rec in recs]
    assert len(epochs) == 4  # four micro-batches, one commit each
    assert len(set(epochs)) == 4  # the replayed epoch did NOT recommit
    # the replay's data write left an orphan attempt dir (VACUUM
    # fodder) — proof the redelivery actually happened and was caught
    last = max(epochs)
    attempts = [
        d
        for d in os.listdir(base)
        if d.startswith(f"epoch{last:05d}_")
    ]
    assert len(attempts) == 2


# ---------------------------------------------------------------------------
# CHECK constraints: whole-batch reject + audit
# ---------------------------------------------------------------------------


def test_constraints_reject_then_accept(spark, sf_dir):
    """The dirty submission must leave an audit record and NO commit;
    the final log holds exactly v0 (create), v1 (ADD CONSTRAINT) and
    v2 (the clean resubmit) — and no negative price is readable."""
    import json

    df = all_queries()["sink_txn_log_constraints"].builder(spark, sf_dir)
    row = df.collect()[0]
    assert row.min_price > 0
    orders = load_table(spark, sf_dir, "orders")
    n_even = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    n_clean = orders.filter(
        (F.col("o_orderkey") % 2 != 0) & (F.col("o_orderkey") % 3 == 0)
    ).count()
    assert row.n == n_even + n_clean

    base = fixture_dir(sf_dir, "txnconstraint")
    log_dir = txn_log.log_of(base)
    assert txn_log.versions(log_dir) == [0, 1, 2]
    rec1 = txn_log.read(log_dir, 1)
    assert rec1["add_constraints"] == ["o_totalprice > 0"]
    audit = json.load(open(os.path.join(base, "_AUDIT.json")))
    assert audit["rejected_version"] == 2
    assert audit["violations"] == n_clean  # whole batch was dirty


# ---------------------------------------------------------------------------
# shallow clone: zero-copy + divergence isolation
# ---------------------------------------------------------------------------


def test_shallow_clone_zero_copy_and_divergence(spark, sf_dir):
    df = all_queries()["sink_txn_log_shallow_clone"].builder(
        spark, sf_dir
    )
    rows = {r.which: r.n for r in df.collect()}
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    n20 = orders.filter(F.col("o_orderkey") % 20 == 0).count()
    n7 = orders.filter(F.col("o_orderkey") % 7 == 0).count()
    n30 = orders.filter(F.col("o_orderkey") % 30 == 0).count()
    # source final: all + the %20 append; clone: all - %7 + %30
    assert rows["src"] == n + n20
    assert rows["clone"] == n - n7 + n30

    base = fixture_dir(sf_dir, "txnclone")
    src_base, clone_base = (os.path.join(base, d) for d in ("src", "clone"))
    # zero-copy pin: at clone time NOTHING was copied — the clone dir
    # contains only the log and the clone's own post-fork outputs
    entries = set(os.listdir(clone_base))
    assert entries == {"_log", "cow0", "app0"}
    # the source still physically owns its originals
    assert os.path.isdir(os.path.join(src_base, "half0"))
    assert os.path.isdir(os.path.join(src_base, "half1"))
    # clone v0 referenced the source's files across roots, each root
    # relative to the fixture dir
    rec0 = txn_log.read(txn_log.log_of(clone_base), 0)
    assert rec0["clone_of"] == "src"
    assert {a["root"] for a in rec0["adds"]} == {"src"}


# ---------------------------------------------------------------------------
# identity columns: global uniqueness + gap-free blocks
# ---------------------------------------------------------------------------


def test_identity_blocks_contiguous_and_unique(spark, sf_dir):
    df = all_queries()["sink_txn_log_identity"].builder(spark, sf_dir)
    rows = sorted(df.collect(), key=lambda r: r.commit_version)
    total = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n for r in rows) == total
    # blocks are adjacent: each commit starts where the last ended
    expect_start = 0
    for r in rows:
        assert r.min_id == expect_start
        assert r.max_id == expect_start + r.n - 1
        # sum pins the exact arithmetic range (no dup/hole)
        assert r.sum_id == (r.min_id + r.max_id) * r.n // 2
        expect_start = r.max_id + 1
    # and the ids are globally unique across the whole table
    base = fixture_dir(sf_dir, "txnidentity")
    import glob as _glob

    all_ids = spark.read.parquet(
        *sorted(_glob.glob(os.path.join(base, "ids*")))
    )
    assert all_ids.select("id").distinct().count() == total


def test_avro_null_union_roundtrip(tmp_path):
    """Nullable-union codec: None survives in every field type, mixed
    with values, across block boundaries."""
    from etl_8x8_spark.sources.avro_source import (
        read_container,
        write_container,
    )

    fields = [("k", "long"), ("s", "string"), ("x", "double")]
    recs = [
        (None, None, None),
        (1, "a", 1.5),
        (None, "b", None),
        (2, None, 2.5),
    ] * 30  # 120 rows -> 3 blocks of 50
    p = str(tmp_path / "nulls.avro")
    write_container(p, fields, recs, records_per_block=50)
    got = [r for block, ok in read_container(p, fields) for r in block]
    assert got == recs


class TestViewRegistrationMemo:
    """r15 optimization: _register_views memoizes per (session,
    sf_dir). Pins that the memo NEVER changes which data a SQL-shape
    query reads: a repeat build serves the same rows, and switching
    sf_dir re-registers the views."""

    def test_sf_switch_reregisters(self, spark):
        from etl_8x8_spark.registry import all_queries

        q = all_queries()["sql_tpch_q6_shape"].builder
        a = q(spark, "/root/testdata/sf0.001").collect()
        b = q(spark, "/root/testdata/sf0.01").collect()
        c = q(spark, "/root/testdata/sf0.001").collect()
        assert a == c  # memo hit serves identical content
        assert a != b  # sf switch re-registered, not served stale

    def test_foreign_overwrite_same_content(self, spark):
        """The only other writers of these view names register the
        identical load_table plan — an interleaved build must keep
        the SQL shapes correct."""
        from etl_8x8_spark.registry import all_queries

        qs = all_queries()
        before = qs["sql_tpch_q6_shape"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
        # join_existence_mark re-registers customer/orders
        qs["join_existence_mark"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
        after = qs["sql_tpch_q6_shape"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert before == after

    def test_foreign_overwrite_other_sf_invalidates(self, spark):
        """r16 ADVICE item 1: a foreign registration with a DIFFERENT
        sf_dir overwrites shared views, so the memo must invalidate —
        the next sql_* build at the original sf_dir must re-register
        and read its OWN data, not the foreign overwrite."""
        from etl_8x8_spark.registry import all_queries

        qs = all_queries()
        # q3 reads customer/orders/lineitem — the views the foreign
        # builder overwrites
        a = qs["sql_tpch_q3_shape"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
        # foreign writer registers customer/orders for ANOTHER sf_dir
        qs["join_lateral_topk"].builder(
            spark, "/root/testdata/sf0.01"
        ).collect()
        b = qs["sql_tpch_q3_shape"].builder(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert a == b  # memo dropped, views re-registered for sf0.001
