"""``readers.read_parquet``'s per-session footer-schema memo, which
``load_table`` and every read of a derived fixture go through, and the
guard that keeps those reads on it.

Footer inference is a Spark job; once a session has read a table or a
fixture, building a query over it must run none. The memo is scoped to the
session (and to the inference confs) because those shape the inferred
types; freshness against rewritten files is pinned in
``test_ts_variants.py``.
"""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from etl_8x8_spark.registry import all_queries
from etl_8x8_spark.sources import readers

from tests.conftest import SF_DIR

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_8x8_spark"
)


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_inferred_once_per_session(spark):
    def load(sess):
        return lambda: readers.load_table(sess, SF_DIR, "customer")

    fresh = spark.newSession()
    assert _jobs(spark, "memo_first", load(fresh)) == 1
    assert _jobs(spark, "memo_again", load(fresh)) == 0
    assert _jobs(spark, "memo_other", load(spark.newSession())) == 1


def test_inference_conf_change_is_inferred_again(spark, tmp_path):
    """``inferTimestampNTZ`` decides how an un-flagged micros column is
    typed; flipping it in the same session must not serve the old type."""
    sess = spark.newSession()
    path = os.path.join(tmp_path, "ntz.parquet")
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("us"))}), path)
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    types = []
    for value in ("true", "false", "true"):
        sess.conf.set(conf, value)
        df = readers.load_table(sess, str(tmp_path), "ntz")
        types.append(type(df.schema["ts"].dataType))
    assert types == [T.TimestampNTZType, T.TimestampType, T.TimestampNTZType]


# -- read_parquet: several paths, one memo entry ---------------------------


def _two_dirs(tmp_path) -> tuple[str, str]:
    """Two parquet dirs of one part file each; only ``b`` has ``extra``."""
    dirs = []
    for name, cols in (("a", {"k": [1]}), ("b", {"k": [2], "extra": ["x"]})):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table(cols), d / "part-0.parquet")
        dirs.append(str(d))
    return dirs[0], dirs[1]


def test_multi_path_merge_read_infers_once(spark, tmp_path):
    sess = spark.newSession()
    paths = _two_dirs(tmp_path)
    dfs = []

    def read():
        dfs.append(readers.read_parquet(sess, *paths, merge_schema=True))

    assert _jobs(spark, "multi_first", read) == 1
    assert _jobs(spark, "multi_again", read) == 0
    assert dfs[0].schema == dfs[1].schema
    assert dfs[1].columns == ["k", "extra"]
    assert sorted(map(tuple, dfs[1].collect())) == [(1, None), (2, "x")]


def test_rewritten_part_file_is_inferred_again(spark, tmp_path):
    sess = spark.newSession()
    a, b = _two_dirs(tmp_path)
    dfs = []

    def read():
        dfs.append(readers.read_parquet(sess, a, b, merge_schema=True))

    assert _jobs(spark, "rewrite_first", read) == 1
    pq.write_table(
        pa.table({"k": [3], "note": ["n"]}), os.path.join(a, "part-0.parquet")
    )
    assert _jobs(spark, "rewrite_after", read) == 1
    assert dfs[1].columns == ["k", "note", "extra"]
    assert sorted(map(tuple, dfs[1].collect())) == [(2, None, "x"), (3, "n", None)]


def test_warm_txn_log_builds_run_no_job(spark):
    """A derived fixture does not change, so once a session has built a
    key over one, building it again runs no Spark job."""
    sess = spark.newSession()
    queries = all_queries()
    for name in ("sink_txn_log_merge", "sink_txn_log_delete_vectors", "scan_txn_log_cdf"):
        build = queries[name].builder
        build(sess, SF_DIR)
        assert _jobs(spark, f"warm_{name}", lambda: build(sess, SF_DIR)) == 0, name


# -- guard: input tables are read through load_table ------------------------


def _call_name(call: ast.Call) -> str | None:
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def _names_sf_table(node: ast.AST, tainted: dict[str, str]) -> str | None:
    """What path ``node`` spells: ``"table"`` for an sf-dir table (a
    ``table_path(`` call, or an expression over ``sf_dir`` with a
    ``.parquet`` literal), ``"fixture"`` for a ``readers.derived`` dir
    (a ``derived(`` call), else the kind of a tainted name it uses."""
    subs = list(ast.walk(node))
    calls = {_call_name(n) for n in subs if isinstance(n, ast.Call)}
    kinds = {
        tainted[n.id] for n in subs if isinstance(n, ast.Name) and n.id in tainted
    }
    if "table_path" in calls or "table" in kinds:
        return "table"
    if any(isinstance(n, ast.Name) and n.id == "sf_dir" for n in subs) and any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.endswith(".parquet")
        for n in subs
    ):
        return "table"
    if "derived" in calls or "fixture" in kinds:
        return "fixture"
    return None


def _read_chain(call: ast.Call) -> list[str] | None:
    """The attribute names of a ``<...>.read[...].parquet(`` /
    ``.load(`` call (not a writer), or None."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr in ("parquet", "load")):
        return None
    chain, node = [], call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            chain.append(node.attr)
            if node.attr in ("read", "readStream"):
                return chain
        node = node.func if isinstance(node, ast.Call) else node.value
    return None


def _own_nodes(scope: ast.AST) -> list[ast.AST]:
    """The nodes of ``scope``'s body, not of the functions nested in it."""
    nodes, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        nodes.append(node)
        if not isinstance(node, (ast.FunctionDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))
    return nodes


def _bypasses(source: str) -> list[int]:
    """Lines of reads that skip the engine's readers: any parquet read
    of an sf-dir table (``load_table``), and a ``.parquet(`` read of a
    derived fixture that infers its schema (``read_parquet``; one that
    passes ``.schema(`` infers nothing). A name assigned from such a
    path, or from an expression over such a name, counts as one in its
    function and in the functions nested in it that do not bind the
    name themselves."""
    lines: set[int] = set()

    def visit(scope: ast.AST, outer: dict[str, str]) -> None:
        nodes = _own_nodes(scope)
        assigns = sorted(
            (n for n in nodes if isinstance(n, ast.Assign)), key=lambda n: n.lineno
        )
        args = getattr(scope, "args", None)
        local = {a.arg for a in ast.walk(args) if isinstance(a, ast.arg)} if args else set()
        local |= {t.id for n in assigns for t in n.targets if isinstance(t, ast.Name)}
        tainted = {k: v for k, v in outer.items() if k not in local}
        for n in assigns:
            kind = _names_sf_table(n.value, tainted)
            if kind:
                tainted.update(
                    (t.id, kind) for t in n.targets if isinstance(t, ast.Name)
                )
        for n in nodes:
            if not isinstance(n, ast.Call) or (chain := _read_chain(n)) is None:
                continue
            kinds = {_names_sf_table(a, tainted) for a in n.args}
            infers = n.func.attr == "parquet" and "schema" not in chain
            if "table" in kinds or ("fixture" in kinds and infers):
                lines.add(n.lineno)
        for n in nodes:
            if isinstance(n, (ast.FunctionDef, ast.Lambda)):
                visit(n, tainted)

    visit(ast.parse(source), {})
    return sorted(lines)


def test_guard_catches_each_bypass_shape():
    bad = (
        'a = spark.read.parquet(table_path(sf_dir, "orders"))\n'
        'b = spark.read.option("x", 1).parquet(f"{sf_dir}/orders.parquet")\n'
        'p = os.path.join(sf_dir, f"{t}.parquet")\n'
        "c = spark.read.parquet(p)\n"
        'd = spark.read.format("parquet").load(os.path.join(sf_dir, "x.parquet"))\n'
        "df.write.parquet(p)\n"
        'e = spark.read.parquet(os.path.join(scratch_dir(), "out"))\n'
        "def f(spark, sf_dir):\n"
        '    p = os.path.join(sf_dir, "orders.parquet")\n'
        "    return os.stat(p)\n"
        "def g(spark, p):\n"
        "    return spark.read.parquet(p)\n"
        'f = derived(sf_dir, "x", ["orders"], write)\n'
        'h = spark.read.parquet(os.path.join(f, "data"))\n'
        "i = spark.read.schema(s).parquet(f)\n"
        'j = spark.read.format("binaryFile").load(f)\n'
        "def k(spark):\n"
        "    return spark.read.option('mergeSchema', 'true').parquet(f)\n"
        "def w(f):\n"
        "    return spark.read.parquet(f)\n"
    )
    assert _bypasses(bad) == [1, 2, 4, 5, 14, 18]


def test_input_tables_are_read_through_load_table():
    found = []
    for root, _, names in os.walk(_PKG):
        for name in names:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith(
                os.path.join("sources", "readers.py")
            ):
                continue
            with open(path) as fh:
                found += [
                    f"{os.path.relpath(path, _PKG)}:{line}"
                    for line in _bypasses(fh.read())
                ]
    assert found == []
