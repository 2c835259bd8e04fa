"""``load_table``'s per-session footer-schema memo, and the guard that
keeps every input-table read on it.

Footer inference is a Spark job; once a session has read a table,
building a query over it must run none. The memo is scoped to the
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


# -- guard: input tables are read through load_table ------------------------


def _names_sf_table(node: ast.AST, tainted: set[str]) -> bool:
    """True when ``node`` spells an sf-dir table path: a ``table_path(``
    call, an expression over ``sf_dir`` with a ``.parquet`` literal, or
    a name assigned from one."""
    subs = list(ast.walk(node))
    if any(
        isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == "table_path"
        for n in subs
    ):
        return True
    if any(isinstance(n, ast.Name) and n.id in tainted for n in subs):
        return True
    return any(isinstance(n, ast.Name) and n.id == "sf_dir" for n in subs) and any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.endswith(".parquet")
        for n in subs
    )


def _is_read(call: ast.Call) -> bool:
    """``<...>.read[...].parquet(`` / ``.load(`` (not a writer)."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr in ("parquet", "load")):
        return False
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr in ("read", "readStream"):
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _bypasses(source: str) -> list[int]:
    """Lines of parquet reads of an sf-dir table that skip load_table;
    a name counts as a table path within the function that assigns it."""
    tree = ast.parse(source)
    module_level = [
        n
        for stmt in tree.body
        if not isinstance(stmt, (ast.FunctionDef, ast.ClassDef))
        for n in ast.walk(stmt)
    ]
    scopes = [module_level] + [
        list(ast.walk(f)) for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)
    ]
    lines = set()
    for nodes in scopes:
        tainted = {
            t.id
            for n in nodes
            if isinstance(n, ast.Assign) and _names_sf_table(n.value, set())
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        lines.update(
            n.lineno
            for n in nodes
            if isinstance(n, ast.Call)
            and _is_read(n)
            and any(_names_sf_table(a, tainted) for a in n.args)
        )
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
    )
    assert _bypasses(bad) == [1, 2, 4, 5]


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
