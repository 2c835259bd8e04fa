"""Guard: no registered builder probes its input eagerly.

An ``isEmpty()`` in a ``@register`` body runs a Spark job on every
build and keeps a second code path for the empty case; empty input is
handled where the data already is. Nested functions are exempt: a
``readers.derived`` writer runs once per fixture version, and a
``foreachBatch`` handler once per micro-batch.
"""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_8x8_spark"
)

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register"
    )


def _calls_outside_nested(node: ast.AST, attr: str) -> list[int]:
    """Lines of ``.<attr>(...)`` calls in ``node``'s body, not counting
    the bodies of functions defined inside it."""
    found = []
    for child in ast.iter_child_nodes(node):
        if isinstance(child, _FUNCS):
            continue
        if (
            isinstance(child, ast.Call)
            and isinstance(child.func, ast.Attribute)
            and child.func.attr == attr
        ):
            found.append(child.lineno)
        found += _calls_outside_nested(child, attr)
    return found


def _eager_probes(source: str) -> list[int]:
    """Lines where a ``@register``-decorated function's own body calls
    ``.isEmpty()``."""
    return sorted(
        line
        for n in ast.walk(ast.parse(source))
        if isinstance(n, _FUNCS) and any(map(_is_register, n.decorator_list))
        for line in _calls_outside_nested(n, "isEmpty")
    )


def test_scanner_flags_guard_and_passes_nested_call():
    src = (
        '@register("k", oracle="SELECT 1")\n'
        "def k(spark, sf_dir):\n"
        "    orders = load_table(spark, sf_dir, 'orders')\n"
        "    if orders.limit(1).isEmpty():\n"
        "        return spark.createDataFrame([], 'n long')\n"
        "\n"
        "    def apply_batch(batch, batch_id):\n"
        "        if batch.isEmpty():\n"
        "            return\n"
        "\n"
        "    return orders\n"
        "\n"
        "def helper(df):\n"
        "    return df.isEmpty()\n"
    )
    assert _eager_probes(src) == [4]


def test_no_registered_builder_probes_eagerly():
    found = []
    for root, _, names in os.walk(_PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                found += [
                    f"{os.path.relpath(path, _PKG)}:{line}"
                    for line in _eager_probes(fh.read())
                ]
    assert found == []
