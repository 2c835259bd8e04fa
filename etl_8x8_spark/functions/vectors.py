"""Cross-engine deterministic vector math over ``array<float>`` columns.

Floating-point summation is order-dependent, so the dot products and
norms used by the similarity operators fold LEFT from ``0.0`` over the
array in both engines: Spark ``aggregate`` is a sequential left fold
from ``0.0D``, and DuckDB ``list_reduce`` folds left too, over the
products with a leading ``0.0`` — same element order, same IEEE ops,
bit-identical doubles (an empty array sums to ``0.0``, and a sum of
negative zeros to ``+0.0``), so even comparisons/orderings derived from
the values agree across engines.

The Spark side is SQL text for ``F.expr`` / ``selectExpr``, the one
form of these expressions: a lambda higher-order Column op costs
several py4j round trips per build, a string none (guide §4.4). A
cosine is ``F.expr(f"{dot_sql('qe', 'embedding')} / (qn * nrm)")``,
with both norms projected once per row, not once per pair.

Everything here is a built-in higher-order function (whole-stage
codegen'd, JVM-side) — no UDF in the vector hot path.
"""

from __future__ import annotations


def dot_sql(a: str, b: str) -> str:
    """Σ a_i·b_i as a left fold over doubles; ``a``/``b`` are SQL
    expressions."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    """Euclidean norm, same fold order as :func:`dot_sql`."""
    return f"sqrt({dot_sql(a, a)})"


def oracle_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot_sql` — left fold via ``list_reduce``
    over ``[0.0, a_1·b_1, ...]``; index 0 is the 0.0, as a NULL array
    must stay NULL (``list_prepend`` would make it ``[0.0]``)."""
    return (
        f"list_reduce(list_transform(generate_series(0, len({a})),"
        f" i -> CASE WHEN i = 0 THEN 0.0::DOUBLE"
        f" ELSE CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) END),"
        f" (acc, v) -> acc + v)"
    )


def oracle_norm(a: str) -> str:
    return f"sqrt({oracle_dot(a, a)})"
