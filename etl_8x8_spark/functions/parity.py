"""Cross-engine determinism helpers (SURVEY.md §5.3, §7 risk register).

The driver hash-compares Spark results against DuckDB. Floating-point
aggregation is order-dependent, and Spark's partial/final hash
aggregation sums in a different order than DuckDB — so any
``SUM(double)`` can differ in the low bits and break the value hash.

Fix: aggregate over decimal-cast inputs (exact, order-independent),
then cast the result back to double. Both engines produce the same
decimal, and decimal->double is the same nearest-double conversion.
Every money/quantity aggregate in the engine goes through these.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Enough integer digits for sf100-scale sums of sf-price values.
DEC = "decimal(30,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM: decimal-accumulated, double-presented."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG = exact decimal sum / count, double division."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def oracle_dsum(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def oracle_davg(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def q6(col: Column | str, alias: str | None = None, k: int = 6) -> Column:
    """Tie-stable output quantization: floor(x*10^k + 0.5) / 10^k.

    NOT ``F.round``: Spark rounds HALF_UP on the value's shortest
    decimal repr while DuckDB rounds the binary double, so the same
    double can round differently across engines whenever it sits
    within 1 ulp of a .5 boundary (LESSONS #22 — bit window_cusum,
    bollinger, and the kmeans family before their retrofits). The
    floor form is pure IEEE arithmetic (multiply, add, floor) that
    both engines execute bit-identically, for negatives too (half
    rounds toward +inf in both). Spark's floor(double) yields BIGINT,
    so |x| must stay below ~9.2e12 at k=6 — output-column scale, not
    raw-sum scale; quantize AFTER the final division/ratio.

    NaN/±inf pass through unquantized: DuckDB's BIGINT cast RAISES on
    NaN while Spark's silently yields 0, so quantizing a non-finite
    value would crash the oracle or silently diverge (r6 advice).
    """
    c = F.col(col) if isinstance(col, str) else col
    cd = c.cast("double")
    e = F.when(
        F.isnan(cd) | (F.abs(cd) == float("inf")), cd
    ).otherwise(F.floor(cd * (10**k) + 0.5).cast("long") / F.lit(float(10**k)))
    return e.alias(alias) if alias else e
