"""Output check: each query's result against its DuckDB oracle.

The comparison is the engine's own parity harness
(``tools/verify_queries.compare``): same row count, same column names,
and exactly equal values once rows and columns are put in canonical
order.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd


def _load_compare(root: str):
    path = os.path.join(root, "tools", "verify_queries.py")
    spec = importlib.util.spec_from_file_location("_verify_queries", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.compare


class OracleCheck:
    """DuckDB views over the generated tables, and the comparison."""

    def __init__(self, root: str, sf_dir: str, tables: list[str], tmp_dir: str) -> None:
        self._compare = _load_compare(root)
        self._con = duckdb.connect(
            config={"threads": 2, "temp_directory": tmp_dir}
        )
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def mismatch(self, result: pd.DataFrame, oracle_sql: str | None) -> str | None:
        """None when ``result`` matches the oracle, else what differs."""
        if oracle_sql is None:
            return "no oracle"
        expected = self._con.sql(oracle_sql).df()
        r = self._compare(result, expected)
        if r.get("exact"):
            return None
        return f"rows spark/oracle={r['rows']} {r.get('detail', '')}".strip()

    def close(self) -> None:
        self._con.close()
