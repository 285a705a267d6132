"""Output checks: registered queries against their DuckDB oracles.

Rows are canonicalized the way tests/oracle_harness.py does it (columns
sorted by name, floats rounded to 6 places, -0.0 folded to 0.0, rows
sorted), then reduced to a row count and an order-insensitive digest.
"""

from __future__ import annotations

import hashlib
import math
from typing import Any

import duckdb

from data_engineering_project_spotify_app_spark.tables import TABLE_NAMES


def _canon_cell(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive sha256 of the canonical rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        repr(tuple(_canon_cell(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB views over one corpus directory."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name in TABLE_NAMES:
            self.con.sql(
                f"CREATE VIEW {name} AS "
                f"SELECT * FROM parquet_scan('{corpus_dir}/{name}.parquet')"
            )

    def expect(self, sql: str) -> tuple[int, str]:
        res = self.con.sql(sql)
        return digest(list(res.columns), res.fetchall())

    def close(self) -> None:
        self.con.close()
