"""Output checks: batch queries against their DuckDB oracles.

The comparison is the canonical multiset rule of
``scripts/driver_sim.py``: column sets must match, row counts must
match, and the sorted multisets of canonicalised rows (columns ordered
by name) must be equal.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb

from kafkastreamer_spark.tables import TABLES


def canon(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def multiset(cols, rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB connection with one view per fixture table."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when Spark's ``(cols, rows)`` equal the oracle's result,
        else a one-line reason."""
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            return f"columns spark={sorted(cols)} oracle={sorted(dcols)}"
        if len(rows) != len(drows):
            return f"row count spark={len(rows)} oracle={len(drows)}"
        if multiset(cols, rows) != multiset(dcols, drows):
            return "values differ"
        return None

    def close(self) -> None:
        self.con.close()
