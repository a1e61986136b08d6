"""Output checks: order-insensitive value hashes compared against DuckDB.

The normalization mirrors the registry's oracle comparison (row count,
sorted column names, multiset of normalized row strings) but lives
here so the benchmark depends on no script of the repository.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result.

    Columns are put in sorted-name order, so the two engines may
    project them differently; rows are sorted after normalization.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(norm_cell(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    h.update("|".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()[:16]


class DuckOracle:
    """One DuckDB connection with a view per input table."""

    def __init__(self, tables: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name, path in tables.items():
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        res = self.con.sql(sql)
        return digest(res.columns, res.fetchall())

    def row(self, sql: str) -> tuple:
        return self.con.sql(sql).fetchone()

    def scalar(self, sql: str):
        return self.row(sql)[0]

    def close(self) -> None:
        self.con.close()
