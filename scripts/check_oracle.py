"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf directory, then compares row count, sorted
column names, and an order-insensitive multiset of normalized values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    """One result cell as a type-aware string: a bool stays "True"/"False",
    so it never matches an integer 1/0 from the other engine."""
    if v is None:
        return "NULL"
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
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(rows, columns):
    """The one result canonicalizer of every Spark-vs-DuckDB compare
    (this script, driver_mimic.py, tests/test_oracle_parity.py): cells
    in column-name order, rows sorted — an order-insensitive multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_norm_cell(row[i]) for i in order) for row in rows)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from us_immigration_data_lake_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        spark_cols = df.columns
        spark_rows = [tuple(r) for r in df.collect()]
        sql = oracles.get(name)
        if sql is None:
            print(f"{name:36s} rows={len(spark_rows):7d}  (rows-only check) "
                  f"[{time.time()-t0:5.1f}s]")
            if len(spark_rows) == 0:
                failures.append((name, "zero rows (rows-only)"))
            continue
        res = con.sql(sql)
        duck_cols = res.columns
        duck_rows = res.fetchall()
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            a = normalize(spark_rows, spark_cols)
            b = normalize(duck_rows, duck_cols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diff}")
        status = "OK " if not problems else "FAIL"
        print(f"{name:36s} rows={len(spark_rows):7d}  {status} [{time.time()-t0:5.1f}s]")
        for p in problems:
            print(f"    {p}")
            failures.append((name, p))
    print()
    if failures:
        print(f"{len(failures)} failure(s)")
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
