"""Audit declared result types: Spark schema vs DuckDB oracle types.

The driver's value hash is type-sensitive (r5 verdict: DuckDB HUGEINT vs
Spark BIGINT hashed differently despite identical values), while the local
parity normalizer stringifies values and misses such drift.  This script
lists, for every registered query with an oracle, each column where the
canonical type family of the Spark plan and the DuckDB oracle differ —
without executing either side (Spark schemas are lazy; DuckDB types come
from the planner).

Usage: python scripts/type_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_immigration_data_lake_spark.plans.queries import QUERIES  # noqa: E402
from us_immigration_data_lake_spark.plans.typecheck import (  # noqa: E402
    canon_duck_type,
    canon_spark_type,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from us_immigration_data_lake_spark.session import get_spark

    spark = get_spark("type-audit")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    drift = {}
    errs = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        try:
            if spec.result_schema is not None:
                # eager fn (executes actions to build its frame) —
                # read the declared DDL instead of running the pipeline
                from pyspark.sql.types import StructType

                fields = StructType.fromDDL(spec.result_schema).fields
            else:
                fields = spec.fn(spark, sf_dir).schema.fields
            sp = {f.name: f.dataType.simpleString() for f in fields}
            rel = con.sql(spec.oracle)
            du = dict(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001
            errs[name] = repr(e)
            continue
        rows = []
        for col in sp:
            if col not in du:
                continue
            cs, cd = canon_spark_type(sp[col]), canon_duck_type(du[col])
            if cs != cd:
                rows.append((col, sp[col], cs, du[col], cd))
        if rows:
            drift[name] = rows

    for name, rows in drift.items():
        for col, st, cs, dt, cd in rows:
            print(f"{name}\t{col}\tspark={st}({cs})\tduck={dt}({cd})")
    print(f"\n# {len(drift)} queries with type drift, {len(errs)} errors")
    for name, e in errs.items():
        print(f"# ERR {name}: {e}")


if __name__ == "__main__":
    main()
