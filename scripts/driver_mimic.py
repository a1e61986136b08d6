"""Mimic the driver: foreign SparkSession (non-UTC tz, no engine confs),
import __spark_entry__, smoke entry(), run all queries vs duckdb oracle."""
import os, sys, time
import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as em
from check_oracle import normalize as canon

# hostile driver session: New York tz, default shuffle partitions, no legacy confs
spark = (SparkSession.builder.master("local[8]")
         .appName("driver-mimic")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.driver.memory", "4g")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = em.entry(spark)
n = df.count()
print(f"SMOKE entry(): {n} rows, schema={df.schema.simpleString()}")
assert n > 0

sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t, in [("region",),("nation",),("customer",),("supplier",),("part",),("orders",),("lineitem",),("events",),("documents",),("embeddings",)]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

qs, oracles = em.queries(), em.oracle_sql()
fails = 0
for name, fn in qs.items():
    t0 = time.time()
    sdf = fn(spark, sf)
    rows = [tuple(r) for r in sdf.collect()]
    if name not in oracles:
        status = "ROWS-ONLY" if rows else "FAIL(empty)"
        if not rows: fails += 1
        print(f"{name:36s} {len(rows):7d} {status} [{time.time()-t0:.1f}s]")
        continue
    res = con.sql(oracles[name]); drows = res.fetchall()
    ok = (sorted(sdf.columns) == sorted(res.columns) and len(rows) == len(drows)
          and canon(rows, sdf.columns) == canon(drows, res.columns))
    if not ok: fails += 1
    print(f"{name:36s} {len(rows):7d} {'OK' if ok else 'FAIL'} [{time.time()-t0:.1f}s]")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
