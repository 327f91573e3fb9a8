"""Driver simulator: vanilla SparkSession + DuckDB oracle comparison.

Mirrors the verification driver: imports __spark_entry__, builds its OWN
vanilla session (no engine defaults), smoke-runs entry(), then compares
every queries()[k] against oracle_sql()[k] at sf0.01.
"""
import datetime
import os
import sys
import traceback

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as mod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

# smoke
edf = mod.entry(spark)
rows = edf.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in edf.schema]}",
      flush=True)
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE OR REPLACE VIEW {t} AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")


def norm(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat(timespec="microseconds")
    return str(v)


qs = mod.queries()
oracles = mod.oracle_sql()
fail = 0
for name, fn in qs.items():
    if ONLY and name not in ONLY:
        continue
    try:
        sdf = fn(spark, SF_DIR).toPandas()
    except Exception:
        print(f"ERR  {name}: spark raised")
        traceback.print_exc()
        fail += 1
        continue
    if name not in oracles:
        print(f"ROWS {name}: {len(sdf)} rows (no oracle)", flush=True)
        continue
    try:
        odf = con.execute(oracles[name]).fetchdf()
    except Exception:
        print(f"ERR  {name}: oracle raised")
        traceback.print_exc()
        fail += 1
        continue
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    ok_schema = scols == ocols
    sv = sorted(tuple(norm(v) for v in r) for r in sdf[scols].itertuples(index=False))
    ov = sorted(tuple(norm(v) for v in r) for r in odf[ocols].itertuples(index=False))
    ok = ok_schema and len(sv) == len(ov) and sv == ov
    tag = "PASS" if ok else "FAIL"
    if not ok:
        fail += 1
    print(f"{tag} {name}: spark={len(sv)} oracle={len(ov)} schema={ok_schema}",
          flush=True)
    if not ok and sv != ov:
        diff_s = [r for r in sv if r not in set(ov)][:2]
        diff_o = [r for r in ov if r not in set(sv)][:2]
        print(f"     spark-only={diff_s}\n     oracle-only={diff_o}")

print(f"DONE fail={fail}")
sys.exit(1 if fail else 0)
