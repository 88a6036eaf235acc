"""Simulates the spark-graft driver: smoke entry() + oracle-compare every query."""
import sys, json, hashlib
sys.path.insert(0, "/root/repo")
import duckdb
import __spark_entry__ as mod
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","4")
         .config("spark.ui.enabled","false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# t1 smoke: entry at sf0.001
df = mod.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

# t2: every query vs oracle at sf0.01
import os
sf = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

def vhash(cols, rows):
    cols = list(cols); order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted([tuple(str(r[i]) for i in order) for r in rows])
    return hashlib.md5(json.dumps(norm).encode()).hexdigest()[:12]

qs, oracles = mod.queries(), mod.oracle_sql()
# Optional subset: DRIVER_SIM_ONLY is a comma-separated name list. Default
# (unset) is the full registry, exactly as the driver runs it.
only = os.environ.get("DRIVER_SIM_ONLY", "").strip()
if only:
    names = set(only.split(","))
    unknown = names - set(qs)
    assert not unknown, f"DRIVER_SIM_ONLY names not in queries(): {unknown}"
    qs = {n: f for n, f in qs.items() if n in names}
ok = bad = 0
for name, fn in sorted(qs.items()):
    sdf = fn(spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    if name in oracles:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        h1, h2 = vhash(sdf.columns, srows), vhash(dcols, drows)
        status = "MATCH" if (h1 == h2 and len(srows)==len(drows) and sorted(sdf.columns)==sorted(dcols)) else "MISMATCH"
    else:
        status = f"rows-only({len(srows)})"
    if "MISMATCH" in status: bad += 1
    else: ok += 1
    print(f"  {status:14s} {name} rows={len(srows)}")
print(f"RESULT ok={ok} bad={bad}")
sys.exit(1 if bad else 0)
