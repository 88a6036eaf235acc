"""Simulates the spark-graft driver: smoke entry() + oracle-compare every query.

Usage: python scripts/driver_sim.py [sf_dir] [name ...]
sf_dir defaults to the sf0.01 fixtures; names default to the whole
registry, exactly as the driver runs it. A MISMATCH prints the first row
that differs.

``vhash`` is the driver's comparator; the other scripts import it from here.
"""
import sys, json, hashlib, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm(cols, rows):
    cols = list(cols); order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([tuple(str(r[i]) for i in order) for r in rows])


def vhash(cols, rows):
    return hashlib.md5(json.dumps(norm(cols, rows)).encode()).hexdigest()[:12]


def main(args):
    import duckdb
    import __spark_entry__ as mod
    from pyspark.sql import SparkSession

    sf = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"

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

    # t2: every query vs oracle at sf
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = mod.queries(), mod.oracle_sql()
    if args:
        unknown = set(args) - set(qs)
        assert not unknown, f"names not in queries(): {unknown}"
        qs = {n: f for n, f in qs.items() if n in args}
    ok = bad = 0
    for name, fn in sorted(qs.items()):
        sdf = fn(spark, sf)
        srows = [tuple(r) for r in sdf.collect()]
        diff = None
        if name in oracles:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            h1, h2 = vhash(sdf.columns, srows), vhash(dcols, drows)
            status = "MATCH" if (h1 == h2 and len(srows)==len(drows) and sorted(sdf.columns)==sorted(dcols)) else "MISMATCH"
            if status == "MISMATCH":
                if sorted(sdf.columns) != sorted(dcols):
                    diff = f"cols spark={sorted(sdf.columns)} duck={sorted(dcols)}"
                else:
                    diff = next((f"spark={a}\n    duck ={b}" for a, b in zip(norm(sdf.columns, srows), norm(dcols, drows)) if a != b),
                                f"rows spark={len(srows)} duck={len(drows)}")
        else:
            status = f"rows-only({len(srows)})"
        if "MISMATCH" in status: bad += 1
        else: ok += 1
        print(f"  {status:14s} {name} rows={len(srows)}")
        if diff:
            print(f"    {diff}")
    print(f"RESULT ok={ok} bad={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
