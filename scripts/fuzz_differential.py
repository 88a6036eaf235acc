#!/usr/bin/env python
"""Randomized-fixture differential harness — SURVEY §5 layer 4 (VERDICT
r10 item 1).

All 389 driver proofs run on three FIXED fixture trees; the defect class
the manual review rotation hunts — fixture-overfit guards, knife-edge
rounding, null/tie-break divergences, degenerate shapes sf0.01 never
produces — is exactly what random data finds mechanically. This script
mirrors the reference's dataset-generator layer
(/root/reference/python/cudf/cudf/testing/dataset_generator.py: seeded
rand_dataframe with per-column null frequency + cardinality knobs, and
the hypothesis usage in python/cudf/cudf/tests/series/test_repr.py),
re-expressed for this repo's differential gate: per seed,

  1. generate a small random fixture tree (same 10-table schema and
     value style as /root/testdata, byte-exact dtypes) with degenerate
     knobs drawn FROM the seed — all-null value columns, empty tables,
     1-row groups, duplicate order keys, heavy-tailed doc lengths,
     skewed group keys, null injection;
  2. run the driver's own comparator (Spark result vs DuckDB oracle,
     column-sorted value hash — scripts/driver_sim.py vhash) over a
     seed-rotated cohort of oracle-backed registry queries;
  3. exit non-zero on any MISMATCH or error, with a per-seed JSON
     report under .fuzz/.

Usage:
    python scripts/fuzz_differential.py                  # seeds 1-5, cohort 80
    python scripts/fuzz_differential.py --seeds 7,8 --cohort 120
    python scripts/fuzz_differential.py --only ewma_per_user --seeds 3

The generated trees live under .fuzz/seed{N}/ (gitignored) and are
deleted on success unless --keep is given.

Determinism-by-construction caveats the generator honors (these are
DATA-MODEL contracts, not overfit): primary keys are unique non-null
(event_id / doc_id / vec_id / *key are row identities — every query's
tie-break discipline rests on them), n_chars == len(text), embeddings
are unit-norm float32[64]. Everything else — null rates, cardinalities,
skew, duplication, emptiness — is fair game per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _repo)

from scripts.driver_sim import vhash  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "es", "fr", "de", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS1 = ["cold", "small", "large", "hot", "dim", "light"]
PWORDS2 = ["widget", "bolt", "gear", "plate", "case", "tube"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def pick_knobs(rng: np.random.Generator) -> dict:
    """Degenerate-shape knobs, drawn from the seed. Each seed gets a
    DIFFERENT combination so five seeds cover a spread of shapes."""
    return {
        # all-null events.value is the headline degenerate column
        # (every EWMA/agg query filters or folds over it)
        "p_null_value": float(rng.choice([0.0, 0.08, 1.0], p=[0.4, 0.5, 0.1])),
        "p_null_acctbal": float(rng.choice([0.0, 0.1], p=[0.6, 0.4])),
        "p_null_props": float(rng.choice([0.0, 0.15], p=[0.7, 0.3])),
        # one table drawn empty (results go empty on BOTH engines; a
        # crash or a non-empty singleton — e.g. an unguarded global agg
        # emitting a NULL row on one side only — is the finding)
        "empty_table": str(
            rng.choice(["", "", "", "events", "documents", "embeddings",
                        "supplier", "lineitem"])
        ),
        # duplicate order keys: quantize ts to minutes -> heavy ties on
        # every ORDER BY ts (tie-break discipline under real duplication)
        "dup_ts": bool(rng.random() < 0.5),
        # 1-row groups: every event its own user
        "one_row_groups": bool(rng.random() < 0.25),
        # Zipf-skewed foreign keys (hot user / hot customer)
        "skew": bool(rng.random() < 0.5),
        # heavy-tailed document lengths (a few huge docs)
        "doc_tail": bool(rng.random() < 0.5),
        # tiny-cardinality dims: 1 region / 2 nations
        "tiny_dims": bool(rng.random() < 0.2),
    }


def _money(rng, n, lo, hi):
    # 2-decimal lattice, same style as the driver fixtures — keeps
    # round(,k) comparisons off 1-ULP knife edges by construction
    return np.round(rng.uniform(lo, hi, n), 2)


def _fk(rng, n, card, skew: bool):
    if card <= 0:
        return np.zeros(n, dtype="int64")
    if skew:
        z = rng.zipf(1.5, n)
        return ((z - 1) % card).astype("int64")
    return rng.integers(0, card, n).astype("int64")


def gen_fixture(seed: int, outdir: str,
                knob_overrides: dict | None = None) -> dict:
    rng = np.random.default_rng(seed)
    knobs = pick_knobs(rng)
    if knob_overrides:
        # Targeted mode (--knobs): pin specific degenerate shapes while
        # the rest of the tree still varies with the seed.
        knobs.update(knob_overrides)
    os.makedirs(outdir, exist_ok=True)

    def write(name: str, table: pa.Table):
        if knobs["empty_table"] == name:
            table = table.slice(0, 0)
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))

    n_region = 1 if knobs["tiny_dims"] else 5
    n_nation = 2 if knobs["tiny_dims"] else 25
    write("region", pa.table({
        "r_regionkey": pa.array(range(n_region), pa.int32()),
        "r_name": pa.array(REGIONS[:n_region]),
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(n_nation)]),
        "n_regionkey": pa.array(
            [i % n_region for i in range(n_nation)], pa.int32()),
    }))

    n_cust = int(rng.integers(80, 250))
    acct = _money(rng, n_cust, -999.99, 9999.99)
    acct_null = rng.random(n_cust) < knobs["p_null_acctbal"]
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(
            _fk(rng, n_cust, n_nation, knobs["skew"]).astype("int32")),
        "c_acctbal": pa.array(
            [None if m else v for v, m in zip(acct, acct_null)],
            pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }))

    n_supp = int(rng.integers(4, 20))
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(
            _fk(rng, n_supp, n_nation, False).astype("int32")),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    }))

    n_part = int(rng.integers(100, 300))
    write("part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([
            f"{rng.choice(PWORDS1)} {rng.choice(PWORDS2)}"
            for _ in range(n_part)]),
        "p_brand": pa.array(
            [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(rng, n_part, 900.0, 2100.0)),
    }))

    n_orders = int(rng.integers(600, 2500))
    epoch95 = np.datetime64("1995-01-01")
    odate = epoch95 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(_fk(rng, n_orders, n_cust, knobs["skew"])),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(_money(rng, n_orders, 900.0, 500_000.0)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    }))

    n_li = int(rng.integers(2000, 9000))
    lkey = np.sort(_fk(rng, n_li, n_orders, False))
    lnum = np.ones(n_li, dtype="int32")
    for i in range(1, n_li):
        lnum[i] = lnum[i - 1] + 1 if lkey[i] == lkey[i - 1] else 1
    ldate = (epoch95 + rng.integers(1, 2500, n_li).astype("timedelta64[D]"))
    write("lineitem", pa.table({
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(_fk(rng, n_li, n_part, knobs["skew"])),
        "l_suppkey": pa.array(_fk(rng, n_li, n_supp, False)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(ldate.astype("datetime64[us]")),
    }))

    n_ev = int(rng.integers(400, 2500))
    n_users = n_ev if knobs["one_row_groups"] else int(rng.integers(5, 40))
    epoch24 = np.datetime64("2024-01-01T00:00:00", "us")
    if knobs["dup_ts"]:
        ts = epoch24 + (
            rng.integers(0, 4000, n_ev) * 60_000_000
        ).astype("timedelta64[us]")  # minute lattice: heavy duplicates
    else:
        ts = epoch24 + rng.integers(
            0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    val = _money(rng, n_ev, 0.0, 200.0)
    vnull = rng.random(n_ev) < knobs["p_null_value"]
    pnull = rng.random(n_ev) < knobs["p_null_props"]
    write("events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(_fk(rng, n_ev, n_users, knobs["skew"])),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(
            [None if m else v for v, m in zip(val, vnull)], pa.float64()),
        "props": pa.array([
            None if m else '{"k": %d}' % k
            for k, m in zip(rng.integers(0, 100, n_ev), pnull)]),
    }))

    n_doc = int(rng.integers(250, 800))
    if knobs["doc_tail"]:
        lens = np.minimum((rng.pareto(1.1, n_doc) * 12 + 8), 3000).astype(int)
    else:
        lens = rng.integers(8, 90, n_doc)
    texts, dup_pool = [], []
    for i in range(n_doc):
        # ~10% near-duplicates: reuse an earlier doc with a 1-word edit
        # (keeps the dedup family's positive paths populated)
        if dup_pool and rng.random() < 0.10:
            base = dup_pool[int(rng.integers(0, len(dup_pool)))].split(" ")
            base[int(rng.integers(0, len(base)))] = str(
                rng.choice(VOCAB))
            texts.append(" ".join(base))
        else:
            t = " ".join(rng.choice(VOCAB, int(lens[i])))
            texts.append(t)
            if len(dup_pool) < 50:
                dup_pool.append(t)
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=[0.4, .15, .15, .15, .15])),
        "source": pa.array(
            [f"src{int(s)}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_vec = int(rng.integers(250, 800))
    emb = rng.normal(0.0, 1.0, (n_vec, 64)).astype("float32")
    emb /= np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-12)
    # ~8% exact-duplicate vectors so semantic dedup has positives
    for _ in range(max(1, n_vec // 12)):
        i, j = rng.integers(0, n_vec, 2)
        emb[i] = emb[j]
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in emb],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }))
    return knobs


def cohort_for_seed(names: list[str], seed: int, size: int) -> list[str]:
    """Seed-rotated cohort: a seeded shuffle of the full oracle-backed
    registry, first `size` names — across consecutive seeds the overlap
    decays, so ≥5 seeds sweep well past 100 distinct queries."""
    rng = np.random.default_rng(10_000 + seed)
    shuffled = list(names)
    rng.shuffle(shuffled)
    return shuffled[:size]


def run_seed(spark, seed: int, size: int, keep: bool,
             only: set[str] | None, knob_overrides: dict | None = None,
             full: bool = False) -> dict:
    import duckdb

    fuzz_dir = os.path.join(_repo, ".fuzz", f"seed{seed}")
    if os.path.exists(fuzz_dir):
        shutil.rmtree(fuzz_dir)
    knobs = gen_fixture(seed, fuzz_dir, knob_overrides)

    from cudf_spark.queries import REGISTRY

    oracle_backed = sorted(
        n for n, q in REGISTRY.items() if q.oracle is not None)
    if full:
        cohort = oracle_backed
    elif only:
        cohort = sorted(only & set(oracle_backed))
    else:
        cohort = cohort_for_seed(oracle_backed, seed, size)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fuzz_dir}/{t}.parquet')")

    report = {"seed": seed, "knobs": knobs, "cohort": len(cohort),
              "mismatch": [], "error": [], "ok": 0}
    for name in cohort:
        try:
            sdf = REGISTRY[name].build(spark, fuzz_dir)
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(REGISTRY[name].oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            match = (
                vhash(sdf.columns, srows) == vhash(dcols, drows)
                and len(srows) == len(drows)
                and sorted(sdf.columns) == sorted(dcols)
            )
        except Exception as exc:  # noqa: BLE001 — report, don't abort the sweep
            report["error"].append(
                {"query": name, "exc": f"{type(exc).__name__}: {exc}"[:500]})
            print(f"  ERROR          {name}: {type(exc).__name__}: "
                  f"{str(exc).splitlines()[0][:150]}")
            continue
        if match:
            report["ok"] += 1
        else:
            report["mismatch"].append({
                "query": name, "spark_rows": len(srows),
                "oracle_rows": len(drows)})
            print(f"  MISMATCH       {name} spark={len(srows)} "
                  f"oracle={len(drows)}")
    con.close()

    os.makedirs(os.path.join(_repo, ".fuzz"), exist_ok=True)
    with open(os.path.join(_repo, ".fuzz", f"report_seed{seed}.json"),
              "w") as fh:
        json.dump(report, fh, indent=1)
    clean = not report["mismatch"] and not report["error"]
    if clean and not keep:
        shutil.rmtree(fuzz_dir)
    print(f"SEED {seed}: ok={report['ok']} mismatch="
          f"{len(report['mismatch'])} error={len(report['error'])} "
          f"knobs={ {k: v for k, v in knobs.items() if v} }")
    return report


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3,4,5",
                    help="comma-separated seed list")
    ap.add_argument("--cohort", type=int, default=80,
                    help="queries per seed (seed-rotated)")
    ap.add_argument("--keep", action="store_true",
                    help="keep generated trees even on success")
    ap.add_argument("--only", default="",
                    help="comma-separated query names (overrides rotation)")
    ap.add_argument("--all", action="store_true",
                    help="run EVERY oracle-backed query per seed (targeted "
                    "hostile-tree sweeps; ~10 min/seed)")
    ap.add_argument("--knobs", default="",
                    help='JSON knob overrides pinned over every seed, e.g. '
                    '\'{"empty_table": "lineitem"}\' or '
                    '\'{"p_null_value": 1.0}\'')
    args = ap.parse_args()

    from cudf_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("cudf_spark_fuzz")
    only = set(args.only.split(",")) if args.only else None
    overrides = json.loads(args.knobs) if args.knobs else None

    bad = 0
    for seed in [int(s) for s in args.seeds.split(",") if s.strip()]:
        rep = run_seed(spark, seed, args.cohort, args.keep, only,
                       knob_overrides=overrides, full=args.all)
        bad += len(rep["mismatch"]) + len(rep["error"])
    spark.stop()
    print(f"FUZZ RESULT: {'CLEAN' if bad == 0 else f'{bad} findings'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
