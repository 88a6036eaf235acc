"""Partitioning-determinism sweep: every registry query's value hash must
be IDENTICAL under different shuffle/scan partitioning.

Why: Spark's partial aggregation folds in partition order, so any query
whose output depends on float fold order (an unordered double sum feeding
a threshold, a round() sitting within an ulp of a .5 boundary) or on
physical row order (a non-total window order, a first()/limit without a
total sort) will hash DIFFERENTLY when the partition count changes —
exactly the silent-wrong-answer classes rounds 6-8 kept digging out by
hand. The driver always runs one fixed layout, so its gate cannot see
this; this sweep runs each query under THREE deliberately different
layouts in separate subprocesses and diffs the canonical value hashes:

1. shuffle=4,  scan splits 128 MB (the driver_sim baseline shape);
2. shuffle=13, scan splits 2 MB, master local[7] (both fold orders AND
   defaultParallelism change — ADVICE r09: an all-local[4] sweep cannot
   see a parallelism-derived bucketing dependence);
3. shuffle=7, AQE DISABLED, JVM default + session timezone set to
   America/New_York (results must not depend on runtime re-planning or
   on the host zone — catalog.load pins the session zone to UTC per
   load, and this layout proves the pin holds end-to-end).

Usage: python scripts/determinism_sweep.py [sf_dir]
Exit 1 if any query hashes differently across layouts.

The worker mode (--worker N) is internal: prints one "name hash rows"
line per query for a session with that layout.
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DEFAULT = "/root/testdata/sf0.01"


def worker(nparts: int, sf: str) -> int:
    from pyspark.sql import SparkSession

    from cudf_spark.queries import REGISTRY
    from scripts.driver_sim import vhash

    # Layout 2 also changes the MASTER core count: all-local[4] layouts
    # cannot see a result that depends on defaultParallelism.
    builder = (
        SparkSession.builder.master("local[7]" if nparts == 13 else "local[4]")
        .config("spark.sql.shuffle.partitions", str(nparts))
        # also perturb scan splits so map-side partial-agg order changes
        .config("spark.sql.files.maxPartitionBytes", str(1 << (27 if nparts < 8 else 21)))
        .config("spark.ui.enabled", "false")
    )
    if nparts == 7:
        # third layout: AQE off (no runtime coalesce/skew re-plan) and a
        # non-UTC JVM default zone — results must not depend on either
        # (catalog.load pins the SESSION zone to UTC; this proves the pin
        # holds end-to-end rather than riding the host's default)
        builder = builder.config("spark.sql.adaptive.enabled", "false").config(
            "spark.driver.extraJavaOptions", "-Duser.timezone=America/New_York"
        ).config("spark.sql.session.timeZone", "America/New_York")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for name, q in sorted(REGISTRY.items()):
        try:
            df = q.build(spark, sf)
            rows = [tuple(r) for r in df.collect()]
            print(f"ROW {name} {vhash(df.columns, rows)} {len(rows)}", flush=True)
        except Exception as e:  # pragma: no cover - surfaced in the diff
            print(f"ROW {name} ERROR:{type(e).__name__} -1", flush=True)
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "--worker":
        return worker(int(argv[1]), argv[2])
    sf = argv[0] if argv else SF_DEFAULT
    results = {}
    for nparts in (4, 13, 7):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(nparts), sf],
            capture_output=True,
            text=True,
        )
        rows = {}
        for line in out.stdout.splitlines():
            if line.startswith("ROW "):
                _, name, h, n = line.split()
                rows[name] = (h, n)
        if not rows:
            print(out.stdout[-2000:])
            print(out.stderr[-2000:])
            print(f"worker {nparts} produced no rows")
            return 1
        results[nparts] = rows
        print(f"layout shuffle={nparts}: {len(rows)} queries hashed")
    base = results[4]
    bad = sorted(
        name
        for name in set().union(*results.values())
        if len({r.get(name) for r in results.values()}) > 1
    )
    for name in bad:
        print(
            f"NONDETERMINISTIC {name}: "
            + " vs ".join(f"{n}:{r.get(name)}" for n, r in results.items())
        )
    # ADVICE r08: a query that raises the SAME exception under every
    # layout produces identical ERROR: pseudo-hashes and would otherwise
    # count as checked/deterministic — an execution failure is a sweep
    # failure regardless of cross-layout agreement.
    errored = sorted(
        name
        for name in set().union(*results.values())
        if any(
            (r.get(name) or ("", ""))[0].startswith("ERROR:")
            for r in results.values()
        )
    )
    for name in errored:
        print(
            f"ERRORED {name}: "
            + " vs ".join(f"{n}:{r.get(name)}" for n, r in results.items())
        )
    print(
        f"RESULT checked={len(base)} nondeterministic={len(bad)} "
        f"errored={len(errored)}"
    )
    return 1 if bad or errored else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
