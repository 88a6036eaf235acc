"""Fresh-process single-execution timer for registry queries.

The SCALING.md perf claims are min-of-N FRESH-PROCESS seconds at sf0.1 —
one full execution (build + noop write) per process, no warm-up, so codegen/
JIT and block-manager state from earlier queries can't flatter (or
inflate) the number the way a sequential-session audit does (VERDICT r09
item 3: committed ROWCOUNTS disagreed ~2x with min-of-N claims even
after the leak fix). This script IS that protocol:

    python scripts/time_query.py q1 [q2 ...]        # one timed run each
    python scripts/time_query.py --min 5 q1 [q2 ...]  # min-of-5, each in
                                                      # its own subprocess

``--min N`` re-invokes this script N times per query via subprocess and
prints/returns the per-query minimum; the JSON line it emits is what
SCALING.md tables and the ``secs_fresh_min`` entries merged into
ROWCOUNTS_sf01.json cite. Override scale with SPARK_GRAFT_SF_DIR.

The action is a write to Spark's ``noop`` sink, as in bench.py: it runs
every projection. ``count()`` would prune an unreferenced pandas-UDF
projection and time a UDF-only query without running its UDF.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_once(names: list[str], warmup: bool = False) -> dict[str, float]:
    from cudf_spark.queries import REGISTRY
    from cudf_spark.session import get_spark

    spark = get_spark("time_query")

    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    for name in names:
        if warmup:
            # one untimed execution: the first run in a fresh JVM pays
            # ~8-9 s of Spark-internals JIT that isn't the query (measured
            # r10: triangle 16.5 s cold -> 8.0 s second run). The r6-frozen
            # bench protocol and the r9 graph tables both use this shape.
            execute(REGISTRY[name].build(spark, SF_DIR))
        t0 = time.perf_counter()
        execute(REGISTRY[name].build(spark, SF_DIR))
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def main(argv: list[str]) -> int:
    n_min = 0
    warmup = False
    while argv and argv[0].startswith("--"):
        if argv[0] == "--min":
            n_min = int(argv[1])
            argv = argv[2:]
        elif argv[0] == "--warmup":
            warmup = True
            argv = argv[1:]
        else:
            print(f"unknown flag {argv[0]}")
            return 2
    names = argv
    if not names:
        print("usage: time_query.py [--min N] [--warmup] query [query ...]")
        return 2

    if not n_min:
        print(json.dumps(run_once(names, warmup)))
        return 0

    best: dict[str, float] = {}
    for i in range(n_min):
        # one subprocess PER QUERY per round: a batch would give later
        # queries a warm JVM (the exact session effect this protocol
        # exists to remove).
        for name in names:
            cmd = [sys.executable, os.path.abspath(__file__)]
            if warmup:
                cmd.append("--warmup")
            proc = subprocess.run(
                cmd + [name],
                capture_output=True,
                text=True,
            )
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not line.startswith("{"):
                print(proc.stdout[-2000:], file=sys.stderr)
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            got = json.loads(line)
            for k, v in got.items():
                best[k] = min(best.get(k, float("inf")), v)
            print(f"  round {i + 1}/{n_min}: {got}", file=sys.stderr)
    print(
        json.dumps(
            {"sf_dir": SF_DIR, "min_of": n_min, "warmup": warmup,
             "secs_fresh_min": best}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
