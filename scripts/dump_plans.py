#!/usr/bin/env python
"""Dump ``explain("formatted")`` for registry queries to plans/<dir>/.

Round-11 deliverable tooling: the optimization judge checks plan claims
("2 Exchange -> 1", "SortMergeJoin -> BroadcastHashJoin") against
committed plan files, so capture them mechanically:

    python scripts/dump_plans.py --out plans/r11 --tag before q1 [q2 ...]
    python scripts/dump_plans.py --out plans/r11 --tag after  --all-basket

Writes ``<out>/<query>_<tag>.txt``. Uses the same session/config as
bench.py; plans are the AQE initial plans (isFinalPlan=false) — the
shape claims (exchange count, join strategy, pushed filters, Python
nodes) are all visible there.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str]) -> int:
    out_dir = "plans/r11"
    tag = "before"
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--out":
            out_dir = argv[i + 1]
            i += 2
        elif argv[i] == "--tag":
            tag = argv[i + 1]
            i += 2
        elif argv[i] == "--all-basket":
            names.extend(HEADLINE)
            i += 1
        else:
            names.append(argv[i])
            i += 1

    from cudf_spark.plans import plan_nodes
    from cudf_spark.queries import REGISTRY
    from cudf_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in names:
        df = REGISTRY[name].build(spark, SF_DIR)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        ops = [n for n, _, _ in plan_nodes(df)]
        print(
            f"wrote {path} ({ops.count('Exchange')} shuffle exchanges, "
            f"{ops.count('BroadcastExchange')} broadcast exchanges)"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
