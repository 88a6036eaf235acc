"""Benchmark harness — mirrors the reference's PDS-H runner shape
(python/cudf_polars/cudf_polars/streaming/benchmarks/pdsh.py: named
queries, per-query wall-clock, machine-readable records).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query executes end-to-end into the noop sink (full plan, no sink
cost). AQE + runtime bloom filters on via cudf_spark.session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family (scan-agg, joins, window, dedup,
# ANN, sessionization, text analysis).
HEADLINE = [
    "q01_pricing_summary",
    "q03_unshipped_orders",
    "q05_local_supplier_volume",
    "q09_product_profit",
    "q18_large_volume_customer",
    "agg_kinds_basic",
    "win_rolling_rows",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "stream_sessions",
    # correlated-subquery TPC-H shape, substring dedup, IVF vector search,
    # Gopher quality gating
    "q02_min_cost_supplier",
    "dedup_substring_spans",
    "ann_ivf_topk",
    "text_quality_gopher",
    # eval-set decontamination (explode + broadcast gram join)
    "text_decontaminate",
    # the full dedup->quality->decontaminate->split->pack DAG
    "curation_pipeline",
    # heaviest TPC-H shape (double lineitem agg + semi/anti exists), and
    # the most shuffle-intensive text family
    "q21_waiting_supplier",
    "text_tfidf_topk",
    # persisted-sketch merge and iterative cluster resolution
    "agg_sketch_merge",
    "dedup_duplicate_clusters",
]
# The basket is frozen so totals stay comparable from one change to the next.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cudf_spark.queries import REGISTRY
    from cudf_spark.session import get_spark

    spark = get_spark("cudf_spark_bench")

    # JVM/codegen warmup on the smallest query so timings measure the
    # engine, not first-call JIT.
    REGISTRY["q01_pricing_summary"].build(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Iterative queries (connected components) execute their rounds
    # EAGERLY during build(), so build must sit inside the timer for them;
    # for everything else build is one-off Python plan construction that
    # amortizes to zero on a long-lived cluster and stays outside.
    iterative = {"dedup_duplicate_clusters"}

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        best = None
        # One UNTIMED warm-up execution, then three timed runs (min): the
        # first executions still pay whole-stage-codegen compilation and
        # JIT warm-up, and the basket measures steady state. Every sample
        # is emitted under "queries_all" so the spread is visible.
        for run in range(4):
            if name in iterative:
                t0 = time.perf_counter()
                df = REGISTRY[name].build(spark, sf_dir)
            else:
                df = REGISTRY[name].build(spark, sf_dir)
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            if run > 0:
                samples.setdefault(name, []).append(round(elapsed, 3))
                best = elapsed if best is None else min(best, elapsed)
            # operators may persist small intermediates (LSH bands); drop
            # them so queries don't pay each other's cache memory
            spark.catalog.clearCache()
            # ... and clearCache() misses localCheckpoint blocks (cached
            # RDDs, not SQL cache entries): lazily-returned DataFrames
            # leak one per materialization site per run, and the
            # accumulation taxes every later query in the basket
            _it = (
                spark.sparkContext._jsc.sc()
                .getPersistentRDDs()
                .toList()
                .iterator()
            )
            while _it.hasNext():
                _it.next()._2().unpersist(False)
        timings[name] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline query wall-clock (scan->result, noop sink)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,  # per-query MIN of the three timed runs
        "queries_all": samples,  # all three samples, run order preserved
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Scaling runs are self-describing: the core count comes from the
        # live session. Protocol (warmup + min-of-3, noop sink) is frozen.
        "cpus": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
