"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the host's core
count, one JVM); the configuration below is chosen so the *same plans*
scale to a multi-executor cluster at 100 TB:

- AQE on (runtime re-plan: broadcast conversion, partition coalescing,
  skew-join splitting) — mirrors cudf-polars' deferred broadcast-vs-shuffle
  decision (reference: python/cudf_polars/cudf_polars/streaming/join.py:245).
- Runtime bloom-filter join pruning — mirrors the reference's join-filter
  pushdown (python/cudf_polars/cudf_polars/streaming/join_filter_pushdown.py).
- Arrow at the Python boundary — keeps the columnar spirit of libcudf's
  device columns at every Pandas-UDF crossing.
- UTC session timezone so timestamp semantics are engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cudf_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    parts = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/spill block codec (guide §9: "default lz4; measure both").
        # lz4 stays the local default: the r11 idle-host interleaved A/B on
        # the two most shuffle-intensive registry queries found no zstd win
        # — min-of-5 and medians favor lz4 on both (modularity 7.34 vs
        # 9.40 min, CC 2.58 vs 2.84 min; pairwise mixed inside the noise
        # band). Locally shuffle blocks never cross a wire, so zstd's
        # better ratio buys nothing and its CPU cost is pure overhead; on
        # a real cluster shuffle bytes are network-bound and the ratio can
        # win — SPARK_GRAFT_IO_CODEC=zstd enables that without a code
        # change. Numbers in OPTIMIZATION_r11.md §6b.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
