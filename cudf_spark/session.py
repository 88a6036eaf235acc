"""SparkSession factory tuned for the engine.

Runs ``local[$SPARK_GRAFT_CPUS]`` (default: the host's core count, one
JVM) with one shuffle partition per core and:

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


def get_spark(app_name: str = "cudf_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/spill block codec; lz4 vs zstd is measured in OPTIMIZATION_r11.md §6b.
        .config("spark.io.compression.codec", "lz4")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
