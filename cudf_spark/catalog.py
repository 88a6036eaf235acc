"""Fixture-table catalog.

The driver materializes ten deterministic parquet tables per scale factor
(TESTDATA.md). This module is the single entry point for reading them so
every query goes through ``spark.read.parquet`` — the DataSource V2 scan
with column pruning + predicate pushdown (the Spark analogue of libcudf's
``read_parquet`` AST filter pushdown, cpp/include/cudf/io/parquet.hpp:94).

Each file's schema is resolved once per process, like the schema a
cudf-polars ``Scan`` carries: the first read infers it (a one-task Spark job
over the footer), later reads pass it to ``spark.read.schema``. The cache key
is the path, the file's ``st_mtime_ns`` and ``st_size`` (a rewritten file is
inferred again), and the session's ``spark.sql.legacy.parquet.nanosAsLong``
value (under it a nanosecond ``events.ts`` is inferred as bigint). Every read
still builds a fresh relation with new attribute ids, so self-joins stay
unambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor — a
# broadcast hint on these is always correct (region/nation are fixed-size).
BROADCAST_DIMS = frozenset({"region", "nation"})

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# Process-wide: the key pins the file's version and the one conf that changes
# inference, so every session and caller may share an entry.
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the first
    read of this version of the file (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:  # missing or non-local path: Spark raises its own error
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size, spark.conf.get(NANOS_AS_LONG))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """:func:`read_parquet` of an ``events`` file with ``nanosAsLong`` set
    for as long as the file needs it.

    Spark's vectorized reader rejects TIMESTAMP(NANOS) unless the conf is
    set, and the scan consults it when it runs (a stream at every
    micro-batch), so for a nanos vintage it stays set on the shared session.
    A micros vintage never needs it: the caller's value is restored.
    """
    prev = spark.conf.get(NANOS_AS_LONG, None)
    spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, path)
    if dict(df.dtypes).get("ts") != "bigint":
        if prev is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, prev)
    return df


def normalize_events_ts(events: DataFrame) -> DataFrame:
    """Microsecond session-tz ``ts`` for either ``events`` fixture vintage.

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    across fixture generations, so normalize by inspecting the read schema:
    nanos arrive as long (``nanosAsLong`` runtime SQLConf — Spark's
    vectorized reader rejects nanos otherwise) and are truncated to
    microsecond TimestampType — the documented semantic delta for cudf's
    TIMESTAMP_NANOSECONDS (SURVEY §1.2); micros arrive as TIMESTAMP_NTZ and
    are cast to session-tz TimestampType (a no-op under the UTC pin in
    :func:`load`). Either way the result matches DuckDB's
    ``CAST(ts AS TIMESTAMP)`` on the oracle side.
    """
    if dict(events.dtypes).get("ts") == "bigint":  # nanos-as-long vintage
        return events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return events.withColumn("ts", F.col("ts").cast("timestamp"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table at the given scale-factor directory
    (``events`` through :func:`normalize_events_ts`)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    # Every query's timestamp literals / date_format renderings assume UTC
    # (the DuckDB oracle is tz-naive). The driver may hand us a session it
    # built itself, so pin the tz here rather than in our session builder.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return normalize_events_ts(read_events(spark, f"{sf_dir}/{name}.parquet"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
