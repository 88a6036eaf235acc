"""Operator-coverage query registry.

Importing this package registers every query module. ``REGISTRY`` maps a
query name to a :class:`Query` carrying the PySpark builder and (when
SQL-expressible) the equivalent DuckDB oracle SQL used by the driver's
correctness gate.
"""

from cudf_spark.queries.registry import REGISTRY, Query, register  # noqa: F401

# Import for registration side effects; REGISTRY keeps import order.
from cudf_spark.queries import (  # noqa: F401
    aggregates,
    aggregates2,
    analytics,
    analytics2,
    analytics3,
    analytics4,
    decimals,
    extras,
    joins,
    lists,
    pipeline,
    relational,
    relational2,
    relational3,
    reshape,
    retrieval,
    scalars_datetime,
    scalars_math,
    scalars_strings,
    similarity,
    streaming_batch,
    text,
    text2,
    text3,
    text4,
    text5,
    text6,
    windows,
)


def queries_dict():
    """{name: callable(spark, sf_dir) -> DataFrame} for the driver."""
    return {name: q.build for name, q in REGISTRY.items()}


def oracles_dict():
    """{name: oracle_sql} for every SQL-expressible query."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
