"""Shared fixtures: one SparkSession per test session + a DuckDB oracle.

The parity helper mirrors the driver's correctness gate: run the Spark
query and the oracle SQL on the same parquet tables, sort columns by name,
sort rows, and require exact value equality (the driver hashes values, so
anything short of exact equality there is a failure here too).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CUDF_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")
from cudf_spark.catalog import TABLES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from cudf_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("cudf_spark_tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a collected cell for cross-engine comparison."""
    import datetime
    import decimal

    import numpy as np

    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bool):
        return bool(v)
    return v


def rows_from_spark(df):
    cols = sorted(df.columns)
    data = [tuple(_norm_cell(r[c]) for c in cols) for r in df.collect()]
    return cols, sorted(data, key=lambda t: tuple((x is None, str(x)) for x in t))


def rows_from_duck(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    raw = res.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols_sorted = [cols[i] for i in order]
    data = [tuple(_norm_cell(row[i]) for i in order) for row in raw]
    return cols_sorted, sorted(data, key=lambda t: tuple((x is None, str(x)) for x in t))


def assert_parity(spark, duck, query, max_show: int = 8):
    """Exact-match a registered Query against its DuckDB oracle."""
    df = query.build(spark, SF_DIR)
    scols, srows = rows_from_spark(df)
    assert query.oracle is not None, f"{query.name}: no oracle to compare against"
    dcols, drows = rows_from_duck(duck, query.oracle)
    assert scols == dcols, f"{query.name}: column mismatch spark={scols} duck={dcols}"
    # Python == treats 1000 == 1000.0; the driver's value hash does not.
    # Compare type KINDS cell-wise on the first row to catch int/float skew.
    for a, b in zip(srows[:1], drows[:1]):
        for c, x, y in zip(scols, a, b):
            if x is not None and y is not None:
                kx = "num-int" if isinstance(x, int) and not isinstance(x, bool) else type(x).__name__
                ky = "num-int" if isinstance(y, int) and not isinstance(y, bool) else type(y).__name__
                assert kx == ky, f"{query.name}.{c}: type kind {kx} vs {ky} ({x!r} vs {y!r})"
    assert len(srows) == len(drows), (
        f"{query.name}: row count spark={len(srows)} duck={len(drows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, (
        f"{query.name}: {len(mismatches)} mismatched rows; first {max_show}: "
        + "\n".join(f"  [{i}] spark={a}\n       duck={b}" for i, a, b in mismatches[:max_show])
    )
