"""The result check: float cells within tolerance, every other cell exact."""

from __future__ import annotations

import datetime as dt
import decimal
import sys
from pathlib import Path

import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import oracle  # noqa: E402


def test_cent_flip_from_float_sum_order_matches():
    # Spark and DuckDB summed in a different order and rounded to cents.
    got = pa.table({"n_name": ["NATION_12"], "revenue": [71626750.04]})
    want = pa.table({"n_name": ["NATION_12"], "revenue": [71626750.05]})
    assert oracle.mismatch(got, want) is None


def test_float_difference_beyond_tolerance_fails():
    got = pa.table({"k": [1], "v": [0.5]})
    want = pa.table({"k": [1], "v": [0.52]})
    assert "1 of 1 rows differ" in oracle.mismatch(got, want)


def test_non_float_cells_compare_exactly():
    got = pa.table({"k": [1, 2], "s": ["a", "b"]})
    assert oracle.mismatch(got, pa.table({"k": [1, 3], "s": ["a", "b"]})) is not None
    assert oracle.mismatch(got, pa.table({"k": [1, 2], "s": ["a", "c"]})) is not None


def test_row_and_column_order_do_not_matter():
    got = pa.table({"b": ["x", "y"], "a": [2, 1]})
    want = pa.table({"a": [1, 2], "b": ["y", "x"]})
    assert oracle.mismatch(got, want) is None


def test_row_count_and_columns_are_reported():
    assert oracle.mismatch(pa.table({"a": [1]}), pa.table({"a": [1, 2]})) == "1 rows != 2 rows"
    assert oracle.mismatch(pa.table({"a": [1]}), pa.table({"b": [1]})).startswith("columns")


def test_spark_and_duckdb_value_types_normalise():
    ts = dt.datetime(2024, 1, 1, 12, 30)
    got = pa.table(
        {
            "t": pa.array([ts.replace(tzinfo=dt.timezone.utc)], pa.timestamp("us", tz="UTC")),
            "d": pa.array([decimal.Decimal("1.25")], pa.decimal128(10, 2)),
            "l": pa.array([[1.0, 2.0]], pa.list_(pa.float64())),
        }
    )
    want = pa.table({"t": [ts], "d": [1.25], "l": [[1.0, 2.0000000000001]]})
    assert oracle.mismatch(got, want) is None


def test_nan_matches_only_nan():
    assert oracle.mismatch(pa.table({"v": [float("nan")]}), pa.table({"v": [float("nan")]})) is None
    assert oracle.mismatch(pa.table({"v": [float("nan")]}), pa.table({"v": [0.0]})) is not None
