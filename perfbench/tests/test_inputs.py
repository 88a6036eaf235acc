"""The seeded TPC-H copy holds exactly the fixture rows, in a seeded order."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import inputs  # noqa: E402


def test_copy_is_a_permutation_of_fixture_chunks_set_by_seed(tmp_path):
    inputs.tpch_copy(tmp_path / "a", 1)
    inputs.tpch_copy(tmp_path / "b", 1)
    inputs.tpch_copy(tmp_path / "c", 2)
    for name in inputs.TPCH_TABLES:
        fixture = pq.read_table(inputs.FIXTURES / f"{name}.parquet")
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        key = fixture.column_names[0]
        assert sorted(a[key].to_pylist()) == sorted(fixture[key].to_pylist())
        assert a.schema.remove_metadata() == fixture.schema.remove_metadata()
    orders = [pq.read_table(tmp_path / d / "orders.parquet")["o_orderkey"] for d in "ac"]
    assert not orders[0].equals(orders[1])


def test_events_are_in_timestamp_order():
    ts = inputs.events()["ts"].to_pylist()
    assert ts == sorted(ts)
