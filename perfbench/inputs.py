"""The benchmark's inputs, derived from the sf0.1 fixture tables.

``fixtures/sf0.1`` holds the parquet tables the engine's tests and
``bench.py`` run on, byte for byte.  Queries on ``documents`` and
``embeddings`` read them in place.  The TPC-H workload runs on a seeded copy
whose rows are the fixture rows in a seeded chunk order, and the stream
replays the fixture ``events`` in timestamp order.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures" / "sf0.1"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CHUNKS = 8  # row chunks per table whose order the seed sets


def tpch_copy(out_dir: Path, seed: int) -> None:
    """Write the TPC-H tables to ``out_dir`` with each table's rows cut into
    ``CHUNKS`` contiguous chunks and written in a seeded chunk order."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in TPCH_TABLES:
        table = pq.read_table(FIXTURES / f"{name}.parquet")
        size = -(-table.num_rows // CHUNKS)
        chunks = [table.slice(i * size, size) for i in range(CHUNKS)]
        rng.shuffle(chunks)
        pq.write_table(pa.concat_tables(chunks), out_dir / f"{name}.parquet")


def events() -> pa.Table:
    """The fixture events sorted by ``ts``."""
    return pq.read_table(FIXTURES / "events.parquet").sort_by([("ts", "ascending"), ("event_id", "ascending")])
