"""DuckDB reference results and the tolerant comparison against them.

Float aggregates reduced in a different order by Spark and DuckDB can differ
in their last bits, and a value rounded to cents can then flip by one cent
(71626750.04 against 71626750.05).  Float cells therefore match within a
relative tolerance or one cent; every other cell must match exactly.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from pathlib import Path

import duckdb
import pyarrow as pa

REL_TOL = 1e-9
CENT = 0.01 + 1e-9


def connect(data_dir: Path | None, temp_dir: Path) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``data_dir``."""
    con = duckdb.connect(config={"temp_directory": str(temp_dir)})
    for f in sorted(data_dir.glob("*.parquet")) if data_dir else ():
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    return con


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _sort_key(row: tuple) -> tuple:
    # Floats are coarsened so that rows differing only in last-bit float
    # noise still sort to the same position on both sides.
    return tuple(
        (v is None, float(f"{v:.6g}") if isinstance(v, float) else str(v)) for v in row
    )


def rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows in a canonical order."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    out = [tuple(_cell(r[c]) for c in cols) for r in data]
    return cols, sorted(out, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=CENT)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return float(a) == float(b)
    return a == b


def mismatch(got: pa.Table, want: pa.Table) -> str | None:
    """``None`` when the two results match, else a one-line reason."""
    gcols, grows = rows(got)
    wcols, wrows = rows(want)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)} rows"
    bad = [i for i, (g, w) in enumerate(zip(grows, wrows)) if not _same(g, w)]
    if bad:
        return f"{len(bad)} of {len(grows)} rows differ, first {grows[bad[0]]} != {wrows[bad[0]]}"
    return None
