"""Generate QUERIES.md: the full registry as one auditable table —
name, oracle kind, source location, one-line doc. Regenerate after
adding or moving queries: `python scripts/query_index.py`
(tests/test_output_contract.py fails while QUERIES.md is stale)."""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# QUERIES — registry index

Auto-generated by `scripts/query_index.py`. One row per registered
query: the coverage surface the driver checks (`queries()` /
`oracle_sql()` in `__spark_entry__.py`). "oracle" = full DuckDB
value-hash parity; "rows-only" = semantics not SQL-expressible
(verified in pytest instead — see COVERAGE.md).
"""


def render() -> str:
    """QUERIES.md's text for the registry as it is imported now."""
    from cudf_spark.queries import REGISTRY

    rows = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        fn = q.build
        mod = fn.__module__.replace("cudf_spark.queries.", "queries/")
        line = fn.__code__.co_firstlineno
        kind = "oracle" if q.oracle is not None else "rows-only"
        doc = " ".join((q.doc or "").split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        rows.append(f"| `{name}` | {kind} | {mod}.py:{line} | {doc} |")
    out = [
        HEADER,
        f"**{len(rows)} queries** "
        f"({sum('| oracle |' in r for r in rows)} oracle-backed, "
        f"{sum('| rows-only |' in r for r in rows)} rows-only).",
        "",
        "| query | check | where | doc |",
        "|---|---|---|---|",
        *rows,
        "",
    ]
    return "\n".join(out)


def main() -> None:
    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.write(render())
    print("wrote QUERIES.md")


if __name__ == "__main__":
    main()
