"""Registry-wide output contract: scalar top-level columns ONLY.

The driver's correctness canonicalizer hashes cell values via pandas
``factorize``, which raises ``TypeError: unhashable type: 'list'`` on any
array/map/struct cell.  Round 3 (`text_bpe_tokenize`) and round 4
(`emb_mean_pool`, `misc_byte_cast`) both shipped queries that crashed the
driver this way.  This test makes the contract structural: EVERY
registered query's result schema must contain only atomic types.  No
whitelist — if a query needs to expose a collection, it joins it into a
string (``F.concat_ws`` / ``array_to_string``) on BOTH engines.

Only the logical plan is built (``.schema`` — no job runs), so the whole
registry is checked in seconds apart from the few queries that collect
bounded tables (centroids, BPE merges) during plan construction.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import types as T

from cudf_spark.queries import REGISTRY
from tests.conftest import SF_DIR

FORBIDDEN = (T.ArrayType, T.MapType, T.StructType)

ALL_QUERIES = sorted(REGISTRY)


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_scalar_output_contract(spark, name):
    df = REGISTRY[name].build(spark, SF_DIR)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, FORBIDDEN)
    ]
    assert not bad, (
        f"{name} exposes non-scalar top-level columns ({', '.join(bad)}); "
        "the driver canonicalizer cannot hash collection cells — "
        "concat_ws/array_to_string them on both engines"
    )


def test_readme_registry_count_matches():
    """README's "registry: N named queries, M paired" line tracks REGISTRY."""
    text = (Path(__file__).resolve().parent.parent / "README.md").read_text()
    oracle_backed = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    m = re.search(r"registry: (\d+) named queries, (\d+) paired", text)
    assert m, "README layout line about the registry is missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(REGISTRY), oracle_backed)


# Public operators that no other cudf_spark code calls, each the only
# implementation of its SURVEY capability (so there is no second path to
# fold it into).
UNCALLED_OK = {
    "bloom_merge": "merges persisted Bloom sketches; the only sketch-merge path for Bloom state",
    "cms_merge": "merges persisted count-min sketches; the only sketch-merge path for CMS state",
    "bitmap_merge": "merges persisted bitmap sketches; the only sketch-merge path for bitmap state",
    "wordpiece_tokenize_udf": "the only WordPiece tokenizer (nvtext/wordpiece_tokenize.hpp)",
    "stream_dedup": "the only streaming dedup (watermarked dropDuplicates)",
    "kafka_micro_batch_reader": "the only Kafka source (custreamz kafka.py:83)",
}


def _names_used(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def test_every_public_operator_has_a_caller():
    """A public top-level function in operators/, functions/, streaming/,
    sources/ or multimodal.py must be referenced by other cudf_spark code
    (AST names, attributes and ``from`` imports; not strings, not its own
    body, not ``__init__`` re-exports). An operator that only its tests
    call is a second path no query runs."""
    pkg = Path(__file__).resolve().parent.parent / "cudf_spark"
    scope = {pkg / "multimodal.py"} | {
        f
        for sub in ("operators", "functions", "streaming", "sources")
        for f in (pkg / sub).glob("*.py")
    }
    public: dict[str, Path] = {}
    # (file, enclosing top-level function or None) -> names it references
    refs: dict[tuple[Path, str | None], set[str]] = {}
    for f in sorted(pkg.rglob("*.py")):
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text(), filename=str(f))
        for node in tree.body:
            is_fn = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            owner = node.name if is_fn else None
            refs.setdefault((f, owner), set()).update(_names_used(node))
            if is_fn and f in scope and not node.name.startswith("_"):
                public[node.name] = f
    uncalled = {
        name
        for name, f in public.items()
        if not any(
            name in used for (rf, owner), used in refs.items() if (rf, owner) != (f, name)
        )
    }
    extra = sorted(uncalled - set(UNCALLED_OK))
    assert not extra, (
        f"public operators with no caller outside tests: {extra}; delete "
        "them, or allowlist one that is the only implementation of its "
        "capability"
    )
    stale = sorted(set(UNCALLED_OK) - uncalled)
    assert not stale, f"UNCALLED_OK entries that now have a caller: {stale}"


def test_queries_md_is_current():
    """QUERIES.md is what scripts/query_index.py renders for the registry
    as imported now: a query added, renamed, re-documented or moved to
    another line without a regeneration fails here. Reads only."""
    from scripts.query_index import render

    committed = (Path(__file__).resolve().parent.parent / "QUERIES.md").read_text()
    assert render() == committed, (
        "QUERIES.md is stale; regenerate it with `python scripts/query_index.py`"
    )
