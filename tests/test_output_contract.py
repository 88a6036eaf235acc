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
