"""Scale-audit linting of physical plans.

``scale_audit(df)`` walks the operator nodes of a DataFrame's executed
physical plan (``plan_nodes``, not the printed plan) and reports the
anti-patterns that are invisible at test scale but fatal at 100 TB —
the same checklist tests/test_plans.py pins for the built-in queries,
exposed as a library API so users can vet their own pipelines:

- ``single_partition_funnel`` — ``Exchange SinglePartition`` feeding a
  row-preserving operator (global ``Window.partitionBy()``, ``sort`` to
  one partition, ``repartition(1)``): the whole dataset flows through one
  task. NOT flagged when it feeds a merge aggregate (a global ``agg`` moves
  only one partial row per upstream partition) or a limit collector —
  those are bounded by design.
- ``cartesian_product`` — ``CartesianProduct`` in the plan: O(N·M) blowup.
  ``BroadcastNestedLoopJoin`` passes: BNLJ over a 1-row broadcast (the
  scalar-subquery pattern) is the *recommended* shape.
- ``python_row_udf`` — ``BatchEvalPython`` (row-at-a-time Python UDF);
  Arrow-batched variants (``ArrowEvalPython``/``MapInPandas``/
  ``FlatMapGroupsInPandas``) pass.
- ``value_spool`` — an ``ObjectHashAggregate`` whose aggregate list
  contains ``collect_list(``/``collect_set(`` (per-group buffers hold
  EVERY input row) or exact ``percentile(`` (per-partition value->count
  maps — bounded by the distinct-value domain, which on a continuous
  double column IS the row count; the merged map is then sorted on one
  task per group). Fine when the group/domain is bounded by construction
  (per-doc tokens, <=K centroids, an integer lattice, a deterministic
  sorted float fold over a capped cell); fatal at 100 TB over unbounded
  raw values — the round-11 ``agg_sketch_merge`` fix
  (OPTIMIZATION_r11.md §3.4) is the rewrite recipe (two-level
  (value, count) aggregation + cumulative-rank window).
  tests/test_scale_audit.py pins the justified-bounded allowlist; a new
  site fails the suite until bounded-ness is argued there or the query
  is rewritten.
- ``sort_resample`` — a Python stage (``MapInPandas``/``ArrowEvalPython``
  /...) below an ``Exchange rangepartitioning`` with no shuffle boundary
  on the path between: a global sort's range-sampling pass executes its
  input subtree once to sketch partition boundaries and the sort
  executes it again, so the whole Python chain runs TWICE per action
  (the round-11 mm_*/text-UDF find, OPTIMIZATION_r11.md §3.14 — measured
  2x rows through the Arrow boundary, 4x with extra uncheckpointed
  consumers). Fix: ``localCheckpoint(eager=False)`` the narrow result
  table before the sort.

Returns a list of ``(code, detail)`` findings; empty list == clean.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from cudf_spark.plans.nodes import plan_nodes

# Consumers an Exchange SinglePartition may feed without funnelling data:
# the merge side of a global agg (one row per upstream partition) and the
# limit collectors.
_BOUNDED_CONSUMERS = {
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "CollectLimit",
    "TakeOrderedAndProject",
    "GlobalLimit",
}

def scale_audit(df: DataFrame) -> list[tuple[str, str]]:
    """Lint ``df``'s physical plan for patterns that break at cluster scale."""
    nodes = list(plan_nodes(df))
    names = {name for name, _, _ in nodes}
    findings: list[tuple[str, str]] = []

    for _, detail, ancestors in nodes:
        # the plan root (under AQE's wrapper) consumes nothing
        if not detail.startswith("Exchange SinglePartition") or not ancestors:
            continue
        parent, parent_detail = ancestors[-1]
        if parent not in _BOUNDED_CONSUMERS:
            findings.append(("single_partition_funnel", f"feeds: {parent_detail[:90]}"))

    if "CartesianProduct" in names:
        findings.append(("cartesian_product", "CartesianProduct in plan"))

    if "BatchEvalPython" in names:
        findings.append(
            ("python_row_udf", "row-at-a-time Python UDF; use pandas_udf/mapInPandas")
        )

    spooled = {
        fn
        for name, detail, _ in nodes
        if name == "ObjectHashAggregate"
        for fn in _SPOOL_FN.findall(detail)
    }
    for fn in sorted(spooled):
        findings.append(
            (
                "value_spool",
                f"ObjectHashAggregate over {fn}(...): per-group buffer holds "
                "every row (collect_*) or every distinct value (percentile) "
                "— prove the group/domain bounded or rewrite "
                "(OPTIMIZATION_r11.md §3.4 two-level rank rule)",
            )
        )

    # A Python stage is safe only if a materialization boundary sits
    # between it and the range exchange above it (the sampling pass then
    # reads materialized blocks instead of re-running the chain). A
    # checkpoint scan below the Python node does NOT protect it, and a
    # boundary on a sibling branch protects only that branch, hence the
    # ancestor path. One finding per exposed range exchange.
    resampled: dict[tuple, str] = {}
    for name, _, ancestors in nodes:
        if name not in PYTHON_NODES:
            continue
        for i in range(len(ancestors) - 1, -1, -1):
            above, above_detail = ancestors[i]
            if above in _BOUNDARIES:
                if above_detail.startswith("Exchange rangepartitioning"):
                    resampled.setdefault(ancestors[: i + 1], name)
                break
    for name in resampled.values():
        findings.append(
            (
                "sort_resample",
                f"{name} below Exchange rangepartitioning with "
                "no shuffle boundary between: the sort's sampling "
                "pass re-executes the Python chain — localCheckpoint "
                "the result table before the sort "
                "(OPTIMIZATION_r11.md §3.14)",
            )
        )

    return findings


# Exact-percentile and whole-row collectors that run as ObjectHashAggregate
# with per-group object buffers: collect_* hold every row; percentile/
# median hold a value->count map (bounded by the distinct domain, = rows
# on continuous doubles); mode holds the same map shape.
# `percentile_approx`/`approx_percentile` fall out naturally (the
# trailing `_approx` / leading `_` breaks the match).
_SPOOL_FN = re.compile(
    r"(?<![_a-zA-Z])(collect_list|collect_set|percentile|median|mode)(?=\s*\()"
)


# Python-boundary stages for the sort_resample walk. BatchEvalPython is
# included (it would double the python_row_udf damage); the Arrow forms
# are the ones the registry actually uses.
PYTHON_NODES = {
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "BatchEvalPython",
}

# Materialization boundaries the sampling pass can read instead of
# re-executing: any shuffle exchange (AQE runs it as its own query stage)
# or a cached subtree (the sampling pass reads the cache, not the chain;
# ADVICE r11). A BroadcastExchange is NOT a boundary, executed or not:
# it doesn't materialize its child for the probe side.
_BOUNDARIES = {"Exchange", "InMemoryTableScan"}


# Matches every INTERPOLATED quantile form either engine offers —
# `percentile(...)`, SQL-standard `percentile_cont(...)`, DuckDB
# `quantile_cont(...)`, and `median(...)` (= the 0.5 interpolated
# quantile on both engines) — with optional space before the paren.
# Exact element-pick (`percentile_disc`, DuckDB `quantile_disc`/
# `quantile`) and sketch (`percentile_approx`, `approx_quantile`) forms
# are boundary-safe and fall out of the alternation naturally (the
# trailing `_disc`/`_approx` makes `\s*\(` fail). Tripwire semantics:
# prose and commented-out code CAN match — a false positive costs one
# justified allowlist entry, while a false negative recreates the
# agg_lorenz_curve_binned r06 red, so the regex errs loud.
_INTERP_PCTL = re.compile(
    r"(?<![_a-zA-Z])(?:percentile_cont|percentile|quantile_cont|median)\s*\("
)


def interpolated_percentile_sites(queries_dir: str) -> list[tuple[str, str]]:
    """Source-level lint: every INTERPOLATED-percentile call site in the
    query modules, as ``(filename, stripped source line)`` pairs.

    Why this exists (CORRECTNESS_r06's one red, ``agg_lorenz_curve_binned``):
    comparing exact integer-lattice data against an interpolated float
    percentile boundary (``value > bound``) makes query output depend on
    float BIT-PARITY between engine builds — when a boundary lands exactly
    on a lattice value, a one-ulp difference between two engines' (or two
    versions') interpolation arithmetic flips every tied row's bin. Exact
    alternatives: the integer equi-depth rank rule on a value histogram
    (agg_lorenz_curve_binned), ``percentile_disc`` element picks
    (events_rfm_scores), or all-integer interpolation when q*(n-1) has a
    small denominator (clean_winsorize's 20ths-of-cents bounds).

    Interpolated percentiles remain acceptable ONLY as rounded VALUE
    OUTPUT (never compared against data): there a one-ulp wobble matters
    only if the true value sits within an ulp of a round() boundary, and
    on an integer lattice the interpolated value's fractional part is
    k/denom(g) — far from any 0.5e-6 boundary for small denominators.
    tests/test_scale_audit.py pins the allowlist of such sites; any new
    call site fails the suite until it is justified there or rewritten.
    """
    import os

    sites: list[tuple[str, str]] = []
    for fname in sorted(os.listdir(queries_dir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(queries_dir, fname)) as fh:
            for line in fh:
                # scan the RAW line — no comment stripping (a '#' inside
                # a SQL string literal would hide a call after it) and
                # no prose/disc special-casing (the regex handles both)
                if _INTERP_PCTL.search(line):
                    sites.append((fname, line.strip()))
    return sites


def persist_call_sites(package_dir: str) -> list[tuple[str, str]]:
    """Source-level lint: every ``.persist(...)`` CALL site under the
    package, as ``(relative path, source line)`` pairs — found by walking
    the AST (ADVICE r08: the former regex-over-lines matched the string
    '.persist(' inside docstrings and comments, so documenting the
    tradeoff anywhere in the package would have failed the lint).

    Why this exists (round-8 measurement, operators/dedup.py:
    lsh_candidate_pairs): DataFrame ``persist`` builds compressed
    columnar CachedBatches — measured 2-4x the cost of raw
    ``localCheckpoint`` blocks on the write-once-read-twice reuse
    intermediates this repo materializes (text_tfidf_topk 0.81 -> 1.80 s
    at sf0.1) — and registers the plan in the session CacheManager,
    which (a) substitutes possibly-AQE-materialized subtrees into every
    later query of the session, making plan shapes order-dependent, and
    (b) cannot be unpersisted from a lazily-returned DataFrame, leaking
    across a long driver session. tests/test_scale_audit.py's allowlist
    is the SANCTIONED escape: a new call site fails the suite until it
    is measured and justified there (cluster deployments that need
    executor-loss recoverability should instead set a reliable
    checkpoint dir at the session level — operators/dedup.py tradeoff
    note).
    """
    import ast
    import os

    sites: list[tuple[str, str]] = []
    for root, _dirs, files in os.walk(package_dir):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, package_dir)
            with open(path) as fh:
                src = fh.read()
            lines = src.splitlines()
            for node in ast.walk(ast.parse(src, filename=path)):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "persist"
                ):
                    sites.append((rel, lines[node.lineno - 1].strip()))
    return sites
