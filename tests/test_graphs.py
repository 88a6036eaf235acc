"""Connected-components operator: planted topologies vs known clusterings,
and the non-convergence guard."""

from __future__ import annotations

import pytest

from cudf_spark.operators.graphs import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.component for r in connected_components(df, **kw).collect()
    }


def test_disjoint_clusters_and_star(spark):
    edges = [
        (1, 2), (2, 3), (3, 1),          # triangle
        (10, 11), (10, 12), (10, 13),     # star centered low
        (20, 21),                         # pair
    ]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_chain_propagates_min_across_hops(spark):
    # path 5-4-3-2-1-0: min label must flood the full diameter
    edges = [(i, i + 1) for i in range(5)]
    got = _cc(spark, edges)
    assert got == {i: 0 for i in range(6)}


def test_direction_irrelevant(spark):
    # edges given high->low and low->high mixed; undirected closure
    got = _cc(spark, [(7, 3), (3, 9), (9, 5)])
    assert got == {3: 3, 5: 3, 7: 3, 9: 3}


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(8)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, edges, max_iter=2)


def test_convergence_round_count_boundary(spark):
    # Pins the one-aggregate round's convergence semantics (r11 §3.11):
    # on the path 1-2-3-4 the closed-form round seeds {1:1, 2:1, 3:2,
    # 4:3}; the loop then needs exactly 3 rounds (n3+n4 change, n4
    # changes, no change -> converge), so max_iter=4 must succeed and
    # max_iter=3 must raise. A __chg that fires late (label <= old) or
    # reads the wrong side of the fold moves this boundary.
    edges = [(1, 2), (2, 3), (3, 4)]
    assert _cc(spark, edges, max_iter=4) == {1: 1, 2: 1, 3: 1, 4: 1}
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, edges, max_iter=3)


def _float_pagerank(edges, iters, damping=0.85):
    """Plain dict-based float power iteration (independent implementation)."""
    nodes = sorted({n for e in edges for n in e})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    pr = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iters):
        nxt = {}
        for n in nodes:
            in_mass = sum(pr[s] / outdeg[s] for s, d in edges if d == n)
            nxt[n] = (1 - damping) / len(nodes) + damping * in_mass
        pr = nxt
    return pr


def _pr_q(df, iters=5):
    from cudf_spark.operators.graphs import pagerank_fixed_point

    return {r["node"]: r["pr_q"] for r in pagerank_fixed_point(df, iters=iters).collect()}


def test_pagerank_matches_pure_python(spark):
    """5-iteration fixed-point PageRank on a small directed graph equals a
    plain float power iteration within quantization error, including a
    node with no in-links (gets base rank only — the unioned zero-row
    path that replaced the per-round left join)."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {n: q / 1e15 for n, q in _pr_q(df).items()}
    pr = _float_pagerank(edges, iters=5)
    assert set(got) == set(pr)
    for n in pr:
        assert abs(got[n] - pr[n]) < 1e-9, (n, got[n], pr[n])


def test_pagerank_fixed_point_tracks_float(spark):
    """The scaled-integer iteration stays within quantization error of a
    float PageRank (truncating div loses < deg·1e-15 per node per round),
    and is bit-stable across repartitionings — the property a float
    iteration cannot give."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fl = _float_pagerank(edges, iters=5)
    fp = _pr_q(df)
    assert set(fl) == set(fp)
    for n in fl:
        assert abs(fl[n] - fp[n] / 1e15) < 1e-9, (n, fl[n], fp[n])
    # determinism under a different partitioning: identical pr_q bits
    assert _pr_q(df.repartition(7)) == fp


def test_pagerank_fixed_point_empty(spark):
    from cudf_spark.operators.graphs import pagerank_fixed_point

    df = spark.createDataFrame([], "src string, dst string")
    assert pagerank_fixed_point(df).count() == 0
