"""Connected components over candidate-pair edges — the cluster-resolution
step between LSH pair generation (operators/dedup.py) and canonical-doc
selection that a production dedup pipeline needs: near-dup PAIRS chain
(A~B, B~C) into CLUSTERS {A,B,C}, and one canonical member per cluster
survives.

The reference exposes pairwise similarity (nvtext/minhash.hpp,
nvtext/jaccard.hpp); clustering the pair graph is the standard downstream
step (the cudf-based NeMo-Curator pipeline does exactly this with a GPU
connected-components pass — public literature).

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round, a node adopts the minimum label among itself and
its neighbors; the component minimum floods outward one hop per round, so
rounds == eccentricity of the minimum node (tiny for near-dup clusters,
which are dense blobs — NOT long chains). Each round is two keyed
shuffles (edge join + min agg) — no single-partition stage, no pairwise
blowup beyond the edge list itself.

Iterative Spark jobs MUST truncate lineage (each round's plan otherwise
nests the previous round's): each round's labels are marked with a lazy
``localCheckpoint(eager=False)``, and the round's convergence ``count()``
is the one job that materializes them, so truncation costs no extra job.
Same executor-loss caveat as lsh_candidate_pairs; job retry is the
recovery path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    directed: bool = False,
    checkpoint: bool = False,
) -> DataFrame:
    """Distinct co-occurrence edges ``(u, v)`` from a (group, item)
    relation: items sharing a group link pairwise. The undirected form
    keeps ``u < v``; ``directed=True`` keeps both orientations (``!=``).
    ``checkpoint=True`` lazily truncates lineage — required when an
    ITERATIVE consumer (k-core peel, BFS, label propagation) would
    otherwise nest the edge build into every round's plan (the CC
    operator's lesson; deliberate lineage truncation, unlike the corpus
    persist sites). ONE definition for the six graph queries that each
    hand-rolled this ~10-line block before round 8.
    """
    pp = df.select(group_col, item_col).distinct()
    a, b = pp.alias("a"), pp.alias("b")
    e = (
        a.join(b, group_col)
        .filter(F.col(f"a.{item_col}") < F.col(f"b.{item_col}"))
        .select(
            F.col(f"a.{item_col}").alias("u"),
            F.col(f"b.{item_col}").alias("v"),
        )
        .distinct()
    )
    if directed:
        # mirror AFTER the distinct: dedup shuffles half the rows of the
        # former `!=` self-join, and the union is shuffle-free (round-9
        # constant-factor pass; identical edge set either way).
        e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return e.localCheckpoint(eager=False) if checkpoint else e


def degree_oriented_edges(eu: DataFrame) -> DataFrame:
    """(src, dst): every undirected edge of ``eu`` (u, v) oriented from
    its lower endpoint under the (degree, id) total order — out-degrees
    are then bounded ~sqrt(m) (Suri & Vassilvitskii WWW'11), the bound
    that makes triangle/wedge work hub-safe at any scale. ``eu`` should
    be checkpointed by the caller (it feeds the degree branch AND the
    orient join). Result is lazily checkpointed: every consumer
    (neighbor-list build + per-edge probe) re-joins it."""
    deg = (
        eu.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    rank = lambda d, n: F.struct(F.col(d).alias("d"), F.col(n).alias("node"))  # noqa: E731
    lt = rank("du", "u") < rank("dv", "v")
    return (
        eu.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.when(lt, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lt, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=False)
    )


def triangle_witnesses(e: DataFrame) -> DataFrame:
    """(src, dst, w): for each degree-oriented edge, the array of third
    vertices closing a triangle over it — the edge-iterator intersection
    form (Latapy 2008 / compact-forward): w = N_out(src) ∩ N_out(dst),
    so every triangle a<b<c (by the orientation's rank) is witnessed
    exactly ONCE, at edge (a, b) with c in w. Replaces the wedge
    self-join + closing semi-join: the neighbor-list table is |V| rows
    with arrays bounded ~sqrt(m) by the orientation, joined into the
    |E|-row edge list (AQE broadcasts it at fixture scale, keyed SMJ at
    100 TB) and intersected map-side — nothing the size of the wedge
    set is ever materialized or shuffled. Edges with no witness are
    filtered out — so both neighbor-list joins are INNER: an edge whose
    endpoint has no out-neighbors can never survive the size filter
    (ADVICE r10: the former left joins + coalesce-to-empty were dead
    weight; inner joins also let the optimizer prune null-extension
    rows before the intersect)."""
    nbrs = e.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("ns"))
    return (
        e.join(nbrs.withColumnRenamed("src", "u_key"), e.src == F.col("u_key"))
        .withColumnRenamed("ns", "ns_u")
        .drop("u_key")
        .join(nbrs.withColumnRenamed("src", "v_key"), e.dst == F.col("v_key"))
        .withColumnRenamed("ns", "ns_v")
        .drop("v_key")
        .select(
            "src",
            "dst",
            F.array_intersect("ns_u", "ns_v").alias("w"),
        )
        .filter(F.size("w") > 0)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id reachable through the pair graph.

    Raises after ``max_iter`` non-converged rounds rather than returning
    a silently wrong clustering (a pathological long-chain graph needs
    O(diameter) rounds; raise the cap, or pre-contract chains, for such
    inputs — near-dup graphs converge in a handful).
    """
    und = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    und = und.localCheckpoint(eager=False)  # edge list reused every round

    # Round-1 closed form (same trick as LPA's round 0): the starting
    # labels ARE the node ids, so the first propagation round's
    # labels-join degenerates to min over the raw neighbor ids — one
    # groupBy over the edge list seeds least(node, min(neighbors))
    # directly, replacing the identity-label build (distinct) plus the
    # first round's join+groupBy. Checkpointed because the next round
    # reads it twice (propagation join + the union's self rows).
    labels = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.first("u")).alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter - 1):
        # One-aggregate round: the self row rides the propagation
        # aggregate via a union instead of a second |V|-sized merge join
        # — min(old ∪ neighbor labels) == least(old, coalesce(nbr_min,
        # old)) because the old label is just one more candidate in the
        # min, and the slabel tag (non-null only on the one self row per
        # node) recovers the old label for the convergence test. One
        # exchange + one join fewer per round than the former
        # join→groupBy→join shape; the union itself is shuffle-free.
        merged = (
            und.join(labels, und.v == labels.node)
            .select(und.u.alias("node"), "label")
            .unionByName(
                labels.select("node", "label", F.col("label").alias("slabel")),
                allowMissingColumns=True,
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("slabel").alias("__old"))
            .select(
                "node",
                "label",
                (F.col("label") < F.col("__old")).alias("__chg"),
            )
            # lazy checkpoint + count: ONE job both materializes the round's
            # blocks (truncating the iterative lineage) and measures
            # convergence, instead of an eager-materialize job plus a count
            # job per round.
            .localCheckpoint(eager=False)
        )
        n_changed = merged.filter(F.col("__chg")).count()
        labels = merged.drop("__chg")
        if n_changed == 0:
            return labels.withColumnRenamed("label", "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the graph has a long chain — raise max_iter, or pre-contract "
        "chains"
    )


PR_FP_SCALE = 10**15  # fixed-point unit: 1.0 rank mass == 10^15 q-units


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 17,
    damping_den: int = 20,
    iters: int = 5,
) -> DataFrame:
    """PageRank with the ENTIRE iteration in scaled-integer arithmetic:
    ``(node, pr_q)`` where ``pr_q`` is rank mass in units of 1e-15.

    Why fixed point: a float PageRank's per-node contribution sums fold
    in partition order, so two engines (or two runs with different
    partitionings) can differ in the last ulp — and any quantized output
    (``floor(pr*1e7)``) sits one ulp from flipping a digit on knife-edge
    values. Integer addition is associative and commutative, so BIGINT
    sums are bit-identical under ANY fold order — the result is
    deterministic across engines, partition counts, and scale, with no
    sort-fold (a ``collect_list`` per node is bounded by in-degree,
    which is unbounded on hot nodes at 100 TB; this keeps the plain
    keyed-sum shape).

    Per round (all exact integer ops, truncating ``div`` on both
    engines): ``c = pr_q div deg``; ``in_mass = sum(c)``;
    ``pr_q' = ((SCALE - SCALE*d) div N) + (d_num * in_mass) div d_den``.
    Truncation loses < deg·1e-15 mass per node per round — far below a
    1e-7 output quantum — and identically on both engines, which is the
    point. Overflow-safe: total mass ≤ 1e15, so ``17 * in_mass`` stays
    under 2^63.

    In a curation pipeline this is the link-graph quality prior. A fixed
    iteration count, not convergence detection, keeps the job a static
    DAG the oracle can unroll. Per round: one keyed join (edge × rank on
    src) + one keyed groupBy (sum of contributions on dst), with a zero
    row unioned per node so dangling-in-degree nodes stay in the
    aggregate without a |V|⋈|V| join. Lineage is truncated per round; the
    edge-degree join is precomputed once. Dangling nodes (outdeg 0)
    contribute no mass; symmetrize the edge list when conservation
    matters.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr_q", F.lit(0).cast("long"))
    base_q = (PR_FP_SCALE - PR_FP_SCALE * damping_num // damping_den) // n
    ranks = nodes.withColumn("pr_q", F.lit(PR_FP_SCALE // n).cast("long"))
    for _ in range(iters):
        # One-aggregate round: the unioned 0 row is
        # BIT-exact here — integer sums are fold-order independent and
        # sum(c ∪ {0}) == coalesce(sum(c), 0) identically.
        ranks = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), F.expr("pr_q div deg").alias("c"))
            .unionByName(nodes.select("node", F.lit(0).cast("long").alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
            .select(
                "node",
                (
                    F.lit(base_q).cast("long")
                    + F.expr(
                        f"({damping_num} * in_mass) div {damping_den}"
                    )
                ).alias("pr_q"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks
