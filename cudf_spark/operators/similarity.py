"""Vector similarity search over embedding columns (SURVEY §2.11 last row —
not in cudf proper, cuML territory; first-class here per the north star).

- ``cosine_topk``  — brute-force exact top-k: broadcast the query vector,
  one scan, TakeOrderedAndProject. The correctness baseline; O(N·d).
- ``lsh_bucket`` / ``ann_lsh_topk`` — random-hyperplane LSH: signs of d·p_j
  pack into a bucket id, candidates = query's bucket, exact cosine within.
  At 100 TB: bucket id is a plain column → partition/cluster by it and a
  query touches one partition instead of the full corpus (the scale path;
  an IVF variant would swap hyperplanes for trained centroids).

All arithmetic is integer or left-to-right double folds so results are
engine-reproducible (the DuckDB oracle mirrors the same fold order via
list_transform + list_sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product of two double arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    a, b = _dvec(a), _dvec(b)
    # nullif guard: a zero-norm (all-zero / degenerate) vector yields a
    # NULL cosine instead of DIVIDE_BY_ZERO under Spark 4's default ANSI
    # mode — one junk embedding in a 100 TB corpus must rank last (desc
    # ordering puts NULLs last), not abort the job
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def _require_one_row_query(query: DataFrame, what: str) -> None:
    """Single-query operators silently interleave rankings against
    DIFFERENT query vectors when handed a multi-row frame (duplicate
    corpus ids, no query attribution) — the same precondition
    pq_adc_topk always guarded; use cosine_topk_batch for query sets.

    ZERO rows is allowed (r11 fuzz finding, seeds 8/9: an empty
    embeddings table made the registry's pick-row-0 query frames empty
    and the `!= 1` guard aborted the job): every consumer binds the
    query via a broadcast join/crossJoin, so an empty query frame
    degrades naturally to an empty top-k — the right answer to 'nearest
    neighbors of no vector'."""
    if query.limit(2).count() > 1:
        raise ValueError(
            f"{what}: query must be exactly one row — use "
            "cosine_topk_batch-style fan-out for multi-query scoring"
        )


def cosine_topk(
    corpus: DataFrame, query: DataFrame, *, vec_col: str = "embedding", id_col: str = "vec_id", k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against a one-row query DataFrame (broadcast)."""
    _require_one_row_query(query, "cosine_topk")
    q = F.broadcast(query.select(F.col(vec_col).alias("__qv")))
    sim = F.round(cosine(F.col(vec_col), F.col("__qv")), 6)
    return (
        corpus.crossJoin(q)
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for EVERY row of a small ``queries`` table in
    one pass: broadcast the query set, score corpus×queries, keep k per
    query via a window ranked on the ROUNDED cosine (ties break on corpus
    id, so the k-boundary is engine-deterministic).

    100 TB shape: the corpus is scanned ONCE for the whole query batch
    (Q queries cost one scan, not Q scans); the only shuffle is the
    per-query top-k window, keyed on query_id — Q·k rows after the
    rank filter. Queries must be broadcast-small (a serving batch, not a
    second corpus — for corpus×corpus use the LSH/IVF paths)."""
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(qid_col).alias("__qid"), F.col(vec_col).alias("__qv")
        )
    )
    sim = F.round(cosine(F.col(vec_col), F.col("__qv")), 6)
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        corpus.crossJoin(q)
        .select(F.col("__qid").alias(qid_col), F.col(id_col), sim.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def hyperplane(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j (integer-derived, engine-portable)."""
    return [((j * 73856093 + i * 19349663) % 2001 - 1000) / 1000.0 for i in range(1, dim + 1)]


def lsh_bucket(vec: Column, *, n_planes: int = 4, dim: int = 64) -> Column:
    """Pack sign(vec · plane_j) bits into a bucket id."""
    v = _dvec(vec)
    bucket = F.lit(0)
    for j in range(n_planes):
        plane = F.array(*[F.lit(x) for x in hyperplane(j, dim)])
        bucket = bucket + F.when(dot(v, plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach each row's nearest-centroid id (the IVF cell) — shuffle-free.

    The centroid set collapses to ONE array row (``collect_list`` over a
    table that is tiny by construction — an IVF index has K ≪ N centroids),
    broadcast onto every partition; the argmax is a per-row left-to-right
    fold over that array. No shuffle of the corpus, no window: at 100 TB
    this is a map-only pass, and ``cell`` then becomes the partition column
    the probe step prunes on. Ties break to the lowest centroid id (the
    fold keeps the first maximum of the cid-sorted list).

    Mirrors the serving half of cuML/FAISS IVF-Flat (the reference's cuVS
    neighbors path); training the centroids (Lloyd iterations) is an
    offline job that produces the small `centroids` table consumed here.
    """
    cents = centroids.select(
        F.struct(
            F.col(cid_col).alias("cid"),
            _dvec(F.col(cvec_col)).alias("cvec"),
            norm(_dvec(F.col(cvec_col))).alias("cnorm"),
        ).alias("c")
    ).agg(F.collect_list("c").alias("__cents"))
    # Bind the row's double vector and norm ONCE (a single-element transform
    # introduces the let-binding Catalyst lacks); per centroid the argmax
    # then costs one dot fold + one divide. cos is dot/(row_norm*cnorm) —
    # the same double ops, in the same order, as the oracle's cosine.
    env = F.struct(
        _dvec(F.col(vec_col)).alias("dv"),
        norm(_dvec(F.col(vec_col))).alias("vn"),
        F.col("__cents").alias("cents"),
    )
    best = F.element_at(
        F.transform(
            F.array(env),
            lambda e: F.array_max(
                F.transform(
                    e["cents"],
                    lambda c: F.struct(
                        (
                            dot(e["dv"], c["cvec"])
                            / F.nullif(e["vn"] * c["cnorm"], F.lit(0.0))
                        ).alias("cos"),
                        (-c["cid"]).alias("ncid"),  # max(-cid) = lowest cid on ties
                    ),
                )
            ),
        ),
        1,
    )
    return corpus.crossJoin(F.broadcast(cents)).withColumn(cell_col, -best["ncid"]).drop("__cents")


def ann_ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: exact cosine only inside the ``nprobe`` cells nearest the query.

    Build: :func:`ivf_assign` tags every corpus row with its cell (map-only).
    Probe: rank centroids against the (broadcast) query — a K-row problem —
    then semi-join the corpus on the probed cell ids. A 100 TB corpus
    partitioned by ``cell`` scans nprobe/K of its data per query.
    """
    _require_one_row_query(query, "ann_ivf_topk")
    cells = ivf_assign(corpus, centroids, vec_col=vec_col)
    q = F.broadcast(query.select(F.col(vec_col).alias("__qv")))
    probe = (
        centroids.crossJoin(q)
        .select(F.col("cid").alias("__pcell"), cosine(F.col("cvec"), F.col("__qv")).alias("__pcos"))
        .orderBy(F.desc("__pcos"), "__pcell")
        .limit(nprobe)
        .select("__pcell")
    )
    sim = F.round(cosine(F.col(vec_col), F.col("__qv")), 6)
    return (
        cells.join(F.broadcast(probe), F.col("cell") == F.col("__pcell"), "left_semi")
        .crossJoin(q)
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def ann_lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: exact cosine within the query's LSH bucket only."""
    _require_one_row_query(query, "ann_lsh_topk")
    bucketed = corpus.withColumn("__bucket", lsh_bucket(F.col(vec_col), n_planes=n_planes, dim=dim))
    q = F.broadcast(
        query.select(
            F.col(vec_col).alias("__qv"),
            lsh_bucket(F.col(vec_col), n_planes=n_planes, dim=dim).alias("__qbucket"),
        )
    )
    sim = F.round(cosine(F.col(vec_col), F.col("__qv")), 6)
    return (
        bucketed.join(q, bucketed["__bucket"] == q["__qbucket"])
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.9,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public literature): cluster embeddings, then drop
    near-identical rows *within* each cluster.

    1. Cluster: every row gets its nearest-centroid cell via
       :func:`ivf_assign` (map-only broadcast fold; the centroid table is
       an offline k-means artifact, or a seeded corpus sample standing in
       for one).
    2. Within-cell keep-first: a row is a semantic duplicate iff some
       LOWER-id row in the same cell has cosine >= ``tau`` (the same keep
       rule as exact/minhash dedup, so pipelines compose); ``dup_of`` is
       the lowest-id qualifying witness.

    100 TB shape: the pairwise term is Σ|cell|² — run with K ∝ N centroids
    so the expected cell size stays constant and the join is linear in
    practice; the only corpus shuffle is the cell-keyed self-join.
    ``max_cell_size`` drops degenerate cells outright (the analogue of
    ``lsh_candidate_pairs.max_bucket_size``): rows in an over-full cell
    are REMOVED FROM THE OUTPUT rather than exploding quadratically —
    callers wanting them kept un-deduped must re-union the dropped ids
    (anti-join the input on the result) themselves.

    Plan shape: ONE left self-join with the inequality + cosine threshold
    as residual conditions, aggregated straight to (id, cell, dup_of) —
    unmatched rows survive as is_dup=false without a second join back.
    The cell table is lazily local-checkpointed so the per-row K-centroid
    argmax fold runs once, not once per join branch (same leak-free
    tradeoff as ``lsh_candidate_pairs`` — see operators/dedup.py:103 for
    the executor-loss discussion).

    Reference parity: the reference has no semantic dedup (cuML/cuVS
    territory); first-class here per the training-pipeline north star.

    An EMPTY centroid table yields null cells for every row (the
    broadcast-fold argmax has nothing to fold over) rather than an
    error — callers derive centroids from the corpus, so emptiness means
    an upstream bug; validate centroid counts before calling when the
    derivation can legitimately produce zero rows.
    """
    from pyspark.sql import Window

    cells = ivf_assign(corpus, centroids, vec_col=vec_col)
    if max_cell_size is not None:
        n = F.count(F.lit(1)).over(Window.partitionBy("cell"))
        cells = cells.withColumn("__celln", n).filter(
            F.col("__celln") <= max_cell_size
        ).drop("__celln")
    # precompute each row's norm ONCE before the pair join (the
    # ivf_assign let-binding trick): inlining cosine() in the join
    # condition re-ran BOTH norm folds per candidate pair — ~3x the
    # necessary O(d) work at tau-scale cell sizes
    cells = cells.withColumn(
        "__nrm", norm(_dvec(F.col(vec_col)))
    ).localCheckpoint(eager=False)
    a = cells.select(
        F.col(id_col).alias("__id_a"), F.col("cell").alias("__cell_a"),
        F.col(vec_col).alias("__va"), F.col("__nrm").alias("__na"),
    )
    b = cells.select(
        F.col(id_col).alias("__id_b"), F.col("cell").alias("__cell_b"),
        F.col(vec_col).alias("__vb"), F.col("__nrm").alias("__nb"),
    )
    pair_cos = dot(_dvec(F.col("__va")), _dvec(F.col("__vb"))) / F.nullif(
        F.col("__na") * F.col("__nb"), F.lit(0.0)
    )
    cond = (
        (F.col("__cell_a") == F.col("__cell_b"))
        & (F.col("__id_b") < F.col("__id_a"))
        & (pair_cos >= tau)
    )
    return (
        a.join(b, cond, "left")
        .groupBy(F.col("__id_a").alias(id_col), F.col("__cell_a").alias("cell"))
        .agg(F.min("__id_b").alias("dup_of"))
        .select(
            id_col,
            "cell",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )


def l2sq(a: Column, b: Column) -> Column:
    """Left-to-right fold squared-L2 distance of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(
    df: DataFrame, *, n_subs: int, sub_dim: int, vec_col: str, id_col: str
) -> DataFrame:
    """(id, m, sub): each vector sliced into ``n_subs`` double subvectors."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _dvec(F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim)).alias("sub"),
            )
            for m in range(n_subs)
        ]
    )
    return df.select(F.col(id_col).alias("id"), F.explode(subs).alias("s")).select(
        "id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def pq_codebook(
    corpus: DataFrame,
    *,
    dim: int,
    n_subs: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 53,
) -> DataFrame:
    """Deterministic product-quantization codebook: ``(m, c, cent)`` with
    ``n_subs × k`` rows — the ``k`` corpus vectors with the lowest seeded
    hash of their id (a reproducible pseudo-random sample), each sliced
    into per-subspace centroids. Swap in per-subspace Lloyd refinement
    for production recall; sampling-init keeps the whole build one
    TakeOrdered + one projection and — crucially for the oracle —
    replayable in SQL.
    """
    from pyspark.sql import Window

    from cudf_spark.functions.hashing import hash60

    sub_dim = dim // n_subs
    if sub_dim * n_subs != dim:
        raise ValueError(f"pq_codebook: dim {dim} not divisible by n_subs {n_subs}")
    hk = hash60(F.col(id_col).cast("string"), seed=seed)
    seeds = corpus.select(id_col, vec_col).orderBy(hk, F.col(id_col)).limit(k)
    # k rows by construction — the single-partition window is k-bounded
    w = Window.orderBy(hk, F.col(id_col))
    seeds = seeds.withColumn("c", (F.row_number().over(w) - 1).cast("int"))
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _dvec(F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim)).alias("cent"),
            )
            for m in range(n_subs)
        ]
    )
    return seeds.select("c", F.explode(subs).alias("s")).select(
        F.col("s.m").alias("m"), "c", F.col("s.cent").alias("cent")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    n_subs: int,
    sub_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ codes ``(id, m, c, d)``: per subspace, the nearest centroid
    (squared-L2, ties to the lower code) and its distance.

    100 TB shape: the codebook (``n_subs × k`` rows) broadcasts; encoding
    is explode → broadcast join → per-(id, m) argmin — map-side work plus
    one keyed aggregation, no all-pairs term. The codes table is the
    compressed index: ``n_subs`` bytes per vector instead of
    ``4 × dim`` (64× for 64-dim float32 at the defaults), which is what
    makes billion-vector serving fit in executor memory.
    """
    subs = _pq_subvectors(
        corpus, n_subs=n_subs, sub_dim=sub_dim, vec_col=vec_col, id_col=id_col
    )
    d = subs.join(F.broadcast(codebook), "m").withColumn(
        "d", l2sq(F.col("sub"), F.col("cent"))
    )
    best = d.groupBy("id", "m").agg(F.min(F.struct("d", "c")).alias("b"))
    return best.select(
        F.col("id").alias(id_col), "m", F.col("b.c").alias("c"), F.col("b.d").alias("d")
    )


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    *,
    dim: int,
    n_subs: int,
    k_codes: int,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 53,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays exact; every
    corpus vector is scored as the sum of its per-subspace code's
    distance to the query subvector (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public
    literature). Returns ``(vec_id, code, adc_dist)``, ascending.

    The per-query work is one ``n_subs × k_codes`` distance table
    (broadcast) joined to the codes — at serving scale the codes table is
    precomputed/persisted and each query touches only it, never the raw
    vectors.
    """
    # > 1, not != 1: a zero-row query degrades to an empty result through
    # the plan (same contract as _require_one_row_query)
    if query.limit(2).count() > 1:
        raise ValueError(
            "pq_adc_topk: query must be exactly one row — multiple query "
            "rows would sum their per-subspace distance tables into one "
            "meaningless ADC score (use cosine_topk_batch-style fan-out "
            "per query instead)"
        )
    sub_dim = dim // n_subs
    cb = pq_codebook(
        corpus, dim=dim, n_subs=n_subs, k=k_codes, vec_col=vec_col, id_col=id_col, seed=seed
    )
    codes = pq_encode(
        corpus, cb, n_subs=n_subs, sub_dim=sub_dim, vec_col=vec_col, id_col=id_col
    )
    # the query's id is never used downstream — synthesize one instead
    # of requiring the caller's one-row vector frame to carry id_col
    # (the vector-only query shape cosine_topk/ann_*_topk accept)
    qsubs = _pq_subvectors(
        query.select(F.lit(0).alias("__qid"), F.col(vec_col)),
        n_subs=n_subs,
        sub_dim=sub_dim,
        vec_col=vec_col,
        id_col="__qid",
    )
    dq = qsubs.join(F.broadcast(cb), "m").select(
        "m", "c", l2sq(F.col("sub"), F.col("cent")).alias("qd")
    )
    scored = (
        codes.join(F.broadcast(dq), ["m", "c"])
        .groupBy(id_col)
        .agg(
            F.round(F.sum("qd"), 6).alias("adc_dist"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "c"))),
                    lambda s: s["c"].cast("string"),
                ),
                "-",
            ).alias("code"),
        )
    )
    return scored.select(id_col, "code", "adc_dist").orderBy("adc_dist", id_col).limit(k)
