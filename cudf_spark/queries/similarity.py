"""Embedding similarity-search coverage over the ``embeddings`` table —
brute-force exact top-k (the baseline) and the LSH-bucketed scale path
(SURVEY §2.11; north-star ANN operator).

Float discipline: embeddings are float32; both engines widen to double and
fold left-to-right (F.aggregate ↔ list_sum∘list_transform), so cosines are
bit-identical before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.functions.hashing import hash60_sql
from cudf_spark.operators.similarity import ann_lsh_topk, cosine, cosine_topk, hyperplane
from cudf_spark.queries.registry import register

DIM = 64

SQL_DOT = (
    "list_sum(list_transform(generate_series(1, {dim}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
SQL_NORM = (
    "sqrt(list_sum(list_transform(generate_series(1, {dim}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


def _sql_cosine(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"({SQL_DOT.format(a=a, b=b, dim=dim)} / "
        f"({SQL_NORM.format(a=a, dim=dim)} * {SQL_NORM.format(a=b, dim=dim)}))"
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, round({_sql_cosine('e.embedding', 'q.qv')}, 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
    doc="brute-force exact cosine top-k: broadcast query vector, one scan, "
    "TakeOrderedAndProject — the ANN correctness baseline.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return cosine_topk(e.filter(F.col("vec_id") != 0), q, k=10)


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH planes AS (
        SELECT j, list_transform(generate_series(1, {DIM}),
               i -> CAST((j * 73856093 + i * 19349663) % 2001 - 1000 AS DOUBLE) / 1000.0) AS p
        FROM (SELECT unnest(generate_series(0, 3)) AS j)
    ), bucketed AS (
        SELECT e.vec_id, e.embedding,
               CAST(sum(CASE WHEN {SQL_DOT.format(a='e.embedding', b='planes.p', dim=DIM)} > 0
                        THEN 1 << j ELSE 0 END) AS INT) AS bucket
        FROM embeddings e, planes
        GROUP BY e.vec_id, e.embedding
    ), q AS (
        SELECT embedding AS qv, bucket AS qbucket FROM bucketed WHERE vec_id = 0
    )
    SELECT b.vec_id, round({_sql_cosine('b.embedding', 'q.qv')}, 6) AS cosine
    FROM bucketed b, q
    WHERE b.bucket = q.qbucket
    ORDER BY cosine DESC, b.vec_id
    LIMIT 5
    """,
    doc="LSH-bucketed ANN: 4 deterministic random hyperplanes -> 16 "
    "buckets; exact cosine only within the query's bucket. At 100 TB the "
    "bucket id becomes a partition column so a query scans 1/16th of the "
    "corpus (IVF-style with trained centroids as the upgrade path).",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return ann_lsh_topk(e, q, k=5, n_planes=4, dim=DIM)


@register(
    "emb_similar_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND b.vec_id > a.vec_id
    WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.35
    ORDER BY id_a, id_b
    """,
    doc="embedding near-dup pairs: label-blocked pairwise cosine >= 0.35 "
    "(the embedding analogue of jaccard near-dup; blocking keeps the "
    "pairwise term bounded — at scale the LSH bucket replaces the label).",
)
def emb_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_b") > F.col("id_a"))
        # inline() is a Generate — a project-collapse barrier, so the
        # interpreted 64-dim cosine fold is evaluated ONCE per pair;
        # referencing `cos` in both the filter and the projection
        # re-inlines it at each site (the text_quality_gopher lesson)
        .select(
            "id_a", "id_b", F.inline(F.array(F.struct(cos.alias("cos"))))
        )
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
        # checkpoint the survivor pairs before the presentation sort: the
        # sort's range-sampling pass re-executes its unmaterialized input,
        # i.e. the whole within-label all-pairs cosine pass ran twice per
        # sorted action (r11 §3.14 class, the dedup_ngram_jaccard twin;
        # interleaved noop-sink A/B at sf0.1: 6.2 -> 3.6 s median, 5/5
        # pairs). Survivors are few — near-free to materialize.
        .localCheckpoint(eager=False)
        .orderBy("id_a", "id_b")
    )


@register(
    "emb_quantize_int8",
    oracle=f"""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        FROM base),
    quant AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE CAST(round(x / scale) AS INT) END) AS q
        FROM scaled)
    SELECT vec_id,
           round(scale, 9) AS scale,
           {hash60_sql("array_to_string(q, ',')")} AS q_hash,
           round(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale))) / {DIM},
                 9) AS mse
    FROM quant ORDER BY vec_id
    """,
    doc="Symmetric int8 embedding quantization — the compression step "
    "before a quantized ANN index (public PQ/SQ practice): per-vector "
    "scale = max|x|/127, q = round(x/scale) clamped by construction, "
    "plus reconstruction MSE. q_hash is the cross-engine hash of the "
    "full quantized vector, so the oracle match proves every int8 code "
    "identical, not just summary stats. Pure JVM higher-order "
    "functions - no UDF, no shuffle before the final sort.",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    e = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / 127
    df = e.select("vec_id", v.alias("v"), scale.alias("scale"))
    q = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.round(x / F.col("scale")).cast("int")),
    )
    df = df.withColumn("q", q)
    err = F.zip_with(
        F.col("v"),
        F.col("q"),
        lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda a, b: a + b) / DIM
    # mse/q_hash are bound BEFORE the projection that re-aliases 'scale':
    # putting round(scale).alias('scale') in the same select list would make
    # Spark's lateral-column-alias resolution silently feed the ROUNDED
    # scale into the mse expression (found at sf0.1: 4 of 2000 rows flipped
    # the round-9 boundary; the DuckDB oracle keeps the unrounded scale).
    df = df.withColumn("mse", F.round(mse, 9)).withColumn(
        "q_hash",
        hash60(F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ",")),
    )
    return df.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        "q_hash",
        "mse",
    ).orderBy("vec_id")


@register(
    "dedup_semantic",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE mod(vec_id, 53) = 11
    ), assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ), cells AS (
        SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1
    ), dup AS (
        SELECT a.vec_id, min(b.vec_id) AS dup_of
        FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.40
        GROUP BY a.vec_id
    )
    SELECT c.vec_id, c.cell, (d.dup_of IS NOT NULL) AS is_dup, d.dup_of
    FROM cells c LEFT JOIN dup d ON c.vec_id = d.vec_id
    ORDER BY c.vec_id
    """,
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): nearest-centroid "
    "cell per row (map-only broadcast fold), then within-cell keep-first — "
    "a row is a duplicate iff a lower-id cellmate has cosine >= 0.40. "
    "Centroids are seed-sampled (mod(vec_id,53)=11) standing in for an "
    "offline k-means artifact; at 100 TB, K ~ N keeps cells constant-size "
    "so the cell-keyed self-join is linear, and max_cell_size guards "
    "degenerate cells (operators/similarity.py:semantic_dedup).",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.similarity import semantic_dedup

    e = load(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % 53 == 11).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    return semantic_dedup(e, cents, tau=0.40).orderBy("vec_id")


@register(
    "ann_batch_queries",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round({_sql_cosine('e.embedding', 'q.qv')}, 6) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id != q.query_id),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, vec_id)
                    AS INT) AS rnk
        FROM scored)
    SELECT query_id, vec_id, cosine, rnk FROM ranked
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    doc="Batched exact ANN: top-5 per query for a 3-query serving batch in "
    "ONE corpus scan (operators/similarity.py:cosine_topk_batch). The "
    "query set broadcasts; the only shuffle is the query_id-keyed top-k "
    "window; rank on rounded cosine with vec_id tiebreak keeps the "
    "k-boundary engine-deterministic.",
)
def ann_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cudf_spark.operators.similarity import cosine_topk_batch

    e = load(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # k+1 from the operator because each query's self-match (cosine 1.0,
    # rank 1) is filtered out afterwards, then re-rank the survivors
    scored = cosine_topk_batch(
        e, qs, vec_col="embedding", id_col="vec_id", qid_col="query_id", k=6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        scored.filter(F.col("vec_id") != F.col("query_id"))
        .drop("rnk")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .orderBy("query_id", "rnk")
    )


PQ_SUBS, PQ_K, PQ_SUBDIM = 4, 8, 16

# Shared CTEs replaying the deterministic PQ build in SQL: seed selection
# by hash60 order, per-subspace centroid slices, per-(vector, subspace)
# squared-L2 table (left-to-right fold matches F.aggregate).
SQL_PQ_CTES = f"""
    seeds AS (
        SELECT vec_id, embedding,
               CAST(row_number() OVER (
                   ORDER BY {hash60_sql("'53|' || CAST(vec_id AS VARCHAR)")}, vec_id
               ) AS INT) - 1 AS c
        -- the Spark side trains the codebook on the CORPUS (query vector
        -- excluded); without this filter the two engines pick different
        -- seed sets whenever hash60('53|0') ranks in the lowest k
        FROM embeddings WHERE vec_id != 0
        QUALIFY c < {PQ_K}),
    ms AS (SELECT unnest(generate_series(0, {PQ_SUBS - 1})) AS m),
    cb AS (
        SELECT ms.m, seeds.c,
               list_transform(generate_series(ms.m * {PQ_SUBDIM} + 1, ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}),
                              i -> CAST(seeds.embedding[i] AS DOUBLE)) AS cent
        FROM seeds, ms),
    subs AS (
        SELECT e.vec_id, ms.m,
               list_transform(generate_series(ms.m * {PQ_SUBDIM} + 1, ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}),
                              i -> CAST(e.embedding[i] AS DOUBLE)) AS sub
        FROM embeddings e, ms),
    pdist AS (
        SELECT s.vec_id, s.m, cb.c,
               list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
                        i -> (s.sub[i] - cb.cent[i]) * (s.sub[i] - cb.cent[i]))) AS d
        FROM subs s JOIN cb ON s.m = cb.m),
    codes AS (
        SELECT vec_id, m, c, d,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
        FROM pdist QUALIFY rn = 1)
"""


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH {SQL_PQ_CTES},
    dq AS (SELECT m, c, d FROM pdist WHERE vec_id = 0),
    adc AS (
        SELECT codes.vec_id,
               round(sum(dq.d), 6) AS adc_dist,
               string_agg(CAST(codes.c AS VARCHAR), '-' ORDER BY codes.m) AS code
        FROM codes JOIN dq ON codes.m = dq.m AND codes.c = dq.c
        WHERE codes.vec_id != 0
        GROUP BY codes.vec_id)
    SELECT vec_id, code, adc_dist
    FROM adc
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """,
    doc="product-quantization ANN (Jégou et al. 2011 ADC): deterministic "
    f"{PQ_SUBS}x{PQ_K} codebook from hash-sampled seed vectors, per-subspace "
    "argmin codes (64x compression at these defaults), asymmetric-distance "
    "top-k against the exact query. 100 TB: codebook broadcasts, encoding "
    "is map-side + one keyed argmin, serving touches only the codes table "
    "— the memory-bound regime where IVF-PQ lives. The oracle replays "
    "seed selection, slicing, and distances verbatim in SQL.",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.similarity import pq_adc_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return pq_adc_topk(
        e.filter(F.col("vec_id") != 0),
        q,
        dim=DIM,
        n_subs=PQ_SUBS,
        k_codes=PQ_K,
        k=10,
    )


@register(
    "emb_mean_pool",
    oracle=f"""
    WITH idx AS (SELECT unnest(generate_series(1, {DIM})) AS i),
    x AS (
        SELECT e.label, idx.i, CAST(e.embedding[idx.i] AS DOUBLE) AS v
        FROM embeddings e CROSS JOIN idx),
    m AS (SELECT label, i, avg(v) AS mv FROM x GROUP BY label, i),
    vecs AS (
        SELECT label,
               list(mv ORDER BY i) AS full_vec,
               sqrt(list_sum(list_transform(list(mv ORDER BY i), y -> y * y))) AS nrm
        FROM m GROUP BY label),
    cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label)
    SELECT vecs.label, cnt.n_vecs,
           -- scalar output contract: the driver's canonicalizer hashes
           -- cell values and cannot factorize list cells, so the first 8
           -- mean components are quantized to integer micro-units and
           -- joined into ONE string (integer formatting is identical on
           -- both engines; double->string formatting is not)
           array_to_string(list_transform(vecs.full_vec[1:8],
               y -> CAST(CAST(round(y * 1000000) AS BIGINT) AS VARCHAR)), '|') AS mean8,
           round(vecs.nrm, 6)       AS norm_q6
    FROM vecs JOIN cnt ON vecs.label = cnt.label
    ORDER BY vecs.label
    """,
    doc="grouped embedding mean-pooling (chunk->document embedding, the "
    "standard aggregation when a long doc is embedded in chunks): "
    "posexplode to (label, dim, value), ONE keyed groupBy(label, dim) "
    "mean — per-dimension scalars shuffle, never whole vectors through "
    "an aggregation UDF — then reassemble ordered by dim (collect_list "
    "bounded by DIM, not group size) and compute the L2 norm on the "
    "deterministic dim-ordered fold. 100 TB: both shuffles are keyed, "
    "payload is dim-amplified scalars (same shape as Lloyd training). "
    "Output contract: mean8 is a '|'-joined string of integer micro-unit "
    "components — scalar columns only (driver canonicalizer).",
)
def emb_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode(F.transform("embedding", lambda v: v.cast("double")))
    ).select("label", (F.col("pos") + 1).alias("i"), F.col("col").alias("v"))
    m = x.groupBy("label", "i").agg(F.avg("v").alias("mv"))
    vecs = m.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mv"))), lambda s: s["mv"]
        ).alias("ordered")
    )
    cnt = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    nrm = F.sqrt(
        F.aggregate(F.col("ordered"), F.lit(0.0), lambda acc, y: acc + y * y)
    )
    return (
        vecs.join(cnt, "label")
        .select(
            "label",
            "n_vecs",
            F.concat_ws(
                "|",
                F.transform(
                    F.slice("ordered", 1, 8),
                    lambda y: F.round(y * 1e6, 0).cast("long").cast("string"),
                ),
            ).alias("mean8"),
            F.round(nrm, 6).alias("norm_q6"),
        )
        .orderBy("label")
    )


@register(
    "emb_outlier_zscore",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE mod(vec_id, 53) = 11
    ), assign AS (
        SELECT e.vec_id, {_sql_cosine('e.embedding', 'c.cvec')} AS cos, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ), cells AS (
        SELECT vec_id, cid AS cell, cos FROM assign WHERE rn = 1
    ), stats AS (
        -- DETERMINISTIC moments: fold the cell's (bit-identical) cosines
        -- in sorted order, so mu/sd are the same doubles on both engines
        -- and floor() can never straddle a lattice point (a 2-member
        -- cell has z exactly +/-1 -> z*10000 ON the floor boundary,
        -- where groupBy-sum ULP drift would flip the value)
        SELECT cell,
               list_sum(list_sort(list(cos))) / len(list(cos)) AS mu,
               sqrt(list_sum(list_transform(list_sort(list(cos)),
                    x -> (x - list_sum(list_sort(list(cos))) / len(list(cos)))
                       * (x - list_sum(list_sort(list(cos))) / len(list(cos)))))
                    / len(list(cos))) AS sd,
               CAST(count(*) AS BIGINT) AS cell_n
        FROM cells GROUP BY cell
    )
    SELECT c.vec_id, c.cell, s.cell_n,
           CAST(CASE WHEN s.sd > 0
                THEN floor((c.cos - s.mu) / s.sd * 10000) END AS BIGINT) AS z_q4,
           coalesce(CASE WHEN s.sd > 0
                THEN floor((c.cos - s.mu) / s.sd * 10000) <= -15000 END, FALSE)
               AS is_outlier
    FROM cells c JOIN stats s ON c.cell = s.cell
    ORDER BY c.vec_id
    """,
    doc="embedding outlier detection (cluster-distance z-score — the "
    "quality filter that prunes mis-embedded/garbage vectors before "
    "training, SemDeDup's sibling pass): nearest-centroid cosine per "
    "row (map-only broadcast fold), per-cell mean/std via SORTED-order "
    "folds (bit-identical on both engines — groupBy moments fold in "
    "partition order, and a 2-member cell's z sits exactly on the "
    "floor-quantization lattice where ULP drift would flip it), flag "
    "rows whose similarity z-score sits below -1.5; singleton cells "
    "(sd=0) yield NULL z / not-outlier.",
)
def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        e.filter(F.col("vec_id") % 53 == 11).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
    )
    cos = cosine(F.col("embedding"), F.col("cvec"))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), "cid")
    cells = (
        e.crossJoin(cents)
        .select("vec_id", "cid", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"), "cos")
    )
    # deterministic moments: sorted-order folds over the cell's
    # (bit-identical) cosines, matching the oracle's list_sort+list_sum —
    # groupBy avg/stddev_pop fold in partition order, and a 2-member
    # cell's z lands exactly on the floor lattice where ULP drift flips
    # the quantized value. collect_list is bounded by cell size (corpus/K;
    # constant when K ~ N as the SemDeDup sizing note prescribes).
    stats = (
        cells.groupBy("cell")
        .agg(
            F.array_sort(F.collect_list("cos")).alias("arr"),
            F.count(F.lit(1)).cast("bigint").alias("cell_n"),
        )
        .select(
            "cell",
            "cell_n",
            (F.aggregate(F.col("arr"), F.lit(0.0), lambda a, x: a + x)
             / F.size("arr").cast("double")).alias("mu"),
            F.col("arr").alias("arr"),
        )
        .select(
            "cell",
            "cell_n",
            "mu",
            F.sqrt(
                F.aggregate(
                    F.col("arr"),
                    F.lit(0.0),
                    lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu")),
                )
                / F.size("arr").cast("double")
            ).alias("sd"),
        )
    )
    z_q4 = F.when(
        F.col("sd") > 0, F.floor((F.col("cos") - F.col("mu")) / F.col("sd") * 10000)
    ).cast("bigint")
    return (
        cells.join(stats, "cell")
        .select(
            "vec_id",
            "cell",
            "cell_n",
            z_q4.alias("z_q4"),
            F.coalesce(z_q4 <= -15000, F.lit(False)).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


IVF_RECALL_K, IVF_RECALL_NPROBE = 10, 2

# Seeded IVF centroids: every 67th vector stands in for an offline k-means
# artifact. ann_ivf_topk serves this index and ann_ivf_recall measures it,
# builders and oracles alike, so the sample is written once: a second copy
# could make the recall envelope measure a different index than the one
# served.
_IVF_CENTROID_PRED = "vec_id % 67 = 3"
IVF_CENTROIDS_SQL = (
    f"SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE {_IVF_CENTROID_PRED}"
)


def ivf_centroids(e: DataFrame) -> DataFrame:
    """The ``IVF_CENTROIDS_SQL`` table ``(cid, cvec)`` of embeddings ``e``."""
    return e.filter(_IVF_CENTROID_PRED).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )


@register(
    "ann_ivf_recall",
    oracle=f"""
    WITH cents AS (
        {IVF_CENTROIDS_SQL}
    ), qs AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 101 = 7
    ), assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ), cells AS (
        SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1
    ), probe AS (
        SELECT * FROM (
            SELECT q.qid, c.cid AS pcell,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_sql_cosine('c.cvec', 'q.qv')} DESC, c.cid
                   ) AS prn
            FROM cents c CROSS JOIN qs q)
        WHERE prn <= {IVF_RECALL_NPROBE}
    ), ivf AS (
        SELECT * FROM (
            SELECT p.qid, cells.vec_id,
                   row_number() OVER (
                       PARTITION BY p.qid
                       ORDER BY round({_sql_cosine('cells.embedding', 'q.qv')}, 6)
                                DESC, cells.vec_id
                   ) AS irn
            FROM cells JOIN probe p ON cells.cell = p.pcell
                       JOIN qs q ON q.qid = p.qid
            WHERE cells.vec_id != p.qid)
        WHERE irn <= {IVF_RECALL_K}
    ), bf AS (
        SELECT * FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({_sql_cosine('e.embedding', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS brn
            FROM embeddings e CROSS JOIN qs q
            WHERE e.vec_id != q.qid)
        WHERE brn <= {IVF_RECALL_K}
    )
    SELECT bf.qid,
           CAST(count(ivf.vec_id) AS BIGINT) AS n_overlap,
           CAST((count(ivf.vec_id) * 1000000) // {IVF_RECALL_K} AS BIGINT)
               AS recall_q6
    FROM bf LEFT JOIN ivf ON bf.qid = ivf.qid AND bf.vec_id = ivf.vec_id
    GROUP BY bf.qid ORDER BY bf.qid
    """,
    doc="recall@10 of the IVF serving path against exact brute force, per "
    "query (vec_id %% 101 == 7 query set, the same seeded centroids and "
    "nprobe=2 as ann_ivf_topk) — the accuracy envelope that makes an "
    "approximate index auditable (the dedup_minhash_estimate pattern "
    "applied to ANN). Fully set-based: centroid probe is a (K x Q)-row "
    "ranked join, candidates form only through probed cells, brute force "
    "is ONE corpus-x-queries broadcast pass; recall in exact integer "
    "micro-units. At 100 TB the BF half is the (sampled) ground-truth "
    "job you run once to validate the index, not the serving path.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cudf_spark.operators.similarity import ivf_assign

    e = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e)
    qs = e.filter(F.col("vec_id") % 101 == 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cells = ivf_assign(e, cents)
    probe = (
        cents.crossJoin(F.broadcast(qs))
        .withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.desc(cosine(F.col("cvec"), F.col("qv"))), F.col("cid")
                )
            ),
        )
        .filter(F.col("prn") <= IVF_RECALL_NPROBE)
        .select("qid", F.col("cid").alias("pcell"))
    )
    ivf = (
        cells.join(F.broadcast(probe), cells["cell"] == probe["pcell"])
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "irn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.desc(F.round(cosine(F.col("embedding"), F.col("qv")), 6)),
                    F.col("vec_id"),
                )
            ),
        )
        .filter(F.col("irn") <= IVF_RECALL_K)
        .select("qid", "vec_id")
    )
    bf = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "brn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.desc(F.round(cosine(F.col("embedding"), F.col("qv")), 6)),
                    F.col("vec_id"),
                )
            ),
        )
        .filter(F.col("brn") <= IVF_RECALL_K)
        .select("qid", "vec_id")
    )
    hit = ivf.withColumn("hit", F.lit(1))
    return (
        bf.join(hit, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").cast("bigint").alias("n_overlap"),
            F.expr(f"(count(hit) * 1000000) div {IVF_RECALL_K}")
            .cast("bigint")
            .alias("recall_q6"),
        )
        .orderBy("qid")
    )
