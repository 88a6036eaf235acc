"""Graph/statistical analytics + multimodal dedup — round-5 continuation.

Four operator families the registry didn't yet cover:

- ``graph_triangle_count``: triangle counting on the co-purchase graph
  with DEGREE-ORIENTED wedge joins (Suri & Vassilvitskii, WWW'11 — the
  standard MapReduce triangle algorithm): orienting every edge from its
  lower-(degree, id) endpoint bounds each vertex's out-degree by ~sqrt(m),
  so the wedge join's fan-out is O(m^1.5) worst-case instead of
  sum(deg^2) — the difference between finishing and dying on a power-law
  graph at 100 TB. The oracle counts the same triangles with the simple
  id-ordered triple join (orientation changes the JOIN SHAPE, never the
  triangle set).

- ``mm_image_dup_ahash``: perceptual-hash image near-dedup — THE standard
  image-dedup pass in large-scale multimodal training pipelines: aHash
  per image (decode + 8x8 NN-downsample + above-mean bits, one Arrow
  pass), then candidate pairs via the 4x16-bit multi-index Hamming bands
  (Manku et al., WWW'07: Hamming<=3 implies >=1 exact band match) and
  exact ``bit_count(xor)`` verification JVM-side. Never all-pairs: the
  band equi-join is the only shuffle, same shape as the MinHash LSH path
  (operators/dedup.py). Oracle recomputes every hash bit arithmetically
  from the closed-form fake raster and brute-bands the same candidates.

- ``agg_skew_kurtosis``: grouped higher moments (cudf Series.skew /
  Series.kurtosis, python/cudf reductions; pandas-compatible adjusted
  Fisher-Pearson G1 and excess-kurtosis G2) computed from EXACT BIGINT
  power sums on the quantity lattice — one map-side-combinable groupBy;
  the n/s1..s4 -> G1/G2 arithmetic is the identical IEEE expression tree
  on both engines, so the doubles match bit-for-bit.

- ``agg_corr_matrix``: DataFrame.corr() pairwise Pearson matrix (cudf
  DataFrame.corr) over three measures in ONE full-table aggregate —
  decimal(38,0) power sums stay exact where BIGINT would overflow at
  100 TB row counts (sum of price-cents^2 passes 2^63 around 10^7 rows),
  mirrored by DuckDB's HUGEINT; the only float ops are the final
  sqrt/divide on exact integers.

Reference scope: cudf python/cudf Series.skew/kurt + DataFrame.corr
surfaces; the graph/multimodal ops are beyond-reference pipeline
operators (SURVEY §2.14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.operators.graphs import co_occurrence_edges
from cudf_spark.functions.hashing import hash60_sql
from cudf_spark.multimodal import (
    encode_assets,
    fake_image_texture,
    fake_video_bytes,
    image_ahash,
    video_signature,
)
from cudf_spark.queries.registry import register


@register(
    "graph_triangle_count",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
    ), tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), nodes AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 50
    """,
    doc="triangle counting on the parts-co-ordered-together graph "
    "(degree-oriented edge-iterator, Suri & Vassilvitskii WWW'11 / "
    "Latapy 2008 intersection form): edges = distinct part pairs sharing "
    "an order; orient every edge from its lower-(degree,id) endpoint so "
    "out-degrees are bounded ~sqrt(m); each oriented edge (u,v) closes "
    "one triangle per element of N_out(u) INTERSECT N_out(v) — every "
    "triangle a<b<c is found exactly once, at edge (a,b) with c the "
    "intersection witness. The r9 wedge-join form shuffled the ~36M-row "
    "wedge table into a semi-join at sf0.1; this form joins the |V|-row "
    "neighbor-list table into the |E|-row edge list (both keyed, AQE "
    "broadcasts at fixture scale) and intersects map-side, so the only "
    "post-edge shuffles are the neighbor-list groupBy and the final "
    "per-node count whose input is ~3x the triangle count, not the wedge "
    "count. The oracle's simple a<b<c triple join proves the oriented "
    "plan finds the identical triangle set. Output: top-50 parts by "
    "triangle participation (total order: count desc, id).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.graphs import degree_oriented_edges, triangle_witnesses

    li = load(spark, sf_dir, "lineitem")
    # checkpoint: edges feeds the degree branch AND the orient join —
    # without materialization the co-occurrence self-join re-nests into
    # each (round-9 audit).
    edges = co_occurrence_edges(li, "l_orderkey", "l_partkey", checkpoint=True)
    witnessed = triangle_witnesses(degree_oriented_edges(edges))
    contrib = witnessed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("src").alias("node"), F.size("w").alias("c")),
                    F.struct(F.col("dst").alias("node"), F.size("w").alias("c")),
                ),
                F.transform(
                    "w", lambda x: F.struct(x.alias("node"), F.lit(1).alias("c"))
                ),
            )
        ).alias("s")
    ).select("s.node", "s.c")
    return (
        contrib.groupBy("node")
        .agg(F.sum("c").cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "node")
        .limit(50)
    )


# Closed-form aHash CTEs shared by every image-dedup oracle (ONE copy of
# the load-bearing raster/downsample/bit arithmetic): params -> rs (resized
# 8x8 raster: pixel k is source index ((k//8*h)//8)*w + (k%8*w)//8 of the
# texture (base + i*mult) % 256) -> hashes (bit string) -> hexed.
_AHASH_SQL_CTE = """
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST(doc_id % 3 + 8 AS INT)       AS w,
               CAST(doc_id % 2 + 8 AS INT)       AS h,
               CAST(3 + (doc_id % 7) * 2 AS INT) AS mult,
               CAST((doc_id * 37) % 256 AS INT)  AS base
        FROM documents
    ), rs AS (
        SELECT asset_id,
               list_transform(generate_series(0, 63), k ->
                   (base + ((((k // 8) * h) // 8) * w
                          + (((k % 8) * w) // 8)) * mult) % 256) AS px
        FROM params
    ), hashes AS (
        SELECT asset_id,
               array_to_string(list_transform(px, v ->
                   CASE WHEN 64 * v > s THEN '1' ELSE '0' END), '') AS bits
        FROM (SELECT asset_id, px, list_sum(px) AS s FROM rs) t
    ), hexed AS (
        SELECT asset_id, bits,
               array_to_string(list_transform(generate_series(0, 15), j ->
                   substr('0123456789abcdef',
                          1 + CAST(substr(bits, 1 + 4*j, 1) AS INT) * 8
                            + CAST(substr(bits, 2 + 4*j, 1) AS INT) * 4
                            + CAST(substr(bits, 3 + 4*j, 1) AS INT) * 2
                            + CAST(substr(bits, 4 + 4*j, 1) AS INT), 1)), '')
                   AS ahash_hex
        FROM hashes
    )"""


def _encode_textured_images(d: DataFrame) -> DataFrame:
    """doc_id rows -> (asset_id, data) fake textured images; the ONE place
    the image parameters (w=did%3+8, h=did%2+8, mult=3+(did%7)*2,
    base=did*37%256) live — every image-dedup query's encode AND
    _AHASH_SQL_CTE replay these exact values, so they must never fork."""
    return encode_assets(
        d,
        lambda did: fake_image_texture(
            did % 3 + 8, did % 2 + 8, 3 + (did % 7) * 2, (did * 37) % 256
        ),
    )


@register(
    "mm_image_dup_ahash",
    oracle=_AHASH_SQL_CTE
    + """, bands AS (
        SELECT asset_id, bits, band_idx,
               substr(bits, 1 + 16 * band_idx, 16) AS band_val
        FROM (SELECT asset_id, bits,
                     unnest(generate_series(0, 3)) AS band_idx
              FROM hashes) t
    ), cand AS (
        SELECT DISTINCT x.asset_id AS ia, y.asset_id AS ib,
                        x.bits AS ba, y.bits AS bb
        FROM bands x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         AND x.asset_id < y.asset_id
    ), pairs AS (
        SELECT ia, ib FROM cand
        WHERE list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substr(ba, i, 1) <> substr(bb, i, 1)
                       THEN 1 ELSE 0 END)) <= 3
    ), counts AS (
        SELECT node AS asset_id, CAST(count(*) AS BIGINT) AS n_dups
        FROM (SELECT ia AS node FROM pairs
              UNION ALL SELECT ib FROM pairs) t
        GROUP BY node
    )
    SELECT h.asset_id, h.ahash_hex, COALESCE(c.n_dups, 0) AS n_dups
    FROM hexed h LEFT JOIN counts c ON h.asset_id = c.asset_id
    ORDER BY h.asset_id
    """,
    doc="perceptual-hash image near-dedup (the standard multimodal-corpus "
    "image dedup pass): encode a deterministic textured fake raster per "
    "document, decode + aHash in one Arrow mapInPandas (8x8 NN downsample, "
    "bit=64*px>sum exact-integer compare), candidate pairs via the 4x16-bit "
    "multi-index Hamming bands (Manku et al. WWW'07: distance<=3 implies an "
    "exact match on >=1 band, by pigeonhole), exact JVM-side "
    "bit_count(ahash_a ^ ahash_b) verification. NEVER all-pairs: the band "
    "equi-join is the only shuffle — the same bucketed shape as MinHash "
    "LSH. Output: per-image hex hash + number of near-duplicate partners. "
    "The oracle recomputes every hash bit arithmetically and brute-bands "
    "the identical candidate set, so the hash match proves the binary "
    "plumbing, the downsample kernel, the banding AND the Hamming check.",
)
def mm_image_dup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    assets = _encode_textured_images(d)
    # checkpoint the hash table: it feeds BOTH band sides of the
    # candidate self-join AND the output join, and the final sort's
    # range-sampling pass re-executes its uncheckpointed input — the
    # encode+decode+aHash Python chain ran FOUR times per query
    # (measured 4x input rows through the Arrow boundary at sf0.01;
    # 1x after). One narrow row per asset — near-free to materialize.
    hashed = image_ahash(assets).filter("valid").localCheckpoint(eager=False)
    bands = hashed.selectExpr(
        "asset_id",
        "ahash",
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_idx, band_val)",
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y, ["band_idx", "band_val"])
        .filter(F.col("x.asset_id") < F.col("y.asset_id"))
        .select(
            F.col("x.asset_id").alias("ia"),
            F.col("y.asset_id").alias("ib"),
            F.col("x.ahash").alias("ha"),
            F.col("y.ahash").alias("hb"),
        )
        .distinct()
    )
    pairs = cand.filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
    counts = (
        pairs.select(F.explode(F.array("ia", "ib")).alias("asset_id"))
        .groupBy("asset_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dups"))
    )
    return (
        hashed.select("asset_id", "ahash_hex")
        .join(counts, "asset_id", "left")
        .select(
            "asset_id",
            "ahash_hex",
            F.coalesce("n_dups", F.lit(0).cast("bigint")).alias("n_dups"),
        )
        .orderBy("asset_id")
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH sums AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT)           AS s1,
               CAST(sum(q * q) AS BIGINT)       AS s2,
               CAST(sum(q * q * q) AS BIGINT)   AS s3,
               CAST(sum(q * q * q * q) AS BIGINT) AS s4
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
              FROM lineitem) t
        GROUP BY l_returnflag
    ), moments AS (
        SELECT l_returnflag, n,
               CAST(s1 AS DOUBLE) / n AS mx,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM sums
    ), central AS (
        SELECT l_returnflag, n, mx,
               r2 - mx * mx AS m2,
               r3 - 3.0 * mx * r2 + 2.0 * mx * mx * mx AS m3,
               r4 - 4.0 * mx * r3 + 6.0 * mx * mx * r2
                  - 3.0 * mx * mx * mx * mx AS m4
        FROM moments
    )
    SELECT l_returnflag, n,
           round(mx, 6) AS mean_q,
           CASE WHEN n > 2 AND m2 > 0 THEN
               round((sqrt(CAST(n AS DOUBLE) * (n - 1)) / (n - 2))
                     * (m3 / (m2 * sqrt(m2))), 6) END AS skew_g1,
           CASE WHEN n > 3 AND m2 > 0 THEN
               round(((n + 1.0) * (m4 / (m2 * m2)) - 3.0 * (n - 1.0))
                     * ((n - 1.0) / ((n - 2.0) * (n - 3.0))), 6) END AS kurt_g2
    FROM central
    ORDER BY l_returnflag
    """,
    doc="grouped skewness + excess kurtosis (cudf Series.skew / "
    "Series.kurtosis, pandas-compatible adjusted Fisher-Pearson G1 and "
    "G2): ONE map-side-combinable groupBy collecting exact BIGINT power "
    "sums of the integer quantity lattice (q<=50 so sum(q^4) fits bigint "
    "to ~10^12 rows/group), then the G1/G2 arithmetic as the IDENTICAL "
    "IEEE expression tree on both engines — doubles derived from equal "
    "exact integers via equal op sequences are bit-equal, so round(.,6) "
    "cannot diverge. Degenerate groups (n<=3 or zero variance) yield NULL "
    "on both engines instead of an ANSI divide-by-zero crash.",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    n = F.col("n")
    mx = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m = sums.select(
        "l_returnflag", "n",
        mx.alias("mx"),
        (r2 - mx * mx).alias("m2"),
        (r3 - F.lit(3.0) * mx * r2 + F.lit(2.0) * mx * mx * mx).alias("m3"),
        (
            r4
            - F.lit(4.0) * mx * r3
            + F.lit(6.0) * mx * mx * r2
            - F.lit(3.0) * mx * mx * mx * mx
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    g1 = (F.sqrt(n.cast("double") * (n - 1)) / (n - 2)) * (m3 / (m2 * F.sqrt(m2)))
    g2 = ((n + F.lit(1.0)) * (m4 / (m2 * m2)) - F.lit(3.0) * (n - F.lit(1.0))) * (
        (n - F.lit(1.0)) / ((n - F.lit(2.0)) * (n - F.lit(3.0)))
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round("mx", 6).alias("mean_q"),
        F.when((n > 2) & (m2 > 0), F.round(g1, 6)).alias("skew_g1"),
        F.when((n > 3) & (m2 > 0), F.round(g2, 6)).alias("kurt_g2"),
    ).orderBy("l_returnflag")


@register(
    "agg_corr_matrix",
    oracle="""
    WITH vals AS (
        SELECT CAST(l_quantity AS BIGINT)                     AS q,
               CAST(round(l_extendedprice * 100) AS BIGINT)   AS p,
               CAST(round(l_discount * 100) AS BIGINT)        AS d
        FROM lineitem
    ), sums AS (
        -- HUGEINT sums: sum(p*p) passes 2^63 near 10^7 rows, so exactness
        -- at scale needs 128-bit accumulation (Spark side: decimal(38,0))
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS HUGEINT) AS sq, CAST(sum(p) AS HUGEINT) AS sp,
               CAST(sum(d) AS HUGEINT) AS sd,
               CAST(sum(q * q) AS HUGEINT) AS sqq,
               CAST(sum(p * p) AS HUGEINT) AS spp,
               CAST(sum(d * d) AS HUGEINT) AS sdd,
               CAST(sum(q * p) AS HUGEINT) AS sqp,
               CAST(sum(q * d) AS HUGEINT) AS sqd,
               CAST(sum(p * d) AS HUGEINT) AS spd
        FROM vals
    )
    SELECT col_x, col_y, round(num / (sqrt(vx) * sqrt(vy)), 6) AS corr_q6
    FROM (
        SELECT 'quantity' AS col_x, 'price_cents' AS col_y,
               CAST(n * sqp - sq * sp AS DOUBLE) AS num,
               CAST(n * sqq - sq * sq AS DOUBLE) AS vx,
               CAST(n * spp - sp * sp AS DOUBLE) AS vy
        FROM sums
        UNION ALL
        SELECT 'quantity', 'discount_pct',
               CAST(n * sqd - sq * sd AS DOUBLE),
               CAST(n * sqq - sq * sq AS DOUBLE),
               CAST(n * sdd - sd * sd AS DOUBLE)
        FROM sums
        UNION ALL
        SELECT 'price_cents', 'discount_pct',
               CAST(n * spd - sp * sd AS DOUBLE),
               CAST(n * spp - sp * sp AS DOUBLE),
               CAST(n * sdd - sd * sd AS DOUBLE)
        FROM sums
    ) t
    ORDER BY col_x, col_y
    """,
    doc="pairwise Pearson correlation matrix (cudf DataFrame.corr, melted "
    "to (col_x, col_y, corr) rows) over quantity / price-cents / "
    "discount-pct in ONE full-table aggregate: nine exact power sums in "
    "decimal(38,0) (BIGINT sum(price_cents^2) overflows past ~10^7 rows; "
    "the 128-bit accumulator is what survives 100 TB), mirrored by "
    "DuckDB HUGEINT. All covariance numerators/denominators are computed "
    "in exact integer arithmetic; the ONLY float ops are the final "
    "sqrt/divide on identical exact values — deterministic across "
    "engines and partitionings. One shuffle-free map + one scalar "
    "reduce; the 3-row melt is driver-side-free (union of projections).",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )
    dec = "decimal(38,0)"
    sums = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("q").cast(dec)).alias("sq"),
        F.sum(F.col("p").cast(dec)).alias("sp"),
        F.sum(F.col("d").cast(dec)).alias("sd"),
        F.sum((F.col("q") * F.col("q")).cast(dec)).alias("sqq"),
        F.sum((F.col("p") * F.col("p")).cast(dec)).alias("spp"),
        F.sum((F.col("d") * F.col("d")).cast(dec)).alias("sdd"),
        F.sum((F.col("q") * F.col("p")).cast(dec)).alias("sqp"),
        F.sum((F.col("q") * F.col("d")).cast(dec)).alias("sqd"),
        F.sum((F.col("p") * F.col("d")).cast(dec)).alias("spd"),
    )
    n = F.col("n").cast(dec)

    def cell(name_x, name_y, sxy, sx, sy, sxx, syy):
        return F.struct(
            F.lit(name_x).alias("col_x"),
            F.lit(name_y).alias("col_y"),
            (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double").alias("num"),
            (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double").alias("vx"),
            (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double").alias("vy"),
        )

    cells = sums.select(
        F.explode(
            F.array(
                cell("quantity", "price_cents", "sqp", "sq", "sp", "sqq", "spp"),
                cell("quantity", "discount_pct", "sqd", "sq", "sd", "sqq", "sdd"),
                cell("price_cents", "discount_pct", "spd", "sp", "sd", "spp", "sdd"),
            )
        ).alias("c")
    )
    return cells.select(
        F.col("c.col_x").alias("col_x"),
        F.col("c.col_y").alias("col_y"),
        F.round(
            F.col("c.num") / (F.sqrt(F.col("c.vx")) * F.sqrt(F.col("c.vy"))), 6
        ).alias("corr_q6"),
    ).orderBy("col_x", "col_y")


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS to_type
        FROM events
    ), cnt AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS prob_q6
    FROM cnt
    ORDER BY from_type, to_type
    """,
    doc="event-sequence transition matrix (Markov-chain journey mining — "
    "the standard user-path analysis over clickstreams): per-user ordered "
    "bigrams via ONE lead() window (partition keyed by user, sort local to "
    "each user's rows — no global sort), then a keyed count and a "
    "row-normalised transition probability. The probability is an exact "
    "integer ratio evaluated identically on both engines. 100 TB: the "
    "user-keyed window and the (from,to)-keyed count are the only "
    "shuffles; output is |event_types|^2 rows regardless of input size. "
    "Tie-break on event_id makes the sequence deterministic under the "
    "ns->us timestamp truncation (catalog.py load).",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wp = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("prob_q6"),
    ).orderBy("from_type", "to_type")


@register(
    "dt_business_days",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderpriority,
               -- B(d) = weekdays in [1970-01-05 (a Monday), d):
               -- (t//7)*5 + least(t%7, 5). busday_count(d1,d2)=B(d2)-B(d1).
               ((datediff('day', DATE '1970-01-05', CAST(l.l_shipdate AS DATE)) // 7) * 5
                + least(datediff('day', DATE '1970-01-05', CAST(l.l_shipdate AS DATE)) % 7, 5))
             - ((datediff('day', DATE '1970-01-05', CAST(o.o_orderdate AS DATE)) // 7) * 5
                + least(datediff('day', DATE '1970-01-05', CAST(o.o_orderdate AS DATE)) % 7, 5))
                   AS bdays
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(bdays) AS BIGINT) AS min_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays,
           round(CAST(sum(bdays) AS DOUBLE) / count(*), 6) AS avg_bdays
    FROM spans GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="business-day spans (numpy busday_count semantics — weekdays in "
    "[order_date, ship_date), pinned against np.busday_count in pytest) "
    "via the closed-form cumulative-weekday function B(d) = "
    "(days_since_a_monday // 7) * 5 + least(days % 7, 5): pure integer "
    "date arithmetic, no calendar UDF, no per-day explode — the naive "
    "generate_series-per-row approach would amplify 100 TB of spans into "
    "quadrillions of day rows; the closed form is O(1) per row and stays "
    "in whole-stage codegen. One keyed join (orderkey) + one keyed agg.",
)
def dt_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")

    def cum_bdays(col):
        t = F.datediff(col.cast("date"), F.lit("1970-01-05").cast("date"))
        return (t - (t % 7)) / 7 * 5 + F.least(t % 7, F.lit(5))

    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority",
        (cum_bdays(F.col("l_shipdate")) - cum_bdays(F.col("o_orderdate")))
        .cast("bigint")
        .alias("bdays"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("bdays").alias("min_bdays"),
            F.max("bdays").alias("max_bdays"),
            F.round(F.sum("bdays").cast("double") / F.count(F.lit(1)), 6).alias("avg_bdays"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "win_autocorr_lag",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM lineitem GROUP BY day
    ), lagged AS (
        SELECT k.lag AS lag, d.rev AS y,
               lag(d.rev, k.lag) OVER (PARTITION BY k.lag ORDER BY d.day) AS x
        FROM daily d CROSS JOIN (SELECT unnest([1, 7]) AS lag) k
    ), sums AS (
        SELECT lag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy,
               CAST(sum(x * y) AS HUGEINT) AS sxy
        FROM lagged WHERE x IS NOT NULL
        GROUP BY lag
    )
    SELECT lag, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS autocorr_q6
    FROM sums
    ORDER BY lag
    """,
    doc="autocorrelation of the daily-revenue series at lags 1 and 7 "
    "(pandas Series.autocorr — positional lag over the ordered series; "
    "the weekly lag-7 peak is the classic seasonality check): daily "
    "revenue as exact BIGINT cents from ONE keyed groupBy, lag() windows "
    "per lag value, then Pearson r from decimal(38,0)/HUGEINT power sums "
    "(daily-revenue products pass 2^63 at warehouse scale). The daily "
    "series is |days| rows regardless of input size, so the per-lag "
    "window sort is bounded; all shuffles keyed (day, then lag).",
)
def win_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    lags = spark.range(0, 1).select(
        F.explode(F.array(F.lit(1), F.lit(7))).alias("lag")
    )
    lagged = daily.crossJoin(lags)
    w = W.partitionBy("lag").orderBy("day")
    xy = (
        lagged.select(
            "lag",
            F.col("rev").alias("y"),
            F.when(F.col("lag") == 1, F.lag("rev", 1).over(w))
            .otherwise(F.lag("rev", 7).over(w))
            .alias("x"),
        )
        .filter(F.col("x").isNotNull())
    )
    dec = "decimal(38,0)"
    sums = xy.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.select(
        "lag",
        "n",
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("autocorr_q6"),
    ).orderBy("lag")


def _lpa_oracle(rounds: int = 3) -> str:
    prev = "lab0"
    cte = [
        "WITH pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        "eu AS (SELECT DISTINCT a.p AS u, b.p AS v"
        " FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p)",
        "edges AS (SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu)",
        "lab0 AS (SELECT DISTINCT u AS node, u AS label FROM edges)",
    ]
    for r in range(1, rounds + 1):
        cte.append(
            f"lab{r} AS (SELECT node, label FROM ("
            f" SELECT e.u AS node, l.label, count(*) AS c,"
            f" row_number() OVER (PARTITION BY e.u"
            f"   ORDER BY count(*) DESC, l.label) AS rn"
            f" FROM edges e JOIN {prev} l ON l.node = e.v"
            f" GROUP BY e.u, l.label) t WHERE rn = 1)"
        )
        prev = f"lab{r}"
    return (
        ",\n    ".join(cte)
        + f"\n    SELECT node, label AS community FROM {prev} ORDER BY node"
    )


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(3),
    doc="community detection via 3 rounds of deterministic synchronous "
    "label propagation (Raghavan et al. 2007, arXiv:0709.2938) on the "
    "co-ordered-parts graph: every node starts as its own label; each "
    "round adopts the most frequent neighbour label with the total "
    "(count DESC, label ASC) tie-break, so the result is bit-stable "
    "across partitionings — the nondeterminism that makes textbook LPA "
    "unsuitable for a correctness gate is engineered out. Per round: one "
    "keyed join (neighbour lookup) + one keyed count + one per-node "
    "max_by argmax — round 9 replaced the row_number window (sort "
    "exchange per round) with max_by(label, struct(c, -label)), a pure "
    "hash aggregate with map-side partials and the identical (count "
    "DESC, label ASC) winner, verified exceptAll-equal at sf0.1. The "
    "symmetric edge list is localCheckpoint'ed once (the co-occurrence "
    "self-join otherwise re-nests into every round's plan — the CC "
    "operator's lesson). Oracle: the identical 3 rounds unrolled as "
    "CTEs.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    eu = co_occurrence_edges(li, "l_orderkey", "l_partkey")
    edges = eu.union(
        eu.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    # Round-0 closed form (r10): with identity initial labels every
    # neighbour label is distinct (c == 1 for all), so the (count DESC,
    # label ASC) winner is simply the MINIMUM neighbour id — one groupBy
    # replaces the node-distinct build, the first join and the first
    # two-level aggregation (identical labels by construction; oracle's
    # unrolled lab1 CTE unchanged and still hash-matched at 3 SFs).
    labels = edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("label")
    )
    for _ in range(2):
        nb = edges.join(labels.withColumnRenamed("node", "v"), "v").select(
            F.col("u").alias("node"), "label"
        )
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = cnt.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("c"), -F.col("label"))).alias(
                "label"
            )
        )
    return labels.select("node", F.col("label").alias("community")).orderBy("node")


def _minhash_incremental_oracle() -> str:
    from cudf_spark.operators.dedup import MINHASH_P, minhash_seeds
    from cudf_spark.functions.hashing import hash60_sql
    from cudf_spark.queries.text import SQL_SHINGLES, SQL_TOKS

    seeds = minhash_seeds(8)
    h_expr = hash60_sql("shingle")
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(seeds)
    )
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, is_new, {b} AS band,"
        f" CAST(m{2*b} AS VARCHAR) || '_' || CAST(m{2*b+1} AS VARCHAR) AS band_key"
        " FROM sig"
        for b in range(4)
    )
    return f"""
    WITH w AS (
        SELECT doc_id, source = 'src3' AS is_new, {SQL_TOKS} AS w FROM documents
    ), shingled AS (
        SELECT doc_id, is_new, {SQL_SHINGLES} AS sh FROM w
    ), exploded AS (
        SELECT doc_id, is_new, unnest(sh) AS shingle FROM shingled
    ), hashed AS (
        SELECT doc_id, is_new, {h_expr} % {MINHASH_P} AS h FROM exploded
    ), sig AS (
        SELECT doc_id, is_new,
               {mins}
        FROM hashed GROUP BY doc_id, is_new
    ), bands AS (
{band_rows}
    ), cand AS (
        SELECT DISTINCT n.doc_id AS new_id, p.doc_id AS old_id
        FROM bands n JOIN bands p
          ON n.band = p.band AND n.band_key = p.band_key
         AND n.is_new AND NOT p.is_new
    ), verified AS (
        SELECT c.new_id, c.old_id,
               len(list_intersect(x.sh, y.sh)) * 1.0 /
               len(list_distinct(list_concat(x.sh, y.sh))) AS jac
        FROM cand c
        JOIN shingled x ON x.doc_id = c.new_id
        JOIN shingled y ON y.doc_id = c.old_id
        WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
              len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    ), best AS (
        SELECT new_id, old_id, jac,
               row_number() OVER (PARTITION BY new_id
                                  ORDER BY jac DESC, old_id) AS rn
        FROM verified
    )
    SELECT d.doc_id, b.new_id IS NOT NULL AS is_neardup,
           b.old_id AS match_id, round(b.jac, 6) AS jaccard_q6
    FROM (SELECT doc_id FROM documents WHERE source = 'src3') d
    LEFT JOIN best b ON b.new_id = d.doc_id AND b.rn = 1
    ORDER BY d.doc_id
    """


@register(
    "dedup_minhash_incremental",
    oracle=_minhash_incremental_oracle(),
    doc="incremental cross-run NEAR-dup detection — the LSH twin of "
    "dedup_exact_crossrun and the workflow every continuously-ingesting "
    "corpus runs: the prior corpus (src0-2) persists only its minhash "
    "SIGNATURE table (8 ints/doc — the only state that crosses runs); "
    "the new batch (src3) computes signatures, probes the prior band "
    "table with a bipartite band equi-join (never new x old all-pairs), "
    "and verifies the bounded candidate set by exact jaccard >= 0.2 "
    "(shingles fetched only for candidates). Per new doc: the best "
    "verified match under the total (jaccard DESC, old_id) order, or "
    "is_neardup=false. Same 8-perm/4-band/2-row scheme as "
    "dedup_minhash_lsh, so one signature table serves both the batch "
    "and incremental paths. Oracle replays the full algorithm including "
    "candidate generation.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cudf_spark.functions.textfns import jaccard, normalize_text, word_shingles
    from cudf_spark.operators.dedup import minhash_signature

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", normalize_text(F.col("text")).alias("text")
    )
    prior = d.filter(F.col("source") != "src3")
    batch = d.filter(F.col("source") == "src3")

    def bands_of(df):
        sig = minhash_signature(df, "doc_id", "text")
        keys = F.array(
            *[
                F.concat_ws("_", F.col(f"m{2*b}"), F.col(f"m{2*b+1}"))
                for b in range(4)
            ]
        )
        return sig.select("doc_id", F.posexplode(keys).alias("band", "band_key"))

    cand = (
        bands_of(batch)
        .withColumnRenamed("doc_id", "new_id")
        .join(bands_of(prior).withColumnRenamed("doc_id", "old_id"), ["band", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    sh = d.select("doc_id", word_shingles(F.col("text")).alias("sh"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")), "new_id")
        .join(sh.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b")), "old_id")
        .select("new_id", "old_id", jac.alias("jac"))
        .filter(F.col("jac") >= 0.2)
    )
    w = W.partitionBy("new_id").orderBy(F.desc("jac"), "old_id")
    best = verified.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        batch.select("doc_id")
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("old_id").isNotNull().alias("is_neardup"),
            F.col("old_id").alias("match_id"),
            F.round("jac", 6).alias("jaccard_q6"),
        )
        .orderBy("doc_id")
    )


@register(
    "mm_video_dedup_signature",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST(doc_id % 4 + 2 AS INT)  AS w,
               CAST(doc_id % 3 + 2 AS INT)  AS h,
               CAST(n_chars % 5 + 2 AS INT) AS n_frames,
               CAST((doc_id % 8) * 16 AS INT) AS base
        FROM documents
    ), sigs AS (
        SELECT asset_id,
               md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' ||
                   array_to_string(list_transform(generate_series(0, n_frames - 1),
                       k -> CAST(list_sum(list_transform(
                                generate_series(0, w * h - 1),
                                i -> (base + 7 * k + i) % 256)) AS VARCHAR)),
                       '|')) AS sig
        FROM params
    )
    SELECT sig, CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(asset_id) AS BIGINT) AS canonical_id
    FROM sigs GROUP BY sig HAVING count(*) > 1
    ORDER BY canonical_id
    """,
    doc="video-level dedup by frame-sequence signature — the multimodal "
    "dedup pass for video corpora: decode each fake FVID container, "
    "reduce every frame to an exact integer feature (pixel sum — the "
    "stand-in for a per-frame perceptual hash; the codec seam is the "
    "frombuffer line), md5 the dims+ordered-feature sequence into ONE "
    "scalar signature per video, then a keyed signature groupBy finds "
    "exact-duplicate videos. 100 TB: signatures are one shuffle of "
    "(hash, id) pairs — the video bytes never shuffle; the mapInPandas "
    "decode is embarrassingly parallel. Oracle recomputes every frame "
    "sum in closed form from the container arithmetic.",
)
def mm_video_dedup_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assets = encode_assets(
        d,
        lambda did, nc: fake_video_bytes(did % 4 + 2, did % 3 + 2, nc % 5 + 2, (did % 8) * 16),
    )
    sigs = video_signature(assets)
    return (
        sigs.select("asset_id", F.md5("raw_sig").alias("sig"))
        .groupBy("sig")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("asset_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("canonical_id")
    )


def _describe_col_sql(expr: str, label: str) -> str:
    """describe() stats for one integer-lattice column as (column, stat,
    value) rows — mean/std from exact sums, quartiles linear-interpolated
    at rank targets on the sorted list."""
    return f"""
        SELECT '{label}' AS col, stat, value FROM (
            WITH v AS (SELECT {expr} AS x FROM lineitem),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS HUGEINT) AS s1,
                         CAST(sum(x * x) AS HUGEINT) AS s2,
                         CAST(min(x) AS BIGINT) AS mn,
                         CAST(max(x) AS BIGINT) AS mx,
                         list_sort(list(x)) AS a
                  FROM v)
            SELECT 'count' AS stat, CAST(n AS DOUBLE) AS value FROM s
            UNION ALL
            SELECT 'mean', round(CAST(s1 AS DOUBLE) / n, 6) FROM s
            UNION ALL
            SELECT 'std', round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                                     / (CAST(n AS DOUBLE) * (n - 1))), 6) FROM s
            UNION ALL
            SELECT 'min', CAST(mn AS DOUBLE) FROM s
            UNION ALL
            SELECT 'q25', round(a[CAST(floor(0.25 * (n-1)) AS INT) + 1]
                   + (a[CAST(ceil(0.25 * (n-1)) AS INT) + 1]
                      - a[CAST(floor(0.25 * (n-1)) AS INT) + 1])
                     * (0.25 * (n-1) - floor(0.25 * (n-1))), 6) FROM s
            UNION ALL
            SELECT 'q50', round(a[CAST(floor(0.50 * (n-1)) AS INT) + 1]
                   + (a[CAST(ceil(0.50 * (n-1)) AS INT) + 1]
                      - a[CAST(floor(0.50 * (n-1)) AS INT) + 1])
                     * (0.50 * (n-1) - floor(0.50 * (n-1))), 6) FROM s
            UNION ALL
            SELECT 'q75', round(a[CAST(floor(0.75 * (n-1)) AS INT) + 1]
                   + (a[CAST(ceil(0.75 * (n-1)) AS INT) + 1]
                      - a[CAST(floor(0.75 * (n-1)) AS INT) + 1])
                     * (0.75 * (n-1) - floor(0.75 * (n-1))), 6) FROM s
            UNION ALL
            SELECT 'max', CAST(mx AS DOUBLE) FROM s
        ) t
    """


@register(
    "agg_describe",
    oracle=(
        "SELECT col, stat, value FROM (\n"
        + "\nUNION ALL\n".join(
            _describe_col_sql(e, l)
            for e, l in [
                ("CAST(l_quantity AS BIGINT)", "quantity"),
                ("CAST(round(l_extendedprice * 100) AS BIGINT)", "price_cents"),
                ("CAST(round(l_discount * 100) AS BIGINT)", "discount_pct"),
            ]
        )
        + "\n) u ORDER BY col, stat"
    ),
    doc="DataFrame.describe() (cudf python/cudf DataFrame.describe; "
    "pandas-compatible count/mean/std/min/25%/50%/75%/max) over three "
    "measures, melted to (col, stat, value) rows: mean/std from exact "
    "HUGEINT/decimal sums (identical IEEE finishing arithmetic), "
    "quartiles from Spark's DISTRIBUTED exact percentile aggregate "
    "(per-partition value->count maps, merged — no global sort and no "
    "single-partition window; map size bounded by the integer lattice's "
    "distinct-value count) with the same linear interpolation the "
    "oracle's sorted-list arithmetic performs. At 100 TB on a continuous "
    "domain swap the quartile block for the t-digest sketch "
    "(agg_sketch_merge) and keep the exact moment block as-is.",
)
def agg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cols = [
        (F.col("l_quantity").cast("bigint"), "quantity"),
        (F.round(F.col("l_extendedprice") * 100).cast("bigint"), "price_cents"),
        (F.round(F.col("l_discount") * 100).cast("bigint"), "discount_pct"),
    ]
    outs = []
    for expr, label in cols:
        v = li.select(expr.alias("x"))
        dec = "decimal(38,0)"
        # ONE aggregate per column: moments and quantiles are both plain
        # aggregate functions, so sharing the .agg halves the table
        # scans (the old two-agg + crossJoin form scanned v twice).
        # DISTRIBUTED exact quantiles: Spark's percentile aggregate builds
        # per-partition value->count maps and merges them (no global sort,
        # no single-partition window — the scale_audit funnel this query's
        # first draft had), then applies the same (1-g)*lower + g*higher
        # linear interpolation the oracle's sorted-list arithmetic does.
        # Exact on the integer lattice; map size bounded by |distinct x|.
        sums = v.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("x").cast(dec)).alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("s2"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
            F.expr("percentile(x, array(0.25, 0.50, 0.75))").alias("qs"),
        ).select(
            "*",
            F.element_at("qs", 1).alias("q25v"),
            F.element_at("qs", 2).alias("q50v"),
            F.element_at("qs", 3).alias("q75v"),
        )
        n = F.col("n").cast("double")
        s1d = F.col("s1").cast("double")
        nvar = (F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        stats = sums.select(
            F.lit(label).alias("col"),
            F.explode(
                F.array(
                    F.struct(F.lit("count").alias("stat"), n.alias("value")),
                    F.struct(F.lit("mean").alias("stat"), F.round(s1d / n, 6).alias("value")),
                    F.struct(
                        F.lit("std").alias("stat"),
                        F.round(F.sqrt(nvar / (n * (n - 1))), 6).alias("value"),
                    ),
                    F.struct(F.lit("min").alias("stat"), F.col("mn").cast("double").alias("value")),
                    *[
                        F.struct(
                            F.lit(f"q{int(q*100)}").alias("stat"),
                            F.round(F.col(f"q{int(q*100)}v"), 6).alias("value"),
                        )
                        for q in (0.25, 0.50, 0.75)
                    ],
                    F.struct(F.lit("max").alias("stat"), F.col("mx").cast("double").alias("value")),
                )
            ).alias("s"),
        ).select("col", F.col("s.stat").alias("stat"), F.col("s.value").alias("value"))
        outs.append(stats)
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.orderBy("col", "stat")


@register(
    "scan_cumprod",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(list_reduce(list(CAST(1 + round(l_discount * 100) AS HUGEINT))
               OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (x, y) -> x * y) AS BIGINT) AS cumprod_scaled
    FROM lineitem
    WHERE l_orderkey <= 5000
    ORDER BY l_orderkey, l_linenumber, cumprod_scaled
    """,
    doc="grouped cumulative PRODUCT scan (cudf scan PRODUCT aggregation, "
    "cpp/include/cudf/aggregation.hpp make_product_aggregation + "
    "scan.hpp): compounding (1 + discount_pct) integer factors per "
    "order. l_linenumber is NOT unique within an order in this fixture, "
    "so the frame is RANGE (all peers of the current line included) — "
    "an exact-integer product is commutative, making the scan value "
    "independent of tie order and of partitioning; a ROWS frame would "
    "be nondeterministic under ties. Fold runs in decimal(38,0)/HUGEINT "
    "(fits ~36 factors; fixture max is 17/order) and the result is cast "
    "to BIGINT loudly. Spark has no product window builtin, so the scan "
    "is a frame-bounded collect_list + F.aggregate fold (the "
    "win_rolling_median pattern). Float cumprod (exp-of-log-sums) would "
    "be fold-order-dependent; the integer lattice is not.",
)
def scan_cumprod(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 5000)
    f = (F.lit(1) + F.round(F.col("l_discount") * 100)).cast("decimal(38,0)")
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.aggregate(
            F.collect_list(f).over(w),
            F.lit(1).cast("decimal(38,0)"),
            lambda acc, x: acc * x,
        )
        .cast("bigint")
        .alias("cumprod_scaled"),
    ).orderBy("l_orderkey", "l_linenumber", "cumprod_scaled")


@register(
    "reshape_pivot_multi",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS f_qty,
           CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)  AS f_cnt,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS o_qty,
           CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)  AS o_cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="pivot_table with MULTIPLE aggfuncs (pandas/cudf "
    "pivot_table(values=..., aggfunc=['sum', 'count'])): one "
    "groupBy().pivot() producing sum+count per pivoted status column in "
    "a single shuffle — the multi-agg form Spark's pivot supports "
    "natively via agg(a1, a2); columns renamed to the flattened "
    "(value, func) names pandas emits.",
)
def reshape_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_qty").alias("f_qty"),
        F.col("F_cnt").alias("f_cnt"),
        F.col("O_qty").alias("o_qty"),
        F.col("O_cnt").alias("o_cnt"),
    ).orderBy("l_returnflag")


@register(
    "win_rolling_quantile",
    oracle="""
    WITH f AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               list_sort(list(CAST(l_quantity AS DOUBLE))
                   OVER (PARTITION BY l_suppkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS a
        FROM lineitem WHERE l_suppkey <= 40
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN len(a) >= 4 THEN
               round(a[CAST(floor(0.9 * (len(a) - 1)) AS INT) + 1]
                     + (a[CAST(ceil(0.9 * (len(a) - 1)) AS INT) + 1]
                        - a[CAST(floor(0.9 * (len(a) - 1)) AS INT) + 1])
                       * (0.9 * (len(a) - 1) - floor(0.9 * (len(a) - 1))), 6)
           END AS p90_q6
    FROM f
    ORDER BY l_suppkey, l_orderkey, l_linenumber
    """,
    doc="rolling quantile with linear interpolation and min_periods "
    "(cudf Rolling.quantile surface; rolling.hpp frame semantics + the "
    "QUANTILE aggregation's linear mode, quantiles.hpp:50): p90 over a "
    "10-row trailing frame per supplier — frame-bounded collect + sort + "
    "rank-target interpolation, the win_rolling_median pattern "
    "generalised to arbitrary q. Cost is O(frame log frame) per row with "
    "frame=10, shuffle is the single supplier-keyed exchange; the "
    "quantity lattice keeps interpolated values on exact .0/.1/... "
    "rationals so round(.,6) cannot straddle. min_periods=4 yields NULL "
    "(not a partial-frame estimate) on both engines.",
)
def win_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 40)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey")
        .rowsBetween(-9, W.currentRow)
    )
    a = F.array_sort(F.collect_list(F.col("l_quantity").cast("double")).over(w))
    n = F.size(a)
    pos = F.lit(0.9) * (n.cast("double") - 1)
    lo = F.floor(pos).cast("int")
    hi = F.ceil(pos).cast("int")
    val = F.element_at(a, lo + 1) + (
        F.element_at(a, hi + 1) - F.element_at(a, lo + 1)
    ) * (pos - lo.cast("double"))
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.when(n >= 4, F.round(val, 6)).alias("p90_q6"),
    ).orderBy("l_suppkey", "l_orderkey", "l_linenumber")


@register(
    "agg_entropy_gini",
    oracle="""
    WITH cnt AS (
        -- DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday: align with +1
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
               event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY dow, event_type
    ), g AS (
        SELECT dow, list_sort(list(c)) AS cs, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_types
        FROM cnt GROUP BY dow
    )
    SELECT dow, n, n_types,
           round(-list_sum(list_transform(cs,
               c -> (CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n))), 6)
               AS entropy_bits_q6,
           round(1.0 - list_sum(list_transform(cs,
               c -> (CAST(c AS DOUBLE) / n) * (CAST(c AS DOUBLE) / n))), 6)
               AS gini_q6
    FROM g ORDER BY dow
    """,
    doc="distribution profiling per day-of-week cohort: Shannon entropy "
    "(bits) + Gini impurity of the event-type mix — the value_counts -> "
    "impurity pipeline every data-quality/drift monitor runs. Two keyed "
    "aggregations ((dow,type) count then dow fold); the per-group count "
    "list is bounded by |event_types| so the sorted fold is O(types) — "
    "and SORTED deliberately: both engines sum the identical float "
    "series in the identical order (the emb_outlier_zscore discipline), "
    "so log2 rounding cannot be reordered into a different sixth "
    "decimal. Gini is an exact rational on the count lattice.",
)
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cnt = (
        ev.select(F.dayofweek(F.col("ts")).cast("int").alias("dow"), "event_type")
        .groupBy("dow", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    g = cnt.groupBy("dow").agg(
        F.array_sort(F.collect_list("c")).alias("cs"),
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    n = F.col("n").cast("double")
    p = lambda c: c.cast("double") / n  # noqa: E731
    entropy = -F.aggregate(
        F.col("cs"), F.lit(0.0), lambda acc, c: acc + p(c) * F.log2(p(c))
    )
    gini = F.lit(1.0) - F.aggregate(
        F.col("cs"), F.lit(0.0), lambda acc, c: acc + p(c) * p(c)
    )
    return g.select(
        "dow",
        "n",
        "n_types",
        F.round(entropy, 6).alias("entropy_bits_q6"),
        F.round(gini, 6).alias("gini_q6"),
    ).orderBy("dow")


@register(
    "stream_image_dedup_incremental",
    oracle=_AHASH_SQL_CTE
    + """, keep AS (
        SELECT ahash_hex, min(asset_id) AS asset_id
        FROM hexed GROUP BY ahash_hex
    )
    SELECT substr(ahash_hex, 1, 1) AS nibble,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(asset_id) AS BIGINT) AS id_sum
    FROM keep GROUP BY nibble ORDER BY nibble
    """,
    doc="STREAMING multimodal dedup: the image corpus replayed as a REAL "
    "3-batch micro-batch stream (doc_id-ordered files, strictly ordered "
    "mtimes, maxFilesPerTrigger=1, availableNow); each foreachBatch "
    "encodes + aHashes its images in one Arrow pass, keeps the first "
    "asset per exact hash within the batch, hash-ANTI-JOINS the "
    "accumulated parquet state table, and appends only new hashes — the "
    "keep-first-arrival incremental image-dedup workflow "
    "(stream_curation_incremental's shape applied to the multimodal "
    "path). Batches are id-ordered, so the end state must equal the "
    "one-shot rule (min asset per hash), which the oracle replays from "
    "the closed-form hash arithmetic; id_sum pins the exact surviving "
    "asset set. 100 TB: only (hash, id) rows cross batches — the image "
    "bytes never leave their batch; state is a hash-keyed parquet table.",
)
def stream_image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil
    import tempfile

    from cudf_spark.streaming.ops import write_ordered_batch

    d = load(spark, sf_dir, "documents").select("doc_id")
    tmp = tempfile.mkdtemp(prefix="image_stream_")
    src, state = os.path.join(tmp, "src"), os.path.join(tmp, "state")
    try:
        # 1-row collect: integer id-range thirds pick the batch cuts (any
        # deterministic split works — the end state is batch-invariant;
        # pure integer arithmetic, no float percentile crosses a filter)
        span = d.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).collect()[0]
        if span["mn"] is None:
            return spark.createDataFrame(
                [], "nibble string, n_kept bigint, id_sum bigint"
            )
        mn, mx = int(span["mn"]), int(span["mx"])
        width = mx - mn + 1
        cuts = [mn + width // 3, mn + (2 * width) // 3]
        batches = [
            d.filter(F.col("doc_id") < cuts[0]),
            d.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
            d.filter(F.col("doc_id") >= cuts[1]),
        ]
        for seq, b in enumerate(batches):
            write_ordered_batch(b, src, seq)

        def per_batch(bdf, _bid):
            hashed = image_ahash(_encode_textured_images(bdf)).filter("valid")
            first = (
                hashed.groupBy("ahash_hex")
                .agg(F.min("asset_id").alias("asset_id"))
            )
            if os.path.isdir(state) and glob.glob(os.path.join(state, "*.parquet")):
                seen = bdf.sparkSession.read.parquet(state).select("ahash_hex")
                first = first.join(seen, "ahash_hex", "left_anti")
            first.write.mode("append").parquet(state)

        q = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(per_batch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_image_dedup_incremental: stream did not finish in 300s"
            )
        kept = spark.read.parquet(state)
        rows = (
            kept.groupBy(F.substring("ahash_hex", 1, 1).alias("nibble"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_kept"),
                F.sum("asset_id").cast("bigint").alias("id_sum"),
            )
            .orderBy("nibble")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r["nibble"], r["n_kept"], r["id_sum"]) for r in rows],
        "nibble string, n_kept bigint, id_sum bigint",
    ).orderBy("nibble")


@register(
    "emb_truncated_dim_recall",
    oracle="""
    WITH qs AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id % 101 = 7
    ), full_rank AS (
        SELECT * FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(
                           list_sum(list_transform(generate_series(1, 64),
                               i -> CAST(e.embedding[i] AS DOUBLE)
                                  * CAST(q.qv[i] AS DOUBLE)))
                           / (sqrt(list_sum(list_transform(generate_series(1, 64),
                               i -> CAST(e.embedding[i] AS DOUBLE)
                                  * CAST(e.embedding[i] AS DOUBLE))))
                            * sqrt(list_sum(list_transform(generate_series(1, 64),
                               i -> CAST(q.qv[i] AS DOUBLE)
                                  * CAST(q.qv[i] AS DOUBLE))))), 6)
                           DESC, e.vec_id
                   ) AS rn
            FROM embeddings e CROSS JOIN qs q WHERE e.vec_id != q.qid)
        WHERE rn <= 10
    ), trunc_rank AS (
        SELECT * FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(
                           list_sum(list_transform(generate_series(1, 16),
                               i -> CAST(e.embedding[i] AS DOUBLE)
                                  * CAST(q.qv[i] AS DOUBLE)))
                           / (sqrt(list_sum(list_transform(generate_series(1, 16),
                               i -> CAST(e.embedding[i] AS DOUBLE)
                                  * CAST(e.embedding[i] AS DOUBLE))))
                            * sqrt(list_sum(list_transform(generate_series(1, 16),
                               i -> CAST(q.qv[i] AS DOUBLE)
                                  * CAST(q.qv[i] AS DOUBLE))))), 6)
                           DESC, e.vec_id
                   ) AS rn
            FROM embeddings e CROSS JOIN qs q WHERE e.vec_id != q.qid)
        WHERE rn <= 10
    )
    SELECT f.qid,
           CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
           CAST((count(t.vec_id) * 1000000) // 10 AS BIGINT) AS recall_uu
    FROM full_rank f
    LEFT JOIN trunc_rank t ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid ORDER BY f.qid
    """,
    doc="dimension-truncation recall@10 (the Matryoshka-embedding serving "
    "question: how much ANN quality survives keeping only the first 16 of "
    "64 dims — 4x less memory bandwidth per probe): exact top-10 under "
    "full-dim cosine vs exact top-10 under 16-dim-prefix cosine, overlap "
    "per query in integer micro-units. Both rankings window on the "
    "ROUNDED cosine with vec_id tie-break (the ann_ivf_recall "
    "discipline), corpus scanned once per ranking with the broadcast "
    "query batch. The accuracy-envelope pattern (dedup_minhash_estimate, "
    "ann_ivf_recall) applied to embedding truncation.",
)
def emb_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cudf_spark.operators.similarity import cosine

    e = load(spark, sf_dir, "embeddings")
    qs = F.broadcast(
        e.filter(F.col("vec_id") % 101 == 7).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    scored = e.crossJoin(qs).filter(F.col("vec_id") != F.col("qid"))

    def topk(sim_col):
        w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
        return (
            scored.select("qid", "vec_id", F.round(sim_col, 6).alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("qid", "vec_id")
        )

    full = topk(cosine(F.col("embedding"), F.col("qv")))
    trunc = topk(
        cosine(F.slice("embedding", 1, 16), F.slice("qv", 1, 16))
    ).withColumnRenamed("vec_id", "tvec")
    return (
        full.join(
            trunc,
            (full["qid"] == trunc["qid"]) & (full["vec_id"] == trunc["tvec"]),
            "left",
        )
        .groupBy(full["qid"].alias("qid"))
        .agg(
            F.count("tvec").cast("bigint").alias("n_overlap"),
            ((F.count("tvec") * 1000000) / 10).cast("bigint").alias("recall_uu"),
        )
        .orderBy("qid")
    )


# distinct word bigrams from a token-list column `w` (mirrors text.py's
# SQL_SHINGLES construction at k=2, over the same SQL_NORM tokenisation)
_SQL_BIGRAMS = (
    "list_distinct(list_transform(generate_series(1, greatest(len(w) - 1, 0)),"
    " i -> w[i] || ' ' || w[i+1]))"
)


def _ngram_overlap_oracle() -> str:
    from cudf_spark.queries.text import SQL_TOKS

    return f"""
    WITH w AS (
        SELECT doc_id, source, {SQL_TOKS} AS w FROM documents
    ), toks AS (
        SELECT doc_id, source, {_SQL_BIGRAMS} AS bg FROM w
    ), paired AS ("""


@register(
    "eval_ngram_overlap",
    oracle=_ngram_overlap_oracle()
    + """
        SELECT doc_id, source, bg,
               lead(doc_id) OVER w AS ref_id,
               lead(bg)     OVER w AS ref_bg
        FROM toks
        WINDOW w AS (PARTITION BY source ORDER BY doc_id)
    )
    SELECT doc_id, ref_id,
           CAST(len(list_intersect(bg, ref_bg)) AS BIGINT) AS n_common,
           round(len(list_intersect(bg, ref_bg)) * 1.0 / len(bg), 6)     AS rouge2_precision,
           round(len(list_intersect(bg, ref_bg)) * 1.0 / len(ref_bg), 6) AS rouge2_recall
    FROM paired
    WHERE ref_id IS NOT NULL AND len(bg) > 0 AND len(ref_bg) > 0
    ORDER BY doc_id
    """,
    doc="ROUGE-2-style n-gram overlap scoring (Lin 2004 — the standard "
    "summarization/eval metric, here as the at-scale eval primitive: "
    "candidate=doc, reference=next doc in the same source): distinct "
    "bigram sets per doc, one source-keyed lead() window to form pairs "
    "(no self-join — each doc's bigrams ship through the window buffer "
    "once), precision/recall as exact integer ratios. At 100 TB the "
    "window is source-keyed and the bigram sets are per-doc bounded; "
    "for reference sets that aren't adjacency-defined, the same scoring "
    "runs after any keyed candidate join (text_sparse_cosine_pairs).",
)
def eval_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cudf_spark.functions.textfns import normalize_text, word_shingles

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        word_shingles(normalize_text(F.col("text")), 2).alias("bg"),
    )
    w = W.partitionBy("source").orderBy("doc_id")
    paired = toks.select(
        "doc_id",
        "bg",
        F.lead("doc_id").over(w).alias("ref_id"),
        F.lead("bg").over(w).alias("ref_bg"),
    ).filter(
        F.col("ref_id").isNotNull() & (F.size("bg") > 0) & (F.size("ref_bg") > 0)
    )
    common = F.size(F.array_intersect("bg", "ref_bg"))
    return paired.select(
        "doc_id",
        "ref_id",
        common.cast("bigint").alias("n_common"),
        F.round(common / F.size("bg"), 6).alias("rouge2_precision"),
        F.round(common / F.size("ref_bg"), 6).alias("rouge2_recall"),
    ).orderBy("doc_id")


@register(
    "stats_ab_welch_t",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS HUGEINT) AS s1,
               CAST(sum(x * x) AS HUGEINT) AS s2
        FROM v GROUP BY event_type
    ), m AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n AS mean,
               CAST(n * s2 - s1 * s1 AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (n - 1)) / n AS sem2
        FROM s
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mean / 1000000, 6) AS mean_a,
           round(b.mean / 1000000, 6) AS mean_b,
           round((a.mean - b.mean) / sqrt(a.sem2 + b.sem2), 6) AS t_stat,
           round((a.sem2 + b.sem2) * (a.sem2 + b.sem2)
                 / (a.sem2 * a.sem2 / (a.n - 1) + b.sem2 * b.sem2 / (b.n - 1)),
                 4) AS welch_df
    FROM (SELECT * FROM m WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM m WHERE event_type = 'purchase') b
    """,
    doc="two-sample Welch t-test (the A/B-experiment primitive; Welch "
    "1947 unequal-variance form with the Welch-Satterthwaite df): "
    "click-vs-purchase event values on the micro-unit lattice, one "
    "map-side-combinable groupBy of exact HUGEINT/decimal power sums per "
    "arm, then t = (mean_a - mean_b)/sqrt(sem_a^2 + sem_b^2) and the "
    "Satterthwaite df as the identical IEEE expression tree on both "
    "engines. The two one-row arms cross-join driver-free. At 100 TB an "
    "experiment platform runs thousands of these per day — each is ONE "
    "aggregate over the metric table, no matter how many rows per arm.",
)
def stats_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.filter(
        F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
    ).select(
        "event_type", F.round(F.col("value") * 1000000).cast("bigint").alias("x")
    )
    dec = "decimal(38,0)"
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n
    sem2 = (
        (n.cast(dec) * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (n.cast("double") * (n - 1))
        / n
    )
    m = s.select("event_type", "n", mean.alias("mean"), sem2.alias("sem2"))
    a = m.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_raw_a"), F.col("sem2").alias("sem2_a")
    )
    b = m.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_raw_b"), F.col("sem2").alias("sem2_b")
    )
    j = a.crossJoin(b)
    pooled = F.col("sem2_a") + F.col("sem2_b")
    return j.select(
        "n_a",
        "n_b",
        F.round(F.col("mean_raw_a") / 1000000, 6).alias("mean_a"),
        F.round(F.col("mean_raw_b") / 1000000, 6).alias("mean_b"),
        F.round((F.col("mean_raw_a") - F.col("mean_raw_b")) / F.sqrt(pooled), 6).alias(
            "t_stat"
        ),
        F.round(
            pooled * pooled
            / (
                F.col("sem2_a") * F.col("sem2_a") / (F.col("n_a") - 1)
                + F.col("sem2_b") * F.col("sem2_b") / (F.col("n_b") - 1)
            ),
            4,
        ).alias("welch_df"),
    )


@register(
    "stats_chi_square",
    oracle="""
    WITH obs AS (
        SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
               event_type, CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY dow, event_type
    ), tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n FROM obs
    ), rowm AS (
        SELECT dow, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY dow
    ), colm AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY event_type
    ), cells AS (
        -- chi2 cell = (o - r*c/n)^2 / (r*c/n), exact rational:
        -- (n*o - r*c)^2 / (n * r * c) with HUGEINT numerators
        SELECT n,
               CAST((CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c) AS HUGEINT)
                 * CAST((CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c) AS HUGEINT)
                   AS num,
               CAST(n AS HUGEINT) * r * c AS den
        FROM obs JOIN rowm USING (dow) JOIN colm USING (event_type), tot
    )
    SELECT CAST(min(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(list_sum(list_transform(
               list_sort(list(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))),
               z -> z)), 6) AS chi2_q6
    FROM cells
    """,
    doc="chi-square test of independence (event_type x day-of-week — the "
    "standard categorical drift/association check): observed counts from "
    "ONE keyed groupBy, marginals from two keyed re-aggregations of the "
    "|dow|x|types| cell table (never the raw events), and each cell's "
    "(o - e)^2/e rewritten as (n*o - r*c)^2/(n*r*c) so numerator and "
    "denominator stay EXACT 128-bit integers — the only floats are one "
    "division per cell and the final fold, which both engines perform "
    "over the SORTED cell list (the agg_entropy_gini discipline). "
    "Cell count is bounded (7 x |types|), so the fold is O(1).",
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    obs = (
        ev.select(F.dayofweek("ts").cast("int").alias("dow"), "event_type")
        .groupBy("dow", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rowm = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("r"))
    colm = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    dec = "decimal(38,0)"
    cells = (
        obs.join(rowm, "dow")
        .join(colm, "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            (
                (F.col("n").cast(dec) * F.col("o") - F.col("r").cast(dec) * F.col("c"))
                * (F.col("n").cast(dec) * F.col("o") - F.col("r").cast(dec) * F.col("c"))
            ).cast("double").alias("numd"),
            (F.col("n").cast(dec) * F.col("r") * F.col("c")).cast("double").alias("dend"),
        )
    )
    folded = cells.agg(
        F.min("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("numd") / F.col("dend"))),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ).alias("chi2"),
    )
    return folded.select(
        "n",
        "n_cells",
        # n NULL iff the contingency table is empty — chi2 undefined
        # there (same empty-fold gate as stats_cramers_v; r11 fuzz)
        F.when(F.col("n").isNotNull(), F.round("chi2", 6)).alias("chi2_q6"),
    )


@register(
    "win_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS day,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM lineitem GROUP BY day
    ), cum AS (
        SELECT day, rev,
               CAST(sum(rev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_rev
        FROM daily
    ), dd AS (
        SELECT day, cum_rev,
               CAST(max(cum_rev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS peak
        FROM cum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(peak - cum_rev) AS BIGINT) AS max_drawdown_cents,
           CAST(min(day) FILTER (WHERE peak - cum_rev =
               (SELECT max(peak - cum_rev) FROM dd)) AS DATE) AS trough_day
    FROM dd
    """,
    doc="maximum drawdown of the cumulative daily-revenue series (the "
    "classic running-peak window composition: cumsum -> running max -> "
    "max gap; finance's risk metric, equally the SLO-burn/inventory "
    "shortfall shape): all three passes are windows over the |days|-row "
    "daily table (bounded regardless of input size) on the exact cents "
    "lattice — no floats anywhere. trough_day is the FIRST day attaining "
    "the max gap (deterministic under ties). The only full-table work is "
    "the day-keyed groupBy; the window chain runs on the tiny series.",
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    dd = daily.select(
        "day",
        F.sum("rev").over(w).cast("bigint").alias("cum_rev"),
    ).select(
        "day",
        "cum_rev",
        F.max("cum_rev").over(w).cast("bigint").alias("peak"),
    )
    gap = (F.col("peak") - F.col("cum_rev")).alias("gap")
    g = dd.select("day", gap)
    mx = g.agg(F.max("gap").alias("mg"))
    return (
        g.crossJoin(F.broadcast(mx))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("gap").cast("bigint").alias("max_drawdown_cents"),
            F.min(F.when(F.col("gap") == F.col("mg"), F.col("day"))).alias(
                "trough_day"
            ),
        )
    )


# Poisson(1) CDF thresholds for k = 0..5 as fixed decimal literals — both
# engines compare the SAME constants against the SAME hash-uniform, so
# replicate weights are bit-identical (k=6 catches the tail, P ~ 5.9e-5).
_POIS1_CDF = (
    "0.367879441171442",
    "0.735758882342885",
    "0.919698602928606",
    "0.980961709123847",
    "0.996340153172656",
    "0.999405815182418",
)
_BOOT_B = 50  # bootstrap replicates


def _poisson_k_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS1_CDF)
    )
    return f"CASE {cases} ELSE 6 END"


@register(
    "stats_bootstrap_ci_poisson",
    oracle=f"""
    WITH x AS (
        SELECT l_orderkey, l_linenumber, l_partkey,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_orderkey <= 20000
    ), rep AS (
        SELECT cents, b,
               {_poisson_k_sql(
                   "(" + hash60_sql(
                       "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
                       " || '_' || CAST(l_partkey AS VARCHAR) || '_' || CAST(b AS VARCHAR)"
                   ) + " % 1000000) / 1000000.0"
               )} AS k
        FROM x CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) reps
    ), means AS (
        SELECT b,
               CAST(sum(k * cents) AS DOUBLE) / sum(k) AS m
        FROM rep GROUP BY b HAVING sum(k) > 0
    ), ordered AS (
        SELECT list_sort(list(m)) AS ms, count(*) AS nb FROM means
    )
    SELECT CAST(nb AS BIGINT) AS n_replicates,
           round(ms[CAST(floor(0.025 * (nb - 1)) AS INT) + 1] / 100, 6) AS ci_lo,
           round(ms[CAST(ceil(0.975 * (nb - 1)) AS INT) + 1] / 100, 6) AS ci_hi,
           round((SELECT CAST(sum(cents) AS DOUBLE) / count(*) FROM x) / 100, 6)
               AS point_mean
    FROM ordered
    """,
    doc="bootstrap confidence interval for the mean via the POISSON "
    "bootstrap (Chamandy et al. 2012, 'Estimating uncertainty for "
    "massive data streams' — Google's resampling scheme for data too "
    "large to index): classical resampling needs random access to n "
    "rows x B replicates; the Poisson trick gives each (row, replicate) "
    "an independent Poisson(1) multiplicity, so the whole bootstrap is "
    "ONE streaming pass — here the multiplicity is derived "
    "deterministically from a cross-engine md5 uniform against fixed "
    "CDF literals, making the 'randomness' reproducible AND "
    "hash-checkable. Replicate means come from exact integer "
    "(sum k*cents, sum k) pairs; the CI is order statistics over the "
    "B=50 sorted means (bounded list). At 100 TB: the explode is map-"
    "side (xB rows but no extra shuffle keys beyond b), the per-"
    "replicate reduce is one keyed agg with B cells.",
)
def stats_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 20000)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
    )
    reps = spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    u = (
        hash60(
            F.concat_ws(
                "_",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    ).cast("double") / F.lit(1000000.0)
    # inline() is a Generate — a project-collapse barrier (the
    # text_quality_gopher idiom): without it the md5-backed uniform u is
    # re-inlined into every CASE branch of k across both aggregate
    # expressions (~6x the md5 work per (row, replicate); measured
    # 8.4 -> 4.9 s at sf0.1, round 9). Values are unchanged — u is
    # computed once per row instead of once per reference.
    ub = li.crossJoin(F.broadcast(reps)).select(
        "cents", "b", F.inline(F.array(F.struct(u.alias("u"))))
    )
    k = F.lit(6)
    for kk in range(len(_POIS1_CDF) - 1, -1, -1):
        k = F.when(F.col("u") < F.lit(float(_POIS1_CDF[kk])), F.lit(kk)).otherwise(k)
    rep = ub.select("cents", "b", k.alias("k"))
    means = (
        rep.groupBy("b")
        .agg(
            F.sum(F.col("k") * F.col("cents")).alias("skx"),
            F.sum("k").alias("sk"),
        )
        .filter(F.col("sk") > 0)
        .select((F.col("skx").cast("double") / F.col("sk")).alias("m"))
    )
    ordered = means.agg(
        F.array_sort(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).alias("nb"),
    )
    point = li.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("pm")
    )
    nb = F.col("nb")
    lo_i = F.floor(F.lit(0.025) * (nb.cast("double") - 1)).cast("int") + 1
    hi_i = F.ceil(F.lit(0.975) * (nb.cast("double") - 1)).cast("int") + 1
    # empty input: nb = 0 makes lo_i = 0 (element_at index-0 error) and
    # hi_i reach past the empty list — NULL bounds instead, matching
    # the oracle's NULL list picks
    return (
        ordered.crossJoin(F.broadcast(point))
        .select(
            nb.cast("bigint").alias("n_replicates"),
            F.when(nb > 0, F.round(F.element_at("ms", lo_i) / 100, 6)).alias("ci_lo"),
            F.when(nb > 0, F.round(F.element_at("ms", hi_i) / 100, 6)).alias("ci_hi"),
            F.round(F.col("pm") / 100, 6).alias("point_mean"),
        )
    )


@register(
    "dq_constraint_suite",
    oracle="""
    WITH li AS (SELECT * FROM lineitem), o AS (SELECT * FROM orders),
    checks AS (
        SELECT 'li_orderkey_complete' AS check_name,
               CAST(count(*) AS BIGINT) AS n_checked,
               CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_violations
        FROM li
        UNION ALL
        SELECT 'li_quantity_in_range',
               CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
                          THEN 1 END) AS BIGINT)
        FROM li
        UNION ALL
        SELECT 'li_discount_in_range',
               CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN l_discount < 0 OR l_discount > 0.10
                          THEN 1 END) AS BIGINT)
        FROM li
        UNION ALL
        SELECT 'li_price_positive',
               CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS BIGINT)
        FROM li
        UNION ALL
        SELECT 'o_orderkey_unique',
               CAST(count(*) AS BIGINT),
               CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        FROM o
        UNION ALL
        SELECT 'li_orderkey_fk',
               CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN b.o_orderkey IS NULL THEN 1 END) AS BIGINT)
        FROM li a LEFT JOIN o b ON a.l_orderkey = b.o_orderkey
        UNION ALL
        SELECT 'li_ship_after_order',
               CAST(count(*) AS BIGINT),
               CAST(count(CASE WHEN CAST(a.l_shipdate AS DATE)
                               < CAST(b.o_orderdate AS DATE)
                          THEN 1 END) AS BIGINT)
        FROM li a JOIN o b ON a.l_orderkey = b.o_orderkey
    )
    SELECT check_name, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY check_name
    """,
    doc="declarative data-quality constraint suite (the Deequ/Great-"
    "Expectations workflow — Schelter et al., VLDB'18 'Automating "
    "large-scale data quality verification' — as ONE query): "
    "completeness, range, positivity, primary-key uniqueness, "
    "referential integrity (lineitem->orders FK via left-join null "
    "probe), and the cross-table ship>=order temporal invariant. Each "
    "check is a count aggregate — violations are COUNTED, never "
    "collected; the FK probe is the only join, keyed on orderkey. "
    "Output is a fixed |checks|-row report regardless of input size — "
    "the shape a 100 TB nightly-verification job emits to its metrics "
    "store. All counts exact BIGINT.",
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    # single-pass per table: Catalyst does NOT CSE across union branches,
    # so the previous one-.agg()-per-check form scanned lineitem four
    # times and ran the FK join twice — all counters now ride one
    # aggregate each and melt via stack() (the stream_dq_monitor shape)
    cnt = lambda cond: F.count(F.when(cond, F.lit(1))).cast("bigint")
    li_row = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        (F.count(F.lit(1)) - F.count("l_orderkey")).cast("bigint").alias("v_comp"),
        cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("v_qty"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.10)).alias("v_disc"),
        cnt(F.col("l_extendedprice") <= 0).alias("v_price"),
    )
    li_checks = li_row.select(
        F.expr(
            "stack(4,"
            " 'li_orderkey_complete', n_all, v_comp,"
            " 'li_quantity_in_range', n_all, v_qty,"
            " 'li_discount_in_range', n_all, v_disc,"
            " 'li_price_positive', n_all, v_price)"
            " AS (check_name, n_checked, n_violations)"
        )
    )
    uniq = o.agg(
        F.lit("o_orderkey_unique").alias("check_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias(
            "n_violations"
        ),
    )
    fk_joined = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
        "left",
    )
    fk_row = fk_joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        cnt(F.col("o_orderkey").isNull()).alias("v_fk"),
        F.count("o_orderkey").cast("bigint").alias("n_matched"),
        cnt(
            F.col("o_orderkey").isNotNull()
            & (F.col("l_shipdate").cast("date") < F.col("o_orderdate").cast("date"))
        ).alias("v_temporal"),
    )
    fk_checks = fk_row.select(
        F.expr(
            "stack(2,"
            " 'li_orderkey_fk', n_all, v_fk,"
            " 'li_ship_after_order', n_matched, v_temporal)"
            " AS (check_name, n_checked, n_violations)"
        )
    )
    return (
        li_checks.union(fk_checks)
        .union(uniq)
        .select(
            "check_name",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


@register(
    "feat_multi_horizon",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(round(value * 1000000) AS BIGINT) AS v,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events WHERE user_id <= 200
    )
    SELECT user_id, event_id,
           CAST(count(*) OVER w1 AS BIGINT)                    AS n_7d,
           CAST(sum(v) OVER w1 AS BIGINT)                      AS vsum_7d_uu,
           CAST(count(*) OVER w4 AS BIGINT)                    AS n_28d,
           CAST(sum(v) OVER w4 AS BIGINT)                      AS vsum_28d_uu
    FROM e
    WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW),
           w4 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 2419200000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    doc="feature-store multi-horizon point-in-time features (the standard "
    "ML feature-engineering pass: for every event, trailing 7d/28d "
    "activity counts and value sums AS OF that event — leakage-free by "
    "construction because the RANGE frame ends at the current row): ONE "
    "user-keyed exchange serves all horizons — both time-range frames "
    "share the same partitioning and sort, so Spark computes them in a "
    "single Window node (plan-verified), not one shuffle per horizon. "
    "Value sums on the exact micro-unit lattice. At 100 TB this is the "
    "backfill shape: horizons scale by adding frames, not shuffles.",
)
def feat_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    e = ev.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    base = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
    )
    w1 = base.rangeBetween(-604_800_000_000, 0)
    w4 = base.rangeBetween(-2_419_200_000_000, 0)
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w1).cast("bigint").alias("n_7d"),
        F.sum("v").over(w1).cast("bigint").alias("vsum_7d_uu"),
        F.count(F.lit(1)).over(w4).cast("bigint").alias("n_28d"),
        F.sum("v").over(w4).cast("bigint").alias("vsum_28d_uu"),
    ).orderBy("user_id", "event_id")


@register(
    "agg_weighted_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS wt
        FROM lineitem
    ), ranked AS (
        SELECT l_returnflag, x, wt,
               CAST(sum(wt) OVER (PARTITION BY l_returnflag
                   ORDER BY x, wt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_wt,
               CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot_wt
        FROM v
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cum_wt >= tot_wt THEN x END) AS BIGINT)
               AS wmedian,
           CAST(min(tot_wt) AS BIGINT) AS total_weight
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="weighted median (the lower weighted median: smallest x whose "
    "cumulative weight reaches half the total — numpy/statsmodels "
    "weighted-quantile semantics at q=0.5 with the 'lower' rule): "
    "price-weighted quantity median per return flag. One keyed window "
    "cumsum over the (x, wt)-sorted group + one keyed agg; the "
    "2*cum>=tot comparison stays in exact BIGINT so no engine can "
    "disagree at the boundary. The (x, wt) sort order makes tied-x rows "
    "deterministic. At 100 TB weights are cents-lattice integers — the "
    "cumsum cannot drift the way float weights would.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("wt"),
    )
    w = (
        W.partitionBy("l_returnflag")
        .orderBy("x", "wt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("l_returnflag")
    ranked = v.select(
        "l_returnflag",
        "x",
        F.sum("wt").over(w).cast("bigint").alias("cum_wt"),
        F.sum("wt").over(wp).cast("bigint").alias("tot_wt"),
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.min(
                F.when(2 * F.col("cum_wt") >= F.col("tot_wt"), F.col("x"))
            ).cast("bigint").alias("wmedian"),
            F.min("tot_wt").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "events_rfm_scores",
    oracle="""
    WITH base AS (
        SELECT user_id,
               CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us,
               CAST(count(*) AS BIGINT) AS freq,
               -- coalesce: a user whose purchase values are ALL NULL
               -- sums to NULL, which the engines rank opposite ways
               -- (Spark percentile_disc skips it, DuckDB row_number
               -- puts it last) — pin unknown-monetary to 0 on both
               -- sides (r11 fuzz, seed 5 null-injection)
               CAST(coalesce(sum(CAST(round(value * 1000000) AS BIGINT)), 0)
                    AS BIGINT) AS monetary_uu
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM base
    ), bounds AS (
        -- SQL-standard percentile_disc element picks: boundary k is the
        -- DATA VALUE at rank ceil(k*n/5) — exact integers on both
        -- engines (the interpolated quantile_cont bounds this replaced
        -- flip a boundary user on a one-ulp engine difference)
        SELECT
            [min(CASE WHEN rrn >= (1*n+4)//5 THEN last_us END),
             min(CASE WHEN rrn >= (2*n+4)//5 THEN last_us END),
             min(CASE WHEN rrn >= (3*n+4)//5 THEN last_us END),
             min(CASE WHEN rrn >= (4*n+4)//5 THEN last_us END)] AS rb,
            [min(CASE WHEN frn >= (1*n+4)//5 THEN freq END),
             min(CASE WHEN frn >= (2*n+4)//5 THEN freq END),
             min(CASE WHEN frn >= (3*n+4)//5 THEN freq END),
             min(CASE WHEN frn >= (4*n+4)//5 THEN freq END)] AS fb,
            [min(CASE WHEN mrn >= (1*n+4)//5 THEN monetary_uu END),
             min(CASE WHEN mrn >= (2*n+4)//5 THEN monetary_uu END),
             min(CASE WHEN mrn >= (3*n+4)//5 THEN monetary_uu END),
             min(CASE WHEN mrn >= (4*n+4)//5 THEN monetary_uu END)] AS mb
        FROM (
            SELECT last_us, freq, monetary_uu,
                   row_number() OVER (ORDER BY last_us)     AS rrn,
                   row_number() OVER (ORDER BY freq)        AS frn,
                   row_number() OVER (ORDER BY monetary_uu) AS mrn
            FROM base), nn
    ), scored AS (
        SELECT user_id, monetary_uu,
               1 + list_sum(list_transform(rb, b ->
                   CASE WHEN last_us > b THEN 1 ELSE 0 END))      AS r_score,
               1 + list_sum(list_transform(fb, b ->
                   CASE WHEN freq > b THEN 1 ELSE 0 END))         AS f_score,
               1 + list_sum(list_transform(mb, b ->
                   CASE WHEN monetary_uu > b THEN 1 ELSE 0 END))  AS m_score
        FROM base, bounds
    )
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(monetary_uu) AS BIGINT) AS segment_value_uu
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    doc="RFM customer segmentation (recency/frequency/monetary quintile "
    "scores — the classic CRM/LTV workload): per-user purchase rollup "
    "(one keyed agg), VALUE-based quintile boundaries from the "
    "DISTRIBUTED exact percentile_disc aggregate (qcut semantics — no "
    "global ntile ranking, which is a single-partition funnel over the "
    "user table at 1e9 users; the audit rejected the ntile draft). "
    "percentile_disc picks the DATA VALUE at rank ceil(k*n/5) — an "
    "exact integer on both engines, unlike the interpolated percentile "
    "bounds this replaced, which depended on float bit-parity between "
    "engine builds (the agg_lorenz_curve_binned failure class). Score = "
    "1 + #boundaries strictly below the value against the broadcast "
    "4-value boundary row, then the segment rollup. Output <=125 rows "
    "regardless of user count; monetary on the exact micro-unit "
    "lattice. 100 TB note: the disc aggregate's merge buffer is bounded "
    "by the distinct-value count per dimension — if that approaches "
    "user count (continuous monetary at 1e9+ users), swap the bounds "
    "for the cents-histogram rank rule (agg_lorenz_curve_binned idiom) "
    "or percentile_approx with a documented error budget.",
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).cast("bigint").alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.coalesce(
            F.sum(F.round(F.col("value") * 1000000).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("monetary_uu"),
    )

    def disc_bounds(col: str) -> F.Column:
        return F.array(
            *[
                F.expr(f"percentile_disc({k / 5}) WITHIN GROUP (ORDER BY {col})")
                for k in range(1, 5)
            ]
        )

    bounds = base.agg(
        disc_bounds("last_us").alias("rb"),
        disc_bounds("freq").alias("fb"),
        disc_bounds("monetary_uu").alias("mb"),
    )

    def score(v, arr):
        return (
            F.lit(1)
            + F.aggregate(
                F.col(arr),
                F.lit(0),
                lambda acc, b: acc + F.when(F.col(v) > b, 1).otherwise(0),
            )
        ).cast("int")

    scored = base.crossJoin(F.broadcast(bounds)).select(
        "monetary_uu",
        score("last_us", "rb").alias("r_score"),
        score("freq", "fb").alias("f_score"),
        score("monetary_uu", "mb").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("monetary_uu").cast("bigint").alias("segment_value_uu"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "pipeline_negative_sampling",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id AS anchor_id, source,
               lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                   AS positive_id
        FROM documents
    ), anchors AS (
        SELECT anchor_id, source, positive_id FROM pos
        WHERE positive_id IS NOT NULL
    ), negs AS (
        SELECT a.anchor_id, a.positive_id, k.k,
               ({hash60_sql("CAST(a.anchor_id AS VARCHAR) || '#' || CAST(k.k AS VARCHAR)")})
                   AS h
        FROM anchors a
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    ), resolved AS (
        -- doc_ids are dense 0..N-1 (fixture invariant, asserted in
        -- tests): the draw h % N IS a doc_id, so the resolve join is a
        -- plain keyed equi-join with no global ranking
        SELECT n.anchor_id, n.positive_id, n.k,
               d.doc_id AS negative_id
        FROM negs n
        JOIN documents d
          ON d.doc_id = n.h % (SELECT count(*) FROM documents)
    )
    SELECT anchor_id, positive_id, CAST(k AS INT) AS k, negative_id,
           negative_id IN (anchor_id, positive_id) AS is_collision
    FROM resolved
    ORDER BY anchor_id, k
    """,
    doc="contrastive negative sampling (the retrieval/embedding training "
    "data-prep pass — in-batch/random negatives a la DPR, Karpukhin et "
    "al. 2020): positives = same-source neighbour docs (one keyed lead), "
    "then k=4 deterministic negatives per anchor drawn by md5-hash mod "
    "corpus-size against a dense row-number index — reproducible across "
    "engines AND runs, which real pipelines need for resumable training "
    "data builds. Collisions (negative == anchor/positive) are FLAGGED, "
    "not silently dropped, so the training loader owns the retry policy. "
    "doc_ids are dense 0..N-1 (fixture invariant, test-asserted), so the "
    "draw h % N IS a doc_id and the resolve step is a plain keyed "
    "equi-join — no global ranking anywhere (the audit-clean form; a "
    "sparse id space would need a bucketed id-index table instead). "
    "100 TB: the corpus-size scalar is one count, the draw is map-side, "
    "the join is id-keyed.",
)
def pipeline_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from cudf_spark.functions.hashing import hash60

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = W.partitionBy("source").orderBy("doc_id")
    anchors = (
        d.select(
            F.col("doc_id").alias("anchor_id"),
            F.lead("doc_id").over(w).alias("positive_id"),
        )
        .filter(F.col("positive_id").isNotNull())
    )
    ks = spark.range(4).select(F.col("id").cast("int").alias("k"))
    negs = anchors.crossJoin(F.broadcast(ks)).select(
        "anchor_id",
        "positive_id",
        "k",
        hash60(
            F.concat_ws("#", F.col("anchor_id").cast("string"), F.col("k").cast("string"))
        ).alias("h"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    drawn = negs.crossJoin(F.broadcast(n_docs)).select(
        "anchor_id",
        "positive_id",
        "k",
        (F.col("h") % F.col("n_docs")).alias("draw"),
    )
    resolved = drawn.join(
        d.select(F.col("doc_id").alias("negative_id")),
        drawn["draw"] == F.col("negative_id"),
    ).select(
        "anchor_id",
        "positive_id",
        "k",
        "negative_id",
        (
            (F.col("negative_id") == F.col("anchor_id"))
            | (F.col("negative_id") == F.col("positive_id"))
        ).alias("is_collision"),
    )
    return resolved.orderBy("anchor_id", "k")


@register(
    "stats_mann_whitney_u",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
        FROM lineitem WHERE l_returnflag IN ('A', 'N')
    ), cnt AS (
        SELECT grp, x, CAST(count(*) AS BIGINT) AS c
        FROM v GROUP BY grp, x
    ), a AS (SELECT x, c FROM cnt WHERE grp = 'A'),
       b AS (SELECT x, c FROM cnt WHERE grp = 'N'),
    pairs AS (
        -- U_A = #(a>b) + 0.5 * #(a==b), computed from the two bounded
        -- value-count tables (quantity lattice: <=50 distinct values),
        -- never from row-level pairs. 2*U stays integral => exact BIGINT.
        SELECT CAST(sum(CASE WHEN a.x > b.x THEN 2 * a.c * b.c
                             WHEN a.x = b.x THEN a.c * b.c
                             ELSE 0 END) AS BIGINT) AS two_u
        FROM a CROSS JOIN b
    ), ns AS (
        SELECT CAST(sum(CASE WHEN grp = 'A' THEN c END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN grp = 'N' THEN c END) AS BIGINT) AS n_b
        FROM cnt
    )
    SELECT n_a, n_b,
           round(two_u / 2.0, 1) AS u_stat,
           round(two_u / (2.0 * n_a * n_b), 6) AS auc_q6
    FROM pairs, ns
    """,
    doc="Mann-Whitney U (the nonparametric two-sample test; Mann & "
    "Whitney 1947) between return-flag groups A and N over quantity — "
    "completing the testing family (parametric stats_ab_welch_t, "
    "categorical stats_chi_square, now rank-based): U is computed from "
    "the two VALUE-COUNT tables (integer lattice, <=50 distinct values) "
    "as sum over value pairs of c_a*c_b weights — never a row-level "
    "pairwise join and never a global rank (pooled ranking would be a "
    "single-partition funnel; the count-table form is the distributed "
    "identity U = sum_{a>b} c_a c_b + tie/2). 2U stays integral so the "
    "BIGINT sum is exact; U/(n_a n_b) is the effect size (AUC). Shuffles: "
    "one keyed (grp,x) count; the bounded count tables cross-join "
    "broadcast-small.",
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin("A", "N"))
    cnt = (
        li.select(F.col("l_returnflag").alias("grp"), F.col("l_quantity").cast("bigint").alias("x"))
        .groupBy("grp", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = cnt.filter(F.col("grp") == "A").select(F.col("x").alias("xa"), F.col("c").alias("ca"))
    b = cnt.filter(F.col("grp") == "N").select(F.col("x").alias("xb"), F.col("c").alias("cb"))
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(F.col("xa") > F.col("xb"), 2 * F.col("ca") * F.col("cb"))
            .when(F.col("xa") == F.col("xb"), F.col("ca") * F.col("cb"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("two_u")
    )
    ns = cnt.agg(
        F.sum(F.when(F.col("grp") == "A", F.col("c"))).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("grp") == "N", F.col("c"))).cast("bigint").alias("n_b"),
    )
    return pairs.crossJoin(F.broadcast(ns)).select(
        "n_a",
        "n_b",
        F.round(F.col("two_u") / 2.0, 1).alias("u_stat"),
        F.round(F.col("two_u") / (2.0 * F.col("n_a") * F.col("n_b")), 6).alias("auc_q6"),
    )


@register(
    "stream_dq_monitor",
    oracle="""
    WITH li AS (SELECT * FROM lineitem WHERE l_orderkey <= 30000)
    SELECT 'li_discount_in_range' AS check_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(CASE WHEN l_discount < 0 OR l_discount > 0.10
                      THEN 1 END) AS BIGINT) AS n_violations,
           CAST(3 AS BIGINT) AS n_batches
    FROM li
    -- HAVING mirrors the engine's empty-input short-circuit: with no
    -- rows there are no batches and no checks to report (r11 fuzz)
    HAVING count(*) > 0
    UNION ALL
    SELECT 'li_quantity_in_range',
           CAST(count(*) AS BIGINT),
           CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
                      THEN 1 END) AS BIGINT),
           CAST(3 AS BIGINT)
    FROM li
    HAVING count(*) > 0
    ORDER BY check_name
    """,
    doc="STREAMING data-quality monitoring: the dq_constraint_suite "
    "range checks run per micro-batch (REAL 3-batch availableNow stream, "
    "ordered-mtime files, maxFilesPerTrigger=1) with per-batch violation "
    "counts APPENDED to a parquet metrics table — the shape a production "
    "DQ monitor emits to its alerting store every trigger. Counts are "
    "additive, so the summed per-batch counters must equal the one-shot "
    "batch rule, which the oracle computes directly; n_batches pins that "
    "every batch reported. Only counter rows cross batches — never data.",
)
def stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from cudf_spark.streaming.ops import write_ordered_batch

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 30000)
        .select("l_orderkey", "l_quantity", "l_discount")
    )
    tmp = tempfile.mkdtemp(prefix="dq_stream_")
    src, metrics = os.path.join(tmp, "src"), os.path.join(tmp, "metrics")
    try:
        # 1-row collect: integer key-range thirds pick the batch cuts (any
        # deterministic split works — the summed counters are
        # batch-invariant; no float percentile crosses a filter)
        span = li.agg(
            F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx")
        ).collect()[0]
        if span["mn"] is None:
            return spark.createDataFrame(
                [], "check_name string, n_checked bigint, n_violations bigint, n_batches bigint"
            )
        mn, mx = int(span["mn"]), int(span["mx"])
        width = mx - mn + 1
        c0, c1 = mn + width // 3, mn + (2 * width) // 3
        batches = [
            li.filter(F.col("l_orderkey") < c0),
            li.filter((F.col("l_orderkey") >= c0) & (F.col("l_orderkey") < c1)),
            li.filter(F.col("l_orderkey") >= c1),
        ]
        for seq, bdf in enumerate(batches):
            write_ordered_batch(bdf, src, seq)

        def per_batch(bdf, bid):
            disc_bad = (F.col("l_discount") < 0) | (F.col("l_discount") > 0.10)
            qty_bad = (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            report = bdf.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_checked"),
                F.count(F.when(disc_bad, 1)).cast("bigint").alias("v_disc"),
                F.count(F.when(qty_bad, 1)).cast("bigint").alias("v_qty"),
            ).selectExpr(
                "stack(2, 'li_discount_in_range', n_checked, v_disc,"
                " 'li_quantity_in_range', n_checked, v_qty)"
                " AS (check_name, n_checked, n_violations)"
            )
            report.write.mode("append").parquet(metrics)

        q = (
            spark.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(per_batch)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream_dq_monitor: stream did not finish in 300s")
        rows = (
            spark.read.parquet(metrics)
            .groupBy("check_name")
            .agg(
                F.sum("n_checked").cast("bigint").alias("n_checked"),
                F.sum("n_violations").cast("bigint").alias("n_violations"),
                F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            )
            .orderBy("check_name")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [(r["check_name"], r["n_checked"], r["n_violations"], r["n_batches"]) for r in rows],
        "check_name string, n_checked bigint, n_violations bigint, n_batches bigint",
    ).orderBy("check_name")


@register(
    "stats_ks_test",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
        FROM lineitem WHERE l_returnflag IN ('A', 'N')
    ), cnt AS (
        SELECT grp, x, CAST(count(*) AS BIGINT) AS c
        FROM v GROUP BY grp, x
    ), xs AS (
        SELECT DISTINCT x FROM cnt
    ), cums AS (
        -- ECDF of each sample at every observed value: cumulative counts
        -- over the BOUNDED distinct-value lattice (<=50 quantity values),
        -- never over rows
        SELECT xs.x,
               CAST(sum(CASE WHEN cnt.grp = 'A' THEN cnt.c ELSE 0 END) AS BIGINT)
                   AS ca,
               CAST(sum(CASE WHEN cnt.grp = 'N' THEN cnt.c ELSE 0 END) AS BIGINT)
                   AS cb
        FROM xs JOIN cnt ON cnt.x <= xs.x
        GROUP BY xs.x
    ), ns AS (
        SELECT CAST(sum(CASE WHEN grp = 'A' THEN c END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN grp = 'N' THEN c END) AS BIGINT) AS n_b
        FROM cnt
    )
    SELECT n_a, n_b,
           -- D = max |ca/n_a - cb/n_b| = max |ca*n_b - cb*n_a| / (n_a*n_b):
           -- numerator exact BIGINT, ONE division at the end
           round(CAST(max(abs(ca * n_b - cb * n_a)) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * n_b), 6) AS ks_d_q6
    FROM cums, ns
    GROUP BY n_a, n_b
    """,
    doc="two-sample Kolmogorov-Smirnov statistic (completing the testing "
    "family: Welch t for means, Mann-Whitney for stochastic order, "
    "chi-square for categories, KS for whole-distribution shape): "
    "D = max |ECDF_A - ECDF_N| over the observed support. ECDFs are "
    "cumulative count pairs on the BOUNDED value lattice (<=50 distinct "
    "quantities — the <=-join is 50x50, not row-scale), and D's "
    "numerator is the exact BIGINT |ca*n_b - cb*n_a| so the max is "
    "decided in integer arithmetic — one final division. At an "
    "unbounded/continuous domain the lattice CTE swaps for equi-depth "
    "bin boundaries (agg_equidepth_bins) with the identical shape.",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag").isin("A", "N"))
    cnt = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").cast("bigint").alias("x"),
        )
        .groupBy("grp", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    xs = cnt.select("x").distinct()
    cums = (
        xs.alias("xs")
        .join(F.broadcast(cnt.alias("c")), F.col("c.x") <= F.col("xs.x"))
        .groupBy(F.col("xs.x").alias("x"))
        .agg(
            F.sum(F.when(F.col("grp") == "A", F.col("c.c")).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("grp") == "N", F.col("c.c")).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    ns = cnt.agg(
        F.sum(F.when(F.col("grp") == "A", F.col("c"))).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("grp") == "N", F.col("c"))).cast("bigint").alias("n_b"),
    )
    return (
        cums.crossJoin(F.broadcast(ns))
        .groupBy("n_a", "n_b")
        .agg(
            F.round(
                F.max(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
                .cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("ks_d_q6")
        )
        .select("n_a", "n_b", "ks_d_q6")
    )


@register(
    "events_attribution_linear",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts,
               CAST(round(value * 1000000) AS BIGINT) AS revenue_uu
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
        FROM events WHERE event_type IN ('click', 'view')
    ), touch AS (
        -- linear multi-touch: every click/view in the 7 days before the
        -- purchase shares the revenue equally
        SELECT p.purchase_id, p.revenue_uu, c.click_id,
               CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
                   AS n_touches
        FROM purchases p
        JOIN clicks c
          ON c.user_id = p.user_id
         AND c.cts <= p.pts
         AND c.cts > p.pts - INTERVAL 7 DAY
    )
    SELECT purchase_id,
           CAST(min(n_touches) AS BIGINT) AS n_touches,
           CAST(min(revenue_uu) AS BIGINT) AS revenue_uu,
           -- integer-exact equal split check: credit in micro-units,
           -- remainder explicit (floor division per touch)
           CAST(min(revenue_uu) // min(n_touches) AS BIGINT) AS credit_uu,
           CAST(min(revenue_uu) % min(n_touches) AS BIGINT) AS remainder_uu
    FROM touch
    GROUP BY purchase_id
    ORDER BY purchase_id
    """,
    doc="linear multi-touch attribution (the marketing-analytics staple: "
    "every touchpoint in the 7-day lookback shares the conversion credit "
    "equally): purchases join their user's preceding clicks/views via a "
    "user-keyed time-banded join (the as-of/interval join family — never "
    "user x user), per-purchase touch count from one keyed window, and "
    "the credit split kept EXACT with integer floor-division + explicit "
    "remainder in micro-units (float splits lose cents at 10^9 "
    "conversions; the remainder column makes the rounding policy the "
    "caller's choice). Output one row per attributed purchase.",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("revenue_uu"),
    )
    clicks = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    touch = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["user_id"])
        & (clicks["cts"] <= purchases["pts"])
        & (clicks["cts"] > purchases["pts"] - F.expr("INTERVAL 7 DAY")),
    )
    return (
        touch.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.min("revenue_uu").cast("bigint").alias("revenue_uu"),
        )
        .select(
            "purchase_id",
            "n_touches",
            "revenue_uu",
            F.expr("revenue_uu div n_touches").cast("bigint").alias("credit_uu"),
            (F.col("revenue_uu") % F.col("n_touches")).cast("bigint").alias("remainder_uu"),
        )
        .orderBy("purchase_id")
    )


@register(
    "graph_degree_stats",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), eu AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM eu UNION ALL SELECT v FROM eu) t
        GROUP BY node
    ), hist AS (
        SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY d
    )
    SELECT h.degree, h.n_nodes,
           -- ccdf numerator from the BOUNDED histogram (<=-join over
           -- distinct degrees, never over nodes)
           CAST(sum(h2.n_nodes) AS BIGINT) AS n_nodes_ge
    FROM hist h JOIN hist h2 ON h2.degree >= h.degree
    GROUP BY h.degree, h.n_nodes
    ORDER BY h.degree
    """,
    doc="degree distribution + CCDF of the co-ordered-parts graph (the "
    "first diagnostic every graph pipeline runs — it decides whether "
    "degree-oriented algorithms (graph_triangle_count) and salting "
    "(join_skew_salted) are needed): per-node degrees from one keyed "
    "count, histogram from a second, and the CCDF column from a "
    "histogram-vs-histogram >=-join — the bounded-lattice trick "
    "(stats_ks_test), never a window or join over the node table. "
    "Everything integer-exact.",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    eu = co_occurrence_edges(li, "l_orderkey", "l_partkey")
    deg = (
        eu.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    h2 = hist.select(F.col("degree").alias("d2"), F.col("n_nodes").alias("n2"))
    return (
        hist.join(F.broadcast(h2), F.col("d2") >= F.col("degree"))
        .groupBy("degree", "n_nodes")
        .agg(F.sum("n2").cast("bigint").alias("n_nodes_ge"))
        .orderBy("degree")
    )


@register(
    "agg_lorenz_curve_binned",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ), hist AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS c FROM rev GROUP BY cents
    ), cum AS (
        SELECT cents, c, CAST(sum(c) OVER (ORDER BY cents) AS BIGINT) AS cum
        FROM hist
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM rev
    ), ov AS (
        -- equi-depth rank rule: decile k covers customer ranks
        -- ((k-1)*n)//10+1 .. (k*n)//10; a cents group spanning ranks
        -- cum-c+1 .. cum contributes its overlap with that range
        SELECT b.bin, h.cents,
               least(h.cum, (b.bin * nn.n) // 10)
               - greatest(h.cum - h.c + 1, ((b.bin - 1) * nn.n) // 10 + 1)
               + 1 AS k
        FROM cum h, nn, (SELECT unnest(generate_series(1, 10)) AS bin) b
    ), per_bin AS (
        SELECT bin, CAST(sum(k) AS BIGINT) AS n_customers,
               CAST(sum(k * cents) AS BIGINT) AS revenue_cents
        FROM ov WHERE k > 0 GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(revenue_cents) AS BIGINT) AS t FROM per_bin
    )
    SELECT CAST(p.bin AS INT) AS bin, p.n_customers, p.revenue_cents,
           -- cumulative revenue share: bounded <=-join over <=10 bins;
           -- numerator exact BIGINT, integer micro-units — no float
           -- crosses the hash gate
           CAST(1000000 * sum(p2.revenue_cents) // min(tot.t) AS BIGINT)
               AS cum_share_micros
    FROM per_bin p JOIN per_bin p2 ON p2.bin <= p.bin, tot
    GROUP BY p.bin, p.n_customers, p.revenue_cents
    ORDER BY p.bin
    """,
    doc="binned Lorenz curve of customer revenue concentration (the "
    "whale-curve / inequality diagnostic behind LTV and sampling-budget "
    "decisions): per-customer exact cents rollup, RANK-based equi-depth "
    "decile bins from the integer rank rule on the revenue-value "
    "histogram (the pipeline_curriculum_phases idiom and cudf's "
    "rank-based qcut, python/cudf/cudf/core/cut.py — the previous "
    "float-interpolated percentile bounds flipped a boundary customer "
    "on a one-ulp engine difference, CORRECTNESS_r06's one red), "
    "per-bin exact revenue sums from histogram-overlap arithmetic "
    "(never a per-customer rank or window), and the cumulative Lorenz "
    "share as exact BIGINT micro-units from a bounded bin-vs-bin "
    "<=-join (<=10 rows). All-integer arithmetic end to end. Output "
    "<=10 rows regardless of customer count.",
)
def agg_lorenz_curve_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.windows import cumsum_two_level

    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    hist = rev.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # the histogram lattice is distinct-revenue-sized (per-customer SUMS
    # are near-unique), so at 100 TB a global-ordered window here would
    # funnel ~n_customers rows through one task — cumsum_two_level keeps
    # the rank-rule cumsum 32-way parallel (VERDICT r07 item 2)
    cum = cumsum_two_level(hist, "cents", "c", "cum").select(
        "cents", "c", F.col("cum").cast("bigint").alias("cum")
    )
    nn = rev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bins = spark.range(1, 11).select(F.col("id").alias("bin"))
    # decile k covers ranks ((k-1)*n) div 10 + 1 .. (k*n) div 10; the
    # cents group spanning ranks cum-c+1..cum contributes its overlap —
    # tied customers are interchangeable (same cents), so no per-row
    # rank or tiebreak window is ever needed
    ov = (
        cum.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(bins))
        .select(
            "bin",
            "cents",
            (
                F.least(F.col("cum"), F.expr("bin * n div 10"))
                - F.greatest(
                    F.col("cum") - F.col("c") + 1,
                    F.expr("(bin - 1) * n div 10 + 1"),
                )
                + 1
            ).alias("k"),
        )
        .filter(F.col("k") > 0)
    )
    per_bin = ov.groupBy("bin").agg(
        F.sum("k").cast("bigint").alias("n_customers"),
        F.sum(F.col("k") * F.col("cents")).cast("bigint").alias("revenue_cents"),
    )
    tot = per_bin.agg(F.sum("revenue_cents").cast("bigint").alias("t"))
    p2 = per_bin.select(F.col("bin").alias("b2"), F.col("revenue_cents").alias("r2"))
    return (
        per_bin.join(F.broadcast(p2), F.col("b2") <= F.col("bin"))
        .crossJoin(F.broadcast(tot))
        .groupBy("bin", "n_customers", "revenue_cents")
        .agg(
            # DECIMAL(38,0) intermediates: 1e6 * total-cents overflows
            # BIGINT once total revenue passes ~9.2e12 dollars (sf~0.25
            # of this fixture; trivially reached at 100 TB) — DuckDB is
            # immune (sum -> HUGEINT), so without this the engines split
            F.expr(
                "CAST((CAST(sum(r2) AS DECIMAL(38,0)) * 1000000)"
                " DIV CAST(min(t) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("cum_share_micros")
        )
        .orderBy("bin")
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n_customers",
            "revenue_cents",
            "cum_share_micros",
        )
    )


@register(
    "join_scd2_pit_lookup",
    oracle="""
    WITH dim AS (
        -- synthetic 2-version price dimension: every 3rd part re-priced
        -- +$5 on 1997-01-01; others keep one open version
        SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               DATE '1992-01-01' AS valid_from,
               CASE WHEN p_partkey % 3 = 0 THEN DATE '1997-01-01' END AS valid_to,
               1 AS version
        FROM part
        UNION ALL
        SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) + 500,
               DATE '1997-01-01', CAST(NULL AS DATE), 2
        FROM part WHERE p_partkey % 3 = 0
    )
    SELECT d.version AS price_version,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(d.price_cents * CAST(l.l_quantity AS BIGINT)) AS BIGINT)
               AS priced_cents
    FROM lineitem l
    JOIN dim d
      ON d.p_partkey = l.l_partkey
     AND CAST(l.l_shipdate AS DATE) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(l.l_shipdate AS DATE) < d.valid_to)
    GROUP BY d.version
    ORDER BY price_version
    """,
    doc="SCD2 point-in-time lookup (the warehouse temporal join every "
    "fact pipeline runs against a Kimball type-2 dimension — the "
    "consumption side of scd2_merge_upsert): facts join the dimension "
    "version whose [valid_from, valid_to) interval contains the event "
    "date. The join is EQUI-keyed on the business key (partkey) with the "
    "interval check as a residual filter — per key there are O(versions) "
    "candidates (here <=2), so the fan-out is bounded and no range-bin "
    "machinery is needed (contrast join_range_binned, where no equi-key "
    "exists). Half-open intervals make every event match EXACTLY one "
    "version — no double counting at the boundary. Revenue at looked-up "
    "prices stays on the exact cents lattice.",
)
def join_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    v1 = p.select(
        "p_partkey",
        cents.alias("price_cents"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("1997-01-01").cast("date")).alias(
            "valid_to"
        ),
        F.lit(1).alias("version"),
    )
    v2 = p.filter(F.col("p_partkey") % 3 == 0).select(
        "p_partkey",
        (cents + 500).alias("price_cents"),
        F.lit("1997-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(2).alias("version"),
    )
    dim = v1.union(v2)
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_shipdate").cast("date").alias("ship"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    j = li.join(
        dim,
        (li["l_partkey"] == dim["p_partkey"])
        & (F.col("ship") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ship") < F.col("valid_to"))),
    )
    return (
        j.groupBy(F.col("version").alias("price_version"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum(F.col("price_cents") * F.col("qty")).cast("bigint").alias(
                "priced_cents"
            ),
        )
        .orderBy("price_version")
    )


@register(
    "emb_centroid_drift",
    oracle="""
    WITH halves AS (
        SELECT label, vec_id % 2 AS half, embedding FROM embeddings
    ), dims AS (
        SELECT label, half, i,
               avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM halves, unnest(generate_series(1, 64)) t(i)
        GROUP BY label, half, i
    ), vecs AS (
        SELECT label, half,
               list_transform(list_sort(list(row(i, m))), r -> r[2]) AS v
        FROM dims GROUP BY label, half
    ), paired AS (
        SELECT a.label, a.v AS va, b.v AS vb
        FROM (SELECT * FROM vecs WHERE half = 0) a
        JOIN (SELECT * FROM vecs WHERE half = 1) b ON a.label = b.label
    ), cnt AS (
        SELECT label,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM embeddings GROUP BY label
    )
    SELECT p.label, c.n_a, c.n_b,
           round(list_sum(list_transform(generate_series(1, 64),
                     i -> va[i] * vb[i]))
                 / (sqrt(list_sum(list_transform(generate_series(1, 64),
                     i -> va[i] * va[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                     i -> vb[i] * vb[i])))), 6) AS drift_cos_q6
    FROM paired p JOIN cnt c ON p.label = c.label
    ORDER BY p.label
    """,
    doc="embedding centroid drift monitoring (the production check that "
    "an embedding model or corpus shifted: cosine between per-label "
    "centroids of two data slices — here the even/odd vec_id halves "
    "standing in for week-over-week snapshots): per-dim means via ONE "
    "(label, half, dim)-keyed aggregation (the emb_mean_pool shape — "
    "per-dim scalars shuffle, never whole vectors), centroids "
    "reassembled dim-ordered (collect bounded by DIM=64), cosine on the "
    "deterministic dim-ordered fold. drift_cos ~ 1.0 means no drift; "
    "alerting thresholds are the caller's. Output one row per label.",
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.transform("embedding", lambda v: v.cast("double"))),
    ).select("label", "half", (F.col("pos") + 1).alias("i"), F.col("col").alias("v"))
    dims = x.groupBy("label", "half", "i").agg(F.avg("v").alias("m"))
    vecs = dims.groupBy("label", "half").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
        ).alias("v")
    )
    a = vecs.filter(F.col("half") == 0).select("label", F.col("v").alias("va"))
    b = vecs.filter(F.col("half") == 1).select("label", F.col("v").alias("vb"))
    cnt = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, z: acc + z * z)
    )
    return (
        a.join(b, "label")
        .join(cnt, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(dot / (nrm(F.col("va")) * nrm(F.col("vb"))), 6).alias(
                "drift_cos_q6"
            ),
        )
        .orderBy("label")
    )


@register(
    "agg_median_of_means",
    oracle=f"""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               ({hash60_sql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)")}) % 9 AS g
        FROM lineitem
    ), means AS (
        SELECT g, CAST(sum(cents) AS HUGEINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM v GROUP BY g
    ), ordered AS (
        SELECT list_sort(list(CAST(s AS DOUBLE) / n)) AS ms,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_total
        FROM means
    )
    SELECT k, n_total,
           round(ms[(k + 1) // 2] / 100, 6) AS mom_dollars_q6,
           round((SELECT CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                         / count(*) FROM v) / 100, 6) AS plain_mean_q6
    FROM ordered
    """,
    doc="median-of-means robust mean estimator (the heavy-tail-safe "
    "aggregate used when a plain mean is one corrupt record away from "
    "garbage — standard in robust statistics and sketch literature): "
    "rows deterministically bucketed into k=9 groups by md5 hash (the "
    "stats_bootstrap_ci_poisson discipline: reproducible pseudo-"
    "randomness both engines replay), exact HUGEINT/decimal per-group "
    "sums, then the LOWER median of the 9 group means from a sorted "
    "9-element list. ONE keyed shuffle with k cells; the plain mean "
    "rides along for comparison. Group means are exact-integer ratios, "
    "so the sorted pick cannot tie-break differently across engines.",
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.hashing import hash60

    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        (
            hash60(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_partkey").cast("string"),
                )
            )
            % 9
        ).alias("g"),
    )
    dec = "decimal(38,0)"
    means = v.groupBy("g").agg(
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ordered = means.agg(
        F.array_sort(F.collect_list(F.col("s").cast("double") / F.col("n"))).alias("ms"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    plain = v.agg(
        (F.sum(F.col("cents").cast(dec)).cast("double") / F.count(F.lit(1))).alias("pm")
    )
    mid = F.expr("CAST((k + 1) div 2 AS INT)")
    # empty input: k = 0 makes mid = 0 and element_at(ms, 0) is an
    # unconditional Spark error (array indices start at 1) — NULL
    # median instead, matching the oracle's NULL list pick
    return ordered.crossJoin(F.broadcast(plain)).select(
        "k",
        "n_total",
        F.when(
            F.col("k") > 0, F.round(F.element_at("ms", mid) / 100, 6)
        ).alias("mom_dollars_q6"),
        F.round(F.col("pm") / 100, 6).alias("plain_mean_q6"),
    )


@register(
    "agg_hodges_lehmann",
    oracle="""
    WITH cnt AS (
        SELECT CAST(l_quantity AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY x
    ), fixed AS (
        -- Walsh-sum multiset as the count convolution of the histogram
        -- with itself: unordered pair {a<b} contributes weight c_a*c_b,
        -- the diagonal contributes c*(c+1)/2 pairs i<=j
        SELECT a.x + b.x AS s,
               CAST(sum(CASE WHEN a.x = b.x THEN a.c * (a.c + 1) // 2
                             ELSE a.c * b.c END) AS BIGINT) AS w
        FROM cnt a JOIN cnt b ON a.x <= b.x
        GROUP BY a.x + b.x
    ), tot AS (
        SELECT CAST(sum(w) AS BIGINT) AS t FROM fixed
    ), cum AS (
        SELECT f.s, CAST(sum(f2.w) AS BIGINT) AS cw, min(tot.t) AS t
        FROM fixed f JOIN fixed f2 ON f2.s <= f.s, tot
        GROUP BY f.s
    )
    SELECT CAST(min(t) AS BIGINT) AS n_walsh_pairs,
           round(CAST(min(CASE WHEN 2 * cw >= t THEN s END) AS DOUBLE) / 2, 1)
               AS hl_estimate
    FROM cum
    """,
    doc="Hodges-Lehmann location estimator (median of all Walsh averages "
    "(x_i + x_j)/2, i<=j — the robust one-sample location statistic "
    "paired with the Wilcoxon test): the n^2/2 pairwise means are NEVER "
    "materialized — on the bounded quantity lattice the Walsh-sum "
    "multiset is the COUNT CONVOLUTION of the value histogram with "
    "itself (50x50 a<=b join; diagonal weight c*(c+1)/2, off-diagonal "
    "c_a*c_b), and the median of the weighted sums comes from the same "
    "exact-BIGINT 2*cum>=tot rule as agg_weighted_median. At 6e8 rows "
    "the pairwise multiset has ~1.8e17 members; this computes its exact "
    "median from a 50-row histogram.",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    cnt = (
        li.select(F.col("l_quantity").cast("bigint").alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = cnt.select(F.col("x").alias("xa"), F.col("c").alias("ca"))
    b = cnt.select(F.col("x").alias("xb"), F.col("c").alias("cb"))
    fixed = (
        a.join(F.broadcast(b), F.col("xa") <= F.col("xb"))
        .select(
            (F.col("xa") + F.col("xb")).alias("s"),
            F.when(
                F.col("xa") == F.col("xb"),
                F.expr("ca * (ca + 1) div 2"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("w"),
        )
        .groupBy("s")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    f2 = fixed.select(F.col("s").alias("s2"), F.col("w").alias("w2"))
    tot = fixed.agg(F.sum("w").cast("bigint").alias("t"))
    cum = (
        fixed.join(F.broadcast(f2), F.col("s2") <= F.col("s"))
        .crossJoin(F.broadcast(tot))
        .groupBy("s")
        .agg(F.sum("w2").cast("bigint").alias("cw"), F.min("t").alias("t"))
    )
    return cum.agg(
        F.min("t").cast("bigint").alias("n_walsh_pairs"),
        F.round(
            F.min(F.when(2 * F.col("cw") >= F.col("t"), F.col("s"))).cast("double")
            / 2,
            1,
        ).alias("hl_estimate"),
    )


@register(
    "text_extractive_degree",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split_regex(lower(text), '[.!?]+'),
                                  x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                   x -> x != '') AS sents
        FROM documents
    ), sent AS (
        SELECT doc_id, unnest(generate_series(1, len(sents))) AS sid,
               sents[unnest(generate_series(1, len(sents)))] AS sentence
        FROM s
    ), toks AS (
        SELECT doc_id, sid, sentence,
               list_distinct(string_split(sentence, ' ')) AS tk
        FROM sent
    ), edges AS (
        -- within-doc sentence graph: an edge where two sentences share
        -- >= 2 distinct tokens (LexRank-style degree centrality)
        SELECT a.doc_id, a.sid,
               CAST(count(*) AS BIGINT) AS degree
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND a.sid != b.sid
         AND len(list_intersect(a.tk, b.tk)) >= 2
        GROUP BY a.doc_id, a.sid
    ), ranked AS (
        SELECT t.doc_id, t.sid, t.sentence,
               COALESCE(e.degree, 0) AS degree,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY COALESCE(e.degree, 0) DESC, t.sid
               ) AS rn
        FROM toks t LEFT JOIN edges e
          ON e.doc_id = t.doc_id AND e.sid = t.sid
    )
    SELECT doc_id, CAST(sid AS BIGINT) AS sid, degree, sentence AS summary
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """,
    doc="extractive summarization by degree centrality (the LexRank/"
    "TextRank degree baseline, Erkan & Radev 2004: the sentence sharing "
    "the most >=2-token overlaps with its siblings is the summary): "
    "sentence split (text_sentence_stats conventions), per-doc sentence "
    "pair overlap join — KEYED ON doc_id, so the quadratic is bounded by "
    "each doc's own sentence count, never cross-doc — degree count, "
    "deterministic (degree DESC, sid) pick. Fixture docs hold tens of "
    "sentences, so the per-doc pair term is bounded ~100s of "
    "comparisons; production caps sentences/doc before the join (the "
    "max_bucket_size discipline).",
)
def text_extractive_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.lower(F.col("text")), r"[.!?]+"),
            lambda x: F.trim(F.regexp_replace(x, r"\s+", " ")),
        ),
        lambda x: x != "",
    )
    sent = docs.select("doc_id", F.posexplode(sents).alias("pos", "sentence")).select(
        "doc_id", (F.col("pos") + 1).alias("sid"), "sentence"
    )
    toks = sent.select(
        "doc_id", "sid", "sentence", F.array_distinct(F.split("sentence", " ")).alias("tk")
    )
    a = toks.select("doc_id", F.col("sid").alias("sa"), F.col("tk").alias("ta"))
    b = toks.select("doc_id", F.col("sid").alias("sb"), F.col("tk").alias("tb"))
    edges = (
        a.join(b, "doc_id")
        .filter(
            (F.col("sa") != F.col("sb"))
            & (F.size(F.array_intersect("ta", "tb")) >= 2)
        )
        .groupBy("doc_id", F.col("sa").alias("sid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("degree"), "sid")
    ranked = (
        toks.join(edges, ["doc_id", "sid"], "left")
        .withColumn("degree", F.coalesce("degree", F.lit(0).cast("bigint")))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("sid").cast("bigint").alias("sid"),
            "degree",
            F.col("sentence").alias("summary"),
        )
        .orderBy("doc_id")
    )
