"""Training-data pipeline coverage, part 2 — IVF vector search, Gopher-style
quality gating, and deterministic hash split/sampling (north-star operators;
complements queries/text.py + queries/similarity.py).

Everything stays JVM-side: the only data-dependent small artifacts
(IVF centroid table, probe cells, 1-row query vector) move via broadcast,
never ``collect``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.functions.hashing import hash60, hash60_sql
from cudf_spark.functions.textfns import normalize_text, top_token_count
from cudf_spark.multimodal import (
    audio_features,
    decode_bmp_pixels,
    decode_wav_audio,
    encode_assets,
    encode_fake_audio,
    fake_image_gradient,
    fake_video_bytes,
    frame_sample,
    image_features,
    make_bmp_bytes,
    make_wav_bytes,
)
from cudf_spark.operators.similarity import ann_ivf_topk
from cudf_spark.queries.registry import register
from cudf_spark.queries.similarity import IVF_CENTROIDS_SQL, _sql_cosine, ivf_centroids

# Non-empty whitespace tokens (mirrors queries/text.py SQL_NORM/SQL_TOKS with
# the empty-token guard applied once).
SQL_TOKS_NE = (
    "list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),"
    " x -> x != '')"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
        {IVF_CENTROIDS_SQL}
    ), q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_sql_cosine('e.embedding', 'c.cvec')} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id != 0
    ), cells AS (
        SELECT vec_id, embedding, cid AS cell FROM assign WHERE rn = 1
    ), probe AS (
        SELECT c.cid AS pcell FROM cents c, q
        ORDER BY {_sql_cosine('c.cvec', 'q.qv')} DESC, c.cid
        LIMIT 2
    )
    SELECT cells.vec_id, round({_sql_cosine('cells.embedding', 'q.qv')}, 6) AS cosine
    FROM cells JOIN probe ON cells.cell = probe.pcell CROSS JOIN q
    ORDER BY cosine DESC, cells.vec_id
    LIMIT 10
    """,
    doc="IVF ANN (cuVS ivf_flat serving path): nearest-centroid cell per row "
    "via a shuffle-free broadcast-fold argmax, probe the 2 cells nearest the "
    "query, exact cosine within. Centroids here are seed-sampled (vec_id %% 67"
    " == 3) standing in for an offline k-means artifact; at 100 TB `cell` is "
    "the partition column and a query scans nprobe/K of the corpus.",
)
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e)
    return ann_ivf_topk(
        e.filter(F.col("vec_id") != 0),
        e.filter(F.col("vec_id") == 0),
        cents,
        k=10,
        nprobe=2,
    )


@register(
    "text_quality_gopher",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {SQL_TOKS_NE} AS w FROM documents
    ), m AS (
        SELECT doc_id, lang,
               len(w) AS n_words,
               round(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
                     / CAST(len(w) AS DOUBLE), 4) AS mean_word_len,
               len(list_intersect(list_distinct(w),
                   ['the', 'a', 'of', 'to', 'and'])) AS n_stopwords,
               round(list_max(list_transform(list_distinct(w),
                         t -> len(list_filter(w, x -> x = t))))
                     / CAST(len(w) AS DOUBLE), 4) AS top_word_frac,
               round(CASE WHEN len(w) < 3 THEN 0.0 ELSE
                   1.0 - len(list_distinct(list_transform(
                             generate_series(1, len(w) - 2),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
                         / CAST(len(w) - 2 AS DOUBLE) END, 4) AS dup_3gram_frac
        FROM t
    )
    SELECT doc_id, lang, n_words, mean_word_len, n_stopwords, top_word_frac,
           dup_3gram_frac,
           (n_words BETWEEN 20 AND 90) AS pass_word_count,
           (mean_word_len BETWEEN 3.0 AND 5.0) AS pass_mean_word_len,
           (n_stopwords >= 2) AS pass_stopwords,
           (top_word_frac <= 0.12) AS pass_repetition,
           ((n_words BETWEEN 20 AND 90) AND (mean_word_len BETWEEN 3.0 AND 5.0)
            AND n_stopwords >= 2 AND top_word_frac <= 0.12) AS gopher_pass
    FROM m ORDER BY doc_id
    """,
    doc="Gopher-rule quality gate (Rae et al. 2021 §A1.1 heuristics, adapted "
    "to the fixture corpus): word-count bounds, mean word length, stopword "
    "presence, top-word repetition, duplicate word-3-gram fraction. Pure "
    "array expressions; the token array binds once per row (CSE guard).",
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks_expr = F.filter(F.split(normalize_text(F.col("text")), " "), lambda x: x != "")

    def metrics(w: F.Column) -> F.Column:
        n = F.size(w)
        # Token lengths sum exactly to length(norm) - (n-1): normalize
        # collapses runs to single spaces, so the join cost is n-1 chars.
        # Closed form keeps this in codegen vs an interpreted per-token fold.
        wlen_sum = F.when(
            n > 0, F.length(normalize_text(F.col("text"))) - (n - 1)
        ).otherwise(F.lit(0)).cast("long")
        top_cnt = top_token_count(w)
        grams = F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        )
        dup3 = F.when(n < 3, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(grams)) / (n - 2).cast("double")
        )
        # n = 0 (whitespace-only doc): ratios are NULL like the oracle's
        # NULL-numerator/0.0 — unguarded, Spark 4 ANSI aborts EVEN double
        # division by zero (probed: 1.0/0.0 raises DIVIDE_BY_ZERO)
        return F.struct(
            n.alias("n_words"),
            F.when(n > 0, F.round(wlen_sum / n.cast("double"), 4)).alias(
                "mean_word_len"
            ),
            F.size(F.array_intersect(F.array_distinct(w), F.array(*[F.lit(s) for s in ("the", "a", "of", "to", "and")]))).alias("n_stopwords"),
            F.when(n > 0, F.round(top_cnt / n.cast("double"), 4)).alias(
                "top_word_frac"
            ),
            F.round(dup3, 4).alias("dup_3gram_frac"),
        )

    # Bind the token array ONCE via a single-element transform (inlining it
    # into every lambda re-splits the string per element — the measured-15×
    # CSE trap, see functions/textfns.py::word_shingles).
    m = F.element_at(F.transform(F.array(toks_expr), metrics), 1)
    pwc = F.col("n_words").between(20, 90)
    pml = F.col("mean_word_len").between(3.0, 5.0)
    psw = F.col("n_stopwords") >= 2
    prep = F.col("top_word_frac") <= 0.12
    return (
        # inline() is a Generate — a project-collapse barrier, so the
        # interpreted metrics struct is evaluated ONCE per row and the
        # pass_* booleans below reference plain attributes. Collapsed
        # projections re-inline the struct per referencing expression
        # (measured 2× on this query).
        # Checkpoint BEFORE the presentation sort: a trailing orderBy's
        # range exchange samples its child, evaluating the whole
        # interpreted metrics subtree twice. The r8 fix sorted the RAW
        # SCAN first instead (order preserved through Generate/Project),
        # which avoids the double compute but ships the full TEXT column
        # through the range exchange; checkpointing the narrow metric
        # rows (r11 §3.14, the registry-wide rule) keeps the single
        # evaluation AND sorts only doc-grain numerics — the cheap side
        # at any scale. Row set and order identical either way.
        d.select("doc_id", "lang", F.inline(F.array(m)))
        .select(
            "*",
            pwc.alias("pass_word_count"),
            pml.alias("pass_mean_word_len"),
            psw.alias("pass_stopwords"),
            prep.alias("pass_repetition"),
            (pwc & pml & psw & prep).alias("gopher_pass"),
        )
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


@register(
    "doc_sample_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               CASE WHEN {hash60_sql("CAST(doc_id AS VARCHAR)", seed=42)} % 100 < 80 THEN 'train'
                    WHEN {hash60_sql("CAST(doc_id AS VARCHAR)", seed=42)} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               ({hash60_sql("CAST(doc_id AS VARCHAR)", seed=7)} % 10 = 0) AS in_sample
        FROM documents
    )
    SELECT split,
           count(*) AS n_docs,
           CAST(count(*) FILTER (in_sample) AS BIGINT) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split ORDER BY split
    """,
    doc="Deterministic train/val/test split + 10%% sample via the md5-derived "
    "cross-engine hash60 of doc_id (seeded). Hash-based assignment is the "
    "100 TB pattern: reproducible across engines/runs, no RNG state, no "
    "coordination — every executor computes membership locally.",
)
def doc_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    bucket = hash60(key, seed=42) % 100
    split = (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("val")).otherwise(F.lit("test"))
    )
    in_sample = hash60(key, seed=7) % 10 == 0
    return (
        d.select(split.alias("split"), in_sample.alias("in_sample"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("in_sample").cast("long")).alias("n_sampled"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@register(
    "mm_image_features",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST((n_chars % 63) + 2 AS INT) AS width,
               CAST((doc_id % 31) + 2 AS INT) AS height,
               doc_id % 256 AS base
        FROM documents
    )
    SELECT asset_id, width, height,
           CAST(12 + width * height AS INT) AS n_bytes,
           CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                i -> (base + i) % 256)) AS BIGINT)
               / CAST(width * height AS DOUBLE) AS mean_px,
           CAST(list_sum(list_transform(generate_series(0, 63),
                k -> (base + (((k // 8) * height) // 8) * width
                           + (((k % 8) * width) // 8)) % 256)) AS BIGINT)
               / 64.0 AS resized_mean_px,
           TRUE AS valid
    FROM params ORDER BY asset_id
    """,
    doc="multimodal image pipeline end-to-end: encode a deterministic fake "
    "raster per document (binary column), then decode + mean-intensity + "
    "8x8 nearest-neighbour resize in one Arrow mapInPandas pass. The oracle "
    "recomputes every byte arithmetically, so the hash match proves the "
    "binary plumbing AND the kernels, not just row counts.",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assets = encode_assets(
        d, lambda did, nc: fake_image_gradient(nc % 63 + 2, did % 31 + 2, did % 256)
    )
    # checkpoint before the sort: the range-sampling pass would re-run
    # the encode+features Python chain (see mm_audio_features)
    return image_features(assets).localCheckpoint(eager=False).orderBy("asset_id")


def _encode_fake_videos(d):
    """documents -> (asset_id, data) fake FVID containers; the ONE place
    the container parameters (w=did%7+2, h=did%5+2, n=nc%13+1,
    base=did%256) live — both video queries' encodes AND their oracles
    replay these exact values, so they must never fork."""
    return encode_assets(
        d, lambda did, nc: fake_video_bytes(did % 7 + 2, did % 5 + 2, nc % 13 + 1, did % 256)
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST((n_chars % 13) + 1 AS INT) AS n_frames,
               CAST((doc_id % 7) + 2 AS INT) AS width,
               CAST((doc_id % 5) + 2 AS INT) AS height,
               doc_id % 256 AS base
        FROM documents
    ), frames AS (
        SELECT asset_id, width, height, base,
               unnest(generate_series(0, n_frames - 1)) AS frame_idx
        FROM params
    )
    SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx, width, height,
           CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                i -> (base + 7 * frame_idx + i) % 256)) AS BIGINT)
               / CAST(width * height AS DOUBLE) AS frame_mean
    FROM frames
    WHERE frame_idx % 4 = 0
    ORDER BY asset_id, frame_idx
    """,
    doc="video frame sampling: deterministic fake FVID containers built per "
    "document, every-4th-frame sampled by a row-exploding mapInPandas "
    "(1 video in, ceil(n/4) frame rows out) with per-frame mean intensity. "
    "Oracle replays the container arithmetic frame-by-frame.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assets = _encode_fake_videos(d)
    # checkpoint before the sort: the range-sampling pass would re-run
    # the encode+sample Python chain (see mm_audio_features)
    return (
        frame_sample(assets, every_n=4)
        .localCheckpoint(eager=False)
        .orderBy("asset_id", "frame_idx")
    )


_MIX_TARGETS = [("src0", 0.4), ("src1", 0.3), ("src2", 0.2), ("src3", 0.1)]


@register(
    "doc_domain_mix",
    oracle=f"""
    WITH tgt(source, w) AS (VALUES {", ".join(f"('{s}', {w})" for s, w in _MIX_TARGETS)}),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
    j AS (SELECT n.source, n.n_docs, t.w FROM n JOIN tgt t USING (source)),
    cap AS (SELECT min(n_docs / w) AS c FROM j),
    lim AS (SELECT source, n_docs, CAST(floor(c * w) AS BIGINT) AS n_keep
            FROM j CROSS JOIN cap),
    ranked AS (
        SELECT d.source, d.doc_id, l.n_docs, l.n_keep,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY {hash60_sql("CAST(d.doc_id AS VARCHAR)", seed=13)},
                            d.doc_id) AS rn
        FROM documents d JOIN lim l USING (source)),
    kept AS (
        SELECT source, n_docs,
               CAST(count(*) FILTER (rn <= n_keep) AS BIGINT) AS n_kept,
               CAST(sum(doc_id) FILTER (rn <= n_keep) AS BIGINT) AS kept_docid_sum
        FROM ranked GROUP BY source, n_docs),
    tot AS (SELECT sum(n_kept) AS total FROM kept)
    SELECT source, n_docs, n_kept, kept_docid_sum,
           CAST(round(1000.0 * n_kept / total) AS BIGINT) AS share_pm
    FROM kept CROSS JOIN tot
    ORDER BY source
    """,
    doc="Domain-mix resampling — the LLM data-mixing step: given target "
    "proportions per source domain, the largest achievable corpus is "
    "c = min_d(n_d / w_d) docs; each domain keeps floor(c*w_d) members, "
    "selected deterministically by ranking on a seeded hash (so the "
    "sample is reproducible and mergeable across runs). kept_docid_sum "
    "proves both engines pick the IDENTICAL documents, not just equal "
    "counts. Scale: one count agg + broadcast limits + one per-domain "
    "window; for mega-domains swap the exact rank for a hash-threshold "
    "acceptance rate (no sort) at the cost of approximate counts.",
)
def doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    tgt = spark.createDataFrame(_MIX_TARGETS, "source string, w double")
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    j = n.join(F.broadcast(tgt), "source")
    cap = j.agg(F.min(F.col("n_docs") / F.col("w")).alias("c"))
    lim = j.crossJoin(F.broadcast(cap)).select(
        "source",
        "n_docs",
        F.floor(F.col("c") * F.col("w")).cast("bigint").alias("n_keep"),
    )
    from pyspark.sql import Window as W

    h = hash60(F.col("doc_id").cast("string"), seed=13)
    ranked = (
        d.join(F.broadcast(lim), "source")
        .withColumn("rn", F.row_number().over(W.partitionBy("source").orderBy(h, "doc_id")))
    )
    kept = ranked.groupBy("source", "n_docs").agg(
        F.sum(F.when(F.col("rn") <= F.col("n_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") <= F.col("n_keep"), F.col("doc_id")))
        .cast("bigint")
        .alias("kept_docid_sum"),
    )
    tot = kept.agg(F.sum("n_kept").alias("total"))
    return (
        kept.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_kept",
            "kept_docid_sum",
            F.round(F.lit(1000.0) * F.col("n_kept") / F.col("total"))
            .cast("bigint")
            .alias("share_pm"),
        )
        .orderBy("source")
    )


@register(
    "mm_audio_features",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id, 8000 AS rate,
               CAST((n_chars % 500) + 50 AS INT) AS n,
               doc_id % 4096 AS base
        FROM documents),
    feat AS (
        SELECT asset_id, rate, n,
            list_max(list_transform(generate_series(0, n - 1),
                     k -> abs(((base + 13*k) % 4096) - 2048))) AS peak,
            list_sum(list_transform(generate_series(0, n - 1),
                     k -> CAST((((base + 13*k) % 4096) - 2048) AS BIGINT)
                          * (((base + 13*k) % 4096) - 2048))) AS energy,
            list_sum(list_transform(generate_series(0, n - 2),
                     k -> CASE WHEN (((base + 13*k) % 4096) - 2048)
                              * (((base + 13*(k+1)) % 4096) - 2048) < 0
                          THEN 1 ELSE 0 END)) AS zc
        FROM params)
    SELECT asset_id, CAST(rate AS INT) AS sample_rate, n AS n_samples,
           CAST((n * 1000) // rate AS BIGINT) AS duration_ms,
           CAST(peak AS INT) AS peak,
           round(sqrt(CAST(energy AS DOUBLE) / n), 4) AS rms,
           CAST(zc AS BIGINT) AS zero_crossings,
           TRUE AS valid
    FROM feat ORDER BY asset_id
    """,
    doc="multimodal AUDIO pipeline end-to-end: encode a deterministic fake "
    "PCM waveform per document (binary column), then header unpack + "
    "big-endian i16 decode + peak/RMS/zero-crossing extraction in one "
    "Arrow mapInPandas pass. The oracle recomputes every sample "
    "arithmetically, so the hash match proves the byte plumbing AND the "
    "waveform kernels. Completes the image/video/audio modality set.",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = encode_fake_audio(load(spark, sf_dir, "documents").select("doc_id", "n_chars"))
    feats = audio_features(assets)
    return (
        feats.select(
            "asset_id",
            "sample_rate",
            "n_samples",
            "duration_ms",
            "peak",
            F.round("rms", 4).alias("rms"),
            "zero_crossings",
            "valid",
        )
        # materialize before the presentation sort: a global sort's
        # range-sampling pass re-executes its ENTIRE input subtree when no
        # shuffle sits below it, so the whole encode+decode Python chain
        # ran TWICE per query (measured 2x input rows through the Arrow
        # boundary at sf0.01; 1x after). The checkpointed table is one
        # narrow row per asset — the cheap side of that trade at any
        # scale. Same fix across the map-only mm_*/text-UDF queries.
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@register(
    "doc_chunk_overlap",
    oracle=f"""
    WITH starts AS (
        SELECT doc_id, length(text) AS len, text,
               unnest(generate_series(1, length(text), 384)) AS start
        FROM documents),
    chunks AS (
        SELECT doc_id,
               CAST((start - 1) / 384 AS INT)                  AS chunk_idx,
               CAST(start AS INT)                              AS start,
               CAST(length(substr(text, CAST(start AS INT), 512)) AS INT)
                                                              AS chunk_len,
               {hash60_sql("substr(text, CAST(start AS INT), 512)")} AS chunk_h
        FROM starts)
    SELECT doc_id, chunk_idx, start, chunk_len, chunk_h
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
    doc="Sliding-window document chunking (512-char chunks, 384 stride = "
    "128 overlap) - the context-window prep step before tokenize-and-pack. "
    "Chunk starts come from a JVM-side sequence + explode (no UDF); "
    "chunk_h is the cross-engine 60-bit hash of each chunk's TEXT, so the "
    "hash match proves chunk contents, boundaries, and overlap are "
    "byte-identical, not just counts. Scale: pure map-side fan-out, no "
    "shuffle until the final sort.",
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-filter empty docs: Spark's sequence(1, 0, 384) raises 'Illegal
    # sequence boundaries' (probed) where DuckDB's generate_series yields
    # [] and drops the row — the filter reproduces the oracle's drop
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    starts = F.sequence(F.lit(1), F.length("text"), F.lit(384))
    exploded = d.select("doc_id", "text", F.explode(starts).alias("start"))
    chunk = F.col("text").substr(F.col("start"), F.lit(512))
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / 384).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start"),
        F.length(chunk).cast("int").alias("chunk_len"),
        hash60(chunk).alias("chunk_h"),
    ).orderBy("doc_id", "chunk_idx")


_H60_MAX = 1 << 60


@register(
    "doc_weighted_sample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, least(1.0, n_chars / 1000.0) AS wt
        FROM documents),
    m AS (SELECT round(avg(wt), 9) AS mean_w FROM w),
    p AS (
        SELECT doc_id, source, wt,
               least(1.0, 0.3 * wt / mean_w) AS p
        FROM w CROSS JOIN m),
    flagged AS (
        SELECT source, doc_id, wt,
               ({hash60_sql("CAST(doc_id AS VARCHAR)", seed=29)}
                < CAST(floor(p * {_H60_MAX}) AS BIGINT)) AS kept
        FROM p)
    SELECT source,
           CAST(count(*) AS BIGINT)                      AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT)   AS kept_docid_sum,
           round(sum(CASE WHEN kept THEN wt ELSE 0 END), 6)      AS kept_weight
    FROM flagged GROUP BY source ORDER BY source
    """,
    doc="Quality-weighted Poisson sampling: inclusion probability "
    "p_i = min(1, rate * w_i / mean_w) (weight = capped length here; any "
    "quality score plugs in), decided by comparing a seeded 60-bit hash "
    "against floor(p_i * 2^60) - deterministic, reproducible, and "
    "mergeable across runs, with no RNG state. kept_docid_sum proves "
    "identical selections across engines. One 1-row mean broadcast plus "
    "a map-only decision - no shuffle before the final stats.",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = d.withColumn("wt", F.least(F.lit(1.0), F.col("n_chars") / 1000.0))
    mean_w = w.agg(F.round(F.avg("wt"), 9).alias("mean_w"))
    p = F.least(F.lit(1.0), F.lit(0.3) * F.col("wt") / F.col("mean_w"))
    flagged = (
        w.crossJoin(F.broadcast(mean_w))
        .withColumn(
            "kept",
            hash60(F.col("doc_id").cast("string"), seed=29)
            < F.floor(p * _H60_MAX).cast("bigint"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("doc_id"))).cast("bigint").alias("kept_docid_sum"),
            F.round(F.sum(F.when(F.col("kept"), F.col("wt")).otherwise(0.0)), 6).alias("kept_weight"),
        )
        .orderBy("source")
    )


@register(
    "doc_stratified_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, source, doc_id,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)", seed=43)},
                            doc_id) AS rn
        FROM documents)
    SELECT lang, source,
           CAST(count(*) AS BIGINT)                               AS n_total,
           CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= 20 THEN doc_id END) AS BIGINT)   AS kept_docid_sum
    FROM ranked GROUP BY lang, source ORDER BY lang, source
    """,
    doc="Stratified sampling with an exact per-stratum budget: every "
    "(lang, source) stratum keeps exactly min(20, |stratum|) documents, "
    "chosen by seeded-hash rank — deterministic, reproducible, no RNG "
    "state (the fixed-quota complement of doc_weighted_sample's "
    "probability sampling). One stratum-keyed window; skew is bounded by "
    "the largest stratum, and kept_docid_sum proves the SAME documents "
    "were selected on both engines, not just the same counts.",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").select("lang", "source", "doc_id")
    w = Window.partitionBy("lang", "source").orderBy(
        hash60(F.col("doc_id").cast("string"), seed=43), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("rn") <= 20, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("rn") <= 20, F.col("doc_id"))).cast("bigint").alias("kept_docid_sum"),
        )
        .orderBy("lang", "source")
    )


_BLOOM_POS_SQL = " UNION ALL ".join(
    f"SELECT c_mktsegment, c_custkey, "
    f"{hash60_sql('CAST(c_custkey AS VARCHAR)', seed=100 + _j)} % 1008 AS pos "
    f"FROM customer"
    for _j in range(3)
)
_BLOOM_PROBE_POS_SQL = " UNION ALL ".join(
    f"SELECT s.c_mktsegment, p.k, "
    f"{hash60_sql('CAST(p.k AS VARCHAR)', seed=100 + _j)} % 1008 AS pos "
    f"FROM segs s CROSS JOIN probes p"
    for _j in range(3)
)


@register(
    "sketch_bloom_filter",
    oracle=f"""
    WITH pos AS ({_BLOOM_POS_SQL}),
    sketch AS (
        SELECT c_mktsegment, CAST(pos // 63 AS INT) AS word,
               bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM pos GROUP BY 1, 2),
    segs AS (SELECT DISTINCT c_mktsegment FROM customer),
    probes AS (SELECT unnest([1, 7, 1500, 424242, 999983]) AS k),
    ppos AS ({_BLOOM_PROBE_POS_SQL}),
    pw AS (
        SELECT c_mktsegment, k, CAST(pos // 63 AS INT) AS word,
               1::BIGINT << CAST(pos % 63 AS INT) AS mask
        FROM ppos),
    looked AS (
        SELECT pw.c_mktsegment, pw.k, pw.mask, sk.bits
        FROM pw LEFT JOIN sketch sk
          ON pw.c_mktsegment = sk.c_mktsegment AND pw.word = sk.word),
    hits AS (
        SELECT c_mktsegment, k,
               min(CASE WHEN bits IS NOT NULL AND (bits & mask) = mask
                        THEN 1 ELSE 0 END) AS allhit
        FROM looked GROUP BY 1, 2),
    actual AS (
        SELECT DISTINCT c_mktsegment, c_custkey AS k, TRUE AS present
        FROM customer)
    SELECT h.c_mktsegment, CAST(h.k AS BIGINT) AS c_custkey,
           (h.allhit = 1) AS bloom_hit,
           coalesce(a.present, FALSE) AS actual
    FROM hits h LEFT JOIN actual a
      ON h.c_mktsegment = a.c_mktsegment AND h.k = a.k
    ORDER BY h.c_mktsegment, h.k
    """,
    doc="Persisted mergeable Bloom filter (Bloom 1970; the persistable "
    "sibling of Spark's runtime bloom joins): per-segment 1008-bit filter "
    "over customer keys as plain (segment, word, bits) rows — build is "
    "explode(3 probes) + one keyed bit_or, probe is a sketch-row join, "
    "merge across runs is bit_or (EXACT: OR is idempotent). Bit positions "
    "from the cross-engine hash60 so sketch bytes are engine-identical; "
    "63 usable bits/word keep masks positive on both engines. Probes a "
    "5-key panel (3 present, 2 absent) against every segment; no false "
    "negatives by construction (operators/sketches.py:bloom_build). The "
    "filter is deliberately undersized (1008 bits for ~300 keys/segment, "
    "~20%% fill^3 FP rate) so the one-sided error is VISIBLE in the "
    "output; production sizing is the caller's m/n knob.",
)
def sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.sketches import bloom_build, bloom_probe

    c = load(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey")
    sketch = bloom_build(c, ["c_mktsegment"], "c_custkey")
    segs = c.select("c_mktsegment").distinct()
    panel = spark.createDataFrame(
        [(k,) for k in (1, 7, 1500, 424242, 999983)], "c_custkey long"
    )
    probes = segs.crossJoin(panel)
    hits = bloom_probe(sketch, probes, ["c_mktsegment"], "c_custkey")
    actual = c.distinct().withColumn("actual", F.lit(True))
    return (
        hits.join(actual, ["c_mktsegment", "c_custkey"], "left")
        .select(
            "c_mktsegment",
            "c_custkey",
            "bloom_hit",
            F.coalesce("actual", F.lit(False)).alias("actual"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


@register(
    "mm_scene_cuts",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST((n_chars % 13) + 1 AS INT) AS n_frames,
               CAST((doc_id % 7) + 2 AS INT) AS width,
               CAST((doc_id % 5) + 2 AS INT) AS height,
               doc_id % 256 AS base
        FROM documents
    ), frames AS (
        SELECT asset_id, width, height, base,
               unnest(generate_series(0, n_frames - 1)) AS frame_idx
        FROM params
    ), means AS (
        SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(list_sum(list_transform(generate_series(0, width * height - 1),
                    i -> (base + 7 * frame_idx + i) % 256)) AS BIGINT)
                   / CAST(width * height AS DOUBLE) AS m
        FROM frames
    ), diffs AS (
        SELECT asset_id, frame_idx,
               m - lag(m) OVER (PARTITION BY asset_id ORDER BY frame_idx) AS d
        FROM means
    )
    SELECT asset_id, frame_idx, round(abs(d), 6) AS jump
    FROM diffs
    WHERE abs(d) > 10.0
    ORDER BY asset_id, frame_idx
    """,
    doc="video scene-cut detection on the fake-codec seam: decode every "
    "frame's mean intensity (the same row-exploding mapInPandas as "
    "mm_frame_sample with every_n=1), then a per-asset window lag flags "
    "frames whose intensity jumps past the threshold — the keyframe/"
    "shot-boundary pass a video curation pipeline runs before sampling "
    "training frames. The fake raster wraps mod 256, so cuts land "
    "exactly at wrap boundaries and the oracle replays them in closed "
    "form. Real codec = the same one-line decode swap as the rest of "
    "the mm family.",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assets = _encode_fake_videos(d)
    means = frame_sample(assets, every_n=1)
    w = Window.partitionBy("asset_id").orderBy("frame_idx")
    diff = F.col("frame_mean") - F.lag("frame_mean").over(w)
    return (
        means.withColumn("d", diff)
        .filter(F.abs(F.col("d")) > 10.0)
        .select("asset_id", "frame_idx", F.round(F.abs(F.col("d")), 6).alias("jump"))
        .orderBy("asset_id", "frame_idx")
    )


# DETERMINISTIC sqrt-temperature total: sqrt is correctly rounded per
# IEEE-754 (bit-identical on both engines, unlike pow/ln), and the fold
# over the handful of domain rows is SORTED so the sum is the same
# double regardless of engine/partitioning. Shared by doc_temperature_mix
# and curation_pipeline_v3 (Spark side: sqrt_temperature_total below).
def sqrt_temperature_tot_sql(n_col: str) -> str:
    """DuckDB fragment: the sorted-fold Σ sqrt(n) over a counts CTE."""
    return f"list_sum(list_sort(list(sqrt({n_col}))))"


def sqrt_temperature_total(counts: DataFrame, n_col: str) -> DataFrame:
    """1-row (tot) frame: sorted-fold Σ sqrt(n) over a tiny counts frame
    — cross-join (broadcast) it back and weight with
    ``sqrt(n)/tot``."""
    return counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt(F.col(n_col).cast("double")))),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ).alias("tot")
    )


@register(
    "doc_temperature_mix",
    oracle=f"""
    WITH n AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source),
    s AS (SELECT {sqrt_temperature_tot_sql('n_docs')} AS tot FROM n)
    SELECT n.source, n.n_docs,
           CAST(floor(sqrt(n.n_docs) / s.tot * 1000000) AS BIGINT)    AS weight_q6,
           CAST(floor(sqrt(n.n_docs) / s.tot * 1000000000) AS BIGINT) AS planned_docs
    FROM n CROSS JOIN s
    ORDER BY n.source
    """,
    doc="temperature-scaled domain mixing (the multinomial sampling "
    "weights multilingual/multi-domain corpora use — p_d ∝ n_d^alpha "
    "with alpha=0.5, Lample & Conneau 2019 arXiv:1901.07291 §3.1; "
    "upweights small domains relative to proportional sampling). "
    "alpha=1/2 makes the power a plain IEEE sqrt — bit-identical on "
    "both engines where pow/exp/ln are libm-dependent; the domain-sum "
    "is a sorted fold bounded by the domain count. planned_docs is the "
    "per-domain draw count for a 1e9-doc budget. 100 TB: one keyed "
    "count per domain; the weight table is O(#domains) rows.",
)
def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    s = sqrt_temperature_total(n, "n_docs")
    p = F.sqrt(F.col("n_docs").cast("double")) / F.col("tot")
    return (
        n.crossJoin(F.broadcast(s))  # 1-row total
        .select(
            "source",
            "n_docs",
            F.floor(p * 1e6).cast("bigint").alias("weight_q6"),
            F.floor(p * 1e9).cast("bigint").alias("planned_docs"),
        )
        .orderBy("source")
    )


_LB_CAPS = (16, 32, 64, 128, 256, 512, 1024)


@register(
    "pipeline_length_buckets",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len({SQL_TOKS_NE}) AS n_tok
        FROM documents),
    b AS (
        SELECT doc_id, least(n_tok, 1024) AS n_eff,
               CASE {" ".join(f"WHEN n_tok <= {c} THEN {c}" for c in _LB_CAPS)}
                    ELSE 1024 END AS cap
        FROM t)
    SELECT cap,
           CAST(count(*) AS BIGINT)            AS n_docs,
           CAST(sum(n_eff) AS BIGINT)          AS total_tokens,
           CAST(sum(cap - n_eff) AS BIGINT)    AS total_padding,
           CAST((sum(cap - n_eff) * 1000000) // sum(cap) AS BIGINT) AS waste_q6
    FROM b GROUP BY cap ORDER BY cap
    """,
    doc="length-bucketed batching for inference/training serving: docs "
    "assigned to the smallest power-of-2 token-length bucket (16..1024, "
    "over-long docs truncate to 1024 — the fixed CASE ladder is "
    "engine-portable where log2 is libm), reporting per-bucket doc "
    "count, real tokens, padding tokens, and padding-waste fraction in "
    "integer micro-units — the batch-shape planning every padded "
    "transformer pipeline does to minimize wasted FLOPs. Map-only "
    "projection + ONE keyed (7-row) aggregate; pure integer arithmetic.",
)
def pipeline_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # filtered split, matching the oracle's SQL_TOKS_NE: an unfiltered
    # split('') yields [''] (n_tok 1 vs the oracle's 0) on empty docs
    n_tok = F.size(
        F.filter(
            F.split(normalize_text(F.col("text")), " "), lambda x: x != ""
        )
    )
    cap = F.lit(1024)
    for c in reversed(_LB_CAPS):
        cap = F.when(n_tok <= c, F.lit(c)).otherwise(cap)
    b = d.select(
        F.least(n_tok, F.lit(1024)).cast("bigint").alias("n_eff"),
        cap.cast("bigint").alias("cap"),
    )
    return (
        b.groupBy("cap")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_eff").cast("bigint").alias("total_tokens"),
            F.sum(F.col("cap") - F.col("n_eff")).cast("bigint").alias("total_padding"),
            F.expr("(sum(cap - n_eff) * 1000000) div sum(cap)")
            .cast("bigint")
            .alias("waste_q6"),
        )
        .orderBy("cap")
    )


@register(
    "mm_wav_real_codec",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id, 16000 AS rate,
               CAST((n_chars % 200) + 20 AS BIGINT) AS n,
               (doc_id * 7) % 4096 AS base
        FROM documents),
    feat AS (
        SELECT asset_id, rate, n,
            list_max(list_transform(generate_series(0, n - 1),
                     k -> abs(((base + 13*k) % 4096) - 2048))) AS peak,
            list_sum(list_transform(generate_series(0, n - 1),
                     k -> CAST((((base + 13*k) % 4096) - 2048) AS BIGINT)
                          * (((base + 13*k) % 4096) - 2048))) AS energy
        FROM params)
    SELECT asset_id, CAST(rate AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels, CAST(2 AS INT) AS sample_width,
           n AS n_frames,
           CAST((n * 1000) // rate AS BIGINT) AS duration_ms,
           CAST(peak AS INT) AS peak,
           round(sqrt(CAST(energy AS DOUBLE) / n), 4) AS rms,
           TRUE AS valid
    FROM feat ORDER BY asset_id
    """,
    doc="REAL-codec audio roundtrip under the hash gate: per document, "
    "encode a deterministic PCM16 waveform into a spec-conformant RIFF "
    "WAV via the stdlib wave writer (multimodal.make_wav_bytes — "
    "playable bytes, not the FAUD fake), then decode it back with "
    "decode_wav_audio (stdlib wave + numpy) and extract "
    "rate/channels/width/frames/peak/RMS. The oracle recomputes every "
    "sample arithmetically, so a hash match proves the RIFF container "
    "encode AND decode end-to-end — the no-dependency half of the codec "
    "seam, driver-checked. Map-only (one Arrow pass each way), no "
    "shuffle until the final presentation sort.",
)
def mm_wav_real_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    def wav(did, nc):
        base, n = (did * 7) % 4096, nc % 200 + 20
        return make_wav_bytes(16000, [((base + 13 * k) % 4096) - 2048 for k in range(n)])

    assets = encode_assets(load(spark, sf_dir, "documents").select("doc_id", "n_chars"), wav)
    return (
        decode_wav_audio(assets)
        .select(
            "asset_id",
            "sample_rate",
            "n_channels",
            "sample_width",
            "n_frames",
            "duration_ms",
            "peak",
            F.round("rms", 4).alias("rms"),
            "valid",
        )
        # checkpoint before the sort: the range-sampling pass would
        # re-run the WAV encode+decode Python chain (see mm_audio_features)
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@register(
    "mm_bmp_real_codec",
    oracle="""
    WITH params AS (
        SELECT doc_id AS asset_id,
               CAST((n_chars % 13) + 3 AS INT) AS w,
               CAST((doc_id % 7) + 2 AS INT) AS h
        FROM documents),
    feat AS (
        SELECT asset_id, w, h,
            list_sum(list_transform(generate_series(0, w*h - 1),
                     i -> CAST((asset_id + 3*i) % 256 AS BIGINT))) AS sr,
            list_sum(list_transform(generate_series(0, w*h - 1),
                     i -> CAST((asset_id + 5*i) % 256 AS BIGINT))) AS sg,
            list_sum(list_transform(generate_series(0, w*h - 1),
                     i -> CAST((asset_id + 7*i) % 256 AS BIGINT))) AS sb
        FROM params)
    SELECT asset_id, w AS width, h AS height,
           CAST(sb AS DOUBLE) / (w*h) AS mean_b,
           CAST(sg AS DOUBLE) / (w*h) AS mean_g,
           CAST(sr AS DOUBLE) / (w*h) AS mean_r,
           TRUE AS valid
    FROM feat ORDER BY asset_id
    """,
    doc="REAL-codec image roundtrip under the hash gate: per document, "
    "encode deterministic RGB pixels into a spec-conformant uncompressed "
    "24-bit BMP (multimodal.make_bmp_bytes — bottom-up rows, 4-byte "
    "stride padding; opens in any viewer), then decode it back with "
    "decode_bmp_pixels and emit exact per-channel means (int64 sums, "
    "one IEEE division — bit-identical cross-engine). A hash match "
    "proves the BMP struct layout encode AND decode end-to-end. "
    "Map-only, no shuffle until the presentation sort.",
)
def mm_bmp_real_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    def bmp(did, nc):
        w, h = nc % 13 + 3, did % 7 + 2
        px = [
            ((did + 3 * i) % 256, (did + 5 * i) % 256, (did + 7 * i) % 256) for i in range(w * h)
        ]
        return make_bmp_bytes(w, h, px)

    assets = encode_assets(load(spark, sf_dir, "documents").select("doc_id", "n_chars"), bmp)
    return (
        decode_bmp_pixels(assets)
        .select(
            "asset_id", "width", "height", "mean_b", "mean_g", "mean_r", "valid"
        )
        # checkpoint before the sort: the range-sampling pass would
        # re-run the BMP encode+decode Python chain (see mm_audio_features)
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )
