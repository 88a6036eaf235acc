"""Document deduplication operators — the LLM-data-pipeline extension
(BASELINE.json north star; nvtext/deduplicate.hpp:66 resolve_duplicates,
nvtext/minhash.hpp:62, ML MinHashLSH semantics) built as compositions of
DataFrame ops.

Scale design (100 TB):
- exact dedup  — one hash-shuffle groupBy on a 128-bit digest; no pairwise
  work (inline in queries/text.py:dedup_exact_bow).
- minhash-LSH  — per-doc signature (narrow, one explode + one groupBy),
  band buckets (equi-join keys!), candidate pairs only within buckets,
  jaccard verify on the candidates. Pairwise work is proportional to true
  collisions, never |docs|² — the standard web-scale near-dup pipeline.
- simhash      — per-doc 16-bit signature via one explode + bitwise vote
  aggregation; exact-bucket grouping.

Hashing uses the md5-derived 60-bit hash (functions.hashing.hash60) so the
pipeline is reproducible across engines — swap in F.xxhash64 for ~2× scan
speed when cross-engine determinism isn't required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cudf_spark.functions.hashing import hash60
from cudf_spark.functions.textfns import char_shingles, jaccard, normalize_text, word_shingles

# Minhash permutation universe: p = 2^31 - 1 keeps a*h + b inside int64.
MINHASH_P = 2_147_483_647


def minhash_seeds(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation parameters, identical across engines."""
    return [
        ((2 * i + 1) * 1_103_515_245 % MINHASH_P or 1, (12345 + i * 2_654_435_761) % MINHASH_P)
        for i in range(n)
    ]


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    shingle_k: int = 3,
    char_level: bool = False,
) -> DataFrame:
    """(id, m0..m{n-1}) minhash signature over word k-shingles — or, with
    ``char_level=True``, over character k-grams (the reference minhash's
    native width-``k`` substring semantics, nvtext/minhash.hpp:62).

    One explode + one groupBy; all n minima computed in a single
    aggregation pass (the partial/final split mirrors the reference's
    streaming groupby accumulate/merge, streaming_groupby.cpp:21-33).
    """
    seeds = minhash_seeds(n_hashes)
    shingles = (char_shingles if char_level else word_shingles)(F.col(text_col), shingle_k)
    sh = df.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    h = (hash60(F.col("shingle")) % MINHASH_P).alias("h")
    return (
        sh.select(id_col, h)
        .groupBy(id_col)
        .agg(
            *[
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
                for i, (a, b) in enumerate(seeds)
            ]
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing at least one LSH band.

    Bands come from ONE pass over the signature (posexplode of the band-key
    array), not one plan branch per band — the signature subtree (explode +
    md5 + groupBy) is evaluated once: the tiny band table is locally
    checkpointed so the self-join probes materialized blocks instead of
    recomputing the pipeline. Unlike ``persist()`` (whose blocks live until
    an explicit unpersist — a leak in long-lived sessions), local-checkpoint
    blocks are released by Spark's ContextCleaner once the returned
    DataFrame is garbage-collected.

    Fault-tolerance tradeoff, explicit: ``localCheckpoint`` TRUNCATES
    lineage and keeps blocks only on executors, so losing an executor
    after materialization fails the job instead of recomputing (persist
    would recompute from lineage). On a long-lived 1000-executor cluster
    where decommissioning is routine, callers should prefer reliable
    checkpointing — ``spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)``
    and ``.checkpoint()`` on the band table — or accept job retry as the
    recovery path (the band table is cheap to rebuild: one pass over the
    signatures). We keep localCheckpoint as the default because the
    alternative leak (round-1 finding: persist with no unpersist hook on a
    lazily-returned DataFrame) is a certain failure in notebook sessions,
    while executor loss mid-query is a retryable one.

    Measured (round 8, sf0.1, min-of-2 after warm-up): switching these
    reuse materializations to ``persist(MEMORY_AND_DISK)`` cost
    text_tfidf_topk 0.81 -> 1.80 s and dedup_minhash_lsh 0.69 -> 1.19 s
    (basket 15.4 -> 20.0 s) — the InMemoryRelation columnar CachedBatch
    build + read is 2-4x the price of raw checkpoint blocks on write-
    once-read-twice intermediates, and the CacheManager entry also leaks
    plan-substitution into every later query of the session. Reverted
    with this note; the numbers are the answer to "why not persist".

    ``max_bucket_size`` guards adversarial corpora: a bucket holding m docs
    emits m² pairs, so one hot band key (mass-duplicated boilerplate) can
    go quadratic. Buckets above the cap are dropped — standard practice in
    large-scale dedup: members of an over-full bucket almost certainly
    collide in OTHER bands too (and boilerplate-heavy docs are handled by
    exact dedup first), so recall loss is negligible while the worst case
    becomes m·cap instead of m².
    """
    if band_size < 1 or n_hashes % band_size != 0:
        # silent truncation would quietly change recall (n_hashes=8,
        # band_size=3 used to drop m6/m7); band_size > n_hashes used to
        # build ZERO bands and report every corpus duplicate-free
        raise ValueError(
            f"lsh_candidate_pairs: band_size ({band_size}) must divide "
            f"n_hashes ({n_hashes})"
        )
    n_bands = n_hashes // band_size
    band_keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"m{b * band_size + j}") for j in range(band_size)])
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col).alias("bid"), F.posexplode(band_keys).alias("band", "band_key")
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "band_key")
        bands = bands.withColumn("__bucket_n", F.count("*").over(w)).filter(
            F.col("__bucket_n") <= max_bucket_size
        ).drop("__bucket_n")
    # reused as BOTH sides of the candidate self-join (docstring above
    # has the checkpoint-vs-persist tradeoff + round-8 measurement)
    bands = bands.localCheckpoint(eager=False)
    left = bands.select(F.col("bid").alias("id_a"), "band", "band_key")
    right = bands.select(F.col("bid").alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-duplicate pairs: LSH bucketing then exact-jaccard verification."""
    sig = minhash_signature(df, id_col, text_col, n_hashes=n_hashes, shingle_k=shingle_k)
    cands = lsh_candidate_pairs(sig, id_col, n_hashes=n_hashes, band_size=band_size)
    shingled = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, *, n_bits: int = 16) -> DataFrame:
    """Per-doc simhash over distinct tokens: each hash bit votes ±1; the
    sign vector packs into an integer signature."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))).alias("tok"),
    )
    h = hash60(F.col("tok"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.when((h.bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)).alias(f"v{j}")
            for j in range(n_bits)
        ]
    )
    sig = None
    for j in range(n_bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))
