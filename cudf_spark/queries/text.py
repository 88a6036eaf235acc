"""Text-analysis + deduplication coverage over the ``documents`` table —
the LLM-data-pipeline extension (SURVEY §2.11, nvtext namespace) and the
north-star custom operators (BASELINE.json).

Every pipeline is oracle-checked end-to-end: the DuckDB SQL mirrors the
exact same md5-derived hashing, minhash permutations and LSH banding, so a
hash-match here validates the *algorithm*, not just plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.functions.hashing import hash60, hash60_sql
from cudf_spark.functions.textfns import jaccard, normalize_text, word_shingles
from cudf_spark.operators.dedup import (
    MINHASH_P,
    minhash_lsh_dedup,
    minhash_seeds,
    simhash,
)
from cudf_spark.queries.registry import register

# --- shared SQL fragments (DuckDB side) ------------------------------------

SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SQL_TOKS = f"string_split({SQL_NORM}, ' ')"
SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),"
    " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)

STOPWORDS = ("the", "a", "of", "to", "and")
LANG_WORDS = {
    "en": ("the", "a"),
    "es": ("scan", "join"),
    "de": ("merge", "sort"),
    "fr": ("filter", "group"),
    "zh": ("data", "row"),
}


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(list_filter({SQL_TOKS}, t -> t != ''))                    AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpeish,
           len(list_distinct({SQL_TOKS}))                                AS n_distinct,
           length({SQL_NORM})                                            AS n_chars_norm
    FROM documents ORDER BY doc_id
    """,
    doc="tokenize + count_tokens (nvtext/tokenize.hpp:51,87): whitespace "
    "tokens, BPE-ish regex token count, distinct tokens, normalized length.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    toks = F.split(norm, " ")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t != "")).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).alias("n_bpeish"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(norm).alias("n_chars_norm"),
    ).orderBy("doc_id")


def _lang_scores_sql() -> str:
    parts = []
    for lang, words in LANG_WORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        parts.append(f"len(list_intersect(list_distinct({SQL_TOKS}), {arr})) AS s_{lang}")
    return ",\n           ".join(parts)


def lang_scores(text_col) -> dict[str, F.Column]:
    """Spark mirror of :func:`_lang_scores_sql`: {lang: marker-overlap
    score Column} over the distinct normalized tokens of ``text_col``.
    ONE definition for the seven lang-id consumers (text_lang_id,
    text_lang_confusion_eval, curation_pipeline_v4, stats_cohens_kappa,
    ml_calibration_ece, stats_youden_j_threshold, ml_pr_auc) — the
    round-8 review found the block copy-pasted six times, where any
    marker/tie-break fix would have had to land in six places."""
    toks = F.array_distinct(F.split(normalize_text(text_col), " "))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_WORDS.items()
    }


def lang_pred(scores: dict[str, F.Column]) -> F.Column:
    """Canonical lang-id argmax with the first-match tie-break
    en > es > de > fr > zh (must equal the oracle CASE chain built on
    :func:`_lang_scores_sql` exactly)."""
    return (
        F.when(
            scores["en"]
            >= F.greatest(scores["es"], scores["de"], scores["fr"], scores["zh"]),
            "en",
        )
        .when(scores["es"] >= F.greatest(scores["de"], scores["fr"], scores["zh"]), "es")
        .when(scores["de"] >= F.greatest(scores["fr"], scores["zh"]), "de")
        .when(scores["fr"] >= scores["zh"], "fr")
        .otherwise("zh")
    )


def lang_conf(scores: dict[str, F.Column]) -> tuple[F.Column, F.Column]:
    """(max score, total score) — the confidence ingredients the
    calibration/threshold/PR-sweep queries quantize into conf_q6."""
    cols = [scores[k] for k in ("en", "es", "de", "fr", "zh")]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return F.greatest(*cols), total


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS actual,
           {_lang_scores_sql()}
        FROM documents
    )
    SELECT doc_id, actual,
           CASE WHEN s_en >= greatest(s_es, s_de, s_fr, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_de, s_fr, s_zh)       THEN 'es'
                WHEN s_de >= greatest(s_fr, s_zh)             THEN 'de'
                WHEN s_fr >= s_zh                             THEN 'fr'
                ELSE 'zh' END AS predicted
    FROM scored ORDER BY doc_id
    """,
    doc="language-ID heuristic: distinct-token hits against per-language "
    "marker sets, deterministic argmax (first-match tie-break en>es>de>fr>zh).",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pred = lang_pred(lang_scores(F.col("text")))
    return d.select("doc_id", F.col("lang").alias("actual"), pred.alias("predicted")).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(list_filter({SQL_TOKS}, x -> x != ''))            AS n_tok,
               list_sum(list_transform({SQL_TOKS}, x -> length(x)))  AS tok_chars,
               len(list_intersect(list_distinct({SQL_TOKS}),
                   ['the', 'a', 'of', 'to', 'and']))                 AS n_stop
        FROM documents
    )
    SELECT doc_id, n_tok,
           round(tok_chars * 1.0 / n_tok, 4)                         AS avg_tok_len,
           round(n_stop * 1.0 / n_tok, 6)                            AS stop_ratio,
           CAST(floor((0.5 * least(n_tok / 50.0, 1.0)
               + 0.3 * (n_stop * 1.0 / n_tok)
               + 0.2 * least(tok_chars * 1.0 / n_tok / 8.0, 1.0)) * 10000) AS BIGINT) AS quality_q4
    FROM t ORDER BY doc_id
    """,
    doc="document quality scoring: length / mean token length / stopword "
    "ratio composite (training-data filtering heuristic).",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    n_tok = F.size(F.filter(toks, lambda x: x != ""))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS]))
    )
    quality = (
        0.5 * F.least(n_tok / 50.0, F.lit(1.0))
        + 0.3 * (n_stop / n_tok)
        + 0.2 * F.least(tok_chars / n_tok / 8.0, F.lit(1.0))
    )
    # n_tok == 0 (whitespace-only doc): ANSI mode aborts the /n_tok
    # divisions while the oracle's x/0 is NULL in DuckDB — guard to the
    # oracle's NULL ratios (the text_quality_gopher contract).
    n_ok = n_tok > 0
    return (
        d.select(
            "doc_id",
            n_tok.alias("n_tok"),
            F.when(n_ok, F.round(tok_chars / n_tok, 4)).alias("avg_tok_len"),
            F.when(n_ok, F.round(n_stop / n_tok, 6)).alias("stop_ratio"),
            # floor-quantized: F.round is HALF_UP on the decimal repr while
            # DuckDB rounds the binary double half-to-even — exact .5
            # boundaries (which this rational-valued composite does hit)
            # would diverge; floor of the identical double cannot.
            F.when(n_ok, F.floor(quality * 10000).cast("long")).alias("quality_q4"),
        )
        # checkpoint the narrow metric rows before the presentation sort:
        # the sort's range-sampling pass re-executes its unmaterialized
        # input, i.e. the whole per-doc tokenize+score projection ran
        # twice per sorted action (r11 §3.14 class; the alternative
        # sort-the-raw-scan-first form would shuffle the full TEXT column
        # through the range exchange — the metric rows are the cheap side
        # at any scale).
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {hash60_sql(SQL_NORM)}                              AS fp,
           md5(array_to_string(list_sort(list_distinct({SQL_TOKS})), ' ')) AS bow_digest
    FROM documents ORDER BY doc_id
    """,
    doc="document fingerprinting: content hash of normalized text + "
    "order-independent bag-of-words digest (the dedup keys).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    bow = F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " "))
    return d.select(
        "doc_id",
        hash60(norm).alias("fp"),
        bow.alias("bow_digest"),
    ).orderBy("doc_id")


@register(
    "dedup_exact_bow",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct({SQL_TOKS})), ' ')) AS digest
        FROM documents WHERE text IS NOT NULL
    )
    SELECT digest, count(*) AS n_dups, min(doc_id) AS canonical_id
    FROM keyed GROUP BY digest HAVING count(*) > 1
    ORDER BY canonical_id
    """,
    doc="exact dedup via content digest grouping (hash-groupBy; "
    "nvtext/deduplicate.hpp semantics at document granularity). Fixture "
    "texts are unique verbatim, so the key is the order-independent "
    "bag-of-words digest, which does collide.",
)
def dedup_exact_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5(NULL) is NULL and groupBy treats NULL keys as equal, so NULL-text
    # documents would be reported as one duplicate group: a missing
    # document must stay distinguishable from a duplicate one
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    digest = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(normalize_text(F.col("text")), " "))), " ")
    )
    return (
        d.select("doc_id", digest.alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("canonical_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang, source, {SQL_SHINGLES} AS sh
        FROM (SELECT doc_id, lang, source, {SQL_TOKS} AS w FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source AND b.doc_id > a.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
    ORDER BY id_a, id_b
    """,
    doc="n-gram jaccard near-dup pairs (nvtext/jaccard.hpp:63) with "
    "(lang, source) blocking — the quadratic-within-block baseline the "
    "LSH pipeline replaces at scale.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = d.select("doc_id", "lang", "source", word_shingles(normalize_text(F.col("text"))).alias("sh"))
    a = s.select(F.col("doc_id").alias("id_a"), "lang", "source", F.col("sh").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("id_b"), "lang", "source", F.col("sh").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    # size prefilter AHEAD of the intersect: J <= min(|A|,|B|)/max(...)
    # (the intersection fits in the smaller set, the union contains the
    # larger), so 5*min < max proves J < 0.2 without touching elements.
    # Codegen short-circuits the conjunction, skipping the O(|A|+|B|)
    # intersect+union for size-mismatched pairs (r10 A/B at sf0.1:
    # 7.37 -> 6.82 s min-of-2 warm — modest here because the synthetic
    # docs have similar lengths; on a real corpus with heavy-tailed doc
    # sizes the skip rate, and the win, grows. Result set unchanged,
    # oracle untouched).
    sz_a, sz_b = F.size("sh_a"), F.size("sh_b")
    prefilter = 5 * F.least(sz_a, sz_b) >= F.greatest(sz_a, sz_b)
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("id_b") > F.col("id_a"))
        .filter(prefilter & (jac >= 0.2))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        # checkpoint the survivor pairs before the presentation sort: the
        # sort's range-sampling pass re-executes its unmaterialized input,
        # i.e. the ENTIRE quadratic within-block jaccard verification ran
        # twice per sorted action (r11 §3.14 class; interleaved noop-sink
        # A/B at sf0.1: 14.2 -> 7.7 s median, 5/5 pairs — count()-based
        # timings never saw the doubling because count() drops the sort).
        # Survivors are a handful of rows — near-free to materialize.
        .localCheckpoint(eager=False)
        .orderBy("id_a", "id_b")
    )


def _minhash_oracle() -> str:
    seeds = minhash_seeds(8)
    h_expr = hash60_sql("shingle")
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(seeds)
    )
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, CAST(m{2*b} AS VARCHAR) || '_' || CAST(m{2*b+1} AS VARCHAR) AS band_key FROM sig"
        for b in range(4)
    )
    return f"""
    WITH w AS (
        SELECT doc_id, {SQL_TOKS} AS w FROM documents
    ), shingled AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM w
    ), exploded AS (
        SELECT doc_id, unnest(sh) AS shingle FROM shingled
    ), hashed AS (
        SELECT doc_id, {h_expr} % {MINHASH_P} AS h FROM exploded
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ), bands AS (
{band_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                 len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
    FROM cand c
    JOIN shingled x ON x.doc_id = c.id_a
    JOIN shingled y ON y.doc_id = c.id_b
    WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
          len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    ORDER BY id_a, id_b
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="minhash-LSH near-dup pipeline (nvtext/minhash.hpp:62 + ML "
    "MinHashLSH semantics): 8 md5-derived permutations, 4 bands x 2 rows, "
    "bucket-join candidates, exact-jaccard verify >= 0.2. The oracle SQL "
    "replays the identical algorithm in DuckDB — candidate generation "
    "included. Pairwise cost is bounded by bucket collisions, never "
    "|docs|^2 (the 100 TB design).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    return minhash_lsh_dedup(d, "doc_id", "text", threshold=0.2).orderBy("id_a", "id_b")


def _simhash_oracle(n_bits: int = 16) -> str:
    h_expr = hash60_sql("tok")
    votes = ",\n               ".join(
        f"sum(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS v{j}" for j in range(n_bits)
    )
    packed = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits))
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({SQL_TOKS})) AS tok FROM documents
    ), hashed AS (
        SELECT doc_id, {h_expr} AS h FROM toks
    ), votes AS (
        SELECT doc_id,
               {votes}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({packed} AS BIGINT) AS simhash
    FROM votes ORDER BY doc_id
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    doc="simhash signatures (16-bit) — bitwise ±1 votes of distinct-token "
    "hashes; equal signatures → near-dup bucket. One explode + one groupBy.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text").orderBy("doc_id")


@register(
    "text_stopword_filter",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_filter({SQL_TOKS},
               t -> NOT list_contains(['the', 'a', 'of', 'to', 'and'], t))[1:10], ' ') AS first10_content
    FROM documents ORDER BY doc_id
    """,
    doc="stopword removal (nvtext/replace.hpp replace_tokens / ML "
    "StopWordsRemover) — order-preserving filter, first 10 content tokens.",
)
def text_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    content = F.filter(toks, lambda t: ~F.array_contains(stop, t))
    return d.select(
        "doc_id",
        F.array_join(F.slice(content, 1, 10), " ").alias("first10_content"),
    ).orderBy("doc_id")


@register(
    "text_porter_measure",
    oracle=f"""
    SELECT doc_id,
           CAST(list_sum(list_transform({SQL_TOKS}[1:5],
               t -> len(regexp_extract_all(regexp_replace(t, '[^aeiou]', 'c', 'g'),
                                           '[aeiou]+c')))) AS BIGINT) AS vc_measure
    FROM documents ORDER BY doc_id
    """,
    doc="porter_stemmer_measure (nvtext/stemmer.hpp:159): the VC-pattern "
    "count m per token (first 5 tokens), via consonant-class regex.",
)
def text_porter_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.slice(F.split(normalize_text(F.col("text")), " "), 1, 5)
    measure = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.size(F.regexp_extract_all(F.regexp_replace(t, "[^aeiou]", "c"), F.lit("[aeiou]+c"), 0)),
    )
    return d.select("doc_id", measure.cast("long").alias("vc_measure")).orderBy("doc_id")


@register(
    "text_char_ngrams",
    oracle=f"""
    WITH n AS (SELECT doc_id, substr({SQL_NORM}, 1, 20) AS s FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(generate_series(1, length(s) - 2),
               i -> substr(s, CAST(i AS INT), 3)), '|') AS char3,
           length(s) AS n_chars
    FROM n ORDER BY doc_id
    """,
    doc="generate_character_ngrams (nvtext/generate_ngrams.hpp:49) — "
    "sliding char windows over the normalized prefix.",
)
def text_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    s = F.substring(normalize_text(F.col("text")), 1, 20)

    def grams(bound_s):
        # length < 3 guard: Spark's sequence(1, 0) DESCENDS and would
        # fabricate grams where DuckDB's generate_series is empty. The
        # short branch is NULL (not []): DuckDB's array_to_string([], '|')
        # returns NULL where Spark's array_join([]) is '' — probed. NULL
        # text also lands here (length(NULL) >= 3 is NULL -> no match).
        windows = F.transform(
            F.sequence(F.lit(1), F.length(bound_s) - 2),
            lambda i: F.substring(bound_s, i, 3),
        )
        return F.when(F.length(bound_s) >= 3, windows)

    # bind s once (CSE trap — see word_shingles)
    char3 = F.element_at(F.transform(F.array(s), grams), 1)
    return d.select(
        "doc_id",
        F.array_join(char3, "|").alias("char3"),
        F.length(s).alias("n_chars"),
    ).orderBy("doc_id")


def _components_oracle() -> str:
    # Reuse the minhash-LSH pair pipeline verbatim as a CTE, then close it
    # transitively with a recursive CTE. The r.label < e.v guard prunes the
    # closure without losing minima: the component-minimum label satisfies
    # label < node at every propagation step.
    pairs_sql = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT u AS node, u AS label FROM edges
        UNION
        SELECT e.v AS node, r.label
        FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.label < e.v),
    membership AS (
        SELECT node, min(label) AS component FROM reach GROUP BY node)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           max(node)                AS max_doc
    FROM membership GROUP BY component
    ORDER BY component
    """


@register(
    "dedup_duplicate_clusters",
    oracle=_components_oracle(),
    doc="Near-dup CLUSTER resolution: minhash-LSH pairs chained into "
    "connected components (operators/graphs.py — iterative min-label "
    "propagation, two keyed shuffles per round, lineage checkpointed), "
    "component id = canonical (minimum) doc. The downstream step a real "
    "dedup pipeline needs between pair generation and keep/drop: keep "
    "the canonical doc, drop the other n_members-1. Oracle closes the "
    "same pair graph with a recursive CTE.",
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.graphs import connected_components

    d = load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    pairs = minhash_lsh_dedup(d, "doc_id", "text", threshold=0.2)
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        cc.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_doc"),
        )
        .orderBy("component")
    )


def _minhash_estimate_oracle() -> str:
    seeds = minhash_seeds(8)
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}" for i, (a, b) in enumerate(seeds)
    )
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, CAST(m{2*b} AS VARCHAR) || '_' || CAST(m{2*b+1} AS VARCHAR) AS band_key FROM sig"
        for b in range(4)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(8)
    )
    return f"""
    WITH w AS (
        SELECT doc_id, {SQL_TOKS} AS w FROM documents
    ), shingled AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM w
    ), exploded AS (
        SELECT doc_id, unnest(sh) AS shingle FROM shingled
    ), hashed AS (
        SELECT doc_id, {hash60_sql("shingle")} % {MINHASH_P} AS h FROM exploded
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ), bands AS (
{band_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(({matches}) AS INT) AS n_agree,
           round(len(list_intersect(x.sh, y.sh)) * 1.0 /
                 len(list_distinct(list_concat(x.sh, y.sh))), 6) AS exact_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    JOIN shingled x ON x.doc_id = c.id_a
    JOIN shingled y ON y.doc_id = c.id_b
    ORDER BY id_a, id_b
    """


@register(
    "dedup_minhash_estimate",
    oracle=_minhash_estimate_oracle(),
    doc="minhash accuracy envelope: for every LSH candidate pair, the "
    "signature-agreement count (n_agree/8 is the unbiased Jaccard "
    "ESTIMATE — Broder 1997) next to the exact Jaccard — the in-query "
    "error display for the minhash sketch, like agg_sketch_merge and "
    "agg_cms_heavy_hitters do for quantiles and counts. At 100 TB the "
    "estimate column is what a tuning pass reads to pick n_hashes/band "
    "shape; agreement counts are integers so the estimate is exact on "
    "both engines.",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.dedup import (
        jaccard,
        lsh_candidate_pairs,
        minhash_signature,
        word_shingles,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    sig = minhash_signature(d, "doc_id", "text").localCheckpoint(
        eager=False
    )  # reused x3 (bands + both signature join sides)
    cands = lsh_candidate_pairs(sig, "doc_id")
    sa = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(8)])
    sb = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(8)])
    shingled = d.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    xa = shingled.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    xb = shingled.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(8)
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_agree.cast("int").alias("n_agree"),
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("exact_jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_exact_crossrun",
    oracle=f"""
    WITH seen AS (
        SELECT DISTINCT md5({SQL_NORM}) AS digest
        FROM documents WHERE source != 'src3'),
    batch AS (
        SELECT doc_id, md5({SQL_NORM}) AS digest
        FROM documents WHERE source = 'src3'),
    tagged AS (
        SELECT b.doc_id, b.digest,
               EXISTS (SELECT 1 FROM seen s WHERE s.digest = b.digest) AS is_dup
        FROM batch b)
    SELECT doc_id, digest, is_dup
    FROM tagged ORDER BY doc_id
    """,
    doc="incremental cross-run exact dedup: the NEW ingest batch (source "
    "src3) checks its normalized-text digests against the digest set "
    "persisted from prior runs (src0-2) — an anti-join-shaped keyed "
    "lookup, the shape every incremental curation pipeline runs per "
    "ingest instead of re-deduping the whole corpus. At 100 TB the seen "
    "set is a bucketed digest table (or its Bloom sketch via "
    "join_bloom_prefilter for the probe-side prefilter); only digests "
    "cross runs, never text.",
)
def dedup_exact_crossrun(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    digest = F.md5(normalize_text(F.col("text")))
    seen = (
        d.filter(F.col("source") != "src3")
        .select(digest.alias("digest"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    batch = d.filter(F.col("source") == "src3").select(
        "doc_id", digest.alias("digest")
    )
    return (
        batch.join(seen, "digest", "left")
        .select("doc_id", "digest", F.coalesce("__seen", F.lit(False)).alias("is_dup"))
        .orderBy("doc_id")
    )
