"""Text pipeline, part 2 — true byte-pair encoding and substring-level
duplicate-span detection (the two algorithm-heavy nvtext gaps from round
1: byte_pair_encoding.hpp:121 and deduplicate.hpp:66).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cudf_spark.catalog import load
from cudf_spark.operators.substrings import duplicate_spans
from cudf_spark.operators.tokenizers import bpe_tokenize_udf
from cudf_spark.queries.registry import register

# Deterministic toy merge table over the fixture vocabulary (ranked — lower
# index merges first, exactly like a GPT-2 merges.txt).
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"),
    ("r", "o"), ("ro", "w"),
    ("a", "g"), ("ag", "g"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("d", "a"), ("da", "t"), ("dat", "a"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("o", "r"), ("or", "d"), ("ord", "e"), ("orde", "r"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("f", "a"), ("fa", "s"), ("fas", "t"),
    ("s", "l"), ("sl", "o"), ("slo", "w"),
]


import re as _re

_SAFE_TOKEN_RE = _re.compile(r"[a-z0-9]+")


def _assert_token_sql_safe(token: str, what: str) -> None:
    """Merge-table and vocab tokens are interpolated VERBATIM into the
    recursive-CTE oracles — LIKE patterns, quoted string literals, and
    the \\x1f separator encoding. A token containing ``%``/``_`` (LIKE
    wildcards), a quote, a backslash, or the separator byte would
    silently corrupt the pattern (wrong matches) or the SQL itself, so
    any token outside the conservative ``[a-z0-9]+`` charset fails LOUD
    at import time rather than under the driver's hash gate."""
    if not _SAFE_TOKEN_RE.fullmatch(token):
        raise ValueError(
            f"{what}: token {token!r} outside the SQL-interpolation-safe"
            " charset [a-z0-9]+ — the recursive-CTE oracle splices tokens"
            " into LIKE patterns and string literals verbatim"
        )


def _assert_merges_wellformed(merges: list[tuple[str, str]]) -> None:
    """Any merge pair that CONTAINS the product of another merge must
    rank AFTER the merge that produces it (the natural property of a
    learned table — a pair can only be counted once its constituents
    exist).

    The recursive-CTE oracle depends on it: replace() consumes the
    shared separator of back-to-back occurrences, so one step may merge
    only alternate occurrences of the winning pair p. Equivalence with
    the UDF's merge-ALL-occurrences pass holds because every pair
    CREATED by a partial application contains p's product and therefore
    (by this invariant) ranks after p — p stays the minimum until
    exhausted. A table violating the invariant (e.g. rank[(ab,a)] <
    rank[(a,b)] on 'abab') would let a created pair hijack the
    remaining occurrences and silently diverge from the UDF under the
    driver's hash gate.
    """
    # two passes: a pair may reference a token whose producing merge
    # ranks LATER (that is exactly the ill-formed case), so collect all
    # production ranks first. Record the LAST producer per token — the
    # replay can mint new instances of a token every time ANY producing
    # merge runs, so a consumer is only safe ranking after all of them
    # (a first-producer check accepted [(a,b),(a,bc),(abc,ab),(ab,c)],
    # where ('abc','ab') at rank 2 hijacks instances minted by rank 3).
    produced_at: dict[str, int] = {}
    for rank, (left, right) in enumerate(merges):
        _assert_token_sql_safe(left, f"BPE merge #{rank} left")
        _assert_token_sql_safe(right, f"BPE merge #{rank} right")
        produced_at[left + right] = rank
    for rank, (left, right) in enumerate(merges):
        for side in (left, right):
            if len(side) > 1 and produced_at.get(side, -1) >= rank:
                raise ValueError(
                    f"BPE merge table ill-formed: pair #{rank} ({left!r},"
                    f" {right!r}) uses token {side!r} first produced by"
                    f" merge #{produced_at[side]} — the oracle's"
                    " partial-application replay requires producers to"
                    " rank first"
                )


_assert_merges_wellformed(BPE_MERGES)

# Python str.split() whitespace (the UDFs' word rule), written as an
# explicit RE2 character class for the DuckDB oracles (RE2 \\s is
# ASCII-only, so '\\s+' would split differently on \\x0b/\\xa0/unicode
# spaces). Verified char-for-char equal to Python's isspace set.
# Includes \\x1c-\\x1f, so the BPE oracle's \\x1f state separator can
# never occur inside a word. The Spark side needs NO pre-clean: the
# UDFs split with str.split() natively.
# the ONE whitespace class definition lives beside the tokenizers (it
# must equal their train/apply word rule); re-exported here for the
# DuckDB replay oracles
from cudf_spark.operators.tokenizers import WS_CLASS as _WS_RE2  # noqa: E402

# Case-fold parity: DuckDB lower() applies the SIMPLE (1:1) Unicode
# mapping while Python str.lower() applies the FULL mapping with its one
# context rule. The divergences:
# - U+0130 'İ' lowers to 'i' + U+0307 in Python (the only EXPANDING
#   lowercase mapping in Unicode; verified by exhaustive scan) but to
#   plain 'i' in DuckDB → the oracles replace it with its full-mapped
#   form BEFORE lower(). Oracle-side only; str.lower() already expands.
# - Final_Sigma (the only CONTEXT-SENSITIVE rule in default casing):
#   word-final 'Σ' lowers to 'ς' in Python, 'σ' in DuckDB, and RE2 has
#   no lookaround to replicate the context — so BOTH sides normalize
#   capital 'Σ' to medial 'σ' before lowering (the tokenizer UDFs via
#   _fold in operators/tokenizers.py, the oracles in this expression).
#   Pre-existing lowercase 'ς' is untouched by lower() on both engines.
_LOWER_SQL = (
    "lower(replace(replace(coalesce(text, ''), 'İ', 'i̇'), 'Σ', 'σ'))"
)


def _bpe_oracle() -> str:
    """DuckDB replay of greedy ranked-merge BPE as a recursive CTE
    (upgrading text_bpe_tokenize from rows-only to the hash gate —
    VERDICT r06 item 6).

    Each word's state is its token sequence joined with the \\x1f unit
    separator; every recursion step picks the LOWEST-ranked merge whose
    pair occurs in the state and applies it via replace(). replace()
    consumes the shared separator of back-to-back occurrences, so one
    step may merge only alternate occurrences of an overlapping run —
    but the same pair stays the minimum until exhausted, so the
    fixpoint equals the UDF's merge-all-occurrences iteration.
    """
    sep = "\x1f"
    merge_rows = ", ".join(
        f"({rank}, '{left}', '{right}')"
        for rank, (left, right) in enumerate(BPE_MERGES)
    )
    return f"""
    WITH RECURSIVE
    merges(rank, l, r) AS (VALUES {merge_rows}),
    words_raw AS (
        SELECT doc_id, w, idx FROM (
            SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS idx
            FROM (SELECT doc_id,
                         string_split_regex({_LOWER_SQL},
                                            '{_WS_RE2}') AS ws
                  FROM documents))
        WHERE w != ''
    ),
    dw AS (SELECT DISTINCT w FROM words_raw),
    bpe(w, state, step) AS (
        SELECT w,
               '{sep}' || array_to_string(string_split(w, ''), '{sep}') || '{sep}',
               0
        FROM dw
        UNION ALL
        SELECT w,
               replace(state, '{sep}' || l || '{sep}' || r || '{sep}',
                       '{sep}' || l || r || '{sep}'),
               step + 1
        FROM (
            SELECT b.w, b.state, b.step, m.l, m.r,
                   row_number() OVER (PARTITION BY b.w ORDER BY m.rank) AS rn
            FROM bpe b JOIN merges m
              ON b.state LIKE '%{sep}' || m.l || '{sep}' || m.r || '{sep}%'
        ) WHERE rn = 1
    ),
    final AS (
        SELECT w, string_split(trim(arg_max(state, step), '{sep}'), '{sep}') AS toks
        FROM bpe GROUP BY w
    ),
    ranked AS (
        SELECT wr.doc_id, u.tok,
               row_number() OVER (PARTITION BY wr.doc_id
                                  ORDER BY wr.idx, u.tpos) AS rn
        FROM words_raw wr
        JOIN (SELECT w, unnest(toks) AS tok, generate_subscripts(toks, 1) AS tpos
              FROM final) u USING (w)
    )
    SELECT d.doc_id,
           CAST(coalesce(count(r.tok), 0) AS INT) AS n_bpe_tokens,
           coalesce(string_agg(CASE WHEN r.rn <= 8 THEN r.tok END,
                               '|' ORDER BY r.rn), '') AS first8
    FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
    GROUP BY d.doc_id ORDER BY d.doc_id
    """


@register(
    "text_bpe_tokenize",
    oracle=_bpe_oracle(),
    doc="True merge-table BPE (nvtext/byte_pair_encoding.hpp:121): ranked "
    "pair merges applied greedily per word; broadcast merge table + "
    "Arrow-batched pandas_udf. Verified against hand-computed merge "
    "sequences in tests/test_text2.py AND against a DuckDB recursive-CTE "
    "replay of the greedy merge loop under the driver's value-hash gate "
    "(dedup word table -> iterate min-rank merges to fixpoint -> flatten "
    "back per doc).",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = bpe_tokenize_udf(spark, BPE_MERGES)
    # the UDF family's _fold() already normalizes Σ -> σ before lower()
    # (operators/tokenizers.py), matching the oracle's _LOWER_SQL
    return (
        docs.withColumn("bpe", tok(F.col("text")))
        .select(
            "doc_id",
            F.size("bpe").alias("n_bpe_tokens"),
            # Scalar column only: the driver's rows-only canonicalizer
            # hashes cells via pandas factorize, which rejects list cells.
            F.concat_ws("|", F.slice("bpe", 1, 8)).alias("first8"),
        )
        # checkpoint before the sort: the range-sampling pass would run
        # the per-doc BPE merge loop a second time (the mm_audio_features
        # global-sort sample rule) — the costliest Python in the registry
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH pos AS (
        SELECT doc_id, text, unnest(generate_series(1, length(text) - 19)) AS pos
        FROM documents),
    grams AS (
        SELECT doc_id, CAST(pos AS INT) AS pos,
               substr(text, CAST(pos AS INT), 20) AS gram FROM pos),
    dup AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(*) > 1 AND count(*) <= 10000),
    anchors AS (
        SELECT g.doc_id, g.pos FROM grams g WHERE g.gram IN (SELECT gram FROM dup)),
    islands AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM anchors)
    SELECT doc_id, CAST(min(pos) AS INT) AS span_pos,
           CAST(max(pos) - min(pos) + 20 AS INT) AS span_len
    FROM islands GROUP BY doc_id, island
    ORDER BY doc_id, span_pos
    """,
    doc="Substring-level duplicate spans (nvtext/deduplicate.hpp:66 "
    "resolve_duplicates semantics, k-gram approximation): maximal spans "
    "≥20 chars whose every 20-gram occurs more than once in the corpus "
    "(cross-doc or within-doc, capped at 10k occurrences as boilerplate). "
    "k-gram index → dup count → gaps-and-islands merge; three shuffles, "
    "no pairwise comparison — 100 TB-shaped.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    spans = duplicate_spans(docs, "doc_id", "text", min_length=20, max_gram_freq=10000)
    return spans.select(
        "doc_id",
        F.col("span_pos").cast("int").alias("span_pos"),
        F.col("span_len").cast("int").alias("span_len"),
    ).orderBy("doc_id", "span_pos")


def _chargram_minhash_oracle(n_hashes: int = 4, k: int = 5) -> str:
    from cudf_spark.functions.hashing import hash60_sql
    from cudf_spark.operators.dedup import MINHASH_P, minhash_seeds

    mins = ",\n           ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(minhash_seeds(n_hashes))
    )
    return f"""
    WITH n AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
        FROM documents
    ), grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, length(s) - {k - 1}),
                   i -> substr(s, CAST(i AS INT), {k})))) AS shingle
        FROM n WHERE length(s) >= {k}
    ), hashed AS (
        SELECT doc_id, {hash60_sql("shingle")} % {MINHASH_P} AS h FROM grams
    )
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "dedup_minhash_chargram",
    oracle=_chargram_minhash_oracle(),
    doc="character-level minhash signatures — the reference minhash's "
    "native semantics (nvtext/minhash.hpp:62 hashes width-5 substrings, "
    "not words): 4 md5-derived permutations over distinct char 5-grams of "
    "the normalized text, all minima in one aggregation pass. The oracle "
    "replays gram extraction, hashing, and permutations verbatim.",
)
def dedup_minhash_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_text
    from cudf_spark.operators.dedup import minhash_signature

    d = load(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    return minhash_signature(
        d, "doc_id", "text", n_hashes=4, shingle_k=5, char_level=True
    ).orderBy("doc_id")


@register(
    "dedup_substring_exact",
    oracle="""
    WITH pos AS (
        SELECT doc_id, text, unnest(generate_series(1, length(text) - 19)) AS pos
        FROM documents),
    grams AS (
        SELECT doc_id AS d, CAST(pos AS INT) AS p,
               substr(text, CAST(pos AS INT), 20) AS gram FROM pos),
    keyed AS (
        SELECT d, p, gram FROM grams
        QUALIFY count(*) OVER (PARTITION BY gram) <= 64),
    pairs AS (
        SELECT a.d AS d1, a.p AS p1, b.d AS d2, b.p - a.p AS off
        FROM keyed a JOIN keyed b USING (gram)
        WHERE a.d <> b.d OR a.p <> b.p),
    runs AS (
        SELECT d1, d2, off, p1,
               p1 - row_number() OVER (PARTITION BY d1, d2, off ORDER BY p1) AS isl
        FROM pairs),
    per_pair AS (
        SELECT d1, min(p1) AS span_pos, max(p1) - min(p1) + 20 AS span_len
        FROM runs GROUP BY d1, d2, off, isl),
    intervals AS (SELECT DISTINCT d1 AS doc_id, span_pos, span_len FROM per_pair),
    sweep AS (
        SELECT doc_id, span_pos, span_len,
               max(span_pos + span_len) OVER (
                   PARTITION BY doc_id ORDER BY span_pos ASC, span_len DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM intervals)
    SELECT doc_id, CAST(span_pos AS INT) AS span_pos,
           CAST(span_len AS INT) AS span_len
    FROM sweep
    WHERE pm IS NULL OR span_pos + span_len > pm
    ORDER BY doc_id, span_pos
    """,
    doc="EXACT maximal duplicated spans (nvtext/deduplicate.hpp:66 "
    "resolve_duplicates): k-gram diagonal chaining — consecutive shared "
    "grams on one (doc1,doc2,offset) diagonal are a character-exact match "
    "of run+k-1 chars; contained intervals swept out per doc. No suffix "
    "array, no substring comparison; gram frequency capped at 64.",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.substrings import resolve_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    spans = resolve_duplicate_spans(
        docs, "doc_id", "text", min_length=20, max_gram_freq=64
    )
    return spans.select(
        "doc_id",
        F.col("span_pos").cast("int").alias("span_pos"),
        F.col("span_len").cast("int").alias("span_len"),
    ).orderBy("doc_id", "span_pos")


@register(
    "text_normalize_nfc",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             substr(text, 1, 24) || ' cafe' || chr(769) || ' A' || chr(778)
               || 'rhus' AS raw
      FROM documents)
    SELECT doc_id, raw,
           nfc_normalize(raw)                        AS nfc,
           CAST(length(raw) AS INT)                  AS raw_len,
           CAST(length(nfc_normalize(raw)) AS INT)   AS nfc_len
    FROM r ORDER BY doc_id
    """,
    doc="Full Unicode NFC normalize_characters (nvtext/normalize.hpp:154): "
    "combining sequences compose to canonical precomposed forms; "
    "functions/textfns.py:normalize_characters_nfc (Arrow pandas_udf over "
    "stdlib unicodedata) vs DuckDB's native nfc_normalize. Length drop "
    "(raw_len - nfc_len == 2 here) proves composition actually happened.",
)
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.functions.textfns import normalize_characters_nfc

    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 24), F.lit(" café Århus")
    ).alias("raw")
    return (
        docs.select("doc_id", raw)
        .select(
            "doc_id",
            "raw",
            normalize_characters_nfc(F.col("raw")).alias("nfc"),
            F.length("raw").cast("int").alias("raw_len"),
            F.length(normalize_characters_nfc(F.col("raw"))).cast("int").alias("nfc_len"),
        )
        # checkpoint before the sort: the range-sampling pass would run
        # the NFC Python UDF a second time (see text_bpe_tokenize)
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


# Integer piece costs (quantized -log p) over the fixture vocabulary:
# whole-word pieces cheap for common engine words, subword pieces for the
# rest; single letters expensive but known.
UNIGRAM_VOCAB: dict[str, int] = {
    "table": 3, "ta": 4, "ble": 4,
    "scan": 3, "sc": 4, "an": 3,
    "join": 3, "jo": 5, "in": 3,
    "hash": 3, "ha": 5, "sh": 4,
    "order": 3, "or": 4, "der": 4,
    "value": 3, "val": 4, "ue": 5,
    "data": 3, "da": 4,
    "row": 3, "agg": 3, "the": 2, "a": 6, "e": 6, "s": 6, "t": 6,
}

# the Viterbi oracle splices pieces into CASE WHEN '...' literals — same
# SQL-interpolation exposure as the BPE merge table, same loud guard
for _p in UNIGRAM_VOCAB:
    _assert_token_sql_safe(_p, "UNIGRAM_VOCAB piece")


def _unigram_oracle() -> str:
    """DuckDB replay of the integer-cost Viterbi segmentation as a
    forward-DP recursive CTE (upgrading text_unigram_tokenize from
    rows-only to the hash gate — VERDICT r06 item 6).

    Per distinct word, the DP state is three lists (cost, n_pieces,
    backpointer) grown one position per recursion step; the per-position
    argmin is one MIN over candidates encoded as cost*10^8 +
    pieces*10^4 + j, which reproduces the UDF's lexicographic
    (cost, pieces) objective with its first-j tie-break exactly.
    Field-bleed bounds: pieces and j are each <= word length, so words
    up to 9,999 chars are safe (pieces, j <= 9999 < 10^4; at exactly
    10^4 chars an all-singles segmentation would carry pieces = 10^4
    into the cost field), and cost <= len*100 < 10^6 << 10^8 at that
    length — enc <= ~10^14, far inside BIGINT.
    (Fixture words are <= tens of chars; the headroom is two orders of
    magnitude past anything a whitespace-delimited real token reaches.)
    A second recursive CTE walks the backpointers; flattening back to
    docs is the same shape as the BPE oracle.
    """
    max_len = max(len(p) for p in UNIGRAM_VOCAB)
    vcase = (
        "CASE substr(u.w, CAST(t.j + 1 AS INT), CAST(u.i + 1 - t.j AS INT)) "
        + " ".join(f"WHEN '{p}' THEN {c}" for p, c in UNIGRAM_VOCAB.items())
        + " END"
    )
    return f"""
    WITH RECURSIVE
    words_raw AS (
        SELECT doc_id, w, idx FROM (
            SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS idx
            FROM (SELECT doc_id,
                         string_split_regex({_LOWER_SQL},
                                            '{_WS_RE2}') AS ws
                  FROM documents))
        WHERE w != ''
    ),
    dw AS (SELECT DISTINCT w FROM words_raw),
    dp(w, i, costs, pieces, backs) AS (
        SELECT w, 0, [CAST(0 AS BIGINT)], [CAST(0 AS BIGINT)],
               [CAST(0 AS BIGINT)]
        FROM dw
        UNION ALL
        SELECT w, i + 1,
               list_append(costs, enc // 100000000),
               list_append(pieces, (enc % 100000000) // 10000),
               list_append(backs, enc % 10000)
        FROM (
            SELECT u.w, u.i, u.costs, u.pieces, u.backs,
                   min((u.costs[CAST(t.j + 1 AS INT)]
                        + coalesce({vcase},
                                   CASE WHEN u.i - t.j = 0 THEN 100 END))
                       * 100000000
                       + (u.pieces[CAST(t.j + 1 AS INT)] + 1) * 10000
                       + t.j) AS enc
            FROM dp u,
                 LATERAL (SELECT unnest(generate_series(
                     greatest(0, u.i + 1 - {max_len}), u.i)) AS j) t
            WHERE u.i < length(u.w)
            GROUP BY u.w, u.i, u.costs, u.pieces, u.backs
        )
    ),
    dpf AS (SELECT w, arg_max(backs, i) AS backs FROM dp GROUP BY w),
    bt(w, i, toks) AS (
        SELECT w, length(w), CAST([] AS VARCHAR[]) FROM dpf
        UNION ALL
        SELECT b.w, CAST(d.backs[CAST(b.i + 1 AS INT)] AS INT),
               list_prepend(
                   substr(b.w, CAST(d.backs[CAST(b.i + 1 AS INT)] + 1 AS INT),
                          CAST(b.i - d.backs[CAST(b.i + 1 AS INT)] AS INT)),
                   b.toks)
        FROM bt b JOIN dpf d USING (w) WHERE b.i > 0
    ),
    final AS (
        SELECT w, toks FROM bt WHERE i = 0
    ),
    ranked AS (
        SELECT wr.doc_id, u.tok,
               row_number() OVER (PARTITION BY wr.doc_id
                                  ORDER BY wr.idx, u.tpos) AS rn
        FROM words_raw wr
        JOIN (SELECT w, unnest(toks) AS tok, generate_subscripts(toks, 1) AS tpos
              FROM final) u USING (w)
    )
    SELECT d.doc_id,
           CAST(coalesce(count(r.tok), 0) AS INT) AS n_pieces,
           coalesce(string_agg(CASE WHEN r.rn <= 8 THEN r.tok END,
                               '|' ORDER BY r.rn), '') AS first8
    FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
    GROUP BY d.doc_id ORDER BY d.doc_id
    """


@register(
    "text_unigram_tokenize",
    oracle=_unigram_oracle(),
    doc="unigram-LM (SentencePiece, Kudo 2018) Viterbi tokenizer: integer "
    "piece costs, minimize total cost then piece count — the third "
    "tokenizer family next to wordpiece and BPE (beyond nvtext's "
    "surface). Broadcast vocab + Arrow pandas_udf; verified against "
    "hand-computed segmentations in tests/test_text2.py AND against a "
    "DuckDB recursive-CTE forward-DP replay of the Viterbi objective "
    "(integer-encoded (cost, pieces, j) argmin per position, exact "
    "backpointer walk) under the driver's value-hash gate.",
)
def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.tokenizers import unigram_tokenize_udf

    docs = load(spark, sf_dir, "documents")
    tok = unigram_tokenize_udf(spark, UNIGRAM_VOCAB)
    # Σ -> σ folding lives inside the UDF (_fold, operators/tokenizers.py)
    return (
        docs.withColumn("pieces", tok(F.col("text")))
        .select(
            "doc_id",
            F.size("pieces").alias("n_pieces"),
            # scalar column only: rows-only canonicalizer can't hash lists
            F.concat_ws("|", F.slice("pieces", 1, 8)).alias("first8"),
        )
        # checkpoint before the sort: the range-sampling pass would run
        # the per-doc Viterbi segmentation a second time (see
        # text_bpe_tokenize)
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


def _bpe_train_oracle(n_merges: int = 12, min_freq: int = 2) -> str:
    """Full-hash DuckDB replay of BPE TRAINING (upgrading text_bpe_train
    from rows-only — VERDICT r08 item 6, the last rows-only query).

    The r06 blocker was real but aimed at the wrong tool: a RECURSIVE
    CTE cannot aggregate over its recursive reference, but the training
    loop is driver-bounded at ``n_merges`` rounds, so it UNROLLS into
    plain sequential CTEs (the _lpa_oracle idiom) — round k computes the
    weighted pair counts, takes the (freq DESC, l, r) argmax, and
    applies the merge to every word state before round k+1.

    Merge application is the sentinel-string trick: a word's token
    sequence is kept as chr(31)^2 || t1 || chr(31)^2 || ... || tn ||
    chr(31)^2, and merge (l, r) rewrites chr(31)+l+chr(31)^2+r+chr(31)
    -> chr(31)+lr+chr(31). Each match consumes only the INNER halves of
    the boundary separators, so back-to-back occurrences stay matchable,
    and DuckDB replace() scans left-to-right non-overlapping — exactly
    the engine fold's classic-trainer overlap rule ('aaaa' -> [aa, aa],
    'aaa' -> [aa, a]; verified in tests/test_text2.py). chr(31) can
    never occur inside a word: WS_CLASS includes \\x1c-\\x1f, so both
    engines split on it. Early stop (top pair below min_freq) falls out:
    round k's argmax CTE is empty, later rounds no-op via the EXISTS
    guard, and the rank never emits.
    """
    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs, and each
    # round references the previous state several times — unmaterialized,
    # the 12-round chain expands exponentially (measured: planner opens
    # the parquet view thousands of times -> EMFILE before executing).
    S, D = "chr(31)", "(chr(31)||chr(31))"
    parts = [
        f"""vocab AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex({_LOWER_SQL},
                                             '{_WS_RE2}')) AS w
            FROM documents)
        WHERE w != '' GROUP BY w
    ), s0 AS MATERIALIZED (
        SELECT {D} || regexp_replace(w, '(.)', '\\1' || {D}, 'g') AS s,
               freq
        FROM vocab
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS (
        SELECT t.toks[g.i] AS l, t.toks[g.i + 1] AS r,
               CAST(sum(t.freq) AS BIGINT) AS pf
        FROM (SELECT list_filter(string_split(s, {D}),
                                 x -> x != '') AS toks,
                     freq
              FROM s{k - 1}) t,
             LATERAL (SELECT unnest(generate_series(
                 1, len(t.toks) - 1)) AS i) g
        GROUP BY l, r
    ), m{k} AS MATERIALIZED (
        SELECT l, r, pf FROM p{k} WHERE pf >= {min_freq}
        ORDER BY pf DESC, l, r LIMIT 1
    ), s{k} AS MATERIALIZED (
        SELECT CASE WHEN EXISTS (SELECT 1 FROM m{k}) THEN
                   replace(s,
                           (SELECT {S}||l||{D}||r||{S} FROM m{k}),
                           (SELECT {S}||l||r||{S} FROM m{k}))
               ELSE s END AS s,
               freq
        FROM s{k - 1}
    )"""
        )
    ranks = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, l AS \"left\","
        f" r AS \"right\", pf AS pair_freq FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({ranks})\n    ORDER BY rank\n    "
    )


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    doc="distributed BPE tokenizer TRAINING (Sennrich et al. 2016 — the "
    "learning half of nvtext/byte_pair_encoding.hpp, which only applies "
    "a table): one corpus scan folds to the word-freq vocabulary table, "
    "then every round runs over that table only — pair explode, keyed "
    "sum, deterministic global argmax, JVM-side fold merge (no Python "
    "in the loop). Pinned against a pure-Python reference trainer in "
    "tests/test_text2.py (overlap 'aaaa' and tie cases) AND — round 9, "
    "the last rows-only -> hash upgrade — against a DuckDB UNROLLED-CTE "
    "replay of the full training loop (sentinel-string merge "
    "application, per-round argmax; see _bpe_train_oracle).",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cudf_spark.operators.tokenizers import bpe_train

    docs = load(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=12)
    return spark.createDataFrame(
        [(i + 1, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "rank int, left string, right string, pair_freq long",
    ).orderBy("rank")
