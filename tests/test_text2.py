"""Algorithm tests for BPE (hand-computed merge sequences) and
substring-level duplicate spans (planted duplicates)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cudf_spark.operators.substrings import duplicate_spans, kgram_index
from cudf_spark.operators.tokenizers import bpe_tokenize_udf


def _bpe_one(spark, merges, text):
    tok = bpe_tokenize_udf(spark, merges)
    [row] = spark.createDataFrame([(text,)], "text string").select(tok("text").alias("t")).collect()
    return row.t


def test_bpe_merges_in_rank_order(spark):
    # (a,b) has rank 0 so it fires before (ab,c): abcabc -> ab c ab c -> abc abc
    assert _bpe_one(spark, [("a", "b"), ("ab", "c")], "abcabc ab") == ["abc", "abc", "ab"]
    # (b,c) outranks (a,b): abc -> a bc, and (a,b) can no longer apply.
    assert _bpe_one(spark, [("b", "c"), ("a", "b")], "abc") == ["a", "bc"]
    # No applicable merge -> characters survive.
    assert _bpe_one(spark, [("x", "y")], "ab") == ["a", "b"]
    # All occurrences of the winning pair merge in one pass.
    assert _bpe_one(spark, [("a", "a")], "aaaa") == ["aa", "aa"]
    # Case-folding + whitespace tokenization.
    assert _bpe_one(spark, [("t", 'h'), ("th", "e")], "THE the") == ["the", "the"]
    # Final_Sigma folding: capital Σ normalizes to medial σ (never ς) so
    # the UDF agrees with the simple-mapping DuckDB oracles (_fold).
    assert _bpe_one(spark, [("σ", "σ")], "ΣΣ ΑΣ") == ["σσ", "α", "σ"]


def test_kgram_index_short_doc_guard(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "abcdef")], "id long, text string")
    rows = kgram_index(docs, "id", "text", 5).collect()
    # doc 1 is shorter than k -> no grams (NOT a descending sequence blowup)
    assert {r.id for r in rows} == {2}
    assert [(r.pos, r.gram) for r in rows] == [(1, "abcde"), (2, "bcdef")]


def test_duplicate_spans_planted(spark):
    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars
    # Boundary chars deliberately differ between docs — a shared boundary
    # char would (correctly) extend the duplicated span past `shared`.
    docs = spark.createDataFrame(
        [
            (1, "AAAA-" + shared + "+BBBB"),
            (2, "CCCCCC_" + shared + "=DDDD"),
            (3, "nothing in common here at all, certainly not forty characters"),
        ],
        "id long, text string",
    )
    spans = {r.id: (r.span_pos, r.span_len) for r in duplicate_spans(docs, "id", "text", min_length=20).collect()}
    assert 3 not in spans
    # The shared span starts right where `shared` begins in each doc.
    assert spans[1] == (6, len(shared))
    assert spans[2] == (8, len(shared))


def test_duplicate_spans_catches_within_doc_repeats(spark):
    # Reference resolve_duplicates reports self-duplicates: a 32-char run of
    # 'x' contains its 20-gram at 13 overlapping positions -> one maximal
    # span covering the whole run, even with no cross-document match.
    run = "x" * 32
    docs = spark.createDataFrame(
        [(1, run + " padding"), (2, "totally different content with no repeats")],
        "id long, text string",
    )
    spans = {r.id: (r.span_pos, r.span_len) for r in duplicate_spans(docs, "id", "text", min_length=20).collect()}
    assert spans == {1: (1, len(run))}


def test_duplicate_spans_hot_gram_cap(spark):
    # A mega-frequent gram (planted boilerplate) is dropped from anchoring
    # once its occurrence count exceeds max_gram_freq; a normal duplicated
    # span is still reported.
    boiler = "B" * 200  # its 20-gram occurs 181x in one doc -> over any small cap
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique trailing content one"),
            (100, "AAAA-" + shared + "+ZZZZ"),
            (101, "CCCC_" + shared + "=DDDD"),
        ],
        "id long, text string",
    )
    # Uncapped, the boiler run self-duplicates into one giant span.
    uncapped = {
        r.id: (r.span_pos, r.span_len)
        for r in duplicate_spans(docs, "id", "text", min_length=20).collect()
    }
    assert uncapped[1] == (1, len(boiler))
    spans = {
        r.id: (r.span_pos, r.span_len)
        for r in duplicate_spans(
            docs, "id", "text", min_length=20, max_gram_freq=50
        ).collect()
    }
    # 181 occurrences > cap=50 -> the boilerplate gram stops anchoring.
    assert 1 not in spans, spans
    assert spans[100] == (6, len(shared))
    assert spans[101] == (6, len(shared))


def _brute_spans(texts: dict[int, str], k: int) -> dict[int, set[tuple[int, int]]]:
    """Reference answer: all maximal pair matches >= k chars (1-based pos),
    minus intervals contained in a longer duplicated interval of the doc."""
    raw: dict[int, set[tuple[int, int]]] = {}
    items = list(texts.items())
    for i1, t1 in items:
        for i2, t2 in items:
            for p1 in range(len(t1)):
                for p2 in range(len(t2)):
                    if i1 == i2 and p1 == p2:
                        continue
                    if p1 > 0 and p2 > 0 and t1[p1 - 1] == t2[p2 - 1]:
                        continue  # not a match head: extends backward
                    n = 0
                    while (
                        p1 + n < len(t1)
                        and p2 + n < len(t2)
                        and t1[p1 + n] == t2[p2 + n]
                    ):
                        n += 1
                    if n >= k:
                        raw.setdefault(i1, set()).add((p1 + 1, n))
    out: dict[int, set[tuple[int, int]]] = {}
    for d, ivs in raw.items():
        out[d] = {
            (s, n)
            for s, n in ivs
            if not any(
                s2 <= s and s2 + n2 >= s + n and (s2, n2) != (s, n) for s2, n2 in ivs
            )
        }
    return out


def test_resolve_duplicate_spans_exact_vs_bruteforce(spark):
    from cudf_spark.operators.substrings import resolve_duplicate_spans

    # Doc 1 holds A+B; doc 2 holds A + the first 10 chars of B; doc 3 holds
    # the last 10 chars of A + B. Every 20-gram of doc 1's A+B region then
    # occurs in doc 2 OR doc 3, so the k-gram island fuses into one span
    # covering all of A+B — which occurs contiguously NOWHERE else. The
    # exact op must instead report the two true maximal pair matches
    # (A+B[:10] vs doc 2, A[-10:]+B vs doc 3), which overlap but neither
    # contains the other.
    A = "alpha beta gamma delta epsilon"  # 30 chars
    B = "zeta eta theta iota kappa mu"  # 28 chars
    texts = {
        1: "<<" + A + B + ">>",
        2: "doc two leads " + A + B[:10] + " and trails off",
        3: "totally other start " + A[-10:] + B + " then ends",
        4: "no duplication in this document at all, none",
    }
    expect = _brute_spans(texts, 20)
    # Sanity of the planted geometry: doc 1's exact answer is exactly the
    # two overlapping pair matches, not the fused island.
    assert expect[1] == {(3, len(A) + 10), (3 + len(A) - 10, 10 + len(B))}

    docs = spark.createDataFrame(list(texts.items()), "id long, text string")
    got: dict[int, set[tuple[int, int]]] = {}
    for r in resolve_duplicate_spans(docs, "id", "text", min_length=20).collect():
        got.setdefault(r.id, set()).add((r.span_pos, r.span_len))
    assert got == expect

    # And the fused island really is an over-report (superset) here.
    fused = {
        r.id: (r.span_pos, r.span_len)
        for r in duplicate_spans(docs, "id", "text", min_length=20).collect()
    }
    assert fused[1] == (3, len(A) + len(B))


def test_resolve_duplicate_spans_within_doc(spark):
    from cudf_spark.operators.substrings import resolve_duplicate_spans

    run = "y" * 30
    texts = {1: "start_" + run + "_mid_" + run + "_end", 2: "completely unrelated text body"}
    expect = _brute_spans(texts, 20)
    docs = spark.createDataFrame(list(texts.items()), "id long, text string")
    got: dict[int, set[tuple[int, int]]] = {}
    for r in resolve_duplicate_spans(docs, "id", "text", min_length=20).collect():
        got.setdefault(r.id, set()).add((r.span_pos, r.span_len))
    assert got == expect


def test_boilerplate_pipeline_planted_fixture(spark):
    """Crafted corpus with one known 5-gram in 3 docs: exactly those
    positions are excised; short docs (< 5 tokens) pass through whole."""
    from pyspark.sql import functions as F

    from cudf_spark.queries.text5 import _grams_with_pos, _reassemble, _tok_arrays

    boiler = "click here to subscribe now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} delta epsilon"),
            (3, f"zeta {boiler}"),
            (4, "unique words only here today"),  # 5-gram but unshared
            (5, "too short"),                     # < 5 tokens: zero grams
        ],
        "doc_id long, text string",
    )
    t = _tok_arrays(docs)
    occ = _grams_with_pos(t, 5)
    boiler_grams = (
        occ.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("gram")
    )
    cov = (
        occ.join(boiler_grams, "gram")
        .select("doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("pos"))
        .distinct()
    )
    got = {r["doc_id"]: (r["n_removed"], r["clean_text"]) for r in _reassemble(t, cov).collect()}
    assert got[1] == (5, "alpha beta gamma")
    assert got[2] == (5, "delta epsilon")
    assert got[3] == (5, "zeta")
    assert got[4] == (0, "unique words only here today")
    assert got[5] == (0, "too short")


def test_within_doc_dedup_overlapping_run(spark):
    """'a a a a a' is self-similar at every offset: the 3-gram at p=1 is
    kept, repeats at p=2..3 cover positions 2..5, so one token survives."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cudf_spark.queries.text5 import _grams_with_pos, _reassemble, _tok_arrays

    docs = spark.createDataFrame(
        [(1, "a a a a a"), (2, "x y z x y z"), (3, "p q r")],
        "doc_id long, text string",
    )
    t = _tok_arrays(docs)
    occ = _grams_with_pos(t, 3)
    w = Window.partitionBy("doc_id", "gram").orderBy("p")
    dup = occ.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") >= 2)
    cov = dup.select(
        "doc_id", F.explode(F.sequence(F.col("p"), F.col("p") + 2)).alias("pos")
    ).distinct()
    got = {r["doc_id"]: (r["n_removed"], r["clean_text"]) for r in _reassemble(t, cov).collect()}
    assert got[1] == (4, "a")           # positions 2-5 covered by dup grams at p=2,3
    assert got[2] == (3, "x y z")       # second x y z run removed
    assert got[3] == (0, "p q r")       # single 3-gram, no repeat


def test_unigram_viterbi_hand_computed(spark):
    """Viterbi segmentation against hand-computed optima: cheapest split
    wins, cost ties break to fewer pieces, unknown single chars fall
    back at unk_cost."""
    from pyspark.sql import functions as F

    from cudf_spark.operators.tokenizers import unigram_tokenize_udf

    vocab = {"ab": 1, "a": 2, "b": 2, "abc": 10, "c": 3, "aa": 4}
    tok = unigram_tokenize_udf(spark, vocab, unk_cost=100)
    df = spark.createDataFrame(
        [(1, "abc"), (2, "aa"), (3, "ax"), (4, "abc aa")], "id long, t string"
    )
    got = {r["id"]: r["p"] for r in df.select("id", tok(F.col("t")).alias("p")).collect()}
    assert got[1] == ["ab", "c"]      # 1+3=4 beats abc=10 and a+b+c=7
    assert got[2] == ["aa"]           # cost tie (4 == 2+2) -> fewer pieces
    assert got[3] == ["a", "x"]       # unknown x at unk_cost, still segments
    assert got[4] == ["ab", "c", "aa"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        unigram_tokenize_udf(spark, {"a": -1})


def _bpe_train_reference(texts, n_merges, min_freq=2):
    """Pure-Python BPE trainer (independent implementation of Sennrich
    et al. 2016): word-freq table, argmax pair by (freq, lexicographic),
    greedy left-to-right merge application."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for toks, f in vocab.items():
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (l, r), pf = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if pf < min_freq:
            break
        merges.append((l, r, pf))
        new_vocab = {}
        for toks, f in vocab.items():
            out = []
            for x in toks:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training == the pure-Python trainer on both a
    crafted corpus (overlap case 'aaaa', ties) and fixture documents."""
    from cudf_spark.operators.tokenizers import bpe_train

    crafted = [
        "the cat sat on the mat",
        "the cats sat",
        "aaaa aaaa the",
    ]
    df = spark.createDataFrame([(t,) for t in crafted], "text string")
    got = bpe_train(df, "text", n_merges=6)
    want = _bpe_train_reference(crafted, 6)
    assert got == want, (got, want)

    from cudf_spark.catalog import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = bpe_train(docs, "text", n_merges=8)
    want = _bpe_train_reference(texts, 8)
    assert got == want, (got[:3], want[:3])


def test_bpe_merge_table_wellformed_guard():
    """The recursive-CTE oracle's partial-application replay is only
    equivalent to the UDF's merge-all pass when every pair CONTAINING a
    produced token ranks after its producer (see _assert_merges_wellformed).
    The guard must accept the shipped table and reject the canonical
    counterexample, where rank[(ab,a)] < rank[(a,b)] diverges on 'abab'."""
    import pytest as _pytest

    from cudf_spark.queries.text2 import BPE_MERGES, _assert_merges_wellformed

    _assert_merges_wellformed(BPE_MERGES)  # shipped table: must not raise
    with _pytest.raises(ValueError, match="ill-formed"):
        # (ab,a) ranks BEFORE the (a,b) merge that produces 'ab'
        _assert_merges_wellformed([("ab", "a"), ("a", "b")])


def test_oracle_word_split_class_equals_python_whitespace():
    """The tokenizer oracles split words with the explicit _WS_RE2 class;
    the UDFs use Python str.split(). The class must equal Python's
    whitespace set EXACTLY (checked exhaustively over the BMP + astral
    planes) or a document with an exotic space diverges under the hash
    gate. RE2-in-DuckDB is probed directly for the same membership."""
    import sys

    import duckdb

    from cudf_spark.queries.text2 import _WS_RE2

    py_ws = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
    # direction 1 (exhaustive): every Python-whitespace char must split
    con = duckdb.connect()
    for ch in py_ws:
        n = con.execute(
            "SELECT len(string_split_regex('a' || ? || 'b', ?))", [ch, _WS_RE2]
        ).fetchone()[0]
        assert n == 2, f"U+{ord(ch):04X} in Python whitespace but not _WS_RE2"
    # direction 2 (exhaustive): NO non-whitespace codepoint may split —
    # one probe string holding every non-space, non-surrogate codepoint
    # must come back as a single un-split token
    non_ws = "".join(
        c
        for c in map(chr, range(1, sys.maxunicode + 1))
        if not c.isspace() and not 0xD800 <= ord(c) <= 0xDFFF
    )
    n = con.execute(
        "SELECT len(string_split_regex(?, ?))", [non_ws, _WS_RE2]
    ).fetchone()[0]
    assert n == 1, "_WS_RE2 splits on a codepoint Python does not consider whitespace"


def test_oracle_lower_matches_python_full_casefold():
    """The oracle pipeline (_LOWER_SQL: İ + Σ pre-substitution + DuckDB
    lower) must equal the ENGINE pipeline (the tokenizer UDFs' _fold:
    replace('Σ','σ') then Python str.lower(), operators/tokenizers.py).
    Probes include the single expanding mapping U+0130 AND word-final
    capital sigma — Python's Final_Sigma context rule ('ΟΔΟΣ' ->
    'οδος') has no RE2 analogue, which is why both sides fold Σ to
    medial σ first."""
    import duckdb

    from cudf_spark.queries.text2 import _LOWER_SQL

    probes = [
        "İstanbul İ X", "STRASSE ẞ ß", "ĄŻÓŁĆ", "i̇ already", "ŤĚŽ",
        "ΟΔΟΣ ΣΟΦΙΑ Σ", "μικρός ς σ",
    ]
    con = duckdb.connect()
    sql = _LOWER_SQL.replace("text", "?")
    for s in probes:
        got = con.execute(f"SELECT {sql}", [s]).fetchone()[0]
        want = s.replace("Σ", "σ").lower()  # == _fold(s), the engine rule
        assert got == want, (s, got, want)


def test_merge_and_vocab_tokens_sql_safe():
    """ADVICE r07: merge/vocab tokens are interpolated verbatim into the
    recursive-CTE oracles (LIKE patterns, quoted literals, the \\x1f
    separator). The import-time guard must reject every character that
    could corrupt the SQL — loud at import, not wrong under the gate."""
    import pytest

    from cudf_spark.queries.text2 import (
        BPE_MERGES,
        UNIGRAM_VOCAB,
        _assert_merges_wellformed,
        _assert_token_sql_safe,
    )

    for tok in [t for pair in BPE_MERGES for t in pair] + list(UNIGRAM_VOCAB):
        _assert_token_sql_safe(tok, "probe")  # current tables all pass

    for bad in ["a%b", "a_b", "a'b", "a\\b", "a\x1fb", "A", "é", "a b", ""]:
        with pytest.raises(ValueError, match="SQL-interpolation-safe"):
            _assert_token_sql_safe(bad, "probe")
        with pytest.raises(ValueError):
            _assert_merges_wellformed([("x", bad)])
