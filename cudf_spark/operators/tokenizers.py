"""Subword tokenizers — the nvtext vocabulary-tokenize surface
(nvtext/wordpiece_tokenize.hpp:106, byte_pair_encoding.hpp:121,
tokenize.hpp tokenize_with_vocabulary) as Arrow-batched Pandas UDFs with a
broadcast vocabulary.

This is the canonical "slow path done right" operator: the vocab ships
once per executor via a broadcast variable (not per-task pickling), the
text crosses the JVM boundary in Arrow batches, and the algorithm is pure
per-row so it scales embarrassingly with partitions. Swap the toy greedy
matcher for a real HF/tiktoken vocab without touching the Spark plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Python str.split()'s whitespace set as an EXPLICIT character class —
# valid in BOTH Java regex (bpe_train's JVM-side split) and RE2 (the
# DuckDB replay oracles, re-exported as queries.text2._WS_RE2).
# tests/test_text2.py proves membership equals Python's str.isspace
# exhaustively over the BMP + astral planes; keeping ONE definition is
# what guarantees train-time and apply-time word boundaries agree.
WS_CLASS = (
    "[\\t-\\r \\x1c-\\x1f\\x{85}\\x{a0}\\x{1680}\\x{2000}-\\x{200a}"
    "\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]+"
)


def _fold(t: str | None) -> str:
    """The tokenizer family's shared case-fold: capital Σ normalizes to
    medial σ BEFORE lower() — Python's Final_Sigma context rule (word-
    final Σ -> ς) is the one context-sensitive mapping in Unicode default
    casing and has no analogue in simple-mapping engines (or RE2, which
    lacks the lookaround to emulate it), so folding it away keeps every
    execution path — these UDFs, the DuckDB replay oracles' _LOWER_SQL —
    byte-identical on the same text."""
    return (t or "").replace("Σ", "σ").lower()


def wordpiece_tokenize_udf(spark: SparkSession, vocab: list[str], unk: str = "[UNK]"):
    """Returns a pandas_udf: text -> array<string> of wordpiece tokens.

    Greedy longest-match-first within each whitespace word; continuation
    pieces use the '##' convention. Deterministic given the vocab.
    """
    bc = spark.sparkContext.broadcast((set(vocab), max((len(v) for v in vocab), default=1)))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts):
        import pandas as pd

        vocab_set, max_len = bc.value

        def piece(word: str) -> list[str]:
            out, i = [], 0
            while i < len(word):
                end = min(len(word), i + max_len)
                found = None
                while end > i:
                    cand = word[i:end] if i == 0 else "##" + word[i:end]
                    if cand in vocab_set:
                        found = cand
                        break
                    end -= 1
                if found is None:
                    return [unk]
                out.append(found)
                i = end
            return out

        return pd.Series(
            [[p for w in _fold(t).split() for p in piece(w)] for t in texts]
        )

    return tok


def bpe_tokenize_udf(spark: SparkSession, merges: list[tuple[str, str]]):
    """Returns a pandas_udf: text -> array<string> of byte-pair-encoded tokens.

    True merge-table BPE (nvtext/byte_pair_encoding.hpp:121 semantics, the
    GPT-2 algorithm): each whitespace word starts as characters; repeatedly
    merge the adjacent pair with the LOWEST rank in the merges table until
    no adjacent pair is in the table. The ranked merges list ships once per
    executor as a broadcast; per-word results are memoised per batch since
    corpora repeat words heavily.
    """
    bc = spark.sparkContext.broadcast({pair: rank for rank, pair in enumerate(merges)})

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts):
        import pandas as pd

        ranks = bc.value

        def bpe(word: str) -> list[str]:
            parts = list(word)
            while len(parts) > 1:
                best, best_rank = None, None
                for i in range(len(parts) - 1):
                    r = ranks.get((parts[i], parts[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = i, r
                if best is None:
                    break
                merged = parts[best] + parts[best + 1]
                # Merge ALL occurrences of the winning pair left-to-right.
                out, i = [], 0
                while i < len(parts):
                    if (
                        i < len(parts) - 1
                        and parts[i] + parts[i + 1] == merged
                        and ranks.get((parts[i], parts[i + 1])) == best_rank
                    ):
                        out.append(merged)
                        i += 2
                    else:
                        out.append(parts[i])
                        i += 1
                parts = out
            return parts

        cache: dict[str, list[str]] = {}

        def tok_text(t: str) -> list[str]:
            out = []
            for w in _fold(t).split():
                if w not in cache:
                    cache[w] = bpe(w)
                out.extend(cache[w])
            return out

        return pd.Series([tok_text(t) for t in texts])

    return tok


def unigram_tokenize_udf(spark: SparkSession, vocab: dict[str, int], unk_cost: int = 100):
    """Returns a pandas_udf: text -> array<string> of unigram-LM pieces
    (SentencePiece's unigram model, Kudo 2018 arXiv:1804.10959 — public
    literature; beyond the reference's wordpiece/BPE surface).

    Per whitespace word, Viterbi over INTEGER piece costs (lower is
    better — think quantized -log p): minimize total cost, then fewest
    pieces; unknown single characters cost ``unk_cost``. Integer costs
    make the segmentation exactly deterministic — no float-sum
    tie-break hazards. Same broadcast-vocab + Arrow-batch shape as the
    wordpiece/BPE UDFs: vocab ships once per executor, work is pure
    per-row.
    """
    if any(c < 0 for c in vocab.values()):
        raise ValueError("unigram_tokenize_udf: piece costs must be non-negative")
    bc = spark.sparkContext.broadcast(
        (dict(vocab), max((len(p) for p in vocab), default=1), unk_cost)
    )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tok(texts):
        import pandas as pd

        vocab_d, max_len, unk = bc.value
        INF = 1 << 60

        def seg(word: str) -> list[str]:
            n = len(word)
            # best[i] = (cost, n_pieces) for word[:i]; back[i] = split point
            best = [(INF, INF)] * (n + 1)
            back = [0] * (n + 1)
            best[0] = (0, 0)
            for i in range(1, n + 1):
                for j in range(max(0, i - max_len), i):
                    if best[j][0] >= INF:
                        continue
                    piece = word[j:i]
                    c = vocab_d.get(piece)
                    if c is None:
                        if i - j > 1:
                            continue
                        c = unk
                    cand = (best[j][0] + c, best[j][1] + 1)
                    if cand < best[i]:
                        best[i], back[i] = cand, j
            out, i = [], n
            while i > 0:
                out.append(word[back[i]:i])
                i = back[i]
            return out[::-1]

        return pd.Series(
            [[p for w in _fold(t).split() for p in seg(w)] for t in texts]
        )

    return tok


def _apply_merge(tokens: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left, right) -> left+right to a symbol array,
    left-to-right greedy, entirely JVM-side: a fold that either extends
    the accumulator or replaces its last element with the merged symbol.
    Overlap semantics match the classic trainer ("aaa" with merge (a,a)
    gives [aa, a])."""
    merged = left + right
    return F.aggregate(
        tokens,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str,
    *,
    n_merges: int,
    min_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn a BPE merge table from a corpus (Sennrich, Haddow & Birch
    2016, arXiv:1508.07909 — the algorithm behind GPT-2/RoBERTa vocabs;
    the TRAINING half of nvtext/byte_pair_encoding.hpp:121, which only
    APPLIES a table).

    The 100 TB shape is the classic one (also how HF tokenizers trains):
    ONE corpus scan folds to the (word, freq) vocabulary table — shuffle
    keyed on the word, output vocabulary-sized, cached — and every
    training round then runs over THAT table only: explode adjacent
    symbol pairs weighted by freq, one keyed sum, take the global
    argmax (deterministic tie-break: freq desc, then pair lexicographic),
    and apply the merge to the symbol arrays with a JVM-side fold (no
    Python in the loop). Rounds are driver-bounded at ``n_merges``; each
    round's state is localCheckpoint'ed so lineage stays flat.

    Returns the ranked merge list [(left, right, pair_freq)] — feed it
    to :func:`bpe_tokenize_udf` to tokenize with the learned vocab.
    Stops early when no pair reaches ``min_freq``.
    """
    spark = docs.sparkSession
    # normalization MUST equal the apply path's _fold + str.split():
    # (a) fold capital sigma BEFORE lower, else JVM Final_Sigma yields
    # word-final 'ς' where _fold yields 'σ' and learned merges never
    # fire at apply time (probed live: F.lower('ΑΣ') -> 'ας');
    # (b) split on WS_CLASS, not Java \s (ASCII-only — an NBSP-joined
    # pair would train as one word but apply as two)
    words = (
        docs.select(
            F.explode(
                F.split(
                    F.lower(F.regexp_replace(F.col(text_col), "Σ", "σ")),
                    WS_CLASS,
                )
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split(F.col("w"), "").alias("toks"), "freq")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.col("pf").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0]["pf"] < min_freq:
            break
        left, right, pf = top[0]["l"], top[0]["r"], int(top[0]["pf"])
        merges.append((left, right, pf))
        words = words.select(
            _apply_merge(F.col("toks"), left, right).alias("toks"), "freq"
        ).localCheckpoint(eager=False)
    return merges
