"""Unit tests for composite operators against pandas reference semantics —
the reference's own oracle strategy (cudf tests compare against pandas,
SURVEY §5.2)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_DIR


def test_ewma_matches_pandas(spark):
    from pyspark.sql import functions as F

    from cudf_spark.catalog import load
    from cudf_spark.operators.windows import ewma

    e = load(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "value")
    got = (
        ewma(e, ["user_id"], ["ts", "event_id"], "value", alpha=0.3)
        .select("event_id", "ewma")
        .toPandas()
        .set_index("event_id")["ewma"]
        .sort_index()
    )
    pdf = e.toPandas().sort_values(["user_id", "ts", "event_id"])
    want = (
        pdf.groupby("user_id")["value"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=True).mean())
    )
    want.index = pdf["event_id"]
    want = want.sort_index()
    pd.testing.assert_series_equal(got, want, check_names=False, rtol=1e-9)


def test_asof_join_matches_pandas(spark):
    from pyspark.sql import functions as F

    from cudf_spark.catalog import load
    from cudf_spark.operators.joins import asof_join

    e = load(spark, SF_DIR, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    got = (
        asof_join(purchases, clicks, "user_id", "ts", "ts", ["value"])
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    lp = purchases.toPandas().sort_values("ts")
    rc = clicks.toPandas().sort_values("ts")
    want = pd.merge_asof(lp, rc, on="ts", by="user_id", direction="backward")
    want = want.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["asof_value"], want["value"], check_names=False, rtol=1e-12
    )


def test_rolling_min_periods_nulls(spark):
    from pyspark.sql import functions as F

    from cudf_spark.catalog import load
    from cudf_spark.operators.windows import rolling_agg

    li = load(spark, SF_DIR, "lineitem")
    out = li.select(
        rolling_agg(
            "l_quantity", "avg", ["l_suppkey"], ["l_shipdate", "l_orderkey", "l_linenumber"], 3, min_periods=2
        ).alias("r")
    )
    # exactly one first-row-per-group null per suppkey group
    n_null = out.filter(F.col("r").isNull()).count()
    n_groups = li.select("l_suppkey").distinct().count()
    assert n_null == n_groups


def test_wordpiece_tokenizer(spark):
    from pyspark.sql import functions as F

    from cudf_spark.operators.tokenizers import wordpiece_tokenize_udf

    vocab = ["scan", "join", "merge", "sort", "filt", "##er", "##s", "the", "a", "fast", "slow"]
    df = spark.createDataFrame(
        [(1, "the fast scan"), (2, "filter joins"), (3, "unknownword merge")],
        ["id", "text"],
    )
    got = {
        r["id"]: r["pieces"]
        for r in df.withColumn(
            "pieces", wordpiece_tokenize_udf(spark, vocab)(F.col("text"))
        ).collect()
    }
    assert got[1] == ["the", "fast", "scan"]
    assert got[2] == ["filt", "##er", "join", "##s"]
    assert got[3] == ["[UNK]", "merge"]


def test_approx_sketches_accuracy(spark):
    """HLL++ (approx_count_distinct) and GK (percentile_approx) vs exact —
    the reference's HLL/t-digest sketches (approx_distinct_count.hpp:42,
    TDIGEST kind) have engine-specific values; since round 8 the query
    carries its own integer envelope flags under the hash gate (VERDICT
    r07 item 5) — assert they hold and the exact columns are sane."""
    from tests.conftest import SF_DIR

    from cudf_spark.queries import REGISTRY

    rows = REGISTRY["agg_approx_sketches"].build(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["parts_within_10pct"] is True
        assert r["median_rank_within_5pct"] is True
        assert r["exact_parts"] > 0
        # lineitem extendedprice sits well inside [900, 105000) dollars
        assert 900 * 200 < r["median_halfcents"] < 105000 * 200


def test_segmented_sort_within_partitions(spark):
    """Segmented sort (sorting.hpp:279): repartition by segment then
    sortWithinPartitions — every partition locally ordered by the key."""
    from tests.conftest import SF_DIR

    from cudf_spark.catalog import load

    li = (
        load(spark, SF_DIR, "lineitem")
        .repartition(4, "l_suppkey")
        .sortWithinPartitions("l_suppkey", "l_shipdate")
        .select("l_suppkey", "l_shipdate")
    )

    def check(batches):
        import pandas as pd

        for pdf in batches:
            ok = (
                pdf[["l_suppkey", "l_shipdate"]]
                .eq(pdf[["l_suppkey", "l_shipdate"]].sort_values(["l_suppkey", "l_shipdate"]).values)
                .all()
                .all()
            )
            yield pd.DataFrame({"sorted": [bool(ok)]})

    flags = li.mapInPandas(check, "sorted boolean").collect()
    assert flags and all(r["sorted"] for r in flags)


def test_variable_rolling_agg_vs_bruteforce(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, i % 3, float(rnd.randint(1, 100)), rnd.randint(0, 50), rnd.randint(2, 8), rnd.randint(0, 6))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "rid long, k long, v double, ord long, prec long, foll long")
    from cudf_spark.operators.windows import variable_rolling_agg

    got = {
        r.rid: (r.n_in_window, r.sum_value, r.min_value, r.max_value)
        for r in variable_rolling_agg(
            df, ["k"], "ord", "prec", "foll", "v", "rid"
        ).collect()
    }
    for rid, k, v, ord_, prec, foll in rows:
        peers = [pv for (_, pk, pv, pord, _, _) in rows if pk == k and ord_ - prec <= pord <= ord_ + foll]
        assert got[rid] == (len(peers), sum(peers), min(peers), max(peers)), rid


def test_row_bit_count_nulls_and_nesting(spark):
    from pyspark.sql import functions as F
    from cudf_spark.functions.row_bits import row_bit_count

    df = spark.createDataFrame(
        [(1, "ab", [1, 2], (True, 2.0)), (2, None, None, (False, 1.5))],
        "id long, s string, xs array<int>, st struct<b:boolean,d:double>",
    )
    rows = {r.id: r.row_bits for r in df.select("id", row_bit_count(df)).collect()}
    # id 65; s: 2*8+33 = 49; xs: 33 + 2*(32+1) = 99; st: 1 + 9 + 65 = 75
    assert rows[1] == 65 + 49 + 99 + 75
    # nulls keep fixed/offset footprint, zero payload/elements
    assert rows[2] == 65 + 33 + 33 + 75


def test_lsh_bucket_size_cap(spark):
    from cudf_spark.operators.dedup import lsh_candidate_pairs, minhash_signature

    # 30 identical docs -> one hot bucket per band (m^2 pair blowup);
    # 2 near-identical docs -> small buckets, must survive the cap.
    clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    pair = [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine televen"),
    ]
    docs = spark.createDataFrame(clones + pair, "doc_id long, text string")
    sig = minhash_signature(docs, "doc_id", "text")
    uncapped = lsh_candidate_pairs(sig, "doc_id")
    capped = lsh_candidate_pairs(sig, "doc_id", max_bucket_size=10)
    assert uncapped.count() >= 30 * 29 // 2  # hot bucket went quadratic
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got          # small bucket survives
    assert all(a >= 100 for a, _ in got)  # clone pairs dropped with the bucket


def test_char_shingles_edges(spark):
    from pyspark.sql import functions as F

    from cudf_spark.functions.textfns import char_shingles

    df = spark.createDataFrame([("abcdef",), ("abc",), ("",)], "s string")
    out = [r["g"] for r in df.select(char_shingles(F.col("s"), 5).alias("g")).collect()]
    assert out[0] == ["abcde", "bcdef"]
    assert out[1] == [] and out[2] == []


def test_asof_join_directions_match_pandas(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from cudf_spark.catalog import load
    from cudf_spark.operators.joins import asof_join

    e = load(spark, SF_DIR, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    # clicks have unique (user_id, ts) per fixture, so the pandas tie rule
    # (keep-last) and ours (greatest payload) cannot diverge
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    lp = purchases.toPandas().sort_values("ts")
    rc = clicks.toPandas().sort_values("ts")

    for direction, tol in [("forward", None), ("nearest", None), ("nearest", "30m")]:
        got = (
            asof_join(
                purchases,
                clicks,
                "user_id",
                "ts",
                "ts",
                ["value"],
                direction=direction,
                tolerance=F.expr("INTERVAL 30 MINUTES") if tol else None,
            )
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        want = pd.merge_asof(
            lp,
            rc,
            on="ts",
            by="user_id",
            direction=direction,
            tolerance=pd.Timedelta("30min") if tol else None,
        )
        want = want.sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["asof_value"], want["value"], check_names=False, rtol=1e-12
        )


def test_ewma_segmented_matches_pandas_1m_rows(spark):
    """Segmented-scan EWMA == pandas ewm.mean on ONE 1M-row sequence split
    across >=8 range partitions, both adjust modes (the giant-group case
    the grouped applyInPandas path cannot shard)."""
    import numpy as np
    import pandas as pd

    from cudf_spark.operators.windows import ewma_segmented

    n = 1_000_000
    rng = np.random.default_rng(42)
    vals = rng.normal(100.0, 25.0, n)
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "v": vals})
    df = spark.createDataFrame(pdf).repartition(16)  # scrambled input

    for adjust in (True, False):
        got = (
            ewma_segmented(df, ["idx"], "v", alpha=0.05, adjust=adjust)
            .orderBy("idx")
            .select("ewma")
            .toPandas()["ewma"]
            .to_numpy()
        )
        expect = pdf["v"].ewm(alpha=0.05, adjust=adjust).mean().to_numpy()
        np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-9, err_msg=str(adjust))


def test_ewma_segmented_extreme_alpha_paths(spark):
    """The round-9 pure-JVM path hands off to the exact Arrow two-pass
    when the lag truncation would need > 32 terms (alpha ~< 1e-3 at the
    64k block cap) and short-circuits alpha >= 1 to ewma == x; both
    boundaries must still equal pandas."""
    import numpy as np
    import pandas as pd

    from cudf_spark.operators.windows import ewma_segmented

    n = 50_000
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "v": rng.normal(0.0, 5.0, n)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    for alpha in (1e-4, 1.0):  # Arrow fallback / no-memory short-circuit
        for adjust in (True, False):
            got = (
                ewma_segmented(df, ["idx"], "v", alpha=alpha, adjust=adjust)
                .orderBy("idx")
                .select("ewma")
                .toPandas()["ewma"]
                .to_numpy()
            )
            expect = pdf["v"].ewm(alpha=alpha, adjust=adjust).mean().to_numpy()
            np.testing.assert_allclose(
                got, expect, rtol=1e-9, atol=1e-9,
                err_msg=f"alpha={alpha} adjust={adjust}",
            )


def test_ewma_rejects_alpha_outside_pandas_domain(spark):
    """pandas ewm raises for alpha outside (0, 1]; both JVM EWMA operators
    raise the same error rather than returning the input (alpha > 1) or
    falling back to the Arrow path (alpha <= 0). alpha == 1, the
    no-memory case, stays valid: ewma == x."""
    from cudf_spark.operators.windows import ewma_grouped_scan, ewma_segmented

    df = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 3.0), (1, 2, 5.0)], "g long, idx long, v double"
    )
    ops = (
        lambda a: ewma_segmented(df, ["idx"], "v", alpha=a),
        lambda a: ewma_grouped_scan(df, ["g"], ["idx"], "v", alpha=a),
    )
    for alpha in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="alpha must satisfy: 0 < alpha <= 1"):
            pd.Series([1.0]).ewm(alpha=alpha)
        for op in ops:
            with pytest.raises(ValueError, match="alpha must satisfy: 0 < alpha <= 1"):
                op(alpha)
    for op in ops:
        got = op(1.0).orderBy("idx").select("ewma").toPandas()["ewma"].tolist()
        assert got == [1.0, 3.0, 5.0]


def test_symspell_pairs_catches_every_ed1_shape(spark):
    """Deletion-key blocking must surface substitution, insertion and
    deletion neighbors (the ed<=1 completeness guarantee), and canon must
    point at the higher-frequency spelling with lexicographic ties."""
    from cudf_spark.operators.fuzzy import symspell_pairs

    vocab = spark.createDataFrame(
        [
            ("cat", 10),   # substitution neighbor of bat
            ("bat", 3),
            ("cart", 2),   # insertion neighbor of cat
            ("ca", 1),     # deletion neighbor of cat
            ("dog", 7),    # no neighbors
            ("dot", 7),    # substitution neighbor of dog, equal count
        ],
        "t string, n long",
    )
    got = {
        (r["token_a"], r["token_b"]): r["canon"]
        for r in symspell_pairs(vocab).collect()
    }
    assert got == {
        ("bat", "cat"): "cat",    # 3 < 10
        ("cart", "cat"): "cat",   # 2 < 10
        ("ca", "cat"): "cat",     # 1 < 10
        ("dog", "dot"): "dog",    # tie -> lexicographic
    }


def test_semantic_dedup_flags_identical_vectors_keep_first(spark):
    """An exactly-duplicated vector must be flagged against its lowest-id
    copy; vectors below tau survive; a fully-distinct cell is untouched."""
    from cudf_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),      # exact dup of 0
        (2, [0.99, 0.14, 0.0]),    # cos ~0.990 to id 0 -> below tau=0.995
        (3, [0.0, 0.0, 1.0]),      # other cell, alone
    ]
    corpus = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0])], "cid int, cvec array<double>"
    )
    got = {
        r["vec_id"]: (r["cell"], r["is_dup"], r["dup_of"])
        for r in semantic_dedup(corpus, cents, tau=0.995).collect()
    }
    assert got[0] == (0, False, None)
    assert got[1] == (0, True, 0)
    assert got[2] == (0, False, None)
    assert got[3] == (1, False, None)


def test_semantic_dedup_max_cell_size_drops_degenerate_cells(spark):
    """Rows in an over-full cell are excluded (kept un-deduped upstream)
    rather than exploding the pairwise term."""
    from cudf_spark.operators.similarity import semantic_dedup

    rows = [(i, [1.0, 0.0]) for i in range(5)] + [(10, [0.0, 1.0])]
    corpus = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, cvec array<double>"
    )
    out = semantic_dedup(corpus, cents, tau=0.9, max_cell_size=3).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {10}  # the 5-row cell exceeded the cap and was dropped


def test_salted_join_equals_plain_join(spark):
    """Row-identical to the unsalted join on a skewed key distribution
    (one key carries 80% of rows), for both inner and left, including
    probe rows with no build match."""
    from cudf_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(i, "hot" if i % 10 < 8 else f"cold{i % 7}", float(i)) for i in range(500)],
        "id long, k string, v double",
    )
    right = spark.createDataFrame(
        [("hot", 1.0), ("cold1", 2.0), ("cold3", 3.0), ("unused", 9.0)],
        "k string, w double",
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(left, right, "k", n_salt=4, how=how).collect()
        )
        want = sorted(tuple(r) for r in left.join(right, "k", how).collect())
        assert got == want, how

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(left, right, "k", n_salt=4, how="full")
    with _pytest.raises(ValueError):
        salted_join(left, right, "k", n_salt=0)


def test_pq_lossless_when_every_vector_is_a_seed(spark):
    """With k_codes >= corpus size every vector becomes its own centroid:
    per-subspace encode distances are exactly 0 and the ADC distance
    degrades to the EXACT squared-L2 to the query — the PQ analogue of
    the IVF nprobe=K == brute-force pin."""
    from pyspark.sql import functions as F

    from cudf_spark.operators.similarity import (
        _dvec,
        l2sq,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)

    cb = pq_codebook(df, dim=8, n_subs=2, k=6)
    assert cb.count() == 12  # n_subs * k
    codes = pq_encode(df, cb, n_subs=2, sub_dim=4)
    assert codes.count() == 12  # one code per (vector, subspace)
    assert codes.agg(F.max("d")).collect()[0][0] == 0.0

    adc = {r["vec_id"]: r["adc_dist"] for r in
           pq_adc_topk(df, q, dim=8, n_subs=2, k_codes=6, k=6).collect()}
    exact = {
        r["vec_id"]: round(r["d"], 6)
        for r in df.crossJoin(
            F.broadcast(q.select(F.col("embedding").alias("qv")))
        ).select("vec_id", l2sq(_dvec(F.col("embedding")), _dvec(F.col("qv"))).alias("d")).collect()
    }
    assert adc == {k: exact[k] for k in adc}


def test_operator_review_fixes_round6(spark):
    """Regression pins for the round-6 operator-directory review: each of
    these crashed the job or corrupted results under Spark 4's default
    ANSI mode (or silently misconfigured) before the fix."""
    import pytest
    from pyspark.sql import functions as F

    # 1. zero-norm embedding must rank last (NULL cosine), not raise
    #    DIVIDE_BY_ZERO and abort the whole top-k
    from cudf_spark.operators.similarity import cosine_topk, ivf_assign

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "embedding array<double>")
    got = cosine_topk(corpus, q, k=3).collect()
    assert [r.vec_id for r in got][:2] == [1, 3]  # NULL cosine sorts last
    assert got[-1].vec_id == 2 and got[-1].cosine is None
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, cvec array<double>"
    )
    cells = {r.vec_id: r.cell for r in ivf_assign(corpus, cents).collect()}
    assert cells[1] == 0 and cells[3] in (0, 1) and cells[2] in (0, 1)

    # 2. histogram outlier clamps into the edge bin, never CAST_OVERFLOW
    from cudf_spark.operators.sketches import histogram_sketch

    df = spark.createDataFrame(
        [(1, 0.5), (1, 1.0e12), (1, -1.0e12)], "k long, v double"
    )
    bins = {r.bin: r.cnt for r in
            histogram_sketch(df, ["k"], "v", lo=0.0, hi=1.0, n_bins=4).collect()}
    assert bins == {2: 1, 3: 1, 0: 1}  # 0.5 -> bin 2; outliers -> edge bins

    # 3. null right timestamps can never be an as-of match
    from cudf_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, None, 999), (1, 50, 7)], "k long, rt long, val long"
    )
    [r] = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt",
        right_values=["val"], direction="backward",
    ).collect()
    assert r.asof_val is None  # no admissible right row; 999 must NOT leak

    # 4. LSH misconfiguration is loud, not silent recall loss
    from cudf_spark.operators.dedup import lsh_candidate_pairs

    sig = spark.createDataFrame(
        [(1, *[0] * 8)], "id long, " + ", ".join(f"m{i} long" for i in range(8))
    )
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sig, "id", n_hashes=8, band_size=3)
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sig, "id", n_hashes=8, band_size=9)

    # 5. bloom_build drops null items like cms_build (no junk NULL rows)
    from cudf_spark.operators.sketches import bloom_build, bloom_merge

    items = spark.createDataFrame(
        [(1, "a"), (1, None), (1, "b")], "k long, item string"
    )
    sk = bloom_build(items, ["k"], "item")
    assert sk.filter(F.col("word").isNull() | F.col("bits").isNull()).count() == 0

    # 7. merging an empty sketch list is loud, not IndexError
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge([], ["k"])


def test_functions_review_fixes_round6(spark):
    """Regression pins for the functions/streaming directory review."""
    from pyspark.sql import functions as F

    # jaccard(empty, empty) -> NULL, not DIVIDE_BY_ZERO under ANSI
    from cudf_spark.functions.textfns import char_shingles, jaccard, word_shingles

    df = spark.createDataFrame([(1,)], "id long").select(
        jaccard(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ).alias("j"),
        jaccard(F.array(F.lit("a")), F.array(F.lit("a"))).alias("j1"),
    )
    [r] = df.collect()
    assert r.j is None and r.j1 == 1.0

    # NULL text propagates as NULL shingles (distinguishable from a
    # short-but-present doc whose set is legitimately empty)
    rows = spark.createDataFrame([(None,), ("ab",), ("a b c d",)], "t string")
    got = rows.select(
        word_shingles(F.col("t"), 3).alias("w"),
        char_shingles(F.col("t"), 5).alias("c"),
    ).collect()
    assert got[0].w is None and got[0].c is None
    assert got[1].w == [] and got[1].c == []
    assert got[2].w == ["a b c", "b c d"]

    # strptime: a literal single quote escapes to '' in the JVM pattern
    from cudf_spark.functions.strings import strptime_to_jvm

    # one quoted section per literal run, internal quote doubled — the
    # form Spark's parser accepts; the date_format round-trip is the
    # real assertion
    assert strptime_to_jvm("%I o'clock") == "hh 'o''clock'"
    ts = spark.sql("SELECT TIMESTAMP'2024-01-15 14:30:00' AS t").select(
        F.date_format("t", strptime_to_jvm("%I o'clock")).alias("s")
    )
    assert ts.collect()[0].s == "02 o'clock"

    # Neither events reader leaks nanosAsLong into the shared session for
    # native-micros fixtures (ns-vintage fixtures keep it set because the
    # scan consults it when it runs)
    import tempfile

    from cudf_spark.catalog import NANOS_AS_LONG, load
    from cudf_spark.streaming.ops import events_stream

    with tempfile.TemporaryDirectory() as tmp:
        spark.sql(
            "SELECT TIMESTAMP'2024-01-15 00:00:00' AS ts, 1 AS user_id"
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        for read in (events_stream, lambda s, d: load(s, d, "events")):
            spark.conf.unset(NANOS_AS_LONG)
            read(spark, tmp)
            # micros vintage: no session-wide leak
            assert spark.conf.get(NANOS_AS_LONG, None) is None


def test_asof_join_row_atomic_null_payload(spark):
    """pandas merge_asof attaches the matched ROW whole: when the most
    recent admissible right row carries a NULL payload field, the result
    must surface that NULL — not reach back to an older row's value
    (the per-column ignorenulls fills this replaces did exactly that)."""
    from pyspark.sql import functions as F

    from cudf_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 7, 100)], "id long, user_id long, ts long")
    right = spark.createDataFrame(
        [(7, 10, 3.0), (7, 50, None)], "user_id long, ts long, value double"
    )
    [r] = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_values=["ts", "value"],
    ).collect()
    assert r.asof_ts == 50        # the matched row IS the latest one
    assert r.asof_value is None   # ...and its NULL value comes with it

    # pandas agrees
    import pandas as pd

    want = pd.merge_asof(
        pd.DataFrame({"user_id": [7], "ts": [100]}),
        pd.DataFrame({"user_id": [7, 7], "ts": [10, 50], "value": [3.0, None]}),
        on="ts", by="user_id", direction="backward",
    )
    assert pd.isna(want["value"].iloc[0])


def test_asof_join_rejects_left_row_column(spark):
    """A left column named __row would be silently overwritten by the
    internal match-struct withColumn — the guard must fail loudly. A
    right-side __row is harmless (projected away) and stays allowed."""
    import pytest as _pytest

    from cudf_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 7, 100, "x")], "id long, user_id long, ts long, __row string")
    right = spark.createDataFrame([(7, 10, 3.0)], "user_id long, ts long, value double")
    with _pytest.raises(ValueError, match="__row"):
        asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                  right_values=["value"])
    # right-side __row: fine
    left_ok = spark.createDataFrame([(1, 7, 100)], "id long, user_id long, ts long")
    right_row = spark.createDataFrame(
        [(7, 10, 3.0, "x")], "user_id long, ts long, value double, __row string"
    )
    [r] = asof_join(left_ok, right_row, on="user_id", left_ts="ts",
                    right_ts="ts", right_values=["value"]).collect()
    assert r.asof_value == 3.0


def test_bpe_train_matches_apply_normalization(spark):
    """bpe_train normalized with JVM lower + ASCII \\s while the apply
    UDFs use _fold + Python str.split — verified live: F.lower('ΑΣ')
    applies Final_Sigma ('ας'), so a learned ('α','ς') merge never
    fired on _fold's 'ασ'. Same for NBSP word boundaries. Train and
    apply must see identical words (round-8 operator sweep)."""
    from cudf_spark.operators.tokenizers import _fold, bpe_train

    docs = spark.createDataFrame(
        [("ΑΣ ΑΣ ΑΣ ΑΣ",), ("fast slow fast slow",)], "text string"
    )
    merges = bpe_train(docs, "text", n_merges=6, min_freq=2)
    pairs = {(l, r) for l, r, _ in merges}
    # the sigma merge must be the APPLY-side form (α, σ), never (α, ς)
    assert ("α", "σ") in pairs and ("α", "ς") not in pairs
    # NBSP must split words at TRAIN time exactly like str.split does:
    # 'fast' and 'slow' are separate words, so no cross-boundary merge
    # (e.g. ('t', 's') from 'fast slow' fused) can be learned
    apply_words = {
        w for (t,) in docs.collect() for w in _fold(t).split()
    }
    assert apply_words == {"ασ", "fast", "slow"}
    assert ("t", "s") not in pairs


def test_similarity_query_guards_and_null_dedup(spark, monkeypatch):
    """Single-query ANN operators must reject multi-row queries loudly
    (silent interleaved garbage before), and the exact-dedup query must
    not report NULL-text docs as one duplicate group."""
    import pytest

    from cudf_spark.operators.similarity import cosine_topk
    from cudf_spark.queries import text as mod

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="exactly one row"):
        cosine_topk(e, e.limit(2), k=2)
    # ...but a ZERO-row query degrades to an empty top-k instead of
    # aborting (r11 fuzz, seeds 8/9: empty embeddings table)
    assert cosine_topk(e, e.limit(0), k=2).count() == 0

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "same words"), (4, "words same")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(mod, "load", lambda s, d, n: docs)
    groups = mod.dedup_exact_bow(spark, "x").collect()
    assert len(groups) == 1  # only the real duplicate pair groups
    assert groups[0].n_dups == 2 and groups[0].canonical_id == 3

    import duckdb

    from cudf_spark.queries.registry import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, NULL), (2, NULL), (3, 'same words'), (4, 'words same')) "
        "t(doc_id, text)"
    )
    oracle = con.execute(REGISTRY["dedup_exact_bow"].oracle).fetchall()
    con.close()
    assert [(n, c) for _, n, c in oracle] == [(2, 3)]


def test_ewma_segmented_equi_width_layout_stable(spark):
    """The fixed equi-width bucketing derives from two deterministic
    scalars (global min/max), so the output must be BIT-identical under
    any input partitioning. Also checks correctness vs pandas (the bucket
    cuts only steer partitioning)."""
    import numpy as np
    import pandas as pd

    from cudf_spark.operators.windows import ewma_segmented

    n = 100_000
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "v": rng.normal(0.0, 9.0, n)})

    outs = []
    for parts in (3, 16, 31):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = (
            ewma_segmented(df, ["idx"], "v", alpha=0.3)
            .orderBy("idx")
            .select("ewma")
            .toPandas()["ewma"]
            .to_numpy()
        )
        outs.append(got)
    # bit-identical across layouts
    assert (outs[0] == outs[1]).all() and (outs[1] == outs[2]).all()
    expect = pdf["v"].ewm(alpha=0.3, adjust=True).mean().to_numpy()
    np.testing.assert_allclose(outs[0], expect, rtol=1e-9, atol=1e-9)


def test_ewma_segmented_equi_width_constant_key(spark):
    """Degenerate equi-width case: a CONSTANT order key collapses to one
    bucket (lo == hi -> no cuts) and must still be exact."""
    import numpy as np
    import pandas as pd

    from cudf_spark.operators.windows import ewma_segmented

    pdf = pd.DataFrame(
        {"k": np.zeros(500, dtype="int64"),
         "tie": np.arange(500, dtype="int64"),
         "v": np.arange(500, dtype="float64") % 17}
    )
    df = spark.createDataFrame(pdf).repartition(4)
    got = (
        ewma_segmented(df, ["k", "tie"], "v", alpha=0.2)
        .orderBy("tie")
        .select("ewma")
        .toPandas()["ewma"]
        .to_numpy()
    )
    expect = pdf["v"].ewm(alpha=0.2, adjust=True).mean().to_numpy()
    np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-9)


def test_ewma_grouped_scan_matches_pandas(spark):
    """Pure-JVM grouped EWMA == pandas groupby().ewm().mean() for both
    adjust modes, including groups long enough to span multiple blocks
    (L is forced tiny via a small alpha? no — L derives from beta, so a
    multi-block case uses sequences longer than L for alpha=0.9 where
    L = 200/log10(10) = 200)."""
    import numpy as np
    import pandas as pd

    from cudf_spark.operators.windows import ewma_grouped_scan

    rng = np.random.default_rng(5)
    n, groups = 60_000, 7
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, groups, n).astype("int64"),
            "idx": np.arange(n, dtype="int64"),
            "v": rng.normal(10.0, 4.0, n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    # alpha=0.9 -> beta=0.1 -> L=200: ~8500 rows/group spans ~43 blocks
    for alpha, adjust in ((0.9, True), (0.9, False), (0.3, True), (0.3, False)):
        got = (
            ewma_grouped_scan(df, ["g"], ["idx"], "v", alpha=alpha, adjust=adjust)
            .orderBy("idx")
            .select("idx", "ewma")
            .toPandas()
        )
        expect = (
            pdf.sort_values("idx")
            .groupby("g")["v"]
            .transform(lambda s: s.ewm(alpha=alpha, adjust=adjust).mean())
            .to_numpy()
        )
        np.testing.assert_allclose(
            got.sort_values("idx")["ewma"].to_numpy(),
            expect,
            rtol=1e-9,
            atol=1e-9,
            err_msg=f"alpha={alpha} adjust={adjust}",
        )


def test_ewma_per_user_oracle_vs_recursive_replay(duck):
    """ADVICE r10 (oracle co-movement): ewma_per_user's hash-gate oracle
    was migrated to the SAME closed-form block algebra the engine uses, so
    the gate alone can no longer catch a shared algebraic error. This test
    keeps the r5 recursive-CTE pandas-kernel replay (verified bit-exact
    against pandas before its r5 adoption) as an INDEPENDENT derivation:
    the committed block-algebra oracle must reproduce the recursion's
    round(,4) output row-for-row on the real fixture tree. Pure DuckDB —
    chains with the driver gate (engine == oracle) to give
    engine == independent recursion."""
    from cudf_spark.queries import REGISTRY

    block_sql = REGISTRY["ewma_per_user"].oracle
    # The r5 replay of pandas ewm(adjust=True): the Cython kernel's old_wt
    # recursion, same float op order (git 7e76b39). Domain matched to the
    # current oracle: NULL values excluded before numbering.
    recursive_sql = """
    WITH RECURSIVE r AS (
        SELECT user_id, event_id, value AS x,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        FROM events WHERE value IS NOT NULL),
    s AS (
        SELECT user_id, event_id, rn, x, x AS avg, CAST(1.0 AS DOUBLE) AS ow
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.event_id, r.rn, r.x,
               CASE WHEN s.avg != r.x
                    THEN (s.ow * 0.7 * s.avg + r.x) / (s.ow * 0.7 + 1.0)
                    ELSE s.avg END,
               s.ow * 0.7 + 1.0
        FROM s JOIN r ON r.user_id = s.user_id AND r.rn = s.rn + 1)
    SELECT event_id, user_id, round(avg, 4) AS ewma
    FROM s ORDER BY event_id
    """
    got = duck.execute(block_sql).fetchall()
    expect = duck.execute(recursive_sql).fetchall()
    assert len(got) == len(expect) and len(got) > 0
    assert got == expect


def test_ewma_global_oracle_vs_recursive_replay(duck):
    """Same co-movement mitigation as ewma_per_user (ADVICE r10), for the
    GLOBAL segmented query: its committed block-algebra oracle must match
    an independent pandas-kernel recursion replay. The recursion is
    row-per-iteration in DuckDB (unusable at sf0.01 — 38 s measured r6 —
    which is WHY the committed oracle is closed-form), but at sf0.001's
    ~1k-row global sequence it runs in well under a second."""
    from cudf_spark.queries import REGISTRY

    block_sql = REGISTRY["ewma_global_segmented"].oracle
    recursive_sql = """
    WITH RECURSIVE r AS (
        SELECT event_id, CAST(value AS DOUBLE) AS x,
               row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS rn
        FROM events WHERE value IS NOT NULL),
    s AS (
        SELECT event_id, rn, x, x AS avg, CAST(1.0 AS DOUBLE) AS ow
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.event_id, r.rn, r.x,
               CASE WHEN s.avg != r.x
                    THEN (s.ow * 0.7 * s.avg + r.x) / (s.ow * 0.7 + 1.0)
                    ELSE s.avg END,
               s.ow * 0.7 + 1.0
        FROM s JOIN r ON r.rn = s.rn + 1)
    SELECT event_id, round(avg, 4) AS ewma FROM s ORDER BY event_id
    """
    got = duck.execute(block_sql).fetchall()
    expect = duck.execute(recursive_sql).fetchall()
    assert len(got) == len(expect) and len(got) > 0
    assert got == expect
