"""Property-based tests (hypothesis) for the trickiest cross-engine shims —
the same strategy cudf's own python test-suite uses for scalar kernels.

Each property generates a BATCH of values and runs ONE Spark job over it
(per-example Spark jobs would be prohibitively slow), comparing against an
independent reference: Python semantics for zfill, DuckDB for hash60,
numpy's five percentile methods for the quantile-mode shims.
"""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

signed_ints = st.lists(st.integers(-(10**8), 10**8), min_size=1, max_size=40)
plain_text = st.lists(
    st.text(alphabet=string.ascii_letters + string.digits + " _-.", max_size=24),
    min_size=1,
    max_size=40,
)
float_lists = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=1,
    max_size=60,
)


@SLOW
@given(vals=signed_ints, width=st.integers(0, 12))
def test_zfill_matches_python(spark, vals, width):
    """zfill == str.zfill on signed decimal strings, including the
    already-wider-than-width no-op cudf/pandas semantics."""
    from pyspark.sql import functions as F

    from cudf_spark.functions.strings import zfill

    df = spark.createDataFrame([(str(v),) for v in vals], "s string")
    out = [r["z"] for r in df.select(zfill(F.col("s"), width).alias("z")).collect()]
    assert out == [str(v).zfill(width) for v in vals]


@SLOW
@given(vals=plain_text)
def test_hash60_matches_duckdb(spark, duck, vals):
    """The md5-derived 60-bit hash is bit-identical in Spark and DuckDB for
    arbitrary strings — the foundation every dedup/sampling oracle rests on."""
    from pyspark.sql import functions as F

    from cudf_spark.functions.hashing import hash60

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    spark_h = [r["h"] for r in df.select(hash60(F.col("s"), seed=5).alias("h")).collect()]
    duck_h = [
        duck.execute(
            "SELECT CAST(('0x' || substr(md5('5|' || ?), 1, 15)) AS BIGINT)", [v]
        ).fetchone()[0]
        for v in vals
    ]
    assert spark_h == duck_h


@SLOW
@given(vals=float_lists, q=st.floats(min_value=0.0, max_value=1.0))
def test_quantile_modes_match_numpy(spark, vals, q):
    """agg_quantile_modes' five interpolation modes follow the direct
    ``pos = q*(n-1)`` index convention (cudf quantiles.hpp:50 — cudf's
    sort-based kernel computes exactly this product in double).

    numpy's ``np.percentile`` round-trips the quantile through percent
    (``q*100/100``), which can land an ULP away from q and flip lo/hi on
    boundary inputs (e.g. q=1/3, n=10: direct product == 3.0 exactly,
    round-trip lands just below and floors to 2).  The primary assertion is
    therefore against the direct convention; numpy is cross-checked only
    when both conventions agree on the integer indices.
    """
    import math
    from unittest import mock

    import numpy as np

    from cudf_spark.queries import aggregates2 as mod

    li = spark.createDataFrame(
        [("A", float(v)) for v in vals], "l_returnflag string, l_quantity double"
    )
    # the query's rank-targeted selection at an arbitrary q; its output is
    # rounded to 4 decimals, hence the 1e-4 tolerance below
    with mock.patch.object(mod, "load", lambda s, d, n: li), mock.patch.object(
        mod, "_Q", q
    ):
        [row] = mod.agg_quantile_modes(spark, "x").collect()

    arr = sorted(vals)
    pos = q * (len(arr) - 1)
    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
    expect = {
        "q_linear": arr[lo] + (arr[hi] - arr[lo]) * (pos - lo),
        "q_lower": arr[lo],
        "q_higher": arr[hi],
        "q_midpoint": (arr[lo] + arr[hi]) / 2,
        # cudf NEAREST is explicit half-up on the fractional index (numpy's
        # 'nearest' rounds half-to-even — another documented delta).
        "q_nearest": arr[int(math.floor(pos + 0.5))],
    }
    for mode, e in expect.items():
        assert math.isclose(row[mode], float(e), rel_tol=1e-12, abs_tol=1e-4), (
            mode,
            q,
        )

    # Cross-check vs numpy where its percent round-trip lands on the same
    # indices (almost all inputs) — guards against both implementations
    # drifting from the public definition together.
    np_pos = (q * 100) / 100 * (len(arr) - 1)
    if int(math.floor(np_pos)) == lo and int(math.ceil(np_pos)) == hi:
        for mode, np_method in [
            ("q_linear", "linear"),
            ("q_lower", "lower"),
            ("q_higher", "higher"),
            ("q_midpoint", "midpoint"),
        ]:
            np_e = float(np.percentile(np.array(arr), q * 100, method=np_method))
            assert math.isclose(row[mode], np_e, rel_tol=1e-12, abs_tol=1e-4), (
                mode,
                q,
            )


@SLOW
@given(
    lts=st.lists(st.integers(0, 120), min_size=1, max_size=25),
    rts=st.lists(st.integers(0, 120), min_size=1, max_size=25),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    inclusive=st.booleans(),
)
def test_asof_join_matches_pandas_merge_asof(spark, lts, rts, direction, inclusive):
    """asof_join == pandas.merge_asof on random integer order keys, all
    three directions, inclusive and exclusive (allow_exact_matches)."""
    import pandas as pd

    from cudf_spark.operators.joins import asof_join

    # distinct right timestamps: merge_asof's tie behavior among equal
    # right keys is positional, ours is deterministic-greatest; dedupe to
    # compare the well-defined cases (tie-break is pinned separately in
    # tests/test_operators.py)
    rts = sorted(set(rts))
    lpdf = pd.DataFrame({"k": 1, "lt": sorted(lts), "lid": range(len(lts))})
    rpdf = pd.DataFrame({"k": 1, "rt": rts, "val": [t * 10 for t in rts]})

    expect = pd.merge_asof(
        lpdf,
        rpdf.rename(columns={"rt": "t"}),
        left_on="lt",
        right_on="t",
        by="k",
        direction=direction,
        allow_exact_matches=inclusive,
    )["val"].tolist()

    ldf = spark.createDataFrame(lpdf, "k long, lt long, lid long")
    rdf = spark.createDataFrame(rpdf, "k long, rt long, val long")
    got_rows = asof_join(
        ldf, rdf, "k", "lt", "rt", ["val"],
        direction=direction, inclusive=inclusive,
    ).orderBy("lid").collect()
    got = [r["asof_val"] for r in got_rows]

    def norm(x):
        return None if x is None or x != x else int(x)

    assert [norm(v) for v in got] == [norm(v) for v in expect], (
        direction,
        inclusive,
    )


@SLOW
@given(
    vals=st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=40
    ),
    endian=st.sampled_from(["big", "little"]),
)
def test_byte_cast_long_roundtrips(spark, vals, endian):
    """byte_cast bytes reassemble to the original value via int.from_bytes
    (two's complement, both endians) across the full long range."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cudf_spark.functions.row_bits import byte_cast

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = df.select(
        "v", byte_cast(F.col("v"), T.LongType(), endian=endian).alias("b")
    ).collect()
    for r in got:
        assert int.from_bytes(bytes(r.b), endian, signed=True) == r.v


@SLOW
@given(
    vals=st.lists(
        st.floats(allow_nan=False, width=64), min_size=1, max_size=40
    )
)
def test_byte_cast_double_matches_struct_pack(spark, vals):
    import struct

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cudf_spark.functions.row_bits import byte_cast

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.select(
        "v",
        byte_cast(F.col("v"), T.DoubleType(), endian="big").alias("b"),
    ).collect()
    for r in got:
        assert bytes(r.b) == struct.pack(">d", r.v)


@SLOW
@given(texts=plain_text)
def test_nfc_matches_unicodedata(spark, texts):
    """normalize_characters_nfc == stdlib unicodedata on arbitrary
    combining-mark-decorated strings."""
    import unicodedata

    from pyspark.sql import functions as F

    from cudf_spark.functions.textfns import normalize_characters_nfc

    decorated = [t + "éÅ" for t in texts]
    df = spark.createDataFrame([(t,) for t in decorated], "s string")
    got = [
        r.n
        for r in df.select(
            normalize_characters_nfc(F.col("s")).alias("n")
        ).collect()
    ]
    assert got == [unicodedata.normalize("NFC", t) for t in decorated]


@SLOW
@given(
    vocab=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=5),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_symspell_equals_bruteforce_ed1(spark, vocab):
    """Deletion-key blocking is COMPLETE for edit distance <= 1: the keyed
    join must find exactly the pairs a brute-force Levenshtein scan finds."""
    from cudf_spark.operators.fuzzy import symspell_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows = [(t, i + 1) for i, t in enumerate(sorted(vocab))]
    df = spark.createDataFrame(rows, "t string, n long")
    got = {
        (r["token_a"], r["token_b"]) for r in symspell_pairs(df).collect()
    }
    want = {
        (a, b)
        for a in vocab
        for b in vocab
        if a < b and lev(a, b) <= 1
    }
    assert got == want


@SLOW
@given(
    points=st.lists(st.integers(-50, 50), min_size=1, max_size=15),
    ivs=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 20)), min_size=1, max_size=8
    ),
    width=st.integers(1, 17),
)
def test_range_join_binned_equals_naive(spark, points, ivs, width):
    """Binned rewrite == naive BETWEEN join, each matching pair exactly
    once, for arbitrary points/intervals/bin widths (negative axes too)."""
    from cudf_spark.operators.joins import range_join_binned

    p = spark.createDataFrame([(i, v) for i, v in enumerate(points)], "pid int, p long")
    iv = spark.createDataFrame(
        [(i, s, s + ln) for i, (s, ln) in enumerate(ivs)], "iid int, s long, e long"
    )
    got = sorted(
        (r["iid"], r["pid"])
        for r in range_join_binned(
            p, iv, point_col="p", start_col="s", end_col="e", bin_width=width
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (s, ln) in enumerate(ivs)
        for j, v in enumerate(points)
        if s <= v <= s + ln
    )
    assert got == want


@SLOW
@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
            st.none(),
        ),
        min_size=1,
        max_size=50,
    ),
    window=st.integers(1, 6),
    min_periods=st.integers(1, 4),
)
def test_rolling_median_matches_pandas(spark, vals, window, min_periods):
    """rolling_median == pandas Series.rolling(window, min_periods).median()
    for arbitrary floats with nulls, any window size and min_periods —
    including the even-count interpolation and the null-below-threshold
    semantics."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from cudf_spark.operators.windows import rolling_median

    min_periods = min(min_periods, window)  # pandas rejects mp > window
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v double"
    )
    med = rolling_median("v", [], [F.col("i")], window - 1, min_periods=min_periods)
    got = [
        r["m"]
        for r in df.select("i", med.alias("m")).orderBy("i").collect()
    ]
    want = pd.Series(vals, dtype="float64").rolling(window, min_periods=min_periods).median()
    for g, w in zip(got, want):
        if g is None:
            assert math.isnan(w)
        else:
            assert abs(g - w) < 1e-9, (g, w)


@SLOW
@given(
    keys=st.lists(st.sampled_from(["hot", "a", "b", "c"]), min_size=1, max_size=60),
    n_salt=st.integers(1, 6),
)
def test_salted_join_equals_plain_join_property(spark, keys, n_salt):
    """salted_join is row-identical to the plain inner join for arbitrary
    (skewed) key multisets and any salt count, including keys with no
    build-side match."""
    from pyspark.sql import functions as F  # noqa: F401

    from cudf_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "id long, k string"
    )
    right = spark.createDataFrame(
        [("hot", 1.0), ("a", 2.0), ("zz", 9.0)], "k string, w double"
    )
    got = sorted(tuple(r) for r in salted_join(left, right, "k", n_salt=n_salt).collect())
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want


@SLOW
@given(
    vals=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=5), min_size=1, max_size=80
    ),
    width=st.integers(4, 64),
)
def test_cms_never_underestimates_property(spark, vals, width):
    """CMS estimate >= true frequency for arbitrary value multisets and
    any sketch width (collisions only ever overcount)."""
    from pyspark.sql import functions as F

    from cudf_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    sk = cms_build(df, [], "v", depth=2, width=width)
    truth = df.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(sk, truth.select("v"), [], "v", depth=2, width=width)
    joined = truth.join(est, "v").collect()
    assert len(joined) == len(set(vals))
    assert all(r["est"] >= r["n"] for r in joined)


@SLOW
@given(
    vals=st.lists(st.integers(0, 10**7), min_size=1, max_size=80),
)
def test_trimmed_mean_matches_python(spark, vals):
    """The rank-window trimmed mean (agg_trimmed_mean shape) equals the
    plain-Python sort-slice-average on the cents lattice, including the
    n < 10 no-trim edge and heavy ties at the trim boundary."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    n = len(vals)
    r = df.withColumn(
        "rn", F.row_number().over(W.partitionBy().orderBy("cents"))
    ).filter(
        (F.col("rn") > n // 10) & (F.col("rn") <= n - n // 10)
    )
    got = r.agg(F.expr("(sum(cents) * 10000) div count(*)")).collect()[0][0]
    kept = sorted(vals)[n // 10 : n - n // 10]
    assert got == (sum(kept) * 10000) // len(kept)


@SLOW
@given(
    vals=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64),
        min_size=1,
        max_size=60,
    ),
)
def test_disc_median_mad_matches_python(spark, vals):
    """The (n+1) div 2 rank pick (events_anomaly_mad shape) returns the
    exact lower-median DATA value for both the raw series and the
    absolute deviations — matching a plain-Python sort index."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    n = len(vals)
    k = (n + 1) // 2

    def disc_median(sdf, col):
        w = W.partitionBy().orderBy(col)
        return (
            sdf.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == k)
            .collect()[0][col]
        )

    med = disc_median(df, "v")
    assert med == sorted(vals)[k - 1]
    dev = df.select(F.abs(F.col("v") - F.lit(med)).alias("v"))
    mad = disc_median(dev, "v")
    assert mad == sorted(abs(v - med) for v in vals)[k - 1]


@SLOW
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=8,
    ),
)
def test_containment_matches_bruteforce(spark, docs):
    """Shingle containment via the token-keyed join (the
    dedup_containment_pairs shape, df cap disabled) equals the
    brute-force Python set computation for every pair."""
    from pyspark.sql import functions as F

    rows = []
    sets = {}
    for i, toks in enumerate(docs):
        sh = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        sets[i] = sh
        rows += [(i, g) for g in sh]
    sh_df = spark.createDataFrame(rows, "doc_id long, g string")
    sz = sh_df.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh_df.select(F.col("doc_id").alias("id_a"), "g")
    b = sh_df.select(F.col("doc_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    got = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in inter.collect()
    }
    for i in sets:
        for j in sets:
            if i < j:
                expect = len(sets[i] & sets[j])
                assert got.get((i, j), 0) == expect


# ---------------- round-5 additions: RLE roundtrip, fingerprint, gini

flag_seqs = st.lists(
    st.lists(st.sampled_from("ANR"), min_size=1, max_size=12),
    min_size=1,
    max_size=10,
)


@SLOW
@given(seqs=flag_seqs)
def test_rle_encode_repeat_roundtrip(spark, seqs, monkeypatch):
    """misc_rle_encode's runs, re-expanded run_len times (the
    misc_repeat_by_count primitive), reconstruct every input sequence —
    encode/decode are exact inverses per segment key."""
    import itertools

    import pandas as pd
    from pyspark.sql import functions as F

    from cudf_spark.queries import analytics2 as mod

    rows = [
        (ok, i + 1, ch)
        for ok, seq in enumerate(seqs)
        for i, ch in enumerate(seq)
    ]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_linenumber", "l_returnflag"])
    monkeypatch.setattr(mod, "load", lambda s, d, n: spark.createDataFrame(pdf))
    runs = mod.misc_rle_encode(spark, "u")
    decoded = (
        runs.select(
            "l_orderkey",
            "run_id",
            "flag",
            F.explode(F.sequence(F.lit(1), F.col("run_len"))).alias("i"),
        )
        .orderBy("l_orderkey", "run_id", "i")
        .collect()
    )
    got = {}
    for r in decoded:
        got.setdefault(r.l_orderkey, []).append(r.flag)
    want = {ok: list(seq) for ok, seq in enumerate(seqs)}
    assert got == want


@SLOW
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**4)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    )
)
def test_fingerprint_permutation_invariant(spark, rows, monkeypatch):
    """XOR fingerprint is identical under any row permutation and
    changes when any single row changes."""
    import pandas as pd

    from cudf_spark.queries import analytics2 as mod

    def mk(rws):
        t0 = pd.Timestamp("1996-04-01")
        return pd.DataFrame(
            [(k, k * 3, "O", v / 100.0, t0, "2-HIGH") for k, v in rws],
            columns=["o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderdate", "o_orderpriority"],
        )

    outs = []
    for pdf in (mk(rows), mk(list(reversed(rows)))):
        monkeypatch.setattr(
            mod, "load", lambda s, d, n, p=pdf: spark.createDataFrame(p)
        )
        outs.append(mod.misc_table_fingerprint(spark, "u").collect()[0])
    assert outs[0].fingerprint == outs[1].fingerprint
    assert outs[0].n_rows == len(rows)

    mutated = list(rows)
    k, v = mutated[0]
    mutated[0] = (k, v + 1)
    monkeypatch.setattr(
        mod, "load", lambda s, d, n, p=mk(mutated): spark.createDataFrame(p)
    )
    out_m = mod.misc_table_fingerprint(spark, "u").collect()[0]
    assert out_m.fingerprint != outs[0].fingerprint


@SLOW
@given(vals=st.lists(st.integers(1, 50), min_size=2, max_size=120))
def test_gini_matches_brute_force(spark, vals, monkeypatch):
    """Exact lattice Gini == O(n^2) brute force in integer micro-units."""
    import pandas as pd

    from cudf_spark.queries import analytics2 as mod

    pdf = pd.DataFrame({"l_quantity": [float(v) for v in vals]})
    monkeypatch.setattr(mod, "load", lambda s, d, n: spark.createDataFrame(pdf))
    r = mod.agg_gini_exact_lattice(spark, "u").collect()[0]
    n = len(vals)
    num = sum(abs(a - b) for a in vals for b in vals)
    want = (num * 1000000) // (2 * n * sum(vals))
    assert r.gini_u6 == want


# ---------- Avro spec reader/writer: schema-driven roundtrip ----------

_AVRO_FIELD_TYPES = [
    ("f_long", "long", st.integers(-(2**62), 2**62)),
    ("f_int", "int", st.integers(-(2**31), 2**31 - 1)),
    ("f_bool", "boolean", st.booleans()),
    ("f_double", "double",
     st.floats(allow_nan=False, allow_infinity=False, width=64)),
    ("f_float", "float",
     st.floats(allow_nan=False, allow_infinity=False, width=32)),
    ("f_str", "string",
     st.text(alphabet=string.printable, max_size=40)),
    ("f_bytes", "bytes", st.binary(max_size=40)),
    ("f_opt", ["null", "long"],
     st.one_of(st.none(), st.integers(-(2**62), 2**62))),
    ("f_arr", {"type": "array", "items": "long"},
     st.lists(st.integers(-(2**31), 2**31), max_size=8)),
    ("f_map", {"type": "map", "values": "long"},
     st.dictionaries(
         st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
         st.integers(-(2**31), 2**31), max_size=6)),
    ("f_enum", {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]},
     st.sampled_from(["A", "B", "C"])),
    ("f_fix", {"type": "fixed", "name": "Fx", "size": 4},
     st.binary(min_size=4, max_size=4)),
]


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_avro_roundtrip_property(data, tmp_path_factory):
    """write_avro -> _decode_file_range is the identity for arbitrary values of
    every supported shape (primitives, nullable union, array, map, enum,
    fixed), arbitrary field subsets, multi-block files, both codecs."""
    import os

    from cudf_spark.sources.avro import _decode_file_range, write_avro

    picked = data.draw(
        st.lists(st.sampled_from(range(len(_AVRO_FIELD_TYPES))),
                 min_size=1, max_size=len(_AVRO_FIELD_TYPES), unique=True)
    )
    fields = [_AVRO_FIELD_TYPES[i] for i in sorted(picked)]
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": n, "type": t} for n, t, _ in fields],
    }
    n_rows = data.draw(st.integers(1, 12))
    rows = [
        {n: data.draw(s, label=n) for n, _, s in fields} for _ in range(n_rows)
    ]
    codec = data.draw(st.sampled_from(["null", "deflate"]))
    rows_per_block = data.draw(st.sampled_from([None, 3]))
    path = str(tmp_path_factory.mktemp("avro") / "p.avro")
    write_avro(rows, schema, path, codec=codec, rows_per_block=rows_per_block)
    got_rows, names = _decode_file_range(path, 0, os.path.getsize(path))
    assert names == [n for n, _, _ in fields]
    assert len(got_rows) == n_rows
    for want, got in zip(rows, got_rows):
        for (name, typ, _), v in zip(fields, got):
            assert v == want[name], (name, typ)
