"""Degenerate-input hardening: empty tables, single rows, all-identical
values. The driver's gates never exercise these; real pipelines hit them
on empty partitions and filtered-to-nothing inputs."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ewma_segmented_empty_and_single(spark):
    from cudf_spark.operators.windows import ewma_segmented

    empty = spark.createDataFrame([], "idx long, v double")
    assert ewma_segmented(empty, ["idx"], "v", alpha=0.3).count() == 0

    one = spark.createDataFrame([(1, 42.0)], "idx long, v double")
    [r] = ewma_segmented(one, ["idx"], "v", alpha=0.3).collect()
    assert r.ewma == 42.0  # first element of either adjust mode

    [r] = ewma_segmented(one, ["idx"], "v", alpha=0.3, adjust=False).collect()
    assert r.ewma == 42.0


def test_connected_components_empty(spark):
    from cudf_spark.operators.graphs import connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_duplicate_spans_empty_and_all_identical(spark):
    from cudf_spark.operators.substrings import (
        duplicate_spans,
        resolve_duplicate_spans,
    )

    empty = spark.createDataFrame([], "id long, text string")
    assert duplicate_spans(empty, "id", "text", min_length=20).count() == 0
    assert resolve_duplicate_spans(empty, "id", "text", min_length=20).count() == 0

    # Two identical docs: the whole text is one maximal span in each.
    t = "identical documents share every single gram here"
    docs = spark.createDataFrame([(1, t), (2, t)], "id long, text string")
    spans = {
        r.id: (r.span_pos, r.span_len)
        for r in resolve_duplicate_spans(docs, "id", "text", min_length=20).collect()
    }
    assert spans == {1: (1, len(t)), 2: (1, len(t))}


def test_histogram_sketch_single_value_and_empty(spark):
    from cudf_spark.operators.sketches import (
        histogram_sketch,
        merge_sketches,
        quantile_from_sketch,
    )

    empty = spark.createDataFrame([], "k string, v double")
    sk_e = histogram_sketch(empty, ["k"], "v", lo=0.0, hi=10.0, n_bins=4)
    assert sk_e.count() == 0

    # All-identical values land in one bin; every quantile is that value.
    one = spark.createDataFrame([("a", 7.0)] * 5, "k string, v double")
    sk = histogram_sketch(one, ["k"], "v", lo=0.0, hi=10.0, n_bins=4)
    merged = merge_sketches([sk, sk_e], ["k"])
    for q in (0.0, 0.5, 1.0):
        [r] = quantile_from_sketch(merged, ["k"], q).collect()
        assert r.q_est == 7.0, q


def test_quantile_modes_single_row_group(spark, monkeypatch):
    """A single-row group: every quantile mode is that row's value."""
    from cudf_spark.queries import aggregates2 as mod

    li = spark.createDataFrame(
        [("A", 10.0), ("A", 20.0), ("C", 3.5)],
        "l_returnflag string, l_quantity double",
    )
    monkeypatch.setattr(mod, "load", lambda s, d, n: li)
    rows = {r.l_returnflag: r for r in mod.agg_quantile_modes(spark, "x").collect()}
    modes = {k: v for k, v in rows["C"].asDict().items() if k != "l_returnflag"}
    assert modes and all(v == 3.5 for v in modes.values()), modes


def test_ivf_train_persist_reload_query(spark, tmp_path):
    """A seeded centroid sample persists as a plain table; with nprobe
    covering ALL cells, IVF search equals exact brute force - the
    correctness invariant that separates pruning error from bugs."""
    from cudf_spark.catalog import load
    from cudf_spark.operators.similarity import ann_ivf_topk, cosine_topk
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings").limit(120)
    cents = emb.filter(F.col("vec_id") % 31 == 3).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assert cents.count() == 4

    # index persists as a plain table and reloads for serving
    cents.write.parquet(str(tmp_path / "ivf_index"))
    reloaded = spark.read.parquet(str(tmp_path / "ivf_index"))

    query = emb.orderBy("vec_id").limit(1).select("embedding")
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(emb, query, k=5).collect()]
    ivf_all = [
        (r.vec_id, r.cosine)
        for r in ann_ivf_topk(emb, query, reloaded, k=5, nprobe=4).collect()
    ]
    assert ivf_all == exact

    # and with nprobe=1 results stay a subset of the corpus ranked by cosine
    ivf_1 = ann_ivf_topk(emb, query, reloaded, k=5, nprobe=1).collect()
    assert len(ivf_1) > 0
    cos = [r.cosine for r in ivf_1]
    assert cos == sorted(cos, reverse=True)


def test_byte_cast_integer_and_float(spark):
    """byte_cast (cudf/reshape.hpp:99): integer path vs struct.pack, float
    path (pandas_udf bit view) vs struct.pack, both endians, nulls kept."""
    import struct

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cudf_spark.functions.row_bits import byte_cast

    df = spark.createDataFrame(
        [(1, -2, 1.5), (258, 70000, -0.1), (-1, None, None)],
        "i int, l long, d double",
    )
    got = df.select(
        byte_cast(F.col("i"), T.IntegerType(), endian="big").alias("i_be"),
        byte_cast(F.col("i"), T.IntegerType(), endian="little").alias("i_le"),
        byte_cast(F.col("l"), T.LongType(), endian="big").alias("l_be"),
        byte_cast(F.col("d"), T.DoubleType(), endian="big").alias("d_be"),
        byte_cast(F.col("d"), T.DoubleType(), endian="little").alias("d_le"),
    ).collect()
    for row, (i, l, d) in zip(got, [(1, -2, 1.5), (258, 70000, -0.1), (-1, None, None)]):
        assert row.i_be == list(struct.pack(">i", i))
        assert row.i_le == list(struct.pack("<i", i))
        if l is None:
            assert row.l_be is None
        else:
            assert row.l_be == list(struct.pack(">q", l))
        if d is None:
            assert row.d_be is None and row.d_le is None
        else:
            assert row.d_be == list(struct.pack(">d", d))
            assert row.d_le == list(struct.pack("<d", d))

    import pytest

    with pytest.raises(ValueError):
        byte_cast(F.col("i"), T.IntegerType(), endian="middle")
    with pytest.raises(TypeError):
        byte_cast(F.col("i"), T.StringType())


def test_normalize_characters_nfc(spark):
    from pyspark.sql import functions as F

    from cudf_spark.functions.textfns import normalize_characters_nfc

    df = spark.createDataFrame(
        [("café",), ("Århus",), (None,), ("plain",)], "s string"
    )
    got = [r.n for r in df.select(normalize_characters_nfc(F.col("s")).alias("n")).collect()]
    assert got == ["café", "Århus", None, "plain"]


def test_histogram_sketch_envelope_validation(spark):
    import pytest

    from cudf_spark.operators.sketches import histogram_sketch

    df = spark.createDataFrame([(1, 2.0)], "k int, v double")
    with pytest.raises(ValueError, match="hi"):
        histogram_sketch(df, ["k"], "v", lo=5.0, hi=5.0)
    with pytest.raises(ValueError, match="n_bins"):
        histogram_sketch(df, ["k"], "v", lo=0.0, hi=1.0, n_bins=0)


def test_audio_features_untrusted_header(spark):
    """A header whose sample count exceeds the payload, or a zero sample
    rate, degrades to valid=False rows instead of failing the task."""
    import struct as _struct

    from cudf_spark.multimodal import AUDIO_MAGIC, audio_features

    short = AUDIO_MAGIC + _struct.pack(">II", 16000, 1000) + b"\x00\x00"  # claims 1000
    zrate = AUDIO_MAGIC + _struct.pack(">II", 0, 1) + b"\x00\x02"
    ok = AUDIO_MAGIC + _struct.pack(">II", 8000, 2) + _struct.pack(">hh", 3, -4)
    df = spark.createDataFrame(
        [(1, bytearray(short)), (2, bytearray(zrate)), (3, bytearray(ok))],
        "asset_id long, data binary",
    )
    got = {r.asset_id: r for r in audio_features(df).collect()}
    assert got[1].valid is False and got[2].valid is False
    assert got[3].valid is True and got[3].peak == 4


def test_deletion_keys_empty_token(spark):
    """'' must key only to itself — not fabricate join-everything keys via
    Spark's descending sequence(1, 0)."""
    from pyspark.sql import functions as F

    from cudf_spark.operators.fuzzy import deletion_keys

    df = spark.createDataFrame([("",), ("ab",)], "t string")
    got = {r["t"]: r["k"] for r in df.select("t", deletion_keys(F.col("t")).alias("k")).collect()}
    assert got[""] == [""]
    assert got["ab"] == ["ab", "b", "a"]


def test_range_join_binned_rejects_bad_width(spark):
    import pytest

    from cudf_spark.operators.joins import range_join_binned

    df = spark.range(1).selectExpr("id as p")
    iv = spark.range(1).selectExpr("id as s", "id + 1 as e")
    with pytest.raises(ValueError, match="bin_width"):
        range_join_binned(df, iv, point_col="p", start_col="s", end_col="e", bin_width=0)


def test_range_join_binned_exact_at_epoch_nanos(spark):
    """Binning stays exact beyond 2^53 (epoch-nanos axes): boundary points
    at huge magnitudes must match iff truly inside the interval."""
    from cudf_spark.operators.joins import range_join_binned

    base = 1 << 60
    w = 86_400_000_000_000  # one day of nanos
    pts = [(0, base), (1, base + w - 1), (2, base + w), (3, base - 1), (4, -base)]
    p = spark.createDataFrame(pts, "pid int, p long")
    iv = spark.createDataFrame([(0, base, base + w - 1)], "iid int, s long, e long")
    got = sorted(
        r["pid"]
        for r in range_join_binned(
            p, iv, point_col="p", start_col="s", end_col="e", bin_width=w
        ).collect()
    )
    assert got == [0, 1]


def test_zorder2_matches_python_interleave(spark):
    """Morton key equals the pure-Python bit interleave for exhaustive
    small inputs and the corner values of the 10-bit domain."""
    from pyspark.sql import functions as F

    from cudf_spark.functions.row_bits import zorder2

    def ref(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    vals = [(x, y) for x in range(8) for y in range(8)]
    vals += [(1023, 0), (0, 1023), (1023, 1023), (512, 511)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder2(F.col("x"), F.col("y"), bits=10).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == ref(x, y, 10), (x, y)


def test_zorder2_rejects_out_of_range_bits(spark):
    """bits > 31 would shift into the BIGINT sign bit (silently inverted
    sort order); both the Column builder and the SQL mirror refuse."""
    import pytest
    from pyspark.sql import functions as F

    from cudf_spark.functions.row_bits import zorder2, zorder2_sql

    for bad in (0, 32, 64, -1):
        with pytest.raises(ValueError):
            zorder2(F.col("x"), F.col("y"), bits=bad)
        with pytest.raises(ValueError):
            zorder2_sql("x", "y", bits=bad)


def test_bmp_wav_decoders_empty_and_truncated(spark):
    """The real-format decoders must survive empty frames, truncated
    headers and size-lying payloads as valid=false rows, never task
    failures — the empty-partition / corrupt-object-store cases."""
    from cudf_spark.multimodal import (
        decode_bmp_pixels,
        decode_wav_audio,
        make_bmp_bytes,
        make_wav_bytes,
    )

    empty = spark.createDataFrame([], "asset_id long, data binary")
    assert decode_bmp_pixels(empty).count() == 0
    assert decode_wav_audio(empty).count() == 0

    good_bmp = make_bmp_bytes(2, 2, [(1, 2, 3)] * 4)
    rows = [
        (1, good_bmp[: len(good_bmp) - 3]),  # truncated pixel data
        (2, good_bmp[:20]),                  # truncated DIB header
        (3, b"BM" + b"\x00" * 60),           # magic but zero dims
        (4, good_bmp),
    ]
    got = {r.asset_id: r for r in decode_bmp_pixels(
        spark.createDataFrame(rows, "asset_id long, data binary")).collect()}
    assert [got[i].valid for i in (1, 2, 3)] == [False, False, False]
    assert got[4].valid and got[4].mean_r == 1.0

    good_wav = make_wav_bytes(8000, [5, -5])
    rows = [
        (1, good_wav[: len(good_wav) - 1]),  # truncated PCM
        (2, good_wav[:12]),                  # RIFF/WAVE only, no fmt
        (3, good_wav),
    ]
    got = {r.asset_id: r for r in decode_wav_audio(
        spark.createDataFrame(rows, "asset_id long, data binary")).collect()}
    # the wave module tolerates a truncated final frame (short read);
    # what must hold: no task failure, and the intact file is exact
    assert got[2].valid is False
    assert got[3].valid and got[3].peak == 5 and got[3].n_frames == 2


def test_avro_resolution_empty_file(spark, tmp_path):
    """Schema resolution over a zero-row file yields zero rows with the
    reader schema's columns (the empty-partition case)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    writer = {"type": "record", "name": "r",
              "fields": [{"name": "id", "type": "long"}]}
    reader = {"type": "record", "name": "r",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "x", "type": "long", "default": 0}]}
    write_avro([], writer, str(tmp_path / "e.avro"))
    df = read_avro(spark, str(tmp_path), reader_schema=reader)
    assert df.columns == ["id", "x"] and df.count() == 0


def test_quantile_modes_ignore_null_quantities(spark, monkeypatch):
    """NULL quantities are excluded (cudf/pandas semantics) — with them
    kept, Spark ranked NULLs FIRST while the oracle's list_sort put them
    LAST, so each engine read different order statistics."""
    from cudf_spark.queries import aggregates2 as mod

    li = spark.createDataFrame(
        [("A", None), ("A", 10.0), ("A", 20.0), ("B", None)],
        "l_returnflag string, l_quantity double",
    )
    monkeypatch.setattr(mod, "load", lambda s, d, n: li)
    rows = {r.l_returnflag: r for r in mod.agg_quantile_modes(spark, "x").collect()}
    # q=0.37 over [10, 20]: pos=0.37, lo=10, hi=20
    assert rows["A"].q_lower == 10.0 and rows["A"].q_higher == 20.0
    assert "B" not in rows  # all-NULL group drops on both engines


def test_agg_stats_zero_variance_corr_is_null(spark, monkeypatch):
    """Zero-variance group: Spark corr yields NaN where DuckDB (and the
    SQL standard) yield NULL — the query must emit NULL."""
    import math

    from cudf_spark.queries import aggregates as mod

    li = spark.createDataFrame(
        [("O", 5.0, 1.0), ("O", 5.0, 2.0), ("O", 5.0, 3.0)],
        "l_linestatus string, l_quantity double, l_extendedprice double",
    )
    monkeypatch.setattr(mod, "load", lambda s, d, n: li)
    [r] = mod.agg_stats(spark, "x").collect()
    assert r.corr_qp is None or not math.isnan(r.corr_qp)
    assert r.corr_qp is None


def test_argminmax_key_no_collision_past_1e7_custkey(spark, monkeypatch):
    """Radix-1e11 composite key: a customer with a 1-cent-smaller balance
    but a 1e7-larger custkey must NOT be named richest (the old 1e7
    radix collided exactly there)."""
    from cudf_spark.queries import aggregates as mod

    c = spark.createDataFrame(
        [(3, "rich", "SEG", 100.00), (10_000_003, "poor", "SEG", 99.99)],
        "c_custkey long, c_name string, c_mktsegment string, c_acctbal double",
    )
    monkeypatch.setattr(mod, "load", lambda s, d, n: c)
    [r] = mod.agg_argminmax(spark, "x").collect()
    assert r.richest == "rich" and r.poorest == "poor"


def test_dt_extract_time_pre_epoch_msec_non_negative(spark, monkeypatch):
    """Pre-1970 timestamps: % keeps the dividend's sign, so msec went
    negative; pmod matches the oracle's always-non-negative reading."""
    from cudf_spark.queries import scalars_datetime as mod

    e = spark.createDataFrame(
        [(1, "1969-12-31 23:59:59.5"), (2, "2024-01-01 00:00:00.25")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    monkeypatch.setattr(mod, "load", lambda s, d, n: e)
    rows = {r.event_id: r for r in mod.dt_extract_time(spark, "x").collect()}
    assert rows[1].msec == 500
    assert rows[2].msec == 250


def test_winsorize_negative_values_floor_division(spark, monkeypatch):
    """ADVICE r07: the half-up cent rounding `(win20+10) div 20` relied
    on Spark's truncate-toward-zero `div` agreeing with the oracle's
    floor `//` — true only for non-negative win20. Fixture prices are
    positive; a refund/credit feed is not. Pins the sign-safe pmod form
    against BOTH a hand computation and the registered DuckDB oracle on
    the same negative-price table."""
    import duckdb
    import pandas as pd

    from cudf_spark.queries import REGISTRY
    from cudf_spark.queries import aggregates2 as mod

    pdf = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 3, 4, 5],
            "l_linenumber": [1, 1, 1, 1, 1],
            "l_returnflag": ["N"] * 5,
            "l_extendedprice": [-1.11, -0.55, -0.03, 0.24, 1.00],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(mod, "load", lambda s, d, n: sdf)
    got = {
        r.l_orderkey: (r.winsorized, r.clamped)
        for r in mod.clean_winsorize(spark, "unused").collect()
    }
    # p05 = -99.8 cents, p95 = 84.8 cents (exact 20ths); half-up cent
    # rounding of -99.8 must be -100 (floor of -99.3), NOT -99 (truncate)
    expect = {
        1: (-1.00, True),
        2: (-0.55, False),
        3: (-0.03, False),
        4: (0.24, False),
        5: (0.85, True),
    }
    assert got == expect

    con = duckdb.connect()
    con.register("lineitem", pdf)
    oracle = {
        row[0]: (float(row[4]), row[5])
        for row in con.execute(REGISTRY["clean_winsorize"].oracle).fetchall()
    }
    assert oracle == expect
