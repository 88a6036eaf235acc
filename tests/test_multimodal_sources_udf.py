"""Tests for multimodal binary plumbing, source/sink roundtrips, and the
Arrow-batched UDF surface."""

from __future__ import annotations

import contextlib
import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_source_roundtrip(spark, fmt):
    from cudf_spark.catalog import load

    df = load(spark, SF_DIR, "nation")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/out_{fmt}"
        df.write.format(fmt).save(path)
        reader = spark.read.format(fmt)
        if fmt in ("csv", "json"):
            reader = reader.schema(df.schema)
        back = reader.load(path)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_write_partitioned_prunes(spark):
    from cudf_spark.catalog import load

    df = load(spark, SF_DIR, "nation")
    with tempfile.TemporaryDirectory() as tmp:
        df.write.format("parquet").partitionBy("n_regionkey").save(f"{tmp}/p")
        pruned = spark.read.format("parquet").load(f"{tmp}/p").filter(F.col("n_regionkey") == 2)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert pruned.count() == df.filter(F.col("n_regionkey") == 2).count()
        # partition filter must reach the scan (pruned directories)
        assert "PartitionFilters: [" in plan and "n_regionkey" in plan.split("PartitionFilters")[1][:200]


def test_udf_surface(spark):
    import numpy as np

    from cudf_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem").select("l_returnflag", "l_quantity").limit(1000)

    double_qty = F.pandas_udf(lambda s: s * 2, "double")
    got = li.select(double_qty(F.col("l_quantity")).alias("d"), "l_quantity").collect()
    assert all(abs(r["d"] - 2 * r["l_quantity"]) < 1e-9 for r in got)

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["centered"] = pdf["l_quantity"] - pdf["l_quantity"].mean()
        return pdf

    centered = li.groupBy("l_returnflag").applyInPandas(
        center, schema="l_returnflag string, l_quantity double, centered double"
    )
    sums = centered.groupBy("l_returnflag").agg(F.round(F.sum("centered"), 6).alias("s")).collect()
    assert all(abs(r["s"]) < 1e-6 for r in sums)

    def add_log(batches):
        for pdf in batches:
            yield pdf.assign(logq=np.log1p(pdf["l_quantity"]))

    mb = li.mapInPandas(add_log, schema="l_returnflag string, l_quantity double, logq double")
    assert mb.filter(F.col("logq") <= 0).count() == 0


def test_text_source_custom_linesep(spark):
    """Raw text split by custom delimiter (multibyte_split.hpp:83)."""
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/raw.txt"
        with open(path, "w") as f:
            f.write("alpha;;beta;;gamma")
        rows = spark.read.option("lineSep", ";;").text(path).collect()
        assert [r["value"] for r in rows] == ["alpha", "beta", "gamma"]


def test_parquet_compression_codecs(spark):
    """Compression codecs (cpp/src/io/comp/) are reader/writer options."""
    import tempfile

    from cudf_spark.catalog import load

    df = load(spark, SF_DIR, "region")
    with tempfile.TemporaryDirectory() as tmp:
        for codec in ("snappy", "zstd", "gzip"):
            df.write.option("compression", codec).mode("overwrite").parquet(f"{tmp}/{codec}")
            assert spark.read.parquet(f"{tmp}/{codec}").count() == df.count()


def test_arrow_interop_roundtrip(spark):
    """Arrow C-interface interop (interop.hpp:477 to_arrow) —
    createDataFrame(pandas via Arrow) and toPandas round-trip."""
    import pandas as pd

    from cudf_spark.catalog import load

    pdf = load(spark, SF_DIR, "nation").toPandas()
    back = spark.createDataFrame(pdf)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, pdf.itertuples(index=False)))


def test_image_features_and_resize_match_numpy(spark):
    """image_features' mean + NN-resize vs an independent numpy computation,
    including a malformed payload surfacing as valid=false."""
    import numpy as np

    from cudf_spark.multimodal import fake_image_gradient, image_features

    w, h, base = 5, 4, 250  # wraps past 255 to exercise the modulo
    good = fake_image_gradient(w, h, base)
    rows = [(1, good), (2, b"JUNKbytes"), (3, None)]
    assets = spark.createDataFrame(rows, "asset_id long, data binary")
    out = {r["asset_id"]: r for r in image_features(assets).collect()}

    px = np.array([(base + i) % 256 for i in range(w * h)], dtype=np.uint8).reshape(h, w)
    expected_resized = px[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
    assert out[1]["valid"] and (out[1]["width"], out[1]["height"]) == (w, h)
    assert out[1]["mean_px"] == px.sum() / (w * h)
    assert out[1]["resized_mean_px"] == expected_resized.sum() / 64
    assert not out[2]["valid"] and not out[3]["valid"]


def test_frame_sample_indexing(spark):
    """frame_sample picks frames 0, n, 2n… and reduces each frame alone."""
    from cudf_spark.multimodal import fake_video_bytes, frame_sample

    w, h, n = 3, 2, 7
    video = fake_video_bytes(w, h, n, base=10)
    assets = spark.createDataFrame([(1, video), (2, b"shrt")], "asset_id long, data binary")
    rows = sorted(
        (r["frame_idx"], r["frame_mean"]) for r in frame_sample(assets, every_n=3).collect()
    )
    assert [i for i, _ in rows] == [0, 3, 6]
    for k, mean in rows:
        vals = [(10 + 7 * k + i) % 256 for i in range(w * h)]
        assert mean == sum(vals) / (w * h)


def test_video_signature_frame_sums(spark):
    """video_signature joins every frame's exact pixel sum in frame order;
    truncated, malformed and NULL payloads yield no row."""
    from cudf_spark.multimodal import fake_video_bytes, video_signature

    w, h, n = 3, 2, 4
    video = fake_video_bytes(w, h, n, base=250)
    rows = [(1, video), (2, video[:-1]), (3, b"FVID"), (4, None)]
    df = spark.createDataFrame(rows, "asset_id long, data binary")
    got = [tuple(r) for r in video_signature(df).collect()]
    sums = [sum((250 + 7 * k + i) % 256 for i in range(w * h)) for k in range(n)]
    assert got == [(1, "3x2:" + "|".join(map(str, sums)))]


def test_audio_features_byte_exact(spark):
    import math

    from cudf_spark.multimodal import audio_features, fake_audio_bytes

    # Hand-checkable waveform: base=0, n=5 -> samples [-2048,-2035,-2022,-2009,-1996]
    samples = [((0 + 13 * k) % 4096) - 2048 for k in range(5)]
    assert samples == [-2048, -2035, -2022, -2009, -1996]
    energy = sum(s * s for s in samples)
    rows = [
        (1, fake_audio_bytes(8000, 5, 0)),
        (2, fake_audio_bytes(16000, 400, 999)),
        (3, b"NOPE not audio"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "asset_id long, data binary")
    got = {r.asset_id: r for r in audio_features(df).collect()}

    r1 = got[1]
    assert (r1.sample_rate, r1.n_samples, r1.duration_ms) == (8000, 5, 0)
    assert r1.peak == 2048 and r1.zero_crossings == 0
    assert abs(r1.rms - math.sqrt(energy / 5)) < 1e-12

    r2 = got[2]
    s2 = [((999 + 13 * k) % 4096) - 2048 for k in range(400)]
    assert r2.duration_ms == 400 * 1000 // 16000 == 25
    assert r2.peak == max(abs(s) for s in s2)
    assert r2.zero_crossings == sum(
        1 for a, b in zip(s2, s2[1:]) if a * b < 0
    )

    assert got[3].valid is False and got[4].valid is False


def test_audio_frame_energies_exact_and_degenerate(spark):
    """Full frames only, exact int64 energies; short, malformed and NULL
    payloads yield no rows; a non-positive frame is rejected up front."""
    from cudf_spark.multimodal import audio_frame_energies, fake_audio_bytes

    samples = [((13 * k) % 4096) - 2048 for k in range(25)]
    expected = [sum(s * s for s in samples[10 * f : 10 * f + 10]) for f in range(2)]
    assert expected == [39595045, 34591345]
    rows = [
        (1, fake_audio_bytes(8000, 25, 0)),  # 2 full frames + a 5-sample tail
        (2, fake_audio_bytes(8000, 9, 0)),   # shorter than one frame
        (3, b"FAUD" + b"\x00" * 3),          # truncated header
        (4, None),
    ]
    df = spark.createDataFrame(rows, "asset_id long, data binary")
    got = sorted(tuple(r) for r in audio_frame_energies(df, frame=10).collect())
    assert got == [(1, 0, expected[0]), (1, 1, expected[1])]
    with pytest.raises(ValueError):
        audio_frame_energies(df, frame=0)


def test_avro_roundtrip_pure_python_reader(spark, tmp_path):
    """The spec-level Avro reader (byte-range splits + mapInPandas
    decode) reads back what the minimal writer produced, null and deflate
    codecs, nullable unions included."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    rows = [
        {"id": 1, "name": "alpha", "score": 1.5, "flag": True, "note": "x"},
        {"id": 2, "name": "beta", "score": -2.25, "flag": False, "note": None},
        {"id": 3, "name": "y" * 40, "score": 0.0, "flag": True, "note": "z"},
    ]
    for codec in ("null", "deflate"):
        d = tmp_path / codec
        d.mkdir()
        write_avro(rows, schema, str(d / "part-0.avro"), codec=codec)
        got = (
            read_avro(spark, str(d))
            .orderBy("id")
            .collect()
        )
        assert [r.asDict() for r in got] == rows, codec


def test_avro_multi_file_parallel_read(spark, tmp_path):
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "n",
        "fields": [{"name": "v", "type": "long"}],
    }
    for i in range(4):
        write_avro(
            [{"v": i * 10 + j} for j in range(5)], schema, str(tmp_path / f"p{i}.avro")
        )
    df = read_avro(spark, str(tmp_path))
    assert sorted(r.v for r in df.collect()) == sorted(
        i * 10 + j for i in range(4) for j in range(5)
    )


def test_avro_nested_record_array_map(spark, tmp_path):
    """Nested record → struct, array<primitive> → array, map → map, all
    composed; exceeds the reference's primitives-only scope
    (cpp/src/io/avro/)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "meta",
                "type": {
                    "type": "record",
                    "name": "meta_t",
                    "fields": [
                        {"name": "lang", "type": "string"},
                        {"name": "score", "type": ["null", "double"]},
                        {
                            "name": "inner",
                            "type": {
                                "type": "record",
                                "name": "inner_t",
                                "fields": [{"name": "depth", "type": "int"}],
                            },
                        },
                    ],
                },
            },
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "counts", "type": {"type": "array", "items": "long"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
        ],
    }
    rows = [
        {
            "id": 1,
            "meta": {"lang": "en", "score": 0.5, "inner": {"depth": 2}},
            "tags": ["a", "b", "c"],
            "counts": [10, 20],
            "attrs": {"x": 1, "y": 2},
        },
        {
            "id": 2,
            "meta": {"lang": "fr", "score": None, "inner": {"depth": 0}},
            "tags": [],
            "counts": [7],
            "attrs": {},
        },
    ]
    for codec in ("null", "deflate"):
        d = tmp_path / codec
        d.mkdir()
        write_avro(rows, schema, str(d / "part-0.avro"), codec=codec)
        df = read_avro(spark, str(d))
        assert df.schema["meta"].dataType.typeName() == "struct"
        assert df.schema["tags"].dataType.typeName() == "array"
        assert df.schema["attrs"].dataType.typeName() == "map"
        got = df.orderBy("id").collect()
        assert [r.id for r in got] == [1, 2]
        assert got[0].meta.lang == "en" and got[0].meta.inner.depth == 2
        assert got[1].meta.score is None and got[1].meta.inner.depth == 0
        assert got[0].tags == ["a", "b", "c"] and got[1].tags == []
        assert got[0].counts == [10, 20] and got[1].counts == [7]
        assert got[0].attrs == {"x": 1, "y": 2} and got[1].attrs == {}


def test_avro_union_declared_order(spark, tmp_path):
    """A spec-valid [T, "null"] union must decode by branch index — branch 0
    is the value, branch 1 is null (the reverse of ["null", T])."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "u",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["long", "null"]},
            {"name": "tail", "type": "string"},
        ],
    }
    rows = [
        {"id": 1, "v": 42, "tail": "a"},
        {"id": 2, "v": None, "tail": "b"},
        {"id": 3, "v": -7, "tail": "c"},
    ]
    write_avro(rows, schema, str(tmp_path / "p0.avro"))
    got = (
        read_avro(spark, str(tmp_path))
        .orderBy("id")
        .collect()
    )
    # tail stays aligned after both branches → no stream desync
    assert [(r.id, r.v, r.tail) for r in got] == [
        (1, 42, "a"),
        (2, None, "b"),
        (3, -7, "c"),
    ]


def test_avro_explicit_schema_and_corrupt_file(spark, tmp_path):
    # An explicit schema passes through; a corrupt file must surface an
    # error, not decode into nonsense.
    import pytest as _pytest

    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    write_avro([{"a": 5}], schema, str(tmp_path / "f.avro"))
    got = read_avro(spark, str(tmp_path), schema="`a` long").collect()
    assert [r.a for r in got] == [5]

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "f.avro").write_bytes(b"Obj\x01garbage-not-a-real-header")
    with _pytest.raises(Exception):
        read_avro(spark, str(bad)).collect()


def test_avro_distributed_write_roundtrip(spark, tmp_path):
    """write_avro_dataframe: one part-file per partition in one mapInPandas
    pass; read_avro reads the directory back identically (nested struct,
    array, map, nullable column, multiple partitions, deflate codec)."""
    from pyspark.sql import functions as F

    from cudf_spark.sources.avro import read_avro, write_avro_dataframe

    df = (
        spark.range(0, 20)
        .select(
            F.col("id"),
            F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("maybe"),
            F.struct(
                (F.col("id") % 5).alias("bucket"),
                F.concat(F.lit("d"), F.col("id")).alias("tag"),
            ).alias("meta"),
            F.array(F.col("id"), F.col("id") + 1).alias("pair"),
            F.create_map(F.lit("k"), F.col("id")).alias("attrs"),
        )
        .repartition(3)
    )
    parts = write_avro_dataframe(df, str(tmp_path / "out"), codec="deflate")
    assert 1 <= len(parts) <= 3 and sum(n for _, n in parts) == 20

    back = read_avro(spark, str(tmp_path / "out"))
    got = {r.id: r for r in back.collect()}
    assert len(got) == 20
    for i in range(20):
        r = got[i]
        assert r.maybe == (i * 2 if i % 3 == 0 else None)
        assert r.meta.bucket == i % 5 and r.meta.tag == f"d{i}"
        assert r.pair == [i, i + 1]
        assert r.attrs == {"k": i}


def test_map_arrow_zero_pandas_roundtrip(spark):
    """mapInArrow: RecordBatches in/out with a pyarrow.compute kernel —
    no pandas materialization anywhere in the transform."""
    import pyarrow as pa
    import pyarrow.compute as pc

    df = spark.range(0, 1000, numPartitions=4).withColumnRenamed("id", "x")

    def double_plus_one(batches):
        for b in batches:
            assert isinstance(b, pa.RecordBatch)
            y = pc.add(pc.multiply(b.column("x"), 2), 1)
            yield pa.RecordBatch.from_arrays([b.column("x"), y], names=["x", "y"])

    out = df.mapInArrow(double_plus_one, schema="x long, y long")
    rows = {r["x"]: r["y"] for r in out.collect()}
    assert len(rows) == 1000
    assert all(rows[x] == 2 * x + 1 for x in rows)


def test_avro_multi_branch_union_roundtrip(spark, tmp_path):
    """General (multi-branch non-null) union: read maps it to the
    spark-avro struct-of-nullables memberN shape; write resolves the
    branch from the Python value's type. Exceeds the reference's
    nullable-union-only scope (cpp/src/io/avro/avro.cpp)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "u",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["null", "long", "string"]},
            {"name": "w", "type": ["double", "string"]},  # no null branch
        ],
    }
    rows = [
        {"id": 1, "v": 42, "w": 2.5},
        {"id": 2, "v": "hello", "w": "mixed"},
        {"id": 3, "v": None, "w": 0.25},
    ]
    write_avro(rows, schema, str(tmp_path / "u.avro"))
    df = read_avro(spark, str(tmp_path))
    assert df.schema["v"].dataType.simpleString() == "struct<member0:bigint,member1:string>"
    assert df.schema["w"].dataType.simpleString() == "struct<member0:double,member1:string>"
    got = {r.id: r for r in df.collect()}
    assert got[1].v.member0 == 42 and got[1].v.member1 is None
    assert got[2].v.member1 == "hello" and got[2].v.member0 is None
    assert got[3].v is None
    assert got[1].w.member0 == 2.5 and got[2].w.member1 == "mixed"
    assert got[3].w.member0 == 0.25


@contextlib.contextmanager
def _max_partition_bytes(spark, n: int):
    """Set the session's file split size, restoring it afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_avro_split_read_multi_block(spark, tmp_path):
    """Within-file block parallelism: a multi-block file read through
    byte-range splits (Hadoop AvroInputFormat protocol) yields every row
    exactly once, for any split size — including splits that start
    mid-block and splits containing no block start at all."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    rows = [{"k": i, "s": f"row-{i:04d}-{'x' * (i % 17)}"} for i in range(500)]
    f = str(tmp_path / "big.avro")
    write_avro(rows, schema, f, rows_per_block=7)

    whole = sorted((r.k, r.s) for r in read_avro(spark, f"{tmp_path}").collect())
    assert len(whole) == 500
    size = os.path.getsize(f)
    for split in (size + 1, size // 3, 256, 64):
        with _max_partition_bytes(spark, split):
            got = sorted((r.k, r.s) for r in read_avro(spark, f).collect())
        assert got == whole, f"maxPartitionBytes={split}"


def test_avro_read_splits_one_file_across_tasks(spark, tmp_path):
    """read_avro splits by the session's maxPartitionBytes: at 256 B a
    multi-block file decodes in more than one partition, and every row
    comes back exactly once."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    f = str(tmp_path / "big.avro")
    write_avro([{"k": i} for i in range(300)], schema, f, rows_per_block=10)
    with _max_partition_bytes(spark, 256):
        got = read_avro(spark, f).select("k", F.spark_partition_id().alias("pid")).collect()
    assert len({r.pid for r in got}) > 1
    assert sorted(r.k for r in got) == list(range(300))


def test_avro_split_read_deflate_directory(spark, tmp_path):
    """Split reads compose with compressed blocks and directory input."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {"type": "record", "name": "r", "fields": [{"name": "k", "type": "long"}]}
    for p in range(3):
        write_avro(
            [{"k": p * 100 + i} for i in range(40)],
            schema,
            str(tmp_path / f"p{p}.avro"),
            codec="deflate",
            rows_per_block=9,
        )
    with _max_partition_bytes(spark, 128):
        got = sorted(r.k for r in read_avro(spark, str(tmp_path)).collect())
    assert got == sorted(p * 100 + i for p in range(3) for i in range(40))


def test_avro_split_read_sync_bytes_in_data(spark, tmp_path):
    """Regression: row data containing a plausible sync-marker byte
    sequence must not be mistaken for a block boundary by the range
    scanner (the writer now uses a RANDOM per-file sync, so an embedded
    ASCII marker is just data)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
        ],
    }
    # embed the OLD fixed marker (and other marker-ish runs) inside values
    rows = [
        {"k": i, "s": f"x0123456789abcdef{i:03d}" * 3} for i in range(120)
    ]
    f = str(tmp_path / "tricky.avro")
    write_avro(rows, schema, f, rows_per_block=7)
    whole = sorted((r.k, r.s) for r in read_avro(spark, str(tmp_path)).collect())
    assert len(whole) == 120
    for split in (97, 256):
        with _max_partition_bytes(spark, split):
            got = sorted((r.k, r.s) for r in read_avro(spark, f).collect())
        assert got == whole, f"maxPartitionBytes={split}"


def test_avro_union_numeric_promotion(spark, tmp_path):
    """Avro writer numeric promotion: a Python int against a
    ['double','string'] union resolves to the double branch (fastavro
    semantics); None against a no-null union raises loudly."""
    import pytest

    from cudf_spark.sources.avro import _encode, read_avro, write_avro

    schema = {
        "type": "record",
        "name": "u",
        "fields": [{"name": "w", "type": ["double", "string"]}],
    }
    write_avro([{"w": 5}, {"w": "txt"}], schema, str(tmp_path / "p.avro"))
    got = read_avro(spark, str(tmp_path)).collect()
    vals = sorted(
        ((r.w.member0, r.w.member1) for r in got),
        key=lambda t: (t[0] is None, t),
    )
    assert vals == [(5.0, None), (None, "txt")]
    with pytest.raises(NotImplementedError, match="null value for union"):
        _encode(None, ["double", "string"])


def test_avro_enum_fixed_named_reference(spark, tmp_path):
    """enum -> string (symbol), fixed -> binary, and a later by-name
    reference to each named type resolves through the per-file registry
    (spec name-resolution rules; spark-avro type mapping)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "evt",
        "namespace": "com.example",
        "fields": [
            {
                "name": "color",
                "type": {
                    "type": "enum",
                    "name": "Color",
                    "symbols": ["RED", "GREEN", "BLUE"],
                },
            },
            # reference by short name to the enum defined above
            {"name": "color2", "type": "Color"},
            {
                "name": "digest",
                "type": {"type": "fixed", "name": "MD5", "size": 4},
            },
            # reference by full name to the fixed defined above
            {"name": "digest2", "type": "com.example.MD5"},
        ],
    }
    rows = [
        {"color": "GREEN", "color2": "RED", "digest": b"\x01\x02\x03\x04",
         "digest2": b"\xff\x00\xff\x00"},
        {"color": "BLUE", "color2": "BLUE", "digest": b"abcd",
         "digest2": b"wxyz"},
    ]
    write_avro(rows, schema, str(tmp_path / "p0.avro"))
    df = read_avro(spark, str(tmp_path))
    assert dict(df.dtypes) == {
        "color": "string", "color2": "string",
        "digest": "binary", "digest2": "binary",
    }
    got = sorted((r.asDict() for r in df.collect()), key=lambda r: r["color"])
    want = sorted(
        ({**r, "digest": bytearray(r["digest"]),
          "digest2": bytearray(r["digest2"])} for r in rows),
        key=lambda r: r["color"],
    )
    assert got == want


def test_avro_logical_types_roundtrip(spark, tmp_path):
    """date / timestamp-micros / timestamp-millis / decimal(bytes and
    fixed) decode to Spark date/timestamp/decimal; unknown logical types
    fall back to the base type per the spec."""
    import datetime
    from decimal import Decimal

    from cudf_spark.sources.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts_us",
             "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_ms",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "amount",
             "type": {"type": "bytes", "logicalType": "decimal",
                      "precision": 10, "scale": 2}},
            {"name": "amount_fx",
             "type": {"type": "fixed", "name": "Dec8", "size": 8,
                      "logicalType": "decimal", "precision": 12,
                      "scale": 3}},
            # unknown logical type: falls back to the base string
            {"name": "u",
             "type": {"type": "string", "logicalType": "uuid"}},
        ],
    }
    rows = [
        {"id": 1, "d": datetime.date(2024, 2, 29),
         "ts_us": datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
         "ts_ms": datetime.datetime(2001, 9, 9, 1, 46, 40, 123000),
         "amount": Decimal("12345.67"), "amount_fx": Decimal("-0.125"),
         "u": "0001-aaaa"},
        {"id": 2, "d": datetime.date(1969, 12, 31),
         "ts_us": datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         "ts_ms": datetime.datetime(1970, 1, 1, 0, 0, 0, 1000),
         "amount": Decimal("-0.01"), "amount_fx": Decimal("9999999.999"),
         "u": "0002-bbbb"},
    ]
    write_avro(rows, schema, str(tmp_path / "p0.avro"))
    df = read_avro(spark, str(tmp_path))
    assert dict(df.dtypes) == {
        "id": "bigint", "d": "date", "ts_us": "timestamp",
        "ts_ms": "timestamp", "amount": "decimal(10,2)",
        "amount_fx": "decimal(12,3)", "u": "string",
    }
    got = sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])
    assert got == rows


def test_avro_write_dataframe_logical_types(spark, tmp_path):
    """The distributed writer maps Spark date/timestamp/decimal columns to
    Avro logical types and the reader round-trips them."""
    from cudf_spark.sources.avro import read_avro, write_avro_dataframe

    df = spark.sql(
        """
        SELECT id,
               DATE'2024-01-15' + make_interval(0,0,0,CAST(id AS INT)) AS d,
               TIMESTAMP'2024-01-15 10:00:00' + make_interval(
                   0,0,0,0,0,CAST(id AS INT)) AS ts,
               CAST(CAST(id AS DECIMAL(9,2)) / 4 AS DECIMAL(9,2)) AS amt
        FROM range(6)
        """
    ).repartition(2)
    out = tmp_path / "logical"
    write_avro_dataframe(df, str(out))
    got = read_avro(spark, str(out))
    assert dict(got.dtypes) == {
        "id": "bigint", "d": "date", "ts": "timestamp", "amt": "decimal(9,2)",
    }
    a = sorted((r.asDict() for r in got.collect()), key=lambda r: r["id"])
    b = sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])
    assert a == b


def test_avro_recursive_schema_rejected(tmp_path):
    """Self-referential record schemas cannot map to Spark's static
    structs — the schema walk must say so, not stack-overflow."""
    import pytest

    from cudf_spark.sources.avro import _prepare_schema, _spark_type

    schema = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    qschema, named = _prepare_schema(schema)
    with pytest.raises(NotImplementedError, match="recursive"):
        _spark_type(qschema, named)


def test_avro_schema_resolution_across_versions(spark, tmp_path):
    """A directory holding part-files written under DIFFERENT schema
    versions reads as one uniform DataFrame under a reader schema: each
    file decodes with its own writer schema, then adapts per the spec's
    resolution rules (reader-only fields take defaults, writer-only
    fields drop, int->long / float->double promotions apply)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    v1 = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "int"},            # promoted to long
            {"name": "score", "type": "float"},       # promoted to double
            {"name": "legacy", "type": "string"},     # dropped by reader
        ],
    }
    v2 = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "score", "type": "double"},
            {"name": "tag", "type": ["null", "string"]},
        ],
    }
    reader = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "score", "type": "double"},
            {"name": "tag", "type": ["null", "string"], "default": None},
            {"name": "source", "type": "string", "default": "unknown"},
        ],
    }
    write_avro(
        [{"id": 1, "score": 1.5, "legacy": "x"},
         {"id": 2, "score": 2.5, "legacy": "y"}],
        v1, str(tmp_path / "v1.avro"),
    )
    write_avro(
        [{"id": 3, "score": 3.25, "tag": "t3"},
         {"id": 4, "score": 4.0, "tag": None}],
        v2, str(tmp_path / "v2.avro"),
    )
    df = read_avro(
        spark, str(tmp_path),
        reader_schema=reader,
    )
    assert dict(df.dtypes) == {
        "id": "bigint", "score": "double", "tag": "string", "source": "string",
    }
    got = sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])
    assert got == [
        {"id": 1, "score": 1.5, "tag": None, "source": "unknown"},
        {"id": 2, "score": 2.5, "tag": None, "source": "unknown"},
        {"id": 3, "score": 3.25, "tag": "t3", "source": "unknown"},
        {"id": 4, "score": 4.0, "tag": None, "source": "unknown"},
    ]


def test_avro_schema_resolution_nested_and_enum(spark, tmp_path):
    """Resolution recurses into nested records, arrays and enums (unknown
    writer symbols fall back to the reader's enum default)."""
    from cudf_spark.sources.avro import read_avro, write_avro

    writer = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "who", "type": {
                "type": "record", "name": "user",
                "fields": [
                    {"name": "uid", "type": "int"},
                    {"name": "old_flag", "type": "boolean"},
                ]}},
            {"name": "kind", "type": {
                "type": "enum", "name": "Kind",
                "symbols": ["A", "B", "LEGACY"]}},
            {"name": "xs", "type": {"type": "array", "items": "int"}},
        ],
    }
    reader = {
        "type": "record",
        "name": "evt",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "who", "type": {
                "type": "record", "name": "user",
                "fields": [
                    {"name": "uid", "type": "long"},
                    {"name": "email", "type": "string", "default": ""},
                ]}},
            {"name": "kind", "type": {
                "type": "enum", "name": "Kind",
                "symbols": ["A", "B", "OTHER"], "default": "OTHER"}},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    }
    write_avro(
        [{"id": 1, "who": {"uid": 7, "old_flag": True}, "kind": "LEGACY",
          "xs": [1, 2]},
         {"id": 2, "who": {"uid": 8, "old_flag": False}, "kind": "B",
          "xs": []}],
        writer, str(tmp_path / "p.avro"),
    )
    df = read_avro(
        spark, str(tmp_path),
        reader_schema=reader,
    )
    got = sorted((r.asDict(recursive=True) for r in df.collect()),
                 key=lambda r: r["id"])
    assert got == [
        {"id": 1, "who": {"uid": 7, "email": ""}, "kind": "OTHER",
         "xs": [1, 2]},
        {"id": 2, "who": {"uid": 8, "email": ""}, "kind": "B", "xs": []},
    ]


def test_avro_schema_resolution_missing_default_errors(spark, tmp_path):
    """A reader-only field with no default must fail loudly, per spec."""
    import pytest

    from cudf_spark.sources.avro import _decode_file_range, write_avro

    writer = {"type": "record", "name": "evt",
              "fields": [{"name": "id", "type": "long"}]}
    reader = {"type": "record", "name": "evt",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "must", "type": "string"}]}
    path = tmp_path / "p.avro"
    write_avro([{"id": 1}], writer, str(path))
    with pytest.raises(ValueError, match="declares no default"):
        _decode_file_range(str(path), 0, path.stat().st_size, reader)


def test_avro_split_read_with_reader_schema(spark, tmp_path):
    """The block-parallel split reader applies the same resolution rules
    per range, so evolution composes with within-file parallelism."""
    from cudf_spark.sources.avro import read_avro, write_avro

    writer = {"type": "record", "name": "evt",
              "fields": [{"name": "id", "type": "int"},
                         {"name": "junk", "type": "string"}]}
    reader = {"type": "record", "name": "evt",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "lbl", "type": "string",
                          "default": "none"}]}
    write_avro(
        [{"id": i, "junk": "x" * 50} for i in range(200)],
        writer, str(tmp_path / "big.avro"), rows_per_block=20,
    )
    with _max_partition_bytes(spark, 2048):
        df = read_avro(spark, str(tmp_path / "big.avro"), reader_schema=reader)
        got = sorted((r.id, r.lbl) for r in df.collect())
    assert got == [(i, "none") for i in range(200)]
    assert dict(df.dtypes) == {"id": "bigint", "lbl": "string"}


def test_bmp_decode_real_format(spark):
    """decode_bmp_pixels parses REAL uncompressed 24-bit BMPs (struct
    layout, bottom-up rows, 4-byte padding) — exact channel means,
    malformed payloads as valid=false rows."""
    from cudf_spark.multimodal import decode_bmp_pixels, make_bmp_bytes

    # 3x2, distinct channels so row order / BGR mistakes flip the means
    pixels = [
        (255, 0, 0), (0, 255, 0), (0, 0, 255),
        (10, 20, 30), (40, 50, 60), (70, 80, 90),
    ]
    bmp = make_bmp_bytes(3, 2, pixels)
    # sanity: the bytes are a real BMP (magic + declared size)
    assert bmp[:2] == b"BM" and len(bmp) == 54 + 2 * 12
    rows = [(1, bmp), (2, b"NOTABMP" * 10), (3, None)]
    df = spark.createDataFrame(rows, "asset_id long, data binary")
    got = {r.asset_id: r for r in decode_bmp_pixels(df).collect()}
    r1 = got[1]
    n = 6.0
    assert (r1.width, r1.height, r1.valid) == (3, 2, True)
    assert r1.mean_r == sum(p[0] for p in pixels) / n
    assert r1.mean_g == sum(p[1] for p in pixels) / n
    assert r1.mean_b == sum(p[2] for p in pixels) / n
    assert got[2].valid is False and got[3].valid is False


def test_wav_decode_real_format(spark):
    """decode_wav_audio parses stdlib-wave-written PCM16 (a playable RIFF
    file) with exact peak/RMS; junk payloads degrade to valid=false."""
    import math

    from cudf_spark.multimodal import decode_wav_audio, make_wav_bytes

    samples = [0, 1000, -2000, 3000, -32768]
    wav = make_wav_bytes(8000, samples)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    rows = [(1, wav), (2, b"nope"), (3, None)]
    df = spark.createDataFrame(rows, "asset_id long, data binary")
    got = {r.asset_id: r for r in decode_wav_audio(df).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.n_channels, r1.sample_width, r1.n_frames) == (
        8000, 1, 2, 5,
    )
    assert r1.peak == 32768
    assert r1.rms == math.sqrt(sum(s * s for s in samples) / 5)
    assert r1.duration_ms == 5 * 1000 // 8000
    assert got[2].valid is False and got[3].valid is False


def test_avro_review_fixes_round6():
    """Regression pins for the round-6 self-review findings — all
    pure-Python codec logic, no Spark session needed."""
    import datetime
    import io
    from decimal import Decimal

    import pytest

    from cudf_spark.sources.avro import (
        _decode,
        _encode_logical,
        _is_null,
        _prepare_schema,
        _spark_type,
    )

    # 1. fixed-backed decimal overflowing the declared size must raise,
    #    not silently desync the stream
    fx = {"type": "fixed", "name": "D2", "size": 2,
          "logicalType": "decimal", "precision": 10, "scale": 0}
    with pytest.raises(ValueError, match="desync"):
        _encode_logical(Decimal("100000"), fx)
    # boundary: exactly-fitting value still encodes
    assert _encode_logical(Decimal("32767"), fx) == b"\x7f\xff"
    assert _encode_logical(Decimal("-1"), fx) == b"\xff\xff"

    # 2. tz-aware timestamps must encode the true UTC instant
    ts = {"type": "long", "logicalType": "timestamp-micros"}
    plus5 = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(1970, 1, 1, tzinfo=plus5)  # = -5h UTC
    enc = _encode_logical(aware, ts)
    got = _decode(io.BytesIO(enc), ts)
    assert got == datetime.datetime(1969, 12, 31, 19, 0, 0)
    naive = datetime.datetime(1970, 1, 1, 0, 0, 1)
    assert _decode(io.BytesIO(_encode_logical(naive, ts)), ts) == naive

    # 3. name resolution is namespace-RELATIVE per spec, independent of
    #    definition order: a bare ref inside namespace x means x.Foo even
    #    when y.Foo shares the short name (and registered first); a bare
    #    ref with NO namespace in scope and no null-namespace definition
    #    is unresolved, loudly
    schema = {
        "type": "record", "name": "r", "namespace": "x",
        "fields": [
            {"name": "b", "type": {"type": "fixed", "name": "Foo",
                                   "namespace": "y", "size": 8}},
            {"name": "a", "type": {"type": "fixed", "name": "Foo",
                                   "size": 4}},       # inherits x
            {"name": "c", "type": "Foo"},             # must mean x.Foo
            {"name": "d", "type": "y.Foo"},           # qualified ref
        ],
    }
    q, named = _prepare_schema(schema)
    assert q["fields"][2]["type"] == "x.Foo"
    assert named["x.Foo"]["size"] == 4 and named["y.Foo"]["size"] == 8
    assert _spark_type(q, named)
    bad = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "a", "type": {"type": "fixed", "name": "Foo",
                                   "namespace": "x", "size": 4}},
            {"name": "c", "type": "Foo"},  # no x-namespace context here
        ],
    }
    with pytest.raises(NotImplementedError, match="unresolved"):
        _prepare_schema(bad)

    # 4. namespace-QUALIFIED self-reference must raise NotImplementedError,
    #    not blow the stack
    rec = {
        "type": "record", "name": "Node", "namespace": "com.example",
        "fields": [{"name": "v", "type": "long"},
                   {"name": "next", "type": ["null", "com.example.Node"]}],
    }
    qrec, named3 = _prepare_schema(rec)
    with pytest.raises(NotImplementedError, match="recursive"):
        _spark_type(qrec, named3)

    # 7. NaT detection without per-call import
    import pandas as pd

    assert _is_null(pd.NaT) and _is_null(None) and _is_null(float("nan"))
    assert not _is_null(0) and not _is_null("")


def test_avro_schema_and_reader_schema_mutually_exclusive(spark, tmp_path):
    """5. passing both an explicit Spark schema and a reader schema must
    fail immediately, not silently prefer one."""
    import pytest

    from cudf_spark.sources.avro import read_avro, write_avro

    writer = {"type": "record", "name": "r",
              "fields": [{"name": "id", "type": "long"}]}
    write_avro([{"id": 1}], writer, str(tmp_path / "p.avro"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_avro(
            spark, str(tmp_path),
            schema="id long", reader_schema=writer,
        )


def test_avro_review_fixes_round6b():
    """Second-pass review pins: minimal signed length for negative
    power-of-two decimals, and namespace-relative resolution surviving
    definition order (the order-dependent poison-clobber scenario)."""
    from decimal import Decimal

    from cudf_spark.sources.avro import _encode_logical, _prepare_schema

    # -(2^(8k-1)) fits exactly in k bytes — must encode, not raise
    fx1 = {"type": "fixed", "name": "D1", "size": 1,
           "logicalType": "decimal", "precision": 3, "scale": 0}
    assert _encode_logical(Decimal("-128"), fx1) == b"\x80"
    fx2 = {"type": "fixed", "name": "D2", "size": 2,
           "logicalType": "decimal", "precision": 5, "scale": 0}
    assert _encode_logical(Decimal("-32768"), fx2) == b"\x80\x00"
    by = {"type": "bytes", "logicalType": "decimal",
          "precision": 5, "scale": 0}
    assert _encode_logical(Decimal("-128"), by) == b"\x02\x80"  # zigzag(1)+raw

    # order-flipped collision (round6 case 3 pins y-first): here the
    # x-inheriting Foo registers FIRST and y.Foo LAST — under the old
    # last-wins short-name registry the bare ref would have resolved to
    # y.Foo (8 bytes); namespace-relative resolution still means x.Foo
    schema = {
        "type": "record", "name": "r", "namespace": "x",
        "fields": [
            {"name": "a", "type": {"type": "fixed", "name": "Foo",
                                   "size": 4}},
            {"name": "b", "type": {"type": "fixed", "name": "Foo",
                                   "namespace": "y", "size": 8}},
            {"name": "c", "type": "Foo"},
        ],
    }
    q, named = _prepare_schema(schema)
    assert q["fields"][2]["type"] == "x.Foo"
    assert named["x.Foo"]["size"] == 4 and named["y.Foo"]["size"] == 8

    # forward reference (lenient-writer file): definition after use
    fwd = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "c", "type": "Late"},
            {"name": "d", "type": {"type": "fixed", "name": "Late",
                                   "size": 2}},
        ],
    }
    qf, namedf = _prepare_schema(fwd)
    assert qf["fields"][0]["type"] == "Late" and namedf["Late"]["size"] == 2


def test_avro_writer_nan_and_block_guards(tmp_path):
    """Round-8 review: (a) NaN with NO null branch must encode as the
    IEEE double (it raised 'null value for union' pre-fix); (b) NaN
    with a null branch takes null — the pandas-boundary convention,
    now documented; (c) a non-positive rows_per_block must fail loudly
    instead of silently writing a header-only file."""
    import math

    import pytest

    from cudf_spark.sources.avro import _decode_file_range, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "x", "type": ["long", "double"]},
            {"name": "y", "type": ["null", "double"]},
        ],
    }
    path = str(tmp_path / "nan.avro")
    write_avro([{"x": float("nan"), "y": float("nan")}], schema, path)
    rows, names = _decode_file_range(path, 0, os.path.getsize(path))
    assert names == ["x", "y"]
    [(x, y)] = rows
    # multi-branch union reads back as the struct-of-nullables memberN
    # row (the spark-avro mapping); the double branch carries the NaN
    assert x["member0"] is None and math.isnan(x["member1"])
    assert y is None  # nullable: pandas-boundary convention

    with pytest.raises(ValueError, match="rows_per_block"):
        write_avro([{"x": 1.0, "y": None}], schema, str(tmp_path / "b.avro"),
                   rows_per_block=-5)
