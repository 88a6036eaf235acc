"""Multimodal (image/audio/video) column plumbing.

Assets are opaque ``binary`` columns with typed metadata — the Spark-native
way to carry media through a 100 TB training-data pipeline (partition by
asset id / shard, never collect). Decode / feature-extract / resize /
frame-sample are per-row functions run by :func:`map_rows`, the one
Arrow-batched ``mapInPandas`` loop, so codec work scales with partitions.

The compressed-format codecs (PIL/ffmpeg/soundfile) are not dependencies,
so image payloads use a deterministic fake format (magic ``FIMG`` +
big-endian u32 width/height + 8-bit pixels, built by
``fake_image_gradient`` / ``fake_image_texture``) parsed by ``_parse_fimg``
— real Spark plumbing (schema, batching, null handling) with a fake codec.
Malformed or missing payloads surface as ``valid=false`` rows instead of
task failures.

Two UNCOMPRESSED production formats need no external codec at all and are
decoded for real: 24-bit BMP (``decode_bmp_pixels`` — the struct layout
is the whole spec) and PCM WAV (``decode_wav_audio`` — stdlib ``wave``).
Their bytes open in any viewer/player; only JPEG/PNG/MP3-class formats
remain behind the seam.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

MAGIC = b"FIMG"
VIDEO_MAGIC = b"FVID"
AUDIO_MAGIC = b"FAUD"


def map_rows(df: DataFrame, schema: str, fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """Run ``fn`` over every row of ``df`` in one Arrow-batched
    ``mapInPandas`` pass. ``fn`` takes one row's values (in ``df``'s column
    order) and returns that row's output tuples — zero, one or many — laid
    out as the flat DDL ``schema``, which also names the output columns."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)


def encode_assets(docs: DataFrame, make: Callable[..., bytes]) -> DataFrame:
    """``(asset_id, data)`` frame of synthesized payloads: each row of
    ``docs`` (its id column first) becomes ``(id, make(*row))``."""
    return map_rows(docs, "asset_id long, data binary", lambda *row: [(row[0], make(*row))])


def _map_assets(
    assets: DataFrame, schema: str, fn: Callable[[int, bytes], Iterable[tuple]]
) -> DataFrame:
    """:func:`map_rows` over ``assets``' ``(asset_id, data)``; a NULL
    payload reaches ``fn`` as ``b""``, so each kernel's validity rule
    covers it."""
    return map_rows(
        assets.select("asset_id", "data"),
        schema,
        lambda aid, data: fn(aid, bytes(data) if data is not None else b""),
    )


def fake_image_gradient(width: int, height: int, base: int = 0) -> bytes:
    """Fake image whose pixel i is ``(base + i) % 256`` — content the
    feature/resize kernels (and a SQL oracle) can recompute in closed form."""
    px = bytes((base + i) % 256 for i in range(width * height))
    return MAGIC + struct.pack(">II", width, height) + px


IMAGE_FEATURES_SCHEMA = (
    "asset_id long, width int, height int, n_bytes int, "
    "mean_px double, resized_mean_px double, valid boolean"
)


def _parse_fimg(b: bytes):
    """(w, h, px uint8 ndarray) for a well-formed FIMG payload, else
    None. The one header validation of the image kernels
    (image_features, image_ahash); a real codec replaces the
    ``frombuffer`` line."""
    import numpy as np

    if b[:4] != MAGIC or len(b) < 12:
        return None
    w, h = struct.unpack(">II", b[4:12])
    px = np.frombuffer(b[12 : 12 + w * h], dtype=np.uint8)
    if not (px.size == w * h > 0):
        return None
    return w, h, px


def _downsample8(w: int, h: int, px):
    """8x8 nearest-neighbour downsample of a parsed FIMG raster (integer
    index math — ``(r*h)//8`` — so the result is engine-reproducible)."""
    import numpy as np

    idx = np.arange(8)
    return px.reshape(h, w)[(idx * h) // 8][:, (idx * w) // 8]


def _parse_fvid(b: bytes):
    """(n_frames, w, h, frames uint8 ndarray of shape (n_frames, w*h)) for
    a well-formed FVID payload (all frames present, nonzero area), else
    None. ffmpeg would replace the ``frombuffer`` line."""
    import numpy as np

    if b[:4] != VIDEO_MAGIC or len(b) < 16:
        return None
    n, w, h = struct.unpack(">III", b[4:16])
    if w * h == 0 or len(b) < 16 + n * w * h:
        return None
    frames = np.frombuffer(b, dtype=np.uint8, offset=16, count=n * w * h)
    return n, w, h, frames.reshape(n, w * h)


def _parse_faud(b: bytes):
    """(rate, samples int64 ndarray) for a well-formed FAUD payload
    (nonzero rate, all samples present), else None."""
    import numpy as np

    if b[:4] != AUDIO_MAGIC or len(b) < 12:
        return None
    rate, n = struct.unpack(">II", b[4:12])
    if rate == 0 or len(b) < 12 + 2 * n:
        return None
    return rate, np.frombuffer(b, dtype=">i2", offset=12, count=n).astype(np.int64)


def image_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract + nearest-neighbour resize in ONE Arrow pass.

    Real kernels over the fake raster: mean intensity, and the mean of its
    8x8 NN-downsample. Means are exact-int sums divided once in IEEE
    double, so values hash-match a SQL oracle bit-for-bit. Malformed
    payloads → ``valid=false`` rows, never task failures. A real codec
    swaps into the ``frombuffer`` line of ``_parse_fimg``; everything else
    (schema, batching, partition parallelism) is production plumbing.
    """

    def row(aid, b):
        parsed = _parse_fimg(b)
        if parsed is None:
            return [(aid, 0, 0, len(b), 0.0, 0.0, False)]
        w, h, px = parsed
        mean_px = int(px.sum(dtype="int64")) / float(w * h)
        rmean = int(_downsample8(w, h, px).sum(dtype="int64")) / 64.0
        return [(aid, w, h, len(b), mean_px, rmean, True)]

    return _map_assets(assets, IMAGE_FEATURES_SCHEMA, row)


def fake_video_bytes(width: int, height: int, n_frames: int, base: int = 0) -> bytes:
    """Fake video: FVID + u32 n_frames/w/h + per-frame rasters where frame k
    pixel i is ``(base + 7*k + i) % 256`` (distinct, recomputable frames)."""
    frames = b"".join(
        bytes((base + 7 * k + i) % 256 for i in range(width * height)) for k in range(n_frames)
    )
    return VIDEO_MAGIC + struct.pack(">III", n_frames, width, height) + frames


FRAME_SAMPLE_SCHEMA = "asset_id long, frame_idx int, width int, height int, frame_mean double"


def frame_sample(assets: DataFrame, every_n: int = 10) -> DataFrame:
    """Sample every ``every_n``-th frame of each fake video — a row-exploding
    pass (1 video in, ceil(n_frames/every_n) frame rows out).

    The Arrow batch shape, frame indexing, and per-frame reduction are the
    real pipeline; ffmpeg would replace the ``frombuffer`` line of
    ``_parse_fvid``. Frame means are exact-int sums / IEEE double divide —
    SQL-oracle reproducible.

    Malformed/truncated payloads yield ZERO frame rows (there is no
    per-frame place for a valid flag); this operator's contract is
    frames-of-decodable-assets only.
    """
    if every_n < 1:
        # range(0, n, 0) raises INSIDE the Arrow worker (a task failure,
        # the exact mode this module exists to avoid); negatives would
        # silently emit nothing — validate driver-side like band_size
        raise ValueError(f"frame_sample: every_n ({every_n}) must be >= 1")

    def row(aid, b):
        parsed = _parse_fvid(b)
        if parsed is None:
            return []
        n, w, h, frames = parsed
        sums = frames[::every_n].sum(axis=1, dtype="int64").tolist()
        return [(aid, k, w, h, s / float(w * h)) for k, s in zip(range(0, n, every_n), sums)]

    return _map_assets(assets, FRAME_SAMPLE_SCHEMA, row)


def video_signature(assets: DataFrame) -> DataFrame:
    """One ``raw_sig`` string per fake video: ``"{w}x{h}:"`` then every
    frame's exact int64 pixel sum, ``|``-joined in frame order — the
    per-frame feature a perceptual hash would replace. Malformed/truncated
    payloads yield ZERO rows, as in :func:`frame_sample`."""

    def row(aid, b):
        parsed = _parse_fvid(b)
        if parsed is None:
            return []
        _, w, h, frames = parsed
        sums = frames.sum(axis=1, dtype="int64").tolist()
        return [(aid, f"{w}x{h}:" + "|".join(map(str, sums)))]

    return _map_assets(assets, "asset_id long, raw_sig string", row)


def fake_image_texture(width: int, height: int, mult: int, base: int = 0) -> bytes:
    """Fake image whose pixel i is ``(base + i*mult) % 256`` — wrap-around
    stripe textures whose 8x8 average-hashes genuinely differ across
    parameter tuples (the plain gradient collapses to ONE hash: every ramp
    is below-mean then above-mean), while nearby ``base`` values yield
    hash-identical or near-identical images. Content a SQL oracle can
    recompute in closed form."""
    px = bytes((base + i * mult) % 256 for i in range(width * height))
    return MAGIC + struct.pack(">II", width, height) + px


IMAGE_AHASH_SCHEMA = (
    "asset_id long, ahash long, ahash_hex string, "
    "band0 int, band1 int, band2 int, band3 int, valid boolean"
)


def image_ahash(assets: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) per image in ONE Arrow pass: decode
    the fake raster, 8x8 nearest-neighbour downsample (the same
    ``_downsample8`` as :func:`image_features`), then bit k = 1 iff
    ``64*px_k > sum`` (exact integer compare — no float mean, so engines
    can't disagree). Images under 8x8 are ``valid=false``.

    Returns the hash as a signed int64 (two's-complement wrap of the 64-bit
    pattern) for JVM-side ``bit_count(a ^ b)`` Hamming distance, a hex
    string for human-auditable output, and the four 16-bit bands used by
    the multi-index Hamming join (Manku et al., WWW'07 — a hash pair within
    Hamming distance 3 must agree exactly on at least one of 4 bands, by
    pigeonhole). Real-codec swap point: the ``frombuffer`` line of
    ``_parse_fimg``.
    """

    def row(aid, b):
        parsed = _parse_fimg(b)
        if parsed is None or parsed[0] < 8 or parsed[1] < 8:
            return [(aid, 0, "0" * 16, 0, 0, 0, 0, False)]
        r = _downsample8(*parsed).reshape(-1)
        s = int(r.sum(dtype="int64"))
        bits = "".join("1" if 64 * int(v) > s else "0" for v in r)
        val = int(bits, 2)
        signed = val - (1 << 64) if val >= (1 << 63) else val
        bands = [int(bits[16 * j : 16 * j + 16], 2) for j in range(4)]
        return [(aid, signed, format(val, "016x"), *bands, True)]

    return _map_assets(assets, IMAGE_AHASH_SCHEMA, row)


AUDIO_FEATURE_SCHEMA = (
    "asset_id long, sample_rate int, n_samples int, duration_ms long, "
    "peak int, rms double, zero_crossings long, valid boolean"
)


def fake_audio_bytes(sample_rate: int, n_samples: int, base: int = 0) -> bytes:
    """Deterministic fake PCM audio: FAUD + u32 rate + u32 n + i16 samples
    where sample k is ``((base + 13*k) % 4096) - 2048`` — recomputable
    arithmetically by the oracle, byte-parseable by the kernel."""
    samples = b"".join(
        struct.pack(">h", ((base + 13 * k) % 4096) - 2048) for k in range(n_samples)
    )
    return AUDIO_MAGIC + struct.pack(">II", sample_rate, n_samples) + samples


def encode_fake_audio(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_chars)`` rows -> ``(asset_id, data)`` fake PCM clips;
    the ONE place the clip parameters (rate 8000, n=nc%500+50,
    base=did%4096) live — the audio queries' oracles replay these exact
    values, so they must never fork."""
    return encode_assets(docs, lambda did, nc: fake_audio_bytes(8000, nc % 500 + 50, did % 4096))


def audio_features(assets: DataFrame) -> DataFrame:
    """Decode fake-PCM audio and extract waveform features in one Arrow
    pass: duration, peak amplitude, RMS energy, zero-crossing count.

    The codec is the documented fake (no audio library is a dependency);
    the byte parsing (header unpack + big-endian i16 ``frombuffer``), the
    Arrow batch shape, and the feature arithmetic are real — a real codec
    drops in by replacing the ``frombuffer`` line of ``_parse_faud`` with
    a decoder call.

    Integer-exact where possible: energy sums int64, duration is integer
    division; RMS is one sqrt of one division (both correctly rounded
    IEEE, so cross-engine exact before the round)."""
    import math

    import numpy as np

    def row(aid, b):
        # header values are untrusted: a short payload or zero rate
        # degrades to an invalid row, never a task failure
        parsed = _parse_faud(b)
        if parsed is None:
            return [(aid, None, None, None, None, None, None, False)]
        rate, x = parsed
        n = x.size
        peak = int(np.abs(x).max()) if n else 0
        energy = int((x * x).sum())
        # full-precision double; callers round at the query layer
        # (Python round is banker's, SQL round is not)
        rms = math.sqrt(energy / n) if n else 0.0
        zc = int(((x[:-1] * x[1:]) < 0).sum())
        return [(aid, int(rate), int(n), n * 1000 // rate, peak, rms, zc, True)]

    return _map_assets(assets, AUDIO_FEATURE_SCHEMA, row)


def audio_frame_energies(assets: DataFrame, *, frame: int = 10) -> DataFrame:
    """Decode fake-PCM audio and emit PER-FRAME energies (``frame``
    samples each, full frames only) in one Arrow pass — the front half
    of voice-activity detection: (asset_id, frame_idx, energy) rows,
    energy = sum of squared i16 samples as int64.

    Same codec seam as :func:`audio_features` (the ``frombuffer`` line of
    ``_parse_faud``); the frame aggregation itself is exact integer
    arithmetic, so the VAD thresholding downstream stays engine-exact.

    Malformed/truncated payloads yield ZERO frame rows (no per-frame
    place for a valid flag) — run :func:`audio_features`, which has a
    ``valid`` column, when corrupt-asset visibility matters.
    """
    if frame < 1:
        raise ValueError(f"audio_frame_energies: frame ({frame}) must be >= 1")

    def row(aid, b):
        parsed = _parse_faud(b)
        if parsed is None:
            return []
        s = parsed[1]
        nf = s.size // frame
        energies = (s[: nf * frame] ** 2).reshape(nf, frame).sum(axis=1).tolist()
        return [(aid, k, e) for k, e in enumerate(energies)]

    return _map_assets(assets, "asset_id long, frame_idx long, energy long", row)


# ----------------- real stdlib codecs: BMP and WAV -----------------
#
# PIL/ffmpeg are not dependencies, but two production formats need no
# external codec at all: uncompressed 24-bit BMP (fixed struct layout)
# and PCM WAV (stdlib ``wave``). These decoders are REAL — any image
# viewer / audio player reads the bytes the test helpers emit. Compressed
# codecs (JPEG/PNG/MP3/...) would replace the ``frombuffer`` line of
# ``_parse_fimg`` / ``_parse_fvid`` / ``_parse_faud`` above.

BMP_PIXEL_SCHEMA = (
    "asset_id long, width int, height int, mean_b double, mean_g double, "
    "mean_r double, valid boolean"
)


def make_bmp_bytes(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
    """Spec-conformant uncompressed 24-bit BMP (BITMAPINFOHEADER,
    bottom-up rows, 4-byte row padding). ``pixels`` is row-major
    top-to-bottom (r, g, b) triples — what a viewer shows."""
    stride = (width * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            r, g, b = pixels[y * width + x]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        body += row
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header) + dib + bytes(body)


def decode_bmp_pixels(assets: DataFrame) -> DataFrame:
    """REAL image decode, no external codec: parse uncompressed 24-bit
    BMP payloads (the struct layout is the whole spec) and emit exact
    per-channel means in one Arrow pass. Bottom-up and top-down
    (negative height) row orders both handled; palette/compressed/other
    bit depths surface as valid=false rows, never task failures. Channel
    means are int64 sums divided once in IEEE double, so a SQL oracle
    can reproduce them bit-for-bit."""
    import numpy as np

    def row(aid, b):
        if len(b) >= 54 and b[:2] == b"BM":
            offset = struct.unpack_from("<I", b, 10)[0]
            hdr_sz, w, h = struct.unpack_from("<Iii", b, 14)
            planes, bpp, comp = struct.unpack_from("<HHI", b, 26)
            flip = h > 0  # positive height = bottom-up storage
            h = abs(h)
            stride = (w * 3 + 3) // 4 * 4
            if (
                hdr_sz >= 40 and planes == 1 and bpp == 24
                and comp == 0 and w > 0 and h > 0
                and len(b) >= offset + stride * h
            ):
                px = np.frombuffer(
                    b, dtype=np.uint8, offset=offset, count=stride * h
                ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
                if flip:
                    px = px[::-1]
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                n = float(w * h)
                return [(
                    aid, int(w), int(h),
                    int(sums[0]) / n, int(sums[1]) / n, int(sums[2]) / n,
                    True,
                )]
        return [(aid, None, None, None, None, None, False)]

    return _map_assets(assets, BMP_PIXEL_SCHEMA, row)


WAV_FEATURE_SCHEMA = (
    "asset_id long, sample_rate int, n_channels int, sample_width int, "
    "n_frames long, duration_ms long, peak int, rms double, valid boolean"
)


def make_wav_bytes(sample_rate: int, samples: list[int], n_channels: int = 1) -> bytes:
    """Spec-conformant PCM16 WAV via the stdlib ``wave`` writer —
    playable bytes, not a fake container."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def decode_wav_audio(assets: DataFrame) -> DataFrame:
    """REAL audio decode, no external codec: stdlib ``wave`` parses the
    RIFF container and the PCM16 payload vectorizes through numpy in one
    Arrow pass — rate/channels/width/frames plus exact peak and RMS
    (int64 energy sum, one IEEE division + sqrt). Non-RIFF, truncated,
    or non-16-bit payloads surface as valid=false rows."""
    import io
    import math
    import wave

    import numpy as np

    def row(aid, b):
        try:
            with wave.open(io.BytesIO(b)) as w:
                rate, nch, width, nframes = (
                    w.getframerate(), w.getnchannels(),
                    w.getsampwidth(), w.getnframes(),
                )
                pcm = w.readframes(nframes)
            if width != 2 or rate <= 0:
                raise ValueError("unsupported wav shape")
            x = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
            n = x.size
            peak = int(np.abs(x).max()) if n else 0
            rms = math.sqrt(int((x * x).sum()) / n) if n else 0.0
            return [(
                aid, int(rate), int(nch), int(width), int(nframes),
                nframes * 1000 // rate, peak, rms, True,
            )]
        except Exception:  # noqa: BLE001 - malformed rows, not failures
            return [(aid, None, None, None, None, None, None, None, False)]

    return _map_assets(assets, WAV_FEATURE_SCHEMA, row)
