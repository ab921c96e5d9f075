"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with the Spark-side plumbing (schema, partitioning, Arrow batch
shape) real and tested. Image decode is REAL (pure numpy + stdlib:
PPM/PGM, BMP, the full legal PNG envelope, baseline JPEG via
:mod:`.jpeg`), so is PCM WAV audio (:func:`decode_audio`: RIFF chunk
walk, 8/16/24/32-bit integer + 32/64-bit float, multi-channel), and so
is Motion-JPEG AVI video (:func:`decode_video_frames`: container walk
+ frame-sampled JPEG decode); compressed codecs (MP3/AAC/FLAC, H.264,
VP9…) remain stubbed — those libraries are not in this container.

Layout convention (one table per modality, or a union table with a
``modality`` discriminator):

    media(doc_id: long, modality: string, payload: binary,
          meta: struct<mime: string, width: int, height: int,
                       duration_ms: int, sample_rate: int>)

Every operator below is a ``mapInPandas`` kernel over Arrow record
batches: payloads arrive as zero-copy byte views, outputs are fixed-width
feature rows — the shape a real decode/extract stage would have at 100 TB
(map-only, no shuffle; partition by input file).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_sha256", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def synthesize_media(
    spark: SparkSession, n: int, seed: int = 42
) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes are a
    seeded PRNG stream; metadata is plausible."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        modalities = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(seed * 7_919 + i)
                modality = modalities[i % 3]
                payload = rng.integers(0, 256, size=256 + i % 512, dtype=np.uint8)
                rows.append(
                    (
                        i,
                        modality,
                        payload.tobytes(),
                        (
                            f"{modality}/fake",
                            64 + i % 64 if modality != "audio" else None,
                            48 + i % 48 if modality != "audio" else None,
                            1000 + i % 9000 if modality != "image" else None,
                            16000 if modality == "audio" else None,
                        ),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "modality", "payload", "meta"]
            )

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an HxWxC (or HxW for grayscale) uint8
    array, pure numpy + stdlib: PPM/PGM (P2/P3/P5/P6), BI_RGB BMP
    (8/24/32-bit), the FULL legal PNG envelope — every bit depth
    (1/2/4/8/16), gray / gray+alpha / RGB / RGBA / palette,
    interlaced (Adam7) or not (``zlib`` inflate + the five scanline
    filters vectorized; 16-bit reduced to the high byte, sub-byte
    expanded to 8) — and JPEG, both baseline (SOF0/SOF1) and
    progressive (SOF2: spectral selection + successive approximation,
    EOB runs, refinement bits): Huffman, restart markers,
    4:4:4/4:2:2/4:2:0, matrix-multiply IDCT — :mod:`.jpeg`.
    The remaining declared NotImplementedError boundary:
    arithmetic-coded / 12-bit / lossless-hierarchical JPEG."""
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return _decode_pnm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from alix_spark.textops.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        "unrecognized image container; PPM/PGM/BMP/PNG/baseline-JPEG "
        "decode natively"
    )


def _pnm_tokens(payload: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read n whitespace-separated integer header tokens, skipping
    '#' comments, returning (values, index after last token)."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    return vals, i


def _decode_pnm(payload: bytes) -> np.ndarray:
    magic = payload[:2]
    (w, h, maxval), i = _pnm_tokens(payload, 3, 2)
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    channels = 3 if magic in (b"P3", b"P6") else 1
    count = w * h * channels
    if magic in (b"P5", b"P6"):
        # single whitespace byte after maxval, then raw samples
        data = np.frombuffer(payload, dtype=np.uint8, count=count, offset=i + 1)
    else:
        data = np.array(payload[i:].split()[:count], dtype=np.uint8)
    img = data.reshape(h, w, channels)
    return img[:, :, 0] if channels == 1 else img


def _decode_bmp(payload: bytes) -> np.ndarray:
    """BI_RGB (uncompressed) BMP: 8-bit palette-grayscale, 24-bit BGR,
    or 32-bit BGRA; rows 4-byte padded, bottom-up (or top-down when the
    height field is negative). Returns RGB (or grayscale) uint8."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0:
        raise NotImplementedError("compressed BMP requires codec libs")
    top_down = h < 0
    h = abs(h)
    stride = (w * (bpp // 8) + 3) & ~3
    raw = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    if not top_down:
        raw = raw[::-1]
    if bpp == 8:
        return raw[:, :w].copy()
    px = raw[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def _paeth_pred(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized over int64 sample arrays
    (a=left, b=up, c=up-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# Adam7 pass geometry: (x_start, x_step, y_start, y_step), PNG spec §8.2
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_unfilter(rows: np.ndarray, w: int, h: int, bpp: int) -> np.ndarray:
    """Undo the five PNG scanline filters over a (h, 1+w*bpp) byte
    block (filter byte + filtered samples per row): None/Up are
    whole-row vectorized, Sub is a per-lane cumsum (mod-256 addition is
    linear, so int64 cumsum & 255 is exact), Average/Paeth walk pixels
    with all samples of a pixel vectorized. ``bpp`` is BYTES per pixel
    (channels × bytes-per-sample). Returns (h, w*bpp) uint8."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int64)
        if ftype == 0:
            rec = cur
        elif ftype == 1:  # Sub
            rec = (cur.reshape(w, bpp).cumsum(axis=0).reshape(stride)) & 255
        elif ftype == 2:  # Up
            rec = (cur + prior) & 255
        elif ftype in (3, 4):  # Average / Paeth
            rec = np.empty(stride, dtype=np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            upleft = np.zeros(bpp, dtype=np.int64)
            for x in range(w):
                sl = slice(x * bpp, (x + 1) * bpp)
                up = prior[sl]
                pred = (
                    (left + up) >> 1
                    if ftype == 3
                    else _paeth_pred(left, up, upleft)
                )
                rec[sl] = (cur[sl] + pred) & 255
                left, upleft = rec[sl], up
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec
        prior = rec
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG at every legal bit depth (1/2/4/8/16), color types
    0/2/3/4/6 (gray, RGB, palette, gray+alpha, RGBA), interlaced
    (Adam7) or not, with stdlib
    ``zlib`` + the vectorized unfilter in :func:`_png_unfilter`. Each
    Adam7 pass is an independently filtered sub-image consumed
    sequentially from the inflated stream and scattered back with
    strided assignment. 16-bit samples are decoded exactly then reduced
    to their high byte (the uint8 contract of :func:`decode_image`);
    sub-byte (1/2/4-bit) gray/palette rows unpack MSB-first from their
    byte-padded, byte-filtered scanlines."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i, idat = 8, []
    w = h = None
    plte = None
    bit_depth = color_type = interlace = None
    while i + 8 <= len(payload):
        ln = int.from_bytes(payload[i : i + 4], "big")
        typ = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        i += 12 + ln
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, interlace = data[8], data[9], data[12]
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth not in (1, 2, 4, 8, 16) or (
        color_type == 3 and bit_depth == 16
    ):
        raise ValueError(f"bad PNG bit depth {bit_depth}")
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        channels = 1
    else:
        channels = _PNG_CHANNELS.get(color_type)
        if channels is None:
            raise ValueError(f"bad PNG color type {color_type}")
    import zlib

    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        regions = [((0, 1, 0, 1), w, h)]
    elif interlace == 1:
        regions = [
            (g, (w - g[0] + g[1] - 1) // g[1], (h - g[2] + g[3] - 1) // g[3])
            for g in _ADAM7
        ]
    else:
        raise ValueError(f"bad PNG interlace method {interlace}")
    if bit_depth < 8:
        # legal only for gray and palette: scanlines pack bit_depth-bit
        # samples MSB-first into byte-padded rows, and the filters
        # operate on BYTES with a 1-byte pixel unit (T. PNG 7.2/9.2)
        if color_type not in (0, 3):
            raise ValueError(
                f"bit depth {bit_depth} illegal for color type {color_type}"
            )
        vals = np.zeros((h, w), dtype=np.uint8)
        pos = 0
        weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.int64)
        for (x0, xs, y0, ys), pw, ph in regions:
            if pw == 0 or ph == 0:
                continue
            rb = (pw * bit_depth + 7) // 8
            size = ph * (rb + 1)
            rows = np.frombuffer(
                raw, dtype=np.uint8, count=size, offset=pos
            ).reshape(ph, rb + 1)
            pos += size
            un = _png_unfilter(rows, rb, ph, 1)
            bits = np.unpackbits(un, axis=1)[:, : pw * bit_depth]
            px = bits.reshape(ph, pw, bit_depth).astype(np.int64) @ weights
            vals[y0::ys, x0::xs] = px.astype(np.uint8)
        if color_type == 3:
            return plte[vals]
        # gray: expand the sample range to 8 bits (0..2^d-1 -> 0..255)
        return (vals * (255 // ((1 << bit_depth) - 1))).astype(np.uint8)
    bpp = channels * (bit_depth // 8)
    out = np.zeros((h, w, bpp), dtype=np.uint8)
    pos = 0
    for (x0, xs, y0, ys), pw, ph in regions:
        if pw == 0 or ph == 0:
            continue  # empty Adam7 pass: contributes no bytes at all
        size = ph * (pw * bpp + 1)
        rows = np.frombuffer(
            raw, dtype=np.uint8, count=size, offset=pos
        ).reshape(ph, pw * bpp + 1)
        pos += size
        out[y0::ys, x0::xs] = _png_unfilter(rows, pw, ph, bpp).reshape(
            ph, pw, bpp
        )
    if bit_depth == 16:  # big-endian sample pairs -> high byte
        out = out.reshape(h, w, channels, 2)[:, :, :, 0]
    img = out.reshape(h, w, channels)
    if color_type == 3:
        return plte[img[:, :, 0]]
    return img[:, :, 0].copy() if channels == 1 else img.copy()


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _png_filter_region(px: np.ndarray, bpp: int, phase: int = 0) -> bytearray:
    """Filter one (h, w*bpp) uint8 region for the IDAT stream, cycling
    filters 0..4 per row so a roundtrip exercises every unfilter
    branch of :func:`_png_unfilter`. ``phase`` offsets the cycle —
    the Adam7 encoder threads a running row count through it so even
    a small interlaced image (whose passes each have <5 rows) still
    emits all five filter types across the stream."""
    h = px.shape[0]
    zeros = np.zeros(bpp, dtype=np.int64)
    prior = np.zeros(px.shape[1], dtype=np.int64)
    scan = bytearray()
    for y in range(h):
        ftype = (phase + y) % 5
        cur = px[y].astype(np.int64)
        left = np.concatenate([zeros, cur[:-bpp]]) if cur.size > bpp else (
            np.zeros_like(cur)
        )
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = (cur - left) & 255
        elif ftype == 2:
            filt = (cur - prior) & 255
        elif ftype == 3:
            filt = (cur - ((left + prior) >> 1)) & 255
        else:
            upleft = (
                np.concatenate([zeros, prior[:-bpp]])
                if prior.size > bpp
                else np.zeros_like(prior)
            )
            filt = (cur - _paeth_pred(left, prior, upleft)) & 255
        scan.append(ftype)
        scan.extend(filt.astype(np.uint8).tobytes())
        prior = cur
    return scan


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 HxW / HxWx{2,3,4} -> 8-bit PNG, optionally Adam7
    interlaced (each pass an independently filtered sub-image, the
    spec's stream layout — exercises the interlaced decode path)."""
    import zlib

    h, w = img.shape[:2]
    channels = 1 if img.ndim == 2 else img.shape[2]
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    px3 = img.reshape(h, w, channels).astype(np.uint8)
    scan = bytearray()
    if interlace:
        rows_done = 0
        for x0, xs, y0, ys in _ADAM7:
            sub = px3[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            scan.extend(
                _png_filter_region(
                    sub.reshape(sub.shape[0], sub.shape[1] * channels),
                    channels,
                    phase=rows_done,
                )
            )
            rows_done += sub.shape[0]
    else:
        scan = _png_filter_region(px3.reshape(h, w * channels), channels)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, int(interlace)])
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan), 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_ppm(img: np.ndarray) -> bytes:
    """RGB uint8 HxWx3 -> binary PPM (P6)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_bmp(img: np.ndarray) -> bytes:
    """RGB uint8 HxWx3 -> uncompressed 24-bit BMP (BI_RGB, bottom-up)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = (
        b"BM"
        + (54 + len(data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + data


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> per-image dimension + channel-mean rows
    through the REAL decode path — the map-only decode/feature stage of
    a 100 TB media pipeline (no shuffle; Arrow-batched)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                img = decode_image(payload)
                if payload[:1] == b"P":
                    fmt = "ppm"
                elif payload[:8] == _PNG_SIG:
                    fmt = "png"
                elif payload[:2] == b"\xff\xd8":
                    fmt = "jpg"
                else:
                    fmt = "bmp"
                means = img.reshape(img.shape[0], img.shape[1], -1).mean(
                    axis=(0, 1)
                )
                if means.size == 1:
                    means = np.repeat(means, 3)
                rows.append(
                    (
                        int(doc_id),
                        fmt,
                        int(img.shape[0]),
                        int(img.shape[1]),
                        float(means[0]),
                        float(means[1]),
                        float(means[2]),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_STATS_SCHEMA.fields])

    return media.select("doc_id", "payload").mapInPandas(
        kernel, IMAGE_STATS_SCHEMA
    )


def _fake_feature_vector(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a decode→embed stage: byte-histogram
    moments. Replaces `decode_image` + a model forward pass, keeping the
    batch shapes and dtypes of the real thing."""
    b = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(b >> 5, minlength=dim)[:dim].astype(np.float32)
    total = hist.sum() or 1.0
    return (hist / total).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """media → per-item feature rows.

    Arrow-batched; at scale this is the GPU/codec stage — map-only,
    partitioned by input split, no shuffle. The feature function is the
    deterministic fake (see `decode_image` for the real hook).
    """
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, modality, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                payload = bytes(payload)
                rows.append(
                    (
                        int(doc_id),
                        modality,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                        _fake_feature_vector(payload, dim).tolist(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in FEATURE_SCHEMA.fields],
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plan: (doc_id, frame_ts_ms) rows derived from
    metadata — pure column expressions (``sequence``), the real sampler
    would feed these timestamps to the stubbed decoder."""
    v = media.filter(F.col("modality") == "video")
    return v.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


# --------------------------------------------------------------------- #
# audio: PCM WAV (RIFF) — pure stdlib/numpy, no codec library
# --------------------------------------------------------------------- #


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM RIFF/WAVE payload → (samples, sample_rate).

    Samples are float64 in [-1, 1], shape (n_frames,) mono or
    (n_frames, n_channels). Supports the PCM formats stdlib-decodable
    with numpy alone: unsigned 8-bit, signed 16/24/32-bit little-endian
    (format code 1) and 32/64-bit float (code 3). Chunk-walks the RIFF
    container, so extra chunks (LIST, fact, cue) are skipped correctly.
    Compressed codecs (MP3, AAC, FLAC, µ-law…) genuinely need a codec
    library — they raise NotImplementedError, the declared boundary."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "compressed audio (MP3/AAC/FLAC/...) requires codec libs; "
            "PCM WAV decodes natively"
        )
    i = 12
    fmt = None
    data = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        ln = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + ln]
        i += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
        if cid == b"fmt ":
            fmt = {
                "code": int.from_bytes(body[0:2], "little"),
                "channels": int.from_bytes(body[2:4], "little"),
                "rate": int.from_bytes(body[4:8], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
            }
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt["rate"] == 0:
        # a corrupt header would otherwise surface as a
        # ZeroDivisionError deep in the stats kernel and fail the stage
        raise ValueError("WAV declares zero sample rate")
    code, nch, bits = fmt["code"], fmt["channels"], fmt["bits"]
    if code == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
        raise NotImplementedError("WAVE_FORMAT_EXTENSIBLE not supported")
    if code == 1:  # integer PCM
        if bits == 8:
            x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64)
                 - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            b = np.frombuffer(data, dtype=np.uint8)
            b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.int64)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            x = v.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(np.float64) / float(
                1 << 31
            )
        else:
            raise NotImplementedError(f"{bits}-bit integer PCM")
    elif code == 3:  # IEEE float
        dt = "<f4" if bits == 32 else "<f8"
        x = np.frombuffer(data, dtype=dt).astype(np.float64)
    else:
        raise NotImplementedError(f"WAV format code {code} requires codecs")
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch)
    return x, fmt["rate"]


def encode_wav(
    samples: np.ndarray, rate: int, bits: int = 16
) -> bytes:
    """float [-1,1] (n,) or (n, ch) → PCM RIFF/WAVE bytes (8/16-bit
    integer PCM) — the test-side twin of :func:`decode_audio`."""
    x = np.asarray(samples, dtype=np.float64)
    nch = 1 if x.ndim == 1 else x.shape[1]
    if bits == 16:
        pcm = np.clip(np.round(x * 32768.0), -32768, 32767).astype("<i2")
    elif bits == 8:
        pcm = np.clip(
            np.round(x * 128.0) + 128, 0, 255
        ).astype(np.uint8)
    else:
        raise ValueError("encode_wav supports 8/16-bit PCM")
    raw = pcm.tobytes()
    block = nch * bits // 8
    fmt = (
        (1).to_bytes(2, "little") + nch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    chunks = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(raw).to_bytes(4, "little") + raw
    )
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("duration_ms", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("zero_cross_rate", DoubleType()),
    ]
)


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """(doc_id, payload) → per-clip stats through the REAL WAV decode
    path: sample rate, frame/channel counts, duration, RMS, peak,
    zero-crossing rate — the map-only decode/feature stage shape
    (Arrow-batched, no shuffle)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x, rate = decode_audio(bytes(payload))
                mono = x if x.ndim == 1 else x.mean(axis=1)
                n = x.shape[0]
                nch = 1 if x.ndim == 1 else x.shape[1]
                zc = (
                    float(np.count_nonzero(np.diff(np.signbit(mono))))
                    / max(1, n - 1)
                )
                rows.append(
                    (
                        int(doc_id),
                        int(rate),
                        int(n),
                        int(nch),
                        1000.0 * n / rate,
                        float(np.sqrt(np.mean(mono**2))) if n else 0.0,
                        float(np.abs(mono).max()) if n else 0.0,
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields]
            )

    return media.select("doc_id", "payload").mapInPandas(
        kernel, AUDIO_STATS_SCHEMA
    )


# --------------------------------------------------------------------- #
# video: MJPEG-in-AVI — RIFF walk + per-frame baseline-JPEG decode
# --------------------------------------------------------------------- #


def decode_video_frames(payload: bytes) -> tuple[list[bytes], float]:
    """Extract the frame payloads of a Motion-JPEG AVI → (frames, fps).

    Walks RIFF/AVI structure: the ``hdrl`` LIST's ``avih`` gives the
    frame period, and its ``strl`` lists' ``strh`` headers give each
    stream's type in stream order. The ``movi`` LIST's ``NNdc``/``NNdb``
    chunks of the first ``vids`` stream ``NN`` carry one JPEG per frame
    (the MJPG layout); a file with no ``strh`` is read as stream 0.
    Frames are returned as raw JPEG bytes so the caller picks the
    sampling rate BEFORE paying any decode cost — the frame-sample
    pattern of a 100 TB video pipeline.
    Other codecs (H.264, VP9…) genuinely need codec libraries — any
    non-JPEG frame payload raises at decode time, and a non-AVI
    container raises here."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError(
            "only RIFF/AVI (Motion-JPEG) video decodes natively"
        )
    fps = 0.0
    stream_types: list[bytes] = []
    chunks: list[tuple[bytes, bytes]] = []  # (stream id, body)

    def walk(start: int, end: int) -> None:
        nonlocal fps
        i = start
        while i + 8 <= end:
            cid = payload[i : i + 4]
            ln = int.from_bytes(payload[i + 4 : i + 8], "little")
            body_start = i + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + ln)  # skip list type
            elif cid == b"avih" and ln >= 4:
                usec = int.from_bytes(
                    payload[body_start : body_start + 4], "little"
                )
                fps = 1e6 / usec if usec else 0.0
            elif cid == b"strh" and ln >= 4:
                stream_types.append(payload[body_start : body_start + 4])
            elif cid[2:4] in (b"dc", b"db"):
                chunks.append((cid[:2], payload[body_start : body_start + ln]))
            i = body_start + ln + (ln & 1)  # word alignment

    walk(12, len(payload))
    if not stream_types:
        video = 0
    elif b"vids" in stream_types:
        video = stream_types.index(b"vids")
    else:
        return [], fps
    # the video stream's ids only: frames of other streams (a second
    # video track) never join its frame list
    sid = b"%02d" % video
    return [body for cid, body in chunks if cid == sid], fps


def encode_mjpeg_avi(frames: list[bytes], fps: float = 25.0) -> bytes:
    """JPEG frame payloads → minimal MJPG AVI (the test-side twin)."""
    usec = int(round(1e6 / fps)) if fps else 0

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    avih = chunk(b"avih", usec.to_bytes(4, "little") + bytes(52))
    hdrl = chunk(b"LIST", b"hdrl" + avih)
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("fps", DoubleType()),
        StructField("duration_ms", DoubleType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("mean_luma_first", DoubleType()),
        StructField("mean_luma_mid", DoubleType()),
        StructField("mean_luma_last", DoubleType()),
    ]
)


def decode_video_stats(media: DataFrame, sample: int = 3) -> DataFrame:
    """(doc_id, payload) → per-clip stats via FRAME SAMPLING: the
    container walk is cheap, then only first/middle/last frames pay the
    JPEG decode — the sample-then-decode shape a 100 TB video pipeline
    needs (decoding every frame of every clip is the classic budget
    killer). Map-only, Arrow-batched."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from alix_spark.textops.jpeg import decode_jpeg

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames, fps = decode_video_frames(bytes(payload))
                n = len(frames)
                picks = (
                    [0, n // 2, n - 1] if n else []
                )
                lumas, shape = [], (0, 0)
                for k in picks:
                    img = decode_jpeg(frames[k])
                    if img.ndim == 3:
                        luma = (
                            0.299 * img[:, :, 0]
                            + 0.587 * img[:, :, 1]
                            + 0.114 * img[:, :, 2]
                        )
                    else:
                        luma = img.astype(np.float64)
                    lumas.append(float(luma.mean()))
                    shape = img.shape[:2]
                rows.append(
                    (
                        int(doc_id),
                        n,
                        float(fps),
                        1000.0 * n / fps if fps else 0.0,
                        int(shape[0]),
                        int(shape[1]),
                        *(lumas + [0.0] * (3 - len(lumas))),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_STATS_SCHEMA.fields]
            )

    return media.select("doc_id", "payload").mapInPandas(
        kernel, VIDEO_STATS_SCHEMA
    )
