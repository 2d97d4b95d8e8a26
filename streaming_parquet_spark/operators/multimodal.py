"""Multimodal columns: images/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and tested — schemas, batch iteration,
partition sizing, UDF signatures. The codec seam has three tiers:

1. PIL/soundfile when installed (absent in this container);
2. a dependency-free pure-Python tier over public container formats —
   PNG signature/IHDR parsing and full scanline decode (stdlib zlib +
   unfilter) for images, RIFF/WAVE fmt/data parsing for audio — so
   ``strict=True`` works on REAL bytes even with no codec installed;
3. a clearly-marked deterministic fake (derived from a payload digest)
   for payloads neither tier can decode, ``strict=False`` only —
   ``strict=True`` raises NotImplementedError there, exactly where a
   real codec (PIL/ffmpeg) would plug in.

Scale design: mapInPandas streams Arrow batches — peak memory is
O(batch), not O(partition). Binary payloads at 100 TB should ride their
own partitioning (repartition by a size-balanced key before decode;
``target_batch_rows`` guards per-batch blob volume via
spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
import json
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from streaming_parquet_spark.staging import scope, stage

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def attach_binary(
    df: DataFrame, src_col: str = "text", out_col: str = "blob"
) -> DataFrame:
    """Materialize a binary payload column (here: utf-8 bytes of a string
    column — the fixtures carry no real media; in production this is the
    raw image/audio bytes from the lake)."""
    return df.withColumn(out_col, F.col(src_col).cast("binary"))


# --- Codec-free parsers over public container formats ----------------
# PNG per the W3C PNG specification (8-byte signature, IHDR first chunk,
# zlib-deflated filtered scanlines in IDAT); WAV per the RIFF/WAVE
# container layout ('RIFF' <size> 'WAVE', then 'fmt '/'data' chunks).
# These make strict=True REAL in dependency-free environments: image and
# audio metadata come from actual header bytes, and resize decodes
# actual scanlines — no PIL/soundfile needed for the supported subset.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> samples per pixel (0 gray, 2 RGB, 3 palette, 4 gray+A, 6 RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def parse_png_header(payload: bytes):
    """Parse a PNG signature + IHDR chunk from real bytes.

    Returns ``(width, height, channels, bit_depth, color_type,
    interlace)`` or ``None`` if the payload is not a PNG.
    """
    if len(payload) < 33 or not payload.startswith(_PNG_SIG):
        return None
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    width, height, bit_depth, color_type, _comp, _filt, interlace = (
        struct.unpack(">IIBBBBB", payload[16:29])
    )
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or width == 0 or height == 0:
        return None
    return width, height, channels, bit_depth, color_type, interlace


def _png_chunks(payload: bytes):
    pos = 8
    n = len(payload)
    while pos + 8 <= n:
        length, ctype = struct.unpack(">I4s", payload[pos:pos + 8])
        yield ctype, payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # data + 4-byte length/type/crc framing
        if ctype == b"IEND":
            break


def decode_png_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG to 8-bit grayscale pixels with no codec dependency:
    inflate the IDAT stream (stdlib zlib), reverse the per-scanline
    filters (None/Sub/Up/Average/Paeth), and reduce color to integer
    ITU-R 601 luma ``(299R + 587G + 114B + 500) // 1000``.

    Supported subset: bit depth 8, non-interlaced, non-palette (color
    types 0/2/4/6) — the dominant shape of ML-pipeline PNGs. Raises
    ValueError for non-PNG bytes and NotImplementedError outside the
    subset. Returns ``(width, height, row-major luma bytes)``.
    """
    hdr = parse_png_header(payload)
    if hdr is None:
        raise ValueError("not a PNG payload")
    width, height, channels, bit_depth, color_type, interlace = hdr
    if bit_depth != 8 or interlace != 0 or color_type == 3:
        raise NotImplementedError(
            "pure-Python PNG decode supports bit depth 8, non-interlaced,"
            f" non-palette images (got depth={bit_depth},"
            f" color_type={color_type}, interlace={interlace})"
        )
    raw = zlib.decompress(
        b"".join(d for t, d in _png_chunks(payload) if t == b"IDAT")
    )
    bpp = channels  # bytes per pixel at depth 8
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"PNG scanline data is {len(raw)} bytes, expected"
            f" {(stride + 1) * height}"
        )
    out = bytearray(width * height)
    prev = bytearray(stride)
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        row0 = y * width
        if channels == 1:
            out[row0:row0 + width] = line
        elif channels == 2:  # gray + alpha: keep the gray sample
            out[row0:row0 + width] = line[0::2]
        else:  # RGB / RGBA
            for x in range(width):
                j = x * bpp
                out[row0 + x] = (
                    line[j] * 299 + line[j + 1] * 587 + line[j + 2] * 114
                    + 500
                ) // 1000
        prev = line
    return width, height, bytes(out)


def _resize_gray_nearest(
    src_w: int, src_h: int, pix: bytes, dst_w: int, dst_h: int
) -> bytes:
    """Nearest-neighbor resample of row-major 8-bit gray pixels
    (deterministic floor mapping ``sx = x * src_w // dst_w``)."""
    out = bytearray(dst_w * dst_h)
    for y in range(dst_h):
        srow = min(src_h - 1, (y * src_h) // dst_h) * src_w
        drow = y * dst_w
        for x in range(dst_w):
            out[drow + x] = pix[srow + min(src_w - 1, (x * src_w) // dst_w)]
    return bytes(out)


def parse_wav_header(payload: bytes):
    """Parse a RIFF/WAVE container's fmt and data chunks from real
    bytes. Returns ``(sample_rate, n_frames, duration_sec, "WAV")`` or
    ``None`` if the payload is not a WAV."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        return None
    pos = 12
    rate = block_align = data_size = None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack("<4sI", payload[pos:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            _tag, _ch, rate, _brate, block_align, _bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not rate or not block_align or data_size is None:
        return None
    n = data_size // block_align
    # duration floored to whole microseconds (integer division) — same
    # convention as the fake codec; python round(n/rate, 6) is a
    # half-even trap when n/rate terminates exactly at the 7th decimal
    # (every odd frame count at 16 kHz)
    return rate, n, (n * 1_000_000 // rate) / 1e6, "WAV"


def parse_jpeg_header(payload: bytes):
    """Parse JPEG dimensions from real bytes (public JPEG/JFIF marker
    layout): walk the marker segments from SOI to the first SOFn frame
    header (C0-CF excluding DHT C4 / JPG C8 / DAC CC), which carries
    precision, height, width, and component count. Returns
    ``(width, height, channels)`` or ``None`` if not a JPEG."""
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        if pos + 4 > n:
            return None
        seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        if seg_len < 2:
            # The length field counts itself; < 2 is structurally
            # invalid and advancing by 2+seg_len would land inside the
            # segment payload, risking payload bytes misread as a SOF
            # marker. Reject rather than misparse.
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n or seg_len < 7:
                return None
            height, width = struct.unpack(">HH", payload[pos + 5:pos + 9])
            channels = payload[pos + 9] if pos + 9 < n else 0
            if width == 0 or height == 0 or channels == 0:
                return None
            return width, height, channels
        pos += 2 + seg_len
    return None


def parse_gif_header(payload: bytes):
    """Parse GIF logical-screen dimensions from real bytes (public
    GIF87a/GIF89a layout: 6-byte signature, then width/height as
    little-endian u16). Returns ``(width, height, channels)`` (palette
    GIFs render RGB -> 3) or ``None`` if not a GIF."""
    if len(payload) < 10 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    if width == 0 or height == 0:
        return None
    return width, height, 3


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic FAKE decode: pseudo-dimensions from a digest of the
    payload. Stands in for PIL/libvips; replace in `_decode_one`."""
    d = hashlib.md5(payload).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    channels = 1 + (d[2] % 2) * 2  # 1 or 3
    return width, height, channels, "fake"


def _decode_one(payload: bytes, strict: bool) -> tuple[int, int, int, str]:
    try:
        from PIL import Image  # absent in this container; real elsewhere
        import io
    except ImportError:
        Image = None
    if Image is not None:
        try:
            with Image.open(io.BytesIO(payload)) as im:
                return (
                    im.width, im.height, len(im.getbands()), im.format or "?"
                )
        except Exception:
            # Codec present but the payload is not a decodable image.
            # strict surfaces it; otherwise fall back to the
            # deterministic fake so pipelines keep moving.
            if strict:
                raise
            return _fake_decode(payload)
    # No codec installed: parse PNG / JPEG / GIF headers from real
    # bytes (public W3C / JFIF / GIF specs) — strict mode stays honest
    # without any dependency.
    hdr = parse_png_header(payload)
    if hdr is not None:
        return hdr[0], hdr[1], hdr[2], "PNG"
    jpg = parse_jpeg_header(payload)
    if jpg is not None:
        return jpg[0], jpg[1], jpg[2], "JPEG"
    gif = parse_gif_header(payload)
    if gif is not None:
        return gif[0], gif[1], gif[2], "GIF"
    if strict:
        raise NotImplementedError(
            "image codec not available and payload is not a"
            " PNG/JPEG/GIF; install Pillow or use strict=False for the"
            " fake decoder"
        )
    return _fake_decode(payload)


def decode_images(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    strict: bool = False,
    target_batch_rows: int | None = None,
) -> DataFrame:
    """Decode image metadata from binary payloads via mapInPandas.

    Output schema: id, n_bytes, width, height, channels, format.

    ``target_batch_rows``, when set, caps Arrow batch row counts via
    spark.sql.execution.arrow.maxRecordsPerBatch — a SESSION-wide
    setting (it outlives this call); set it when blobs are large enough
    that the default 10k-row batches would not fit executor memory.
    """
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
        ]
        + list(IMAGE_META_SCHEMA.fields)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [_decode_one(bytes(b), strict) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "n_bytes": pdf[blob_col].map(len).astype("int64"),
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "channels": [m[2] for m in metas],
                    "format": [m[3] for m in metas],
                }
            )

    narrow = df.select(id_col, blob_col)
    if target_batch_rows is not None:
        narrow.sparkSession.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(target_batch_rows),
        )
    return narrow.mapInPandas(batches, out_schema)


def extract_features(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    dims: int = 16,
) -> DataFrame:
    """Deterministic fake feature vector (md5-seeded) per payload —
    the plumbing for a model-based embedder: same signature, same
    array<float> output column, mapInPandas batching."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_features_one(bytes(b), dims) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {"id": pdf[id_col].astype("int64"), "features": feats}
            )

    return df.select(id_col, blob_col).mapInPandas(batches, schema)


def _features_one(b: bytes, dims: int) -> list[float]:
    """Per-row md5-seeded fake feature vector — shared by
    :func:`extract_features` and :func:`probe_media` so both emit
    bit-identical floats."""
    d = hashlib.md5(b).digest()
    return [((d[i % 16] / 255.0) * 2 - 1) for i in range(dims)]


def _resize_fn(width: int, height: int, strict: bool):
    """Per-row resize codec (PIL if installed, else pure-Python PNG
    decode + nearest-neighbor, else the deterministic digest fake) —
    extracted so :func:`resize_images` and the fused
    :func:`probe_media` run the IDENTICAL per-payload function.
    Construct once per task (guide §4.5), call per row."""

    def _fake_resize(b: bytes) -> bytes:
        # FAKE resample: digest-seeded bytes, one per target pixel
        # (single channel) — deterministic and size-correct.
        seed = hashlib.md5(b).digest()
        n = width * height
        return (seed * (n // len(seed) + 1))[:n]

    try:
        from PIL import Image
        import io

        def _resize(b: bytes) -> bytes:
            try:
                with Image.open(io.BytesIO(b)) as im:
                    return im.convert("L").resize((width, height)).tobytes()
            except Exception:
                if strict:
                    raise
                return _fake_resize(b)

    except ImportError:
        # No codec: decode PNG scanlines in pure Python (stdlib
        # zlib + unfilter) and nearest-neighbor resample — real
        # pixels, no dependency. Non-PNG payloads: strict raises,
        # otherwise the deterministic fake.
        def _resize(b: bytes) -> bytes:
            try:
                sw, sh, pix = decode_png_gray(b)
            except Exception as exc:
                if strict:
                    raise NotImplementedError(
                        "no image codec installed and payload is not"
                        " a decodable PNG; install Pillow or use"
                        " strict=False for the deterministic fake"
                    ) from exc
                return _fake_resize(b)
            return _resize_gray_nearest(sw, sh, pix, width, height)

    return _resize


def resize_images(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
    strict: bool = False,
) -> DataFrame:
    """Resize stub with real Spark plumbing: mapInPandas over Arrow
    batches, output (id, width, height, resized_bytes). The resample
    kernel is the stubbed codec step — strict=True raises where
    PIL.Image.resize would run; the fake path emits a deterministic
    payload of the target size derived from the source digest, so batch
    shapes, schemas, and partitioning are exercised end-to-end."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("resized_bytes", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _resize = _resize_fn(width, height, strict)
        for pdf in it:
            payloads = [_resize(bytes(b)) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "width": width,
                    "height": height,
                    "resized_bytes": payloads,
                }
            )

    return df.select(id_col, blob_col).mapInPandas(batches, out_schema)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("format", T.StringType()),
    ]
)


def _audio_probe_fn(strict: bool):
    """Per-row audio metadata codec (soundfile if installed, else the
    RIFF/WAVE header parse, else the deterministic digest fake) —
    extracted so :func:`decode_audio` and the fused :func:`probe_media`
    run the IDENTICAL per-payload function. Construct once per task,
    call per row."""

    def _fake_audio(b: bytes) -> tuple[int, int, float, str]:
        d = hashlib.md5(b).digest()
        rate = (8000, 16000, 22050, 44100)[d[0] % 4]
        n = len(b) * 16 + d[1]
        # duration floored to whole microseconds via integer division —
        # round(n/rate, 6) is a half-even/half-up portability trap when
        # n/rate terminates exactly at the 7th decimal (every odd n at
        # 16 kHz: n/16000 = ...5e-7)
        return rate, n, (n * 1_000_000 // rate) / 1e6, "fake"

    try:
        import soundfile as sf
        import io

        def _probe(b: bytes) -> tuple[int, int, float, str]:
            try:
                info = sf.info(io.BytesIO(b))
                # integer-us floor, same convention as the WAV
                # parser and fake codec (round() is a half-even
                # trap on exact 7th-decimal durations)
                return (
                    info.samplerate,
                    info.frames,
                    (info.frames * 1_000_000 // info.samplerate) / 1e6,
                    info.format,
                )
            except Exception:
                if strict:
                    raise
                return _fake_audio(b)

    except ImportError:
        # No codec: parse the RIFF/WAVE fmt + data chunks from real
        # bytes (public container layout). Non-WAV payloads: strict
        # raises, otherwise the deterministic fake.
        def _probe(b: bytes) -> tuple[int, int, float, str]:
            meta = parse_wav_header(b)
            if meta is not None:
                return meta
            if strict:
                raise NotImplementedError(
                    "no audio codec installed and payload is not a"
                    " RIFF/WAVE; install soundfile or use"
                    " strict=False for the deterministic fake"
                )
            return _fake_audio(b)

    return _probe


def decode_audio(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    strict: bool = False,
) -> DataFrame:
    """Audio metadata decode stub (the soundfile/ffprobe seam):
    mapInPandas plumbing real, codec faked deterministically from the
    payload (strict=True raises NotImplementedError at the codec)."""
    out_schema = T.StructType(
        [T.StructField("id", T.LongType())] + list(AUDIO_META_SCHEMA.fields)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _probe = _audio_probe_fn(strict)
        for pdf in it:
            metas = [_probe(bytes(b)) for b in pdf[blob_col]]
            rates = [m[0] for m in metas]
            counts = [m[1] for m in metas]
            durs = [m[2] for m in metas]
            fmts = [m[3] for m in metas]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "sample_rate": rates,
                    "n_samples": counts,
                    "duration_sec": durs,
                    "format": fmts,
                }
            )

    return df.select(id_col, blob_col).mapInPandas(batches, out_schema)


#: probe_media's output row: every per-payload decode the multimodal
#: surface needs, one row per document.
PROBE_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("audio_format", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def probe_media(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
    dims: int = 16,
    strict: bool = False,
) -> DataFrame:
    """Every per-payload decode in ONE ``mapInPandas`` pass: image
    metadata (:func:`decode_images`' codec), the resized-payload md5
    digest (:func:`resize_images`' codec at ``width`` x ``height``,
    digested as ``md5(lower(hex(bytes)))`` — the exact expression the
    JVM applies to ``resized_bytes``), audio metadata
    (:func:`decode_audio`'s codec), and the ``dims``-dim feature
    vector (:func:`extract_features`' codec). One row per document.

    Why fused: each of the four operators ships the SAME payload bytes
    JVM -> Python -> JVM independently — four Arrow serializations of
    the corpus's heaviest column for four decodes that can run side by
    side on bytes already in hand (guide §4.1: you cannot remove the
    boundary cost, but you control how many times the columns cross).
    The per-row codecs are the operators' own functions (shared
    helpers), so every value is bit-identical to running the four
    operators separately; downstream consumers project/explode from
    this one narrow metadata row (guide §8: decide with small rows,
    move the heavy bytes once)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _resize = _resize_fn(width, height, strict)
        _probe = _audio_probe_fn(strict)
        for pdf in it:
            bs = [bytes(b) for b in pdf[blob_col]]
            metas = [_decode_one(b, strict) for b in bs]
            audio = [_probe(b) for b in bs]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "n_bytes": [len(b) for b in bs],
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "channels": [m[2] for m in metas],
                    "format": [m[3] for m in metas],
                    "payload_md5": [
                        hashlib.md5(
                            _resize(b).hex().encode()
                        ).hexdigest()
                        for b in bs
                    ],
                    "sample_rate": [a[0] for a in audio],
                    "n_samples": [a[1] for a in audio],
                    "duration_sec": [a[2] for a in audio],
                    "audio_format": [a[3] for a in audio],
                    "features": [_features_one(b, dims) for b in bs],
                }
            )

    return df.select(id_col, blob_col).mapInPandas(
        batches, PROBE_MEDIA_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    every_n_bytes: int = 64,
    max_frames: int = 8,
) -> DataFrame:
    """'Video' frame sampling stand-in: slice the payload into frame
    chunks (JVM-side — no Python needed for the slicing itself), explode
    to (id, frame_idx, frame_bytes). The real codec swaps the slicer for
    keyframe extraction; the explode/partition shape is identical."""
    last = F.greatest(
        F.lit(0),
        F.floor((F.length(blob_col) - 1) / every_n_bytes).cast("int"),
    )
    idx = F.sequence(F.lit(0), F.least(F.lit(max_frames - 1), last))
    exploded = (
        df.select(id_col, blob_col)
        .withColumn("frame_idx", F.explode(idx))
        .select(
            F.col(id_col).alias("id"),
            "frame_idx",
            F.expr(
                f"substring({blob_col}, frame_idx * {every_n_bytes} + 1,"
                f" {every_n_bytes})"
            ).alias("frame_bytes"),
        )
    )
    return exploded


# --- Interleaved image-text window packing ---------------------------
# The multimodal analogue of pipeline.pack_token_windows (VERDICT r12
# item 4): documents are SEGMENT sequences (text id runs and images),
# an image contributes a fixed patch-token run that may never split
# across windows, and every window carries modality-tagged spans so the
# trainer can inject patch embeddings and mask non-text loss. Public
# design: the LLaVA/Flamingo-style interleaved packing recipes.

#: the segments column's element type pack_multimodal_windows expects
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("ref", T.StringType()),
        T.StructField("n_patches", T.IntegerType()),
    ]
)


def pack_multimodal_windows(
    df: DataFrame,
    segments_col: str,
    budget: int,
    part_col: str,
    order_col: str = "doc_id",
    bucket_docs: int = 64,
    pad_id: int = 0,
    image_token_id: int | None = None,
    eos_id: int | None = None,
    out_col: str = "ids",
    spans_col: str = "spans",
    validate_order: bool = True,
) -> DataFrame:
    """Pack interleaved image-text documents into fixed-``budget``
    training windows under the token-shard contract.

    Each document is an ordered ``segments_col`` array (see
    ``SEGMENT_SCHEMA``): ``modality='text'`` segments carry token ids;
    ``modality='image'`` segments carry ``n_patches`` (the image's
    patch-token budget) and a ``ref`` (the key into the binary
    sidecar where the actual payload lives — the data plane stays an
    opaque binary column, decoded by the tiered codecs above). In the
    packed window an image occupies ``n_patches`` positions filled
    with ``image_token_id`` — the trainer swaps those embeddings for
    the vision tower's output — and IMAGES NEVER SPLIT across windows
    (half an image is untrainable): a document whose next segment run
    would cross the boundary pads the window out and continues in the
    next one... except documents are packed ATOMICALLY here (a
    document whose total length exceeds ``budget`` refuses — split
    upstream), which also keeps text->image ordering intact inside
    one attention context.

    Output: (``part_col``, win, ``out_col`` exactly ``budget`` long,
    n_tokens, doc_starts, ``spans_col``) — spans are
    (start, end, modality, ref) half-open runs covering every real
    token, so :func:`multimodal_loss_spans` + pipeline's
    ``with_span_labels`` yield labels that mask every non-text
    position, and ``write_token_shards`` persists the frame unchanged
    under its sidecar contract (spans ride as a payload column).

    Determinism and scale: documents are bucketed ``bucket_docs`` at
    a time in ``order_col`` order (one row_number per partition — the
    same shuffle shape as the text packer), and each bucket greedily
    packs IN ORDER inside one Arrow batch (``applyInPandas`` over
    (part, bucket) groups — group size is bounded by ``bucket_docs``,
    so executor memory is O(bucket), never O(partition)). Window ids
    ``bucket * bucket_docs + local`` are dense enough to be unique
    (>= 1 doc per window) and are a pure function of (data, order) —
    identical across partitionings and restarts. The greedy fold is
    DuckDB-replayable (list_reduce over per-doc lengths), which is
    what keeps the driver oracle honest."""
    if int(budget) < 1:
        raise ValueError(f"budget must be >= 1 (got {budget})")
    if int(bucket_docs) < 1:
        raise ValueError(f"bucket_docs must be >= 1 (got {bucket_docs})")
    from pyspark.sql import Window as W

    elem = (
        df.schema[segments_col].dataType.elementType["ids"]
        .dataType.elementType
    )
    out_schema = T.StructType(
        [
            df.schema[part_col],
            T.StructField("win", T.LongType(), False),
            T.StructField(out_col, T.ArrayType(elem), False),
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("doc_starts", T.ArrayType(T.IntegerType()), False),
            T.StructField(
                spans_col,
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("start", T.IntegerType()),
                            T.StructField("end", T.IntegerType()),
                            T.StructField("modality", T.StringType()),
                            T.StructField("ref", T.StringType()),
                        ]
                    )
                ),
                False,
            ),
        ]
    )
    budget = int(budget)
    bucket_docs_i = int(bucket_docs)
    pad = int(pad_id)
    img_id = None if image_token_id is None else int(image_token_id)
    eos = None if eos_id is None else int(eos_id)
    seg_name, part_name, order_name = segments_col, part_col, order_col

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order_vals = pdf[order_name].to_numpy()
        seg_vals = pdf[seg_name].to_numpy()
        order_idx = order_vals.argsort(kind="mergesort")
        part_val = pdf[part_name].iloc[0]
        wins: list[dict] = []
        cur_ids: list[int] = []
        cur_spans: list[tuple] = []
        cur_starts: list[int] = []

        def _close(local: int) -> None:
            n = len(cur_ids)
            wins.append(
                {
                    part_name: part_val,
                    "win": local,
                    out_col: cur_ids + [pad] * (budget - n),
                    "n_tokens": n,
                    "doc_starts": list(cur_starts),
                    spans_col: [
                        {"start": s, "end": e, "modality": m, "ref": r}
                        for (s, e, m, r) in cur_spans
                    ],
                }
            )

        for i in order_idx:
            oid, segs = order_vals[i], seg_vals[i]
            if segs is None:
                continue
            flat: list[tuple] = []  # (modality, ids list, ref)
            for s in segs:
                if s is None:
                    raise ValueError(
                        f"pack_multimodal_windows: document {oid!r} "
                        f"carries a NULL segment element — refuse "
                        f"rather than silently drop content (an "
                        f"upstream join leak?)"
                    )
                m = s["modality"]
                if m == "text":
                    raw = s["ids"]  # numpy array via Arrow; None possible
                    ids = [] if raw is None else [int(x) for x in raw]
                    if ids:
                        flat.append(("text", ids, None))
                elif m == "image":
                    raw_np = s["n_patches"]
                    if raw_np is None or int(raw_np) < 1:
                        raise ValueError(
                            f"pack_multimodal_windows: image segment "
                            f"of document {oid!r} has n_patches="
                            f"{raw_np!r} — every image needs a "
                            f"positive patch budget (an upstream "
                            f"decode failure?); drop the segment "
                            f"explicitly upstream if intended"
                        )
                    if img_id is None:
                        raise ValueError(
                            "pack_multimodal_windows: document "
                            f"{oid!r} carries an image segment but "
                            "no image_token_id was given"
                        )
                    flat.append(
                        ("image", [img_id] * int(raw_np), s["ref"])
                    )
                else:
                    raise ValueError(
                        f"pack_multimodal_windows: unknown modality "
                        f"{m!r} in document {oid!r}"
                    )
            if eos is not None and flat:
                flat.append(("text", [eos], None))
            doc_len = sum(len(ids) for _m, ids, _r in flat)
            if doc_len == 0:
                continue
            if doc_len > budget:
                raise ValueError(
                    f"pack_multimodal_windows: document "
                    f"{oid!r} is {doc_len} tokens — past "
                    f"the {budget} budget; documents pack atomically "
                    f"(split oversized documents upstream)"
                )
            if len(cur_ids) + doc_len > budget:
                _close(len(wins))
                cur_ids, cur_spans, cur_starts = [], [], []
            cur_starts.append(len(cur_ids))
            for m, ids, ref in flat:
                start = len(cur_ids)
                cur_ids.extend(ids)
                cur_spans.append((start, len(cur_ids), m, ref))
        if cur_ids:
            _close(len(wins))
        bucket = int(pdf["__bucket"].iloc[0])
        for w in wins:
            w["win"] = bucket * bucket_docs_i + w["win"]
        return pd.DataFrame(
            wins,
            columns=[part_name, "win", out_col, "n_tokens",
                     "doc_starts", spans_col],
        )

    from streaming_parquet_spark.operators.pipeline import (
        _unique_order_guard,
    )

    rn = F.row_number().over(
        W.partitionBy(part_col).orderBy(order_col)
    )
    bucket = ((rn - 1) / bucket_docs_i).cast("bigint")
    if validate_order:
        # same determinism contract as the text packers: duplicate
        # order keys make bucket assignment tie-order-dependent. The
        # guard rides the SAME window spec as rn (one Exchange+Sort,
        # reused) and is 0 on every valid row — adding it into the
        # bucket expression keeps column pruning from eliding it.
        bucket = bucket + _unique_order_guard(
            [part_col], order_col, "pack_multimodal_windows"
        )
    bucketed = df.withColumn("__bucket", bucket)
    return bucketed.groupBy(part_col, "__bucket").applyInPandas(
        _pack, out_schema
    )


def multimodal_loss_spans(
    df: DataFrame, spans_col: str = "spans", out_col: str = "loss_spans"
) -> DataFrame:
    """The TEXT spans of a packed multimodal frame — the loss regions.
    Feed the result to pipeline's ``with_span_labels``: image patch
    positions (and the transitions into them) mask to ignore_index,
    text continues to supervise next-token — loss-side only, the model
    still attends across the full interleaved context."""
    return df.withColumn(
        out_col,
        F.filter(
            F.col(spans_col), lambda s: s["modality"] == F.lit("text")
        ),
    )


# --- Binary payload plane (VERDICT r13 item 2) ------------------------
# pack_multimodal_windows' image segments carry a ``ref`` "into the
# binary sidecar" — this is that sidecar, under the same manifest
# discipline as the token plane (pipeline.write_token_shards):
# content-addressed blobs sharded by a portable hash of the ref,
# written partitioned with a ``_manifest`` sidecar of per-shard XOR
# content fingerprints, verifiable in one scan with the
# absence/corruption/tamper trichotomy (pipeline.verify_shards is
# REUSED, not copied), and resolvable back onto packed windows' spans
# with partition pruning on the recomputable shard key.

#: payload-store contract version; readers refuse anything else.
#: v2: data rows and sidecar rows carry a ``wave`` id (append
#: attribution) and the sidecar is per-(shard, wave) — v1 stores
#: refuse with the pinned format message instead of an unresolved-
#: column planner error.
PAYLOAD_STORE_FORMAT = "payload-store-v2"

_PAYLOAD_CONTRACT_COLS = ("format", "n_shards", "ref_col", "payload_col")

#: append_payload_store's return rows (the wave promise, sans contract)
_PAYLOAD_WAVE_SCHEMA = (
    "shard int, wave string, n_payloads bigint, n_refs bigint,"
    " n_bytes bigint, fp_a bigint, fp_b bigint"
)

#: one sidecar row per (shard, wave): waves make appends attributable
#: (a crashed append's replay re-digests ITS OWN wave's rows and
#: repairs), and the per-shard promise is the waves' composition —
#: counts/bytes add, XOR fingerprints fold
_PAYLOAD_MANIFEST_SCHEMA = (
    "shard int, wave string, n_payloads bigint, n_refs bigint,"
    " n_bytes bigint, fp_a bigint, fp_b bigint, format string,"
    " n_shards int, ref_col string, payload_col string"
)


def mint_payload_refs(
    df: DataFrame, payload_col: str = "payload", out_col: str = "ref"
) -> DataFrame:
    """Content-addressed refs: md5 hex of the payload bytes — the key
    ``pack_multimodal_windows``' image segments carry.  Identical
    payloads mint identical refs, so ``dropDuplicates([out_col])``
    after this IS the store-level dedup; :func:`write_payload_store`
    refuses a ref bound to two DIFFERENT payloads (a forged key or a
    hash collision must never silently pick a winner)."""
    return df.withColumn(out_col, F.md5(F.col(payload_col)))


def _payload_shard_expr(ref_col: str, n_shards: int):
    """Deterministic shard in [0, n_shards) from a ref string —
    portable (hex_word_expr over md5 is identical text in Spark and
    DuckDB), recomputable at read time, so resolvers can derive the
    partition key from the ref alone and prune the store scan."""
    from streaming_parquet_spark.functions.portable import hex_word_expr

    return F.expr(
        f"({hex_word_expr(f'md5({ref_col})', 1)}) % {int(n_shards)}"
    ).cast("int")


def _payload_digest_frame(
    frame: DataFrame, ref_col: str, payload_col: str, shard=None
) -> DataFrame:
    """Project payload rows to the (shard, key, payload-hex) digest
    space shared by the manifest (the promise) and
    :func:`verify_payload_store`'s prepare hook (the readback) — one
    definition, so the two sides agree by construction.  A null or
    empty ref, or a NULL payload, RAISES from the projection itself:
    a null blob in a binary store is a lost payload, and the
    null-skipping digest would hide it.  ``shard`` optionally carries
    a shard Column through (the manifest derives it from the ref, the
    verifier reads the partition column back)."""
    bad = (
        F.col(ref_col).isNull()
        | (F.col(ref_col).cast("string") == "")
        | F.col(payload_col).isNull()
    )
    guarded = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit("payload store: null/empty ref or NULL payload "
                      "(ref="),
                F.coalesce(F.col(ref_col).cast("string"), F.lit("NULL")),
                F.lit(") — mint refs first (mint_payload_refs) and "
                      "drop lost blobs explicitly"),
            )
        ).cast("binary"),
    ).otherwise(F.col(payload_col))
    lead = [] if shard is None else [shard.cast("int").alias("shard")]
    return frame.select(
        *lead,
        F.col(ref_col).cast("string").alias("__ref_key"),
        F.lower(F.hex(guarded)).alias("__payload_hex"),
    )


def payload_store_manifest(
    df: DataFrame,
    n_shards: int,
    ref_col: str = "ref",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-shard manifest of a payload frame: one row per shard with
    n_payloads, n_refs (distinct), n_bytes, and the same
    order-insensitive fp_a/fp_b XOR digests as
    ``profile.batch_manifest`` (REUSED) over md5(ref ':' payload-hex)
    — DuckDB-replayable, the r4 recipe.  One map-side-combined
    pass."""
    from streaming_parquet_spark.operators.profile import batch_manifest

    derived = _payload_digest_frame(
        df, ref_col, payload_col,
        shard=_payload_shard_expr(ref_col, n_shards),
    )
    m = batch_manifest(
        derived,
        batch_col="shard",
        id_col="__ref_key",
        text_col="__payload_hex",
        extra_aggs=[
            # hex doubles length; /2 recovers the byte count exactly
            F.expr(
                "coalesce(sum(CAST(length(__payload_hex) / 2 AS "
                "BIGINT)), CAST(0 AS BIGINT))"
            ).alias("n_bytes"),
            F.countDistinct("__ref_key").alias("n_refs"),
        ],
    )
    return m.select(
        "shard",
        F.col("n_docs").alias("n_payloads"),
        "n_refs",
        "n_bytes",
        "fp_a",
        "fp_b",
    )


def payload_set_content_fp(manifest: DataFrame) -> dict:
    """Identity-free content fingerprint of a payload set, folded from
    its manifest rows: XOR of the per-(shard, wave) XOR digests — i.e.
    the XOR over every blob's md5(ref ':' payload-hex) — plus
    blob/ref/byte totals (ref counts sum cleanly across waves because
    appends land each ref in exactly one wave).  Invariant under
    re-sharding (the shard key is a pure
    function of the ref and drops out of the fold) and under wave
    attribution (appends land each ref exactly once), so it is the
    payload-plane analogue of ``pipeline.shard_set_content_fp``: equal
    fingerprints mean the same SET of (ref, payload) blobs, whatever
    layout carries them.  Accepts either the ``_manifest`` sidecar or
    :func:`payload_store_manifest`'s output (no wave column) — the fold
    only touches the digest columns.  Manifest-sized: one collect of a
    single row, never a data scan (the data-level truth is
    :func:`verify_payload_store`'s job)."""
    row = manifest.groupBy().agg(
        F.expr("bit_xor(fp_a)").alias("fp_a"),
        F.expr("bit_xor(fp_b)").alias("fp_b"),
        F.sum("n_payloads").alias("n_payloads"),
        F.sum("n_refs").alias("n_refs"),
        F.sum("n_bytes").alias("n_bytes"),
    ).first()
    if row["n_payloads"] is None:
        raise ValueError(
            "payload_set_content_fp: empty manifest — no blobs to "
            "fingerprint (an empty payload set has no content identity)"
        )
    return {
        "fp_a": int(row["fp_a"]),
        "fp_b": int(row["fp_b"]),
        "n_payloads": int(row["n_payloads"]),
        "n_refs": int(row["n_refs"]),
        "n_bytes": int(row["n_bytes"]),
    }


def _payload_wave_id(batch_man: list) -> str:
    """Deterministic wave id of a payload batch — a pure function of
    the batch's per-shard content fingerprints, so a crashed append's
    REPLAY computes the same id and can find (and repair around) the
    rows its first attempt landed."""
    key = json.dumps(
        sorted(
            (int(r["shard"]), int(r["fp_a"]), int(r["fp_b"]),
             int(r["n_payloads"]))
            for r in batch_man
        )
    )
    return "w-" + hashlib.md5(key.encode()).hexdigest()[:12]


def _payload_manifest_frame(
    spark, rows: list, wave: str, n: int, rc: str, pc: str
) -> DataFrame:
    """One wave's ``_manifest`` sidecar rows from
    :func:`payload_store_manifest`'s collected rows — the ONE
    construction every sidecar writer shares (the bootstrap write,
    both of append's legs, the torn-bootstrap repair), so the row
    layout cannot drift between them (r15 review pass 2 — the same
    drifted-copies hazard the r14 review fixed for the contract
    checks)."""
    return spark.createDataFrame(
        [
            (
                int(r["shard"]), wave, int(r["n_payloads"]),
                int(r["n_refs"]), int(r["n_bytes"]), int(r["fp_a"]),
                int(r["fp_b"]), PAYLOAD_STORE_FORMAT, int(n), rc, pc,
            )
            for r in rows
        ],
        _PAYLOAD_MANIFEST_SCHEMA,
    )


def _payload_wave_frame(spark, rows: list, wave: str) -> DataFrame:
    """The same rows in the contract-free :data:`_PAYLOAD_WAVE_SCHEMA`
    shape append/ingest return to callers."""
    return spark.createDataFrame(
        [
            (
                int(r["shard"]), wave, int(r["n_payloads"]),
                int(r["n_refs"]), int(r["n_bytes"]), int(r["fp_a"]),
                int(r["fp_b"]),
            )
            for r in rows
        ],
        _PAYLOAD_WAVE_SCHEMA,
    )


def write_payload_store(
    df: DataFrame,
    path: str,
    n_shards: int,
    ref_col: str = "ref",
    payload_col: str = "payload",
    mode: str = "error",
    marker_store=None,
) -> DataFrame:
    """Persist binary payloads as a verified, content-addressed store:
    one parquet write partitioned by the portable ref-hash shard
    (blobs land in ``shard=N/`` directories readable independently)
    plus a ``_manifest`` sidecar pinning per-shard XOR content
    fingerprints and the contract (format version, shard count, the
    ref/payload column names) — the pixel-plane analogue of
    ``pipeline.write_token_shards``'s token-plane discipline.

    Duplicate refs REFUSE before any data is written: equal payloads
    under one ref are a caller-side dedup miss
    (``dropDuplicates([ref_col])`` after :func:`mint_payload_refs`),
    and two different payloads under one ref are a forged or
    colliding key — silently keeping one would break every window
    whose span resolves to the other.  The check rides the manifest's
    own groupBy (duplicate refs always hash to the same shard), so it
    costs one manifest-sized collect, no extra scan; the collected
    rows then BECOME the sidecar (no second manifest pass).

    Sidecar AFTER data, same crash discipline as the token writer: a
    crash between the legs leaves data with no manifest — loudly
    incomplete — never a manifest promising unwritten blobs.  Returns
    the manifest (with contract columns).  Scale: blobs never cross
    the driver; the manifest is digest-sized; the write is one
    partitioned scan."""
    import os as _os

    from streaming_parquet_spark.operators.pipeline import _refuse_retired

    _refuse_retired(path, "write_payload_store", marker_store)
    spark = df.sparkSession
    n = int(n_shards)
    if n < 1:
        raise ValueError(
            f"write_payload_store: n_shards must be >= 1 (got {n_shards})"
        )
    # The manifest digest pass and the data write are two actions over
    # the SAME input: without a persist the caller's lineage (typically
    # mint_payload_refs + a dropDuplicates shuffle of the full payload
    # bytes) executes twice. Stage around the pair — the second pass
    # reads the materialized rows instead of re-minting and
    # re-shuffling every blob (guide §5: reuse + recompute cost both
    # favor the cache here; MEMORY_AND_DISK spills rather than OOMs at
    # scale). Released before return, success or raise — unless the
    # caller had cached ``df`` already: then the cache is the caller's.
    with scope():
        df = stage(df)
        mrows = [
            r.asDict()
            for r in payload_store_manifest(df, n, ref_col, payload_col)
            .collect()
        ]
        dup = [r["shard"] for r in mrows if r["n_refs"] != r["n_payloads"]]
        if dup:
            raise ValueError(
                f"write_payload_store: duplicate refs in shard(s) "
                f"{sorted(dup)[:5]} — dropDuplicates(['{ref_col}']) after "
                f"mint_payload_refs for equal payloads; two DIFFERENT "
                f"payloads under one ref are a forged or colliding key"
            )
        wave = _payload_wave_id(mrows)
        (
            df.select(
                F.col(ref_col),
                F.col(payload_col),
                F.lit(wave).alias("wave"),
                _payload_shard_expr(ref_col, n).alias("shard"),
            )
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(path)
        )
    manifest = _payload_manifest_frame(
        spark, mrows, wave, n, ref_col, payload_col
    )
    manifest.write.mode(mode).parquet(_os.path.join(path, "_manifest"))
    return manifest


def _payload_contract_of(manifest: DataFrame, what: str, caller: str):
    """The one pinned contract a payload manifest frame carries —
    empty, mixed, and foreign-format sets refuse identically whether
    the frame came from the sidecar or the caller (review r14 pass 2:
    the two paths had drifted copies of these checks).  A manifest
    LACKING the payload contract columns (a token-shard sidecar — the
    cross-plane mistake) refuses by name instead of surfacing an
    unresolved-column analysis error."""
    missing = [
        c for c in _PAYLOAD_CONTRACT_COLS if c not in manifest.columns
    ]
    if missing:
        raise ValueError(
            f"{caller}: {what} is not a payload-store manifest "
            f"(missing contract column(s) {missing}) — a token-shard "
            f"set reads/publishes through the token plane's verbs, "
            f"not the payload plane's (format "
            f"{PAYLOAD_STORE_FORMAT!r})"
        )
    rows = (
        manifest.select(*_PAYLOAD_CONTRACT_COLS).distinct().collect()
    )
    if not rows:
        raise ValueError(
            f"{caller}: {what} has an EMPTY payload manifest — no "
            f"shards were written"
        )
    if len(rows) > 1:
        raise ValueError(
            f"{caller}: {what} carries {len(rows)} distinct payload "
            f"contracts — refusing to guess"
        )
    contract = rows[0].asDict()
    if contract["format"] != PAYLOAD_STORE_FORMAT:
        raise ValueError(
            f"{caller}: {what} is format {contract['format']!r}; "
            f"this build reads {PAYLOAD_STORE_FORMAT!r}"
        )
    return contract


def _payload_contract(spark, path: str, caller: str):
    """(manifest frame, contract dict) of a payload store; refuses an
    absent/unreadable sidecar (pipeline._manifest_frame's taxonomy —
    REUSED so audit verbs classify identically), an empty or mixed
    contract, and a foreign format version."""
    from streaming_parquet_spark.operators.pipeline import _manifest_frame

    manifest = _manifest_frame(spark, path, caller)
    return manifest, _payload_contract_of(manifest, repr(path), caller)


def payload_store_identity(spark, store_path: str) -> list:
    """JSON-able identity of a payload store for reader-state bundles:
    ``[root, format, n_shards, ref_col, payload_col]`` — the fields a
    multimodal resume must agree on before its windows' span refs are
    resolved against the store again.  Token-plane reader state pins
    shard sets, weights, epoch, and vocabulary but (before r15) not the
    PIXEL plane a mixture's refs point into: a resume after a payload
    compaction or re-shard would resolve refs against a store with a
    different contract and the state machinery could not notice
    (VERDICT r14 Missing 2).  Readers fold this list into their minted
    identity under ``payload_store=``; ``_validate_reader_state``'s
    field compare then refuses a swapped, re-sharded, or re-rooted
    store by name.  A list (not a dict) so the bundle survives a JSON
    checkpoint round trip and compares equal, same rule as the
    ``consumed`` watermarks.  For a catalog-managed store pass the
    pinned GENERATION path (``current_payload_store``'s) — the pin
    rides in the root, so a promotion mints a different identity.
    One manifest-sized probe, no data scan."""
    _, contract = _payload_contract(
        spark, store_path, "payload_store_identity"
    )
    return [
        str(store_path).rstrip("/"),
        contract["format"],
        int(contract["n_shards"]),
        contract["ref_col"],
        contract["payload_col"],
    ]


def read_payload_store(spark, path: str):
    """(payloads frame, contract) — the partition-discovered store
    scan plus its pinned contract; the ``_manifest`` sidecar is
    invisible to the data read (underscore prefix)."""
    manifest, contract = _payload_contract(
        spark, path, "read_payload_store"
    )
    return spark.read.parquet(path), contract


def verify_payload_store(
    spark, path: str, manifest: DataFrame | None = None
) -> DataFrame:
    """Check a written payload store against its manifest: one
    partition-discovered scan re-digests every blob (same
    ref/payload-hex definition as the write —
    :func:`_payload_digest_frame` is shared) and full-outer joins
    against the promise via ``pipeline.verify_shards``' machinery
    (REUSED): an absent shard reports n_payloads_observed=0/ok=false,
    a present-but-unreadable shard RAISES from the scan, a flipped
    byte or swapped blob fails the XOR fingerprint, and stray
    unmanifested shards surface — the same
    absence/corruption/tamper trichotomy the token plane has.
    ``manifest`` defaults to the sidecar; pass the frame
    :func:`write_payload_store` returned to audit a write that
    crashed between its data and manifest legs."""
    from streaming_parquet_spark.operators.pipeline import verify_shards

    if manifest is None:
        manifest, contract = _payload_contract(
            spark, path, "verify_payload_store"
        )
    else:
        contract = _payload_contract_of(
            manifest, "the supplied manifest", "verify_payload_store"
        )

    ref_col, payload_col = contract["ref_col"], contract["payload_col"]

    def prep(scanned: DataFrame) -> DataFrame:
        # the shard partition column rides the scan into the digest
        return _payload_digest_frame(
            scanned, ref_col, payload_col, shard=F.col("shard")
        )

    out = verify_shards(
        spark,
        # the promise per shard is the WAVES' composition: counts add,
        # XOR fingerprints fold (order-free)
        manifest.groupBy(F.col("shard").cast("int").alias("shard")).agg(
            F.sum("n_payloads").alias("n_docs"),
            F.expr("bit_xor(fp_a)").alias("fp_a"),
            F.expr("bit_xor(fp_b)").alias("fp_b"),
        ),
        path,
        id_col="__ref_key",
        text_col="__payload_hex",
        prepare=prep,
        shard_type="int",
    )
    return out.select(
        "shard",
        F.col("n_docs_promised").alias("n_payloads_promised"),
        F.col("n_docs_observed").alias("n_payloads_observed"),
        "fp_a_promised",
        "fp_a_observed",
        "fp_b_promised",
        "fp_b_observed",
        "ok",
    )


def resolve_payload_refs(
    windows: DataFrame,
    store_path: str,
    spans_col: str = "spans",
    id_cols: tuple = ("win",),
    strict: bool = True,
) -> DataFrame:
    """Join packed multimodal windows' image-span refs back to their
    binary payloads — the read side of the sidecar contract
    ``pack_multimodal_windows`` promises.  One row per non-text span
    occurrence: (``id_cols``..., span_start, span_end, modality, ref,
    payload).

    ``strict`` (default): a ref the store cannot resolve RAISES from
    the join projection itself, naming the ref — a window whose image
    payload is missing is untrainable, and a silent null would feed
    the vision tower garbage.  ``strict=False`` returns the row with
    a NULL payload and ``resolved=false`` instead (the repair-scan
    shape).

    Scale: the join key includes the SHARD — recomputed from the ref
    via the contract's pinned ``n_shards`` (:func:`_payload_shard_expr`
    is a pure function of the ref) — so the store side prunes to the
    partitions the refs actually touch (DPP), and the equi-join
    shuffles only the span-sized left side; blobs never cross the
    driver."""
    spark = windows.sparkSession
    store, contract = read_payload_store(spark, store_path)
    ref_col, payload_col = contract["ref_col"], contract["payload_col"]
    n = int(contract["n_shards"])
    # a NULL modality is a corrupt span, not a missing payload: the
    # packer never emits one, and `modality != 'text'` evaluates NULL
    # there — the row would vanish from BOTH modes (review r14 pass 2)
    modality = F.when(
        F.col("__s.modality").isNull(),
        F.raise_error(
            F.lit("resolve_payload_refs: span with NULL modality — "
                  "corrupt spans column (not packer output)")
        ).cast("string"),
    ).otherwise(F.col("__s.modality"))
    refs = (
        windows.select(
            *id_cols, F.explode(F.col(spans_col)).alias("__s")
        )
        .select(
            *id_cols,
            F.col("__s.start").alias("span_start"),
            F.col("__s.end").alias("span_end"),
            modality.alias("modality"),
            F.col("__s.ref").alias("ref"),
            _payload_shard_expr("__s.ref", n).alias("shard"),
        )
        .where(F.col("modality") != F.lit("text"))
    )
    right = store.select(
        F.col("shard").cast("int").alias("shard"),
        F.col(ref_col).cast("string").alias("ref"),
        F.col(payload_col).alias("payload"),
    )
    # NULL-ref spans must NOT silently vanish (review r14): an image
    # span packed without a ref is exactly as untrainable as one whose
    # ref misses the store — but null join keys fall out of an
    # equi-join, so route them around it (a null-safe join would cost
    # the prunable equi-join shape for every real ref).
    with_ref = refs.where(F.col("ref").isNotNull())
    no_ref = refs.where(F.col("ref").isNull()).drop("shard").withColumn(
        "payload", F.lit(None).cast("binary")
    )
    joined = (
        with_ref.join(right, ["shard", "ref"], "left")
        .drop("shard")
        .unionByName(no_ref)
    )
    if strict:
        payload = F.when(
            F.col("payload").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("resolve_payload_refs: unresolved payload "
                          "ref "),
                    F.coalesce(F.col("ref"), F.lit("<NULL ref>")),
                    F.lit(f" — not in the store at {store_path!r}; "
                          "verify_payload_store names what is "
                          "missing (a NULL ref was packed without "
                          "one)"),
                )
            ).cast("binary"),
        ).otherwise(F.col("payload"))
        return joined.withColumn("payload", payload)
    return joined.withColumn("resolved", F.col("payload").isNotNull())


# --- Oversized interleaved-document splitter (VERDICT r13 item 3) -----

#: sub_order packs (order, sub_idx) into one bigint: order * 2^20 +
#: sub_idx — loud refusals guard both factors (below)
_SPLIT_SHIFT = 1 << 20


def split_multimodal_documents(
    df: DataFrame,
    segments_col: str,
    budget: int,
    order_col: str = "doc_id",
    eos_reserve: int = 1,
    sub_idx_col: str = "sub_idx",
    out_order_col: str = "sub_order",
) -> DataFrame:
    """Split interleaved image-text documents longer than ``budget``
    into ordered sub-documents :func:`pack_multimodal_windows`
    accepts — cutting ONLY inside text runs, never an image (half an
    image is untrainable), preserving segment order.  The OBELICS-
    shaped common case: a long image-text web document must become
    several atomic packer documents without breaking image atomicity.

    Budget accounting matches the packer exactly: a sub-document's
    content (text ids + image ``n_patches``) is capped at
    ``budget - eos_reserve``, because the packer appends one eos per
    document — pass ``eos_reserve=0`` when packing without
    ``eos_id``.  An image whose ``n_patches`` alone exceeds the cap
    REFUSES by name (no split can make it fit); so do NULL segment
    elements, unknown modalities, and non-positive patch counts —
    the packer's own refusals, shared so the two stages cannot
    disagree about what a valid document is.

    **Document-boundary semantics** (decided and documented): each
    sub-document is its own packer document — it gets its own
    ``doc_starts`` slot and its own eos, exactly as if the corpus had
    arrived pre-split.  The ORIGINAL boundaries stay recoverable:
    ``sub_idx_col`` numbers a document's pieces 0..k-1 (``sub_idx ==
    0`` marks an original document start), and reassembling pieces in
    ``sub_idx`` order while re-joining adjacent text runs reproduces
    the original segment stream (hypothesis-gated as token-level
    identity).  ``out_order_col`` = ``order_col * 2^20 + sub_idx`` is
    the packer-ready unique order key — strictly monotone in
    (original order, piece) — guarded loudly: ``order_col`` must be a
    non-negative integer below 2^42 and no document may split into
    2^20 or more pieces.

    Empty text runs (and fully empty documents) drop, mirroring the
    packer.  Scale: a pure per-row transform over Arrow batches
    (``mapInPandas``) — no shuffle, no state, memory O(batch); at
    100 TB it inherits the scan's parallelism untouched."""
    b = int(budget)
    r = int(eos_reserve)
    if r < 0:
        raise ValueError(
            f"split_multimodal_documents: eos_reserve must be >= 0 "
            f"(got {eos_reserve})"
        )
    if b - r < 1:
        raise ValueError(
            f"split_multimodal_documents: budget {budget} minus "
            f"eos_reserve {eos_reserve} leaves no room for content"
        )
    cap = b - r
    order_t = df.schema[order_col].dataType
    if not isinstance(order_t, (T.ByteType, T.ShortType,
                                T.IntegerType, T.LongType)):
        raise ValueError(
            f"split_multimodal_documents: {order_col!r} must be an "
            f"integer column to mint sub_order (got {order_t})"
        )
    seg_field = df.schema[segments_col]
    seg_names = {f.name for f in seg_field.dataType.elementType.fields}
    extra = sorted(seg_names - {"modality", "ids", "ref", "n_patches"})
    if extra:
        # _split_one rebuilds segments from the four contract fields;
        # silently nulling per-segment metadata would erase it even on
        # documents that never actually split (review r14 pass 2)
        raise ValueError(
            f"split_multimodal_documents: segment struct carries "
            f"extra field(s) {extra} the splitter cannot carry "
            f"through a text-run cut — drop or re-attach them around "
            f"the split"
        )
    keep = [f for f in df.schema.fields if f.name != segments_col]
    out_schema = T.StructType(
        keep
        + [
            seg_field,
            T.StructField(sub_idx_col, T.IntegerType(), False),
            T.StructField(out_order_col, T.LongType(), False),
        ]
    )
    keep_names = [f.name for f in keep]
    seg_name, order_name = segments_col, order_col

    def _split_one(oid, segs) -> list:
        subs: list[list] = []
        cur: list[dict] = []
        cur_len = 0

        def _close() -> None:
            nonlocal cur, cur_len
            if cur:
                subs.append(cur)
                cur, cur_len = [], 0

        for s in segs:
            if s is None:
                raise ValueError(
                    f"split_multimodal_documents: document {oid!r} "
                    f"carries a NULL segment element — refuse rather "
                    f"than silently drop content"
                )
            m = s["modality"]
            if m == "text":
                raw = s["ids"]
                ids = [] if raw is None else [int(x) for x in raw]
                while ids:
                    room = cap - cur_len
                    if room == 0:
                        _close()
                        room = cap
                    take = ids[:room]
                    ids = ids[room:]
                    cur.append(
                        {"modality": "text", "ids": take,
                         "ref": None, "n_patches": None}
                    )
                    cur_len += len(take)
            elif m == "image":
                raw_np = s["n_patches"]
                if raw_np is None or int(raw_np) < 1:
                    raise ValueError(
                        f"split_multimodal_documents: image segment "
                        f"of document {oid!r} has n_patches="
                        f"{raw_np!r} — every image needs a positive "
                        f"patch budget"
                    )
                np_i = int(raw_np)
                if np_i > cap:
                    raise ValueError(
                        f"split_multimodal_documents: image "
                        f"{s['ref']!r} of document {oid!r} needs "
                        f"{np_i} patches — past the usable budget "
                        f"{cap} (budget {b} - eos_reserve {r}); "
                        f"images are atomic and no split can fit it"
                    )
                if cur_len + np_i > cap:
                    _close()
                cur.append(
                    {"modality": "image", "ids": None,
                     "ref": s["ref"], "n_patches": np_i}
                )
                cur_len += np_i
            else:
                raise ValueError(
                    f"split_multimodal_documents: unknown modality "
                    f"{m!r} in document {oid!r}"
                )
        _close()
        return subs

    def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows: list[dict] = []
            records = pdf.to_dict("records")
            for row in records:
                oid = row[order_name]
                segs = row[seg_name]
                if segs is None:
                    continue
                if oid is None or (
                    isinstance(oid, float) and oid != oid
                ):
                    # arrow->pandas renders a NULL int64 as NaN; the
                    # bare int() would crash without naming the row
                    raise ValueError(
                        f"split_multimodal_documents: a document has "
                        f"NULL {order_name} — sub_order cannot be "
                        f"minted for it (an upstream join leak?)"
                    )
                o = int(oid)
                if o < 0 or o >= (1 << 42):
                    raise ValueError(
                        f"split_multimodal_documents: {order_name}="
                        f"{oid!r} outside [0, 2^42) — sub_order "
                        f"cannot pack it losslessly"
                    )
                for j, sub in enumerate(_split_one(oid, segs)):
                    if j >= _SPLIT_SHIFT:
                        raise ValueError(
                            f"split_multimodal_documents: document "
                            f"{oid!r} splits into >= 2^20 pieces — "
                            f"sub_order cannot number them; raise "
                            f"the budget"
                        )
                    rec = {k: row[k] for k in keep_names}
                    rec[seg_name] = sub
                    rec[sub_idx_col] = j
                    rec[out_order_col] = o * _SPLIT_SHIFT + j
                    out_rows.append(rec)
            yield pd.DataFrame(
                out_rows,
                columns=keep_names + [seg_name, sub_idx_col,
                                      out_order_col],
            )

    return df.mapInPandas(_split, out_schema)


def append_payload_store(
    df: DataFrame,
    path: str,
    ref_col: str | None = None,
    payload_col: str | None = None,
    marker_store=None,
) -> DataFrame:
    """Incremental append to a payload store — the pixel-plane
    analogue of ``pipeline.append_token_shards``, with the dedup axis
    a content-addressed store actually has: the REF.

    Every parameter derives from the pinned contract (nothing
    restatable; passing ``ref_col``/``payload_col`` merely ASSERTS
    against it).  Incoming blobs whose ref already exists are handled
    by CONTENT: an identical payload is skipped (appending the same
    image twice is the normal ingest-replay case — a content-addressed
    ref promises nothing new), while a DIFFERENT payload under an
    existing ref REFUSES before any write: a forged or colliding key
    silently replacing pixels is the exact failure the store exists
    to prevent.  The overlap check joins only the incoming refs'
    shards (the shard key recomputes from the ref, so the store scan
    prunes); digest comparison reuses :func:`_payload_digest_frame`
    on both sides.

    **Crash windows, via wave attribution** (the
    ``streaming.shards`` discipline): every appended blob carries a
    ``wave`` id — a pure function of the batch's content
    (:func:`_payload_wave_id`) — and the sidecar is APPEND-ONLY, one
    row per (shard, wave).  Data lands first, then the wave's sidecar
    rows are RE-DERIVED from the data itself (a pruned re-digest of
    this wave's rows in the touched shards) and appended.  A crash
    between the legs leaves the store loudly incomplete
    (:func:`verify_payload_store` fails the touched shards), and
    REPLAYING the same batch repairs exactly: the already-landed
    blobs skip as identical content, stragglers land under the same
    wave id, and the re-digest acknowledges both together.  A replay
    after full success is a no-op (the wave's sidecar rows already
    exist and the recomputed digest must agree — disagreement
    refuses).  Returns the wave's per-shard manifest rows (empty when
    every ref already lived in an earlier wave)."""
    import os as _os

    from streaming_parquet_spark.operators.pipeline import _refuse_retired

    _refuse_retired(path, "append_payload_store", marker_store)
    spark = df.sparkSession
    manifest, contract = _payload_contract(
        spark, path, "append_payload_store"
    )
    rc = contract["ref_col"] if ref_col is None else ref_col
    pc = contract["payload_col"] if payload_col is None else payload_col
    if rc != contract["ref_col"] or pc != contract["payload_col"]:
        raise ValueError(
            f"append_payload_store: columns ({rc!r}, {pc!r}) do not "
            f"match the store contract "
            f"({contract['ref_col']!r}, {contract['payload_col']!r})"
        )
    n = int(contract["n_shards"])
    batch_man = [
        r.asDict()
        for r in payload_store_manifest(df, n, rc, pc).collect()
    ]
    dup = [r["shard"] for r in batch_man if r["n_refs"] != r["n_payloads"]]
    if dup:
        raise ValueError(
            f"append_payload_store: duplicate refs within the batch "
            f"in shard(s) {sorted(dup)[:5]} — dropDuplicates(['{rc}']) "
            f"first"
        )
    if not batch_man:
        return spark.createDataFrame([], _PAYLOAD_WAVE_SCHEMA)
    wave = _payload_wave_id(batch_man)
    touched = sorted(int(r["shard"]) for r in batch_man)

    def _wave_rows_from_data() -> list:
        """Re-derive this wave's sidecar rows from the DATA (pruned to
        the touched shards) — the one attributable truth a replay and
        a first attempt agree on."""
        # refresh FIRST: this scan races our own just-landed files
        spark.catalog.refreshByPath(path)
        scanned = spark.read.parquet(path)
        mine = scanned.where(
            F.col("shard").cast("int").isin(touched)
            & (F.col("wave") == F.lit(wave))
        )
        got = payload_store_manifest(mine, n, rc, pc).collect()
        return [r.asDict() for r in got]

    acked = {
        int(r["shard"]): r.asDict()
        for r in manifest.where(F.col("wave") == F.lit(wave)).collect()
    }
    if acked:
        # replay after the data leg completed: already-acknowledged
        # shards must digest-match, and shards the crashed sidecar
        # append never covered (a PARTIAL sidecar — committer task
        # files become visible one by one) get their rows appended
        # NOW, or the store would stay unrepairable while every
        # replay no-op'd (review r14 pass 3)
        got = {int(r["shard"]): r for r in _wave_rows_from_data()}
        for sh, row in acked.items():
            g = got.get(sh)
            if g is None or (
                int(g["fp_a"]), int(g["fp_b"]), int(g["n_payloads"])
            ) != (int(row["fp_a"]), int(row["fp_b"]),
                  int(row["n_payloads"])):
                raise ValueError(
                    f"append_payload_store: wave {wave} is already "
                    f"acknowledged for shard {sh} but its data rows "
                    f"digest differently — the store was modified "
                    f"outside the protocol"
                )
        missing = [got[sh] for sh in sorted(set(got) - set(acked))]
        if missing:
            _payload_manifest_frame(
                spark, missing, wave, n, rc, pc
            ).write.mode("append").parquet(
                _os.path.join(path, "_manifest")
            )
        return _payload_wave_frame(spark, missing, wave)

    # overlap-by-content: existing refs with IDENTICAL payloads skip,
    # different payloads refuse.  One pruned join; blobs never collect.
    incoming = _payload_digest_frame(
        df, rc, pc, shard=_payload_shard_expr(rc, n)
    )
    existing = _payload_digest_frame(
        # static partition filter: the batch's refs can only collide
        # inside their own hash shards, and runtime DPP is optimizer-
        # dependent — an append must never re-digest a multi-TB store
        spark.read.parquet(path).where(
            F.col("shard").cast("int").isin(touched)
        ),
        rc, pc, shard=F.col("shard"),
    ).withColumnRenamed("__payload_hex", "__existing_hex")
    joined = incoming.join(existing, ["shard", "__ref_key"], "left")
    forged = joined.where(
        F.col("__existing_hex").isNotNull()
        & (F.col("__existing_hex") != F.col("__payload_hex"))
    )
    bad = [
        r["__ref_key"]
        for r in forged.select("__ref_key").limit(5).collect()
    ]
    if bad:
        raise ValueError(
            f"append_payload_store: ref(s) {bad} already exist with "
            f"DIFFERENT content — a forged or colliding key; a "
            f"content-addressed store never silently replaces pixels"
        )
    fresh_keys = joined.where(F.col("__existing_hex").isNull()).select(
        F.col("__ref_key").alias("__fresh_ref")
    )
    fresh = df.join(
        fresh_keys,
        F.col(rc).cast("string") == F.col("__fresh_ref"),
        "left_semi",
    )
    (
        fresh.select(
            F.col(rc), F.col(pc),
            F.lit(wave).alias("wave"),
            _payload_shard_expr(rc, n).alias("shard"),
        )
        .write.mode("append")
        .partitionBy("shard")
        .parquet(path)
    )
    # acknowledge from the data: leftovers of a crashed first attempt
    # carry the same wave id and fold in here, exactly once
    wave_rows = _wave_rows_from_data()
    if wave_rows:
        _payload_manifest_frame(
            spark, wave_rows, wave, n, rc, pc
        ).write.mode("append").parquet(_os.path.join(path, "_manifest"))
    return _payload_wave_frame(spark, wave_rows, wave)


def _used_payload_refs(windows: DataFrame, spans_col: str) -> DataFrame:
    """The distinct non-text span refs of a packed-windows frame — the
    ONE definition of "referenced" the orphan and compaction verbs
    share (review r14 pass 3: two drifting copies would disagree on
    the orphan/keep boundary).  A NULL modality refuses by name, same
    as resolve_payload_refs: ``NULL != 'text'`` evaluates NULL and the
    filter would silently classify the blob as an orphan — data loss,
    not a refusal."""
    modality = F.when(
        F.col("__s.modality").isNull(),
        F.raise_error(
            F.lit("payload refs: span with NULL modality — corrupt "
                  "spans column (not packer output)")
        ).cast("string"),
    ).otherwise(F.col("__s.modality"))
    return (
        windows.select(F.explode(F.col(spans_col)).alias("__s"))
        .select(
            modality.alias("__m"),
            F.col("__s.ref").cast("string").alias("__used_ref"),
        )
        .where((F.col("__m") != F.lit("text"))
               & F.col("__used_ref").isNotNull())
        .select("__used_ref")
        .distinct()
    )


def orphan_payload_refs(
    windows: DataFrame,
    store_path: str,
    spans_col: str = "spans",
) -> DataFrame:
    """Blobs no packed window references — the reclaim candidates a
    payload-retention policy sweeps (documents dropped by dedup or
    quality filters leave their images behind).  One anti-join of the
    store's (shard, ref) against the windows' exploded non-text span
    refs; blobs never leave the executors — the result carries refs
    and sizes only.  Feed the KEEP side to
    :func:`compact_payload_store` to materialize the reclaim."""
    spark = windows.sparkSession
    store, contract = read_payload_store(spark, store_path)
    rc, pc = contract["ref_col"], contract["payload_col"]
    used = _used_payload_refs(windows, spans_col)
    return (
        store.join(
            used,
            F.col(rc).cast("string") == F.col("__used_ref"),
            "left_anti",
        )
        .select(
            F.col(rc).cast("string").alias("ref"),
            F.length(F.col(pc)).cast("bigint").alias("n_bytes"),
        )
    )


def _kept_payloads(
    spark, src_path: str, windows: DataFrame, spans_col: str
) -> tuple[DataFrame, dict]:
    """The referenced subset of a payload store — the ONE definition of
    "kept" that :func:`compact_payload_store` (which writes it) and the
    catalog's ``promote_payload_compaction`` (which pins its expected
    content fingerprint BEFORE the compaction runs) share, so the
    preservation proof and the write can never disagree about which
    blobs count.  Returns (kept (ref, payload) frame, src contract)."""
    store, contract = read_payload_store(spark, src_path)
    rc, pc = contract["ref_col"], contract["payload_col"]
    used = _used_payload_refs(windows, spans_col)
    kept = store.join(
        used,
        F.col(rc).cast("string") == F.col("__used_ref"),
        "left_semi",
    ).select(F.col(rc), F.col(pc))
    return kept, contract


def compact_payload_store(
    spark,
    src_path: str,
    dst_path: str,
    windows: DataFrame,
    spans_col: str = "spans",
    n_shards: int | None = None,
) -> DataFrame:
    """Materialize the referenced subset of a payload store as a NEW
    verified store — the reclaim step after
    :func:`orphan_payload_refs` (parquet files cannot delete rows in
    place; the token plane's compaction has the same shape).  The
    destination is write-once (:func:`write_payload_store`'s
    ``mode="error"``), carries the same contract (or a new
    ``n_shards`` — the shard key recomputes from refs, so re-bucketing
    is free), and every kept blob round-trips byte-identical by
    construction (a projection, never a decode).  Verify the dst
    (:func:`verify_payload_store`) before dropping the src — or let
    the catalog's ``promote_payload_compaction`` run the whole
    compact -> prove -> publish -> retire swap under generation
    markers."""
    kept, contract = _kept_payloads(spark, src_path, windows, spans_col)
    rc, pc = contract["ref_col"], contract["payload_col"]
    # (6) fail at the point of the mistake: a keep set of zero blobs
    # means the windows reference NOTHING in this store (wrong store,
    # wrong windows, or an all-orphan corpus) — writing a dst whose
    # manifest every later reader refuses would surface the error one
    # step too late (review r14 pass 3)
    if kept.limit(1).count() == 0:
        raise ValueError(
            f"compact_payload_store: the windows reference no blob in "
            f"{src_path!r} — refusing to write an empty destination "
            f"store (wrong store/windows pairing, or every blob is an "
            f"orphan; drop the store instead)"
        )
    return write_payload_store(
        kept, dst_path,
        n_shards=int(contract["n_shards"]) if n_shards is None else int(n_shards),
        ref_col=rc, payload_col=pc,
    )


def _repair_torn_payload_bootstrap(
    spark, path: str, blobs: DataFrame, n: int, rc: str, pc: str
) -> DataFrame:
    """Complete a bootstrap write that crashed between its data and
    sidecar legs (r15 review): ``write_payload_store``'s replay fails
    on ``mode="error"`` because the data directory exists, and without
    this repair every restart would fail identically — the one torn
    state the wave-attributed append machinery did not cover, because
    a bootstrap has no sidecar to attribute against.

    The replayed trigger holds the SAME batch (the checkpoint logged
    the file set; refs are content-addressed), so the repair is the
    append-crash discipline applied to the whole store: re-derive the
    wave's sidecar rows from the batch, digest-prove the on-disk data
    IS this batch (same wave id, same per-shard fingerprints — foreign
    or torn data refuses, never papers over), then append ONLY the
    sidecar.  Returns the manifest frame ``write_payload_store`` would
    have returned."""
    import os as _os

    mrows = [
        r.asDict()
        for r in payload_store_manifest(blobs, n, rc, pc).collect()
    ]
    wave = _payload_wave_id(mrows)
    spark.catalog.refreshByPath(path)
    data = spark.read.parquet(path)
    torn_msg = (
        f"_repair_torn_payload_bootstrap: the data at {path!r} is NOT "
        f"this batch's crashed bootstrap (wave {wave}) — a different "
        f"producer's store, or an aborted write job's residue; if the "
        f"directory holds no committed parquet, delete it and replay"
    )
    if data.where(F.col("wave") != F.lit(wave)).limit(1).count():
        raise ValueError(torn_msg)
    got = {
        int(r["shard"]): r.asDict()
        for r in payload_store_manifest(data, n, rc, pc).collect()
    }
    want = {int(r["shard"]): r for r in mrows}
    if {
        k: (int(v["fp_a"]), int(v["fp_b"]), int(v["n_payloads"]))
        for k, v in got.items()
    } != {
        k: (int(v["fp_a"]), int(v["fp_b"]), int(v["n_payloads"]))
        for k, v in want.items()
    }:
        raise ValueError(torn_msg)
    manifest = _payload_manifest_frame(spark, mrows, wave, n, rc, pc)
    # mode="error": the sidecar is what was MISSING — if it appeared
    # concurrently, this is not the torn state and must refuse
    manifest.write.mode("error").parquet(_os.path.join(path, "_manifest"))
    return manifest


class PayloadIngestResult:
    """What a :func:`payload_ingest_stream` run did: trigger batch ids,
    rows seen, and blobs actually landed (appends skip content the
    store already holds, so ``blobs_landed < rows_in`` is the normal
    replay/duplicate case, not a loss).  In continuous mode
    (``trigger_interval=``) ``query`` holds the live StreamingQuery —
    counters keep updating per trigger until the caller stops it."""

    def __init__(self) -> None:
        self.batches: list[int] = []
        self.rows_in: int = 0
        self.blobs_landed: int = 0
        self.query = None


def payload_ingest_stream(
    spark,
    source_dir: str,
    store_path: str,
    checkpoint: str,
    *,
    payload_col: str = "payload",
    ref_col: str | None = None,
    n_shards: int | None = None,
    max_files_per_trigger: int | None = None,
    trigger_interval: str | None = None,
    marker_store=None,
) -> PayloadIngestResult:
    """Continuously grow a verified payload store from a parquet blob
    source — the pixel-plane producer beside
    ``streaming.shards.shard_ingest_stream``'s token-plane one: a
    checkpointed availableNow file stream whose every trigger lands
    one content-addressed wave through :func:`append_payload_store`.

    Exactly-once comes from CONTENT, not offsets: a replayed trigger
    re-appends the same batch, identical blobs skip, a crashed
    append's leftovers repair under their wave id, and a forged ref
    (same key, different bytes) fails the trigger loudly — the
    properties the append already pins, inherited rather than
    re-implemented.  Source rows carry ``payload_col`` (binary);
    refs mint as md5 of the bytes unless ``ref_col`` names a column
    of caller-supplied content-addressed keys.  The store is probed
    ONCE, at call time — bootstrap misconfiguration (``n_shards``
    missing for an absent store, or disagreeing with a pinned
    contract) refuses before the stream starts, never as a silent
    no-op or an async query death; the first non-empty trigger then
    bootstraps when absent (repairing a bootstrap that crashed
    between its data and sidecar legs), and from then on the append's
    own contract read is the only manifest access per trigger.
    Cross- and within-batch duplicate payloads
    collapse to one blob.  A store the catalog RETIRED refuses at run
    start (the producer is misconfigured — its successor already
    replaced it).

    ``trigger_interval``: None (default) drains everything available
    and stops (availableNow — the batch-job shape every drill resumes
    through); a duration string (e.g. ``"5 seconds"``) runs the M1
    continuous shape instead — the returned result carries the live
    ``query`` (stop via ``result.query.stop()``) and its counters keep
    updating per trigger.  The two modes share one checkpoint
    contract: stopping a continuous run and restarting availableNow
    (or vice versa) resumes exactly where the offsets left off.

    Scale: per-trigger work is one batch manifest + one pruned
    overlap join + one partitioned append — O(batch), never O(store);
    ``max_files_per_trigger`` bounds the wave size the way every
    sibling producer does."""
    from pyspark.errors import AnalysisException

    from streaming_parquet_spark.operators.pipeline import (
        ManifestAbsent,
        _refuse_continuous_cold_start,
        _refuse_retired,
    )

    # refuse a retired store at run START (even a no-op resume): same
    # stance as shard_ingest_stream — a producer pointed at a retired
    # generation must hear it now, not on a future trigger.
    # marker_store: probe through the same plane the catalog writes.
    _refuse_retired(store_path, "payload_ingest_stream", marker_store)
    result = PayloadIngestResult()
    try:
        schema = (
            spark.read.option("pathGlobFilter", "*.parquet")
            .parquet(source_dir)
            .schema
        )
    except AnalysisException as exc:
        marker = (
            getattr(exc, "getCondition", exc.getErrorClass)() or ""
        ) + " " + str(exc)
        if not (
            "UNABLE_TO_INFER_SCHEMA" in marker
            or "PATH_NOT_FOUND" in marker
        ):
            raise
        _refuse_continuous_cold_start(
            trigger_interval, source_dir, "payload_ingest_stream"
        )
        return result  # cold start: nothing delivered yet

    # ONE store probe per run, at CALL time (r14 advisory killed the
    # duplicate per-trigger probe; r15 review pass 2 killed the other
    # extreme — deferring it into the first trigger turned bootstrap
    # misconfiguration into a silent no-op on a drained checkpoint, or
    # an async query death in continuous mode).  The result seeds
    # probe_state; after the bootstrap write flips it, append's own
    # contract read is the only manifest access per trigger.
    try:
        contract0 = _payload_contract(
            spark, store_path, "payload_ingest_stream"
        )[1]
    except ManifestAbsent:
        contract0 = None
    if contract0 is None and n_shards is None:
        raise ValueError(
            "payload_ingest_stream: the store does not exist yet — "
            "pass n_shards to bootstrap it"
        )
    if contract0 is not None and n_shards is not None and int(
        n_shards
    ) != int(contract0["n_shards"]):
        raise ValueError(
            f"payload_ingest_stream: n_shards={n_shards} disagrees "
            f"with the store's pinned {contract0['n_shards']} — the "
            f"contract is authoritative"
        )
    probe_state = {"have_store": contract0 is not None}

    def process(batch: DataFrame, batch_id: int) -> None:
        # the batch owns its stagings (write_payload_store's included)
        with scope():
            batch = stage(batch)
            n_in = batch.staged_rows
            if n_in == 0:
                result.batches.append(int(batch_id))
                return
            if ref_col is None:
                blobs = mint_payload_refs(batch, payload_col, "ref")
                rc = "ref"
            else:
                blobs, rc = batch, ref_col
            blobs = blobs.select(
                F.col(rc).cast("string").alias(rc), F.col(payload_col)
            ).dropDuplicates([rc])
            bspark = batch.sparkSession
            if not probe_state["have_store"]:
                try:
                    man = write_payload_store(
                        blobs, store_path, n_shards=int(n_shards),
                        ref_col=rc, payload_col=payload_col,
                        marker_store=marker_store,
                    )
                except AnalysisException as exc:
                    wmarker = (
                        getattr(exc, "getCondition", exc.getErrorClass)()
                        or ""
                    ) + " " + str(exc)
                    if "ALREADY_EXISTS" not in wmarker:
                        raise
                    # bootstrap crashed between its data and sidecar
                    # legs on a previous run — repair, don't wedge
                    man = _repair_torn_payload_bootstrap(
                        bspark, store_path, blobs, int(n_shards),
                        rc, payload_col,
                    )
                probe_state["have_store"] = True
            else:
                man = append_payload_store(
                    blobs, store_path, ref_col=rc,
                    payload_col=payload_col, marker_store=marker_store,
                )
            # tallies land LAST, after the wave is durable: a
            # continuous-mode caller polls these before stopping the
            # query (r15 drill)
            result.batches.append(int(batch_id))
            result.rows_in += n_in
            result.blobs_landed += sum(
                int(r["n_payloads"]) for r in man.collect()
            )

    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    stream = reader.parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_interval is None:
        writer.trigger(availableNow=True).start().awaitTermination()
    else:
        result.query = writer.trigger(
            processingTime=str(trigger_interval)
        ).start()
    return result
