"""Multimodal plumbing tests: binary columns, mapInPandas decode (fake
codec), frame sampling, feature extraction shapes."""

import os

import pytest
from pyspark.sql import functions as F

from streaming_parquet_spark.operators.multimodal import (
    attach_binary,
    decode_images,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def blobs(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return attach_binary(docs.limit(50))


def test_attach_binary_byte_length(blobs):
    row = blobs.select(
        F.length("blob").alias("bl"), F.length("text").alias("tl")
    ).first()
    assert row["bl"] == row["tl"]  # ascii fixture text


def test_decode_images_fake_deterministic(blobs):
    a = {r["id"]: (r["width"], r["height"], r["channels"], r["format"])
         for r in decode_images(blobs).collect()}
    b = {r["id"]: (r["width"], r["height"], r["channels"], r["format"])
         for r in decode_images(blobs).collect()}
    assert a == b and len(a) == 50
    w, h, c, fmt = next(iter(a.values()))
    assert 64 <= w < 256 and 64 <= h < 256 and c in (1, 3) and fmt == "fake"


def test_decode_images_strict_raises(blobs):
    with pytest.raises(Exception) as exc:
        decode_images(blobs, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_sample_frames_shape(blobs):
    frames = sample_frames(blobs, max_frames=4, every_n_bytes=64)
    per_doc = frames.groupBy("id").count().collect()
    assert all(1 <= r["count"] <= 4 for r in per_doc)
    fb = frames.select(F.length("frame_bytes").alias("n")).collect()
    assert all(1 <= r["n"] <= 64 for r in fb)


def test_extract_features_dims(blobs):
    out = extract_features(blobs, dims=16).collect()
    assert len(out) == 50
    assert all(len(r["features"]) == 16 for r in out)
    assert all(-1.0 <= v <= 1.0 for r in out for v in r["features"])


def test_resize_images_shapes(blobs):
    from streaming_parquet_spark.operators.multimodal import resize_images

    out = resize_images(blobs, width=8, height=4)
    rows = out.collect()
    assert len(rows) == blobs.count()
    for r in rows:
        assert r["width"] == 8 and r["height"] == 4
        assert len(r["resized_bytes"]) == 8 * 4
    # deterministic: same payload -> same resized bytes
    again = {r["id"]: bytes(r["resized_bytes"]) for r in resize_images(
        blobs, width=8, height=4).collect()}
    assert {r["id"]: bytes(r["resized_bytes"]) for r in rows} == again


def test_resize_strict_raises(blobs):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from streaming_parquet_spark.operators.multimodal import resize_images

    with _pytest.raises(Exception) as ei:
        resize_images(blobs, strict=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )


def test_decode_audio_meta(blobs):
    from streaming_parquet_spark.operators.multimodal import decode_audio

    rows = decode_audio(blobs).collect()
    assert len(rows) == blobs.count()
    for r in rows:
        assert r["sample_rate"] in (8000, 16000, 22050, 44100)
        assert r["n_samples"] > 0
        assert abs(r["duration_sec"] - r["n_samples"] / r["sample_rate"]) < 1e-4


def test_probe_media_matches_individual_operators(blobs):
    """The fused single-pass probe must be column-for-column identical
    to running decode_images / resize_images(+jvm digest) /
    decode_audio / extract_features separately — the multimodal_family
    gate swaps the four passes for this one."""
    from streaming_parquet_spark.operators.multimodal import (
        decode_audio,
        probe_media,
        resize_images,
    )

    got = {r["id"]: r for r in probe_media(
        blobs, width=8, height=4, dims=16).collect()}
    assert len(got) == 50

    img = {r["id"]: r for r in decode_images(blobs).collect()}
    for i, r in img.items():
        g = got[i]
        assert (g["n_bytes"], g["width"], g["height"], g["channels"],
                g["format"]) == (r["n_bytes"], r["width"], r["height"],
                                 r["channels"], r["format"])

    # resize digest: the gate's exact JVM expression over resized_bytes
    dig = {r["id"]: r["d"] for r in resize_images(blobs, width=8, height=4)
           .select("id", F.md5(F.lower(F.hex("resized_bytes"))).alias("d"))
           .collect()}
    assert {i: g["payload_md5"] for i, g in got.items()} == dig

    aud = {r["id"]: r for r in decode_audio(blobs).collect()}
    for i, r in aud.items():
        g = got[i]
        assert (g["sample_rate"], g["n_samples"], g["duration_sec"],
                g["audio_format"]) == (r["sample_rate"], r["n_samples"],
                                       r["duration_sec"], r["format"])

    feats = {r["id"]: list(r["features"]) for r in extract_features(
        blobs, dims=16).collect()}
    assert {i: list(g["features"]) for i, g in got.items()} == feats


# --- Real-bytes strict tier: pure-Python PNG / WAV parsing -----------
# Fixtures are genuine container bytes built from the public specs
# (PNG signature/IHDR/IDAT/IEND with CRCs; RIFF/WAVE fmt+data), so the
# strict branch is exercised on REAL payloads with no codec installed.

import struct
import zlib


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(rows, color_type=2, filters=None):
    """Assemble a real PNG from pixel rows (tuples per pixel for color
    types 2/4/6, ints for 0), optionally applying a PNG filter type per
    scanline (encoding side of the decoder's unfilter)."""
    height = len(rows)
    flat = [
        [v for px in row for v in (px if isinstance(px, tuple) else (px,))]
        for row in rows
    ]
    bpp = len(flat[0]) // len(rows[0])
    width = len(rows[0])
    stride = width * bpp
    filters = filters or [0] * height
    raw = bytearray()
    prev = [0] * stride
    for line, ftype in zip(flat, filters):
        enc = list(line)
        if ftype == 1:  # Sub
            for i in range(stride - 1, bpp - 1, -1):
                enc[i] = (enc[i] - line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            enc = [(line[i] - prev[i]) & 0xFF for i in range(stride)]
        elif ftype == 3:  # Average
            enc = [
                (line[i] - (((line[i - bpp] if i >= bpp else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            ]
        elif ftype == 4:  # Paeth
            enc = []
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((line[i] - pred) & 0xFF)
        raw += bytes([ftype]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def make_wav(rate=8000, n_frames=1600, channels=1, bits=16):
    block = channels * bits // 8
    data = bytes(n_frames * block)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_png_header_real_bytes():
    from streaming_parquet_spark.operators.multimodal import parse_png_header

    png = make_png([[(10, 20, 30), (40, 50, 60)], [(1, 2, 3), (4, 5, 6)]])
    assert parse_png_header(png) == (2, 2, 3, 8, 2, 0)
    assert parse_png_header(b"not a png at all, nope") is None
    assert parse_png_header(png[:20]) is None


def make_jpeg(width=320, height=200, channels=3):
    """Minimal structurally-valid JPEG prefix: SOI, APP0 (JFIF), a DQT
    stub, then SOF0 with the frame dimensions (the payload after the
    frame header is irrelevant to metadata parsing)."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof = struct.pack(">BHHB", 8, height, width, channels) + bytes(
        3 * channels
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes(65)
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xd9"
    )


def test_parse_jpeg_and_gif_headers_real_bytes():
    from streaming_parquet_spark.operators.multimodal import (
        _decode_one,
        parse_gif_header,
        parse_jpeg_header,
    )

    jpg = make_jpeg(320, 200, 3)
    assert parse_jpeg_header(jpg) == (320, 200, 3)
    # progressive (SOF2) dimensions parse identically
    assert parse_jpeg_header(jpg.replace(b"\xff\xc0", b"\xff\xc2")) == (
        320, 200, 3,
    )
    assert parse_jpeg_header(b"GIF89a not a jpeg") is None
    assert parse_jpeg_header(jpg[:6]) is None
    # a segment length below 2 (the field counts itself) is rejected,
    # not walked into the payload: craft SOI + APP0 with seg_len=1
    # followed by bytes that would misparse as a SOF if pos advanced
    # into the payload
    bogus = (
        b"\xff\xd8"                      # SOI
        + b"\xff\xe0" + struct.pack(">H", 1)  # APP0, invalid length 1
        + b"\xff\xc0" + struct.pack(">H", 17)  # would-be SOF payload
        + bytes(20)
    )
    assert parse_jpeg_header(bogus) is None

    gif = b"GIF89a" + struct.pack("<HH", 99, 44) + bytes(6)
    assert parse_gif_header(gif) == (99, 44, 3)
    assert parse_gif_header(b"\x89PNGxxxxxxxx") is None

    # the strict dependency-free path resolves all three containers
    assert _decode_one(jpg, strict=True) == (320, 200, 3, "JPEG")
    assert _decode_one(gif, strict=True) == (99, 44, 3, "GIF")
    png = make_png([[(1, 2, 3)]])
    assert _decode_one(png, strict=True)[3] == "PNG"
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _decode_one(b"definitely not an image", strict=True)


def test_decode_png_gray_all_filter_types():
    from streaming_parquet_spark.operators.multimodal import decode_png_gray

    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
        for _ in range(5)
    ]
    expected_luma = [76, 150, 29, 255]  # (299R+587G+114B+500)//1000
    png = make_png(rows, filters=[0, 1, 2, 3, 4])  # one of each type
    w, h, pix = decode_png_gray(png)
    assert (w, h) == (4, 5)
    assert list(pix) == expected_luma * 5

    gray = make_png([[7, 200], [3, 9]], color_type=0, filters=[0, 2])
    assert decode_png_gray(gray) == (2, 2, bytes([7, 200, 3, 9]))


def test_parse_wav_header_real_bytes():
    from streaming_parquet_spark.operators.multimodal import parse_wav_header

    wav = make_wav(rate=22050, n_frames=44100, channels=2, bits=16)
    assert parse_wav_header(wav) == (22050, 44100, 2.0, "WAV")
    assert parse_wav_header(b"RIFFxxxxJUNK") is None
    assert parse_wav_header(b"plain text") is None


@pytest.fixture(scope="module")
def real_media(spark):
    png = make_png(
        [[(i * 16 % 256, j * 16 % 256, 128) for i in range(6)]
         for j in range(4)]
    )
    wav = make_wav(rate=16000, n_frames=8000)
    return spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(wav))], "doc_id long, blob binary"
    )


def test_decode_images_strict_real_png(real_media):
    rows = decode_images(real_media.filter("doc_id = 1"), strict=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["channels"], r["format"]) == (
        6, 4, 3, "PNG",
    )


def test_resize_strict_real_png(real_media):
    from streaming_parquet_spark.operators.multimodal import (
        decode_png_gray,
        resize_images,
    )

    src = real_media.filter("doc_id = 1")
    rows = resize_images(src, width=3, height=2, strict=True).collect()
    assert len(rows) == 1 and len(rows[0]["resized_bytes"]) == 6
    # nearest-neighbor on the decoded luma: (x*6//3, y*4//2) sampling
    blob = bytes(src.first()["blob"])
    w, h, pix = decode_png_gray(blob)
    expect = bytes(
        pix[(y * 4 // 2) * w + (x * 6 // 3)] for y in range(2) for x in range(3)
    )
    assert bytes(rows[0]["resized_bytes"]) == expect


def test_decode_audio_strict_real_wav(real_media):
    from streaming_parquet_spark.operators.multimodal import decode_audio

    rows = decode_audio(real_media.filter("doc_id = 2"), strict=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["sample_rate"], r["n_samples"], r["format"]) == (16000, 8000, "WAV")
    assert abs(r["duration_sec"] - 0.5) < 1e-9


def test_strict_still_raises_on_non_media(real_media, blobs):
    from streaming_parquet_spark.operators.multimodal import decode_audio

    with pytest.raises(Exception) as exc:
        decode_audio(blobs, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


# --- interleaved image-text window packing ---------------------------


def _seg_docs(spark, rows):
    """rows: list of (doc_id, part, [segments]) where a segment is
    ('text', [ids]) or ('image', ref, n_patches)."""
    data = []
    for doc_id, part, segs in rows:
        arr = []
        for s in segs:
            if s[0] == "text":
                arr.append(("text", [int(x) for x in s[1]], None, None))
            else:
                arr.append(("image", None, s[1], int(s[2])))
        data.append((doc_id, part, arr))
    return spark.createDataFrame(
        data,
        "doc_id bigint, src string, segments "
        "array<struct<modality string, ids array<bigint>, "
        "ref string, n_patches int>>",
    )


@pytest.fixture(scope="module")
def packed(spark):
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
    )

    docs = _seg_docs(spark, [
        (1, "a", [("text", [5, 6]), ("image", "img-1", 4),
                  ("text", [7])]),                       # len 7+eos=8
        (2, "a", [("text", [8, 9, 10])]),                # len 3+eos=4
        (3, "a", [("image", "img-3", 6)]),               # len 6+eos=7
        (4, "a", [("text", [11])]),                      # len 1+eos=2
        (5, "b", [("text", [12, 13]), ("image", "img-5", 2)]),  # 4+eos=5
    ])
    return pack_multimodal_windows(
        docs, "segments", budget=12, part_col="src",
        image_token_id=1, eos_id=2, pad_id=0,
    ).collect()


def test_multimodal_pack_exactly_once_and_atomic(packed):
    # every window exactly budget long, n_tokens real
    for r in packed:
        assert len(r["ids"]) == 12
        assert all(x == 0 for x in r["ids"][r["n_tokens"]:])
    # greedy in-order over part 'a' (budget 12): doc1 (8) + doc2 (4)
    # fill window 0 exactly; doc3 (7) + doc4 (2) go to window 1
    a = sorted((r for r in packed if r["src"] == "a"),
               key=lambda r: r["win"])
    assert [r["n_tokens"] for r in a] == [12, 9]
    assert a[0]["doc_starts"] == [0, 8]
    # spans tile the real tokens and never cross a window boundary
    for r in packed:
        spans = sorted(r["spans"], key=lambda s: s["start"])
        assert spans[0]["start"] == 0
        assert spans[-1]["end"] == r["n_tokens"]
        for s, t in zip(spans, spans[1:]):
            assert s["end"] == t["start"]
    # the image run is contiguous image_token_ids with its ref
    img = [s for r in a for s in r["spans"] if s["modality"] == "image"]
    assert {s["ref"] for s in img} == {"img-1", "img-3"}
    for r in a:
        for s in r["spans"]:
            if s["modality"] == "image":
                assert all(
                    x == 1 for x in r["ids"][s["start"]:s["end"]]
                )


def test_multimodal_pack_loss_labels_mask_images(spark):
    from streaming_parquet_spark.operators.multimodal import (
        multimodal_loss_spans,
        pack_multimodal_windows,
    )
    from streaming_parquet_spark.operators.pipeline import (
        with_span_labels,
    )

    docs = _seg_docs(spark, [
        (1, "a", [("text", [5, 6]), ("image", "i", 3), ("text", [7, 8])]),
    ])
    win = pack_multimodal_windows(
        docs, "segments", budget=10, part_col="src", image_token_id=1,
    )
    lab = with_span_labels(
        multimodal_loss_spans(win), "loss_spans"
    ).first()
    ids, labels, n = lab["ids"], lab["labels"], lab["n_tokens"]
    assert n == 7
    # target positions 1 (text) supervise; 2,3,4 (image) mask; 5,6 text
    assert labels[0] == ids[1]
    assert labels[1] == -100 and labels[2] == -100 and labels[3] == -100
    assert labels[4] == ids[5] and labels[5] == ids[6]
    assert all(x == -100 for x in labels[6:])


def test_multimodal_pack_refusals(spark):
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
    )

    over = _seg_docs(spark, [(1, "a", [("image", "i", 99)])])
    with pytest.raises(Exception, match="past the 12 budget"):
        pack_multimodal_windows(
            over, "segments", budget=12, part_col="src",
            image_token_id=1,
        ).collect()
    noid = _seg_docs(spark, [(1, "a", [("image", "i", 2)])])
    with pytest.raises(Exception, match="no image_token_id"):
        pack_multimodal_windows(
            noid, "segments", budget=12, part_col="src",
        ).collect()


def test_multimodal_pack_partitioning_invariant_and_sharded(spark, tmp_path):
    """Same windows from any partitioning; the packed frame persists
    under the sidecar contract with spans riding along."""
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
    )
    from streaming_parquet_spark.operators.pipeline import (
        read_token_shards,
        write_token_shards,
    )

    rows = []
    for i in range(40):
        segs = [("text", [3 + (i + j) % 7 for j in range(1 + i % 4)])]
        if i % 3 == 0:
            segs.append(("image", f"img-{i}", 1 + i % 5))
        rows.append((i, f"s{i % 2}", segs))
    docs = _seg_docs(spark, rows)

    def run(df):
        out = pack_multimodal_windows(
            df, "segments", budget=16, part_col="src",
            image_token_id=1, eos_id=2, bucket_docs=8,
        )
        return sorted(
            (r["src"], r["win"], tuple(r["ids"]), r["n_tokens"],
             tuple((s["start"], s["end"], s["modality"], s["ref"])
                   for s in r["spans"]))
            for r in out.collect()
        )

    one = run(docs.coalesce(1))
    many = run(docs.repartition(7))
    assert one == many

    vocab = spark.createDataFrame(
        [(i, f"p{i}") for i in range(16)], "id int, piece string"
    )
    win = pack_multimodal_windows(
        docs, "segments", budget=16, part_col="src",
        image_token_id=1, eos_id=2, bucket_docs=8,
    )
    path = str(tmp_path / "mmshards")
    write_token_shards(win, path, vocab, budget=16, shard_col="src",
                       eos_id=2)
    back, contract = read_token_shards(spark, path, vocab_ids=vocab)
    assert contract["budget"] == 16
    assert "spans" in back.columns
    assert back.count() == len(one)
    # spans survive the round trip intact
    assert sorted(
        (r["src"], r["win"],
         tuple((s["start"], s["end"], s["modality"], s["ref"])
               for s in r["spans"]))
        for r in back.collect()
    ) == [(s, w, sp) for (s, w, _i, _n, sp) in one]


def test_multimodal_pack_plan_is_arrow_batched(spark):
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
    )

    docs = _seg_docs(spark, [(1, "a", [("text", [5])])])
    win = pack_multimodal_windows(
        docs, "segments", budget=8, part_col="src", image_token_id=1,
    )
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_multimodal_pack_review_refusals(spark):
    """r13 review findings: duplicate order keys, NULL segment
    elements, and NULL/zero n_patches all refuse loudly instead of
    producing partitioning-dependent or silently-shrunken output."""
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
    )

    dup = _seg_docs(spark, [
        (1, "a", [("text", [5])]), (1, "a", [("text", [6])]),
    ])
    with pytest.raises(Exception, match="duplicate order key"):
        pack_multimodal_windows(
            dup, "segments", budget=8, part_col="src",
        ).collect()
    # validate_order=False opts out (same contract as the text packer)
    assert pack_multimodal_windows(
        dup, "segments", budget=8, part_col="src", validate_order=False,
    ).count() >= 1

    nullpatch = _seg_docs(spark, [(7, "a", [("image", "i", 0)])])
    with pytest.raises(Exception, match="positive patch budget"):
        pack_multimodal_windows(
            nullpatch, "segments", budget=8, part_col="src",
            image_token_id=1,
        ).collect()

    nullseg = spark.createDataFrame(
        [(9, "a", [None])],
        "doc_id bigint, src string, segments "
        "array<struct<modality string, ids array<bigint>, "
        "ref string, n_patches int>>",
    )
    with pytest.raises(Exception, match="NULL segment element"):
        pack_multimodal_windows(
            nullseg, "segments", budget=8, part_col="src",
        ).collect()


# --- Binary payload plane (VERDICT r13 item 2) ------------------------


def _payloads(spark, n=20, salt=b""):
    rows = [(i, salt + bytes([i % 251]) * (10 + i)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, payload binary")


def test_payload_store_roundtrip_and_verify(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        mint_payload_refs,
        read_payload_store,
        verify_payload_store,
        write_payload_store,
    )

    path = str(tmp_path / "store")
    df = mint_payload_refs(_payloads(spark)).select("ref", "payload")
    man = write_payload_store(df, path, n_shards=4)
    rows = man.collect()
    assert sum(r["n_payloads"] for r in rows) == 20
    assert sum(r["n_bytes"] for r in rows) == sum(
        len(r["payload"]) for r in df.collect()
    )
    got, contract = read_payload_store(spark, path)
    assert contract["format"] == "payload-store-v2"
    assert contract["n_shards"] == 4
    back = {r["ref"]: bytes(r["payload"]) for r in got.collect()}
    want = {r["ref"]: bytes(r["payload"]) for r in df.collect()}
    assert back == want
    v = verify_payload_store(spark, path)
    assert v.where(~F.col("ok")).count() == 0
    assert v.count() == len(rows)


def test_payload_store_leaves_a_caller_cache_cached(spark, tmp_path):
    # write_payload_store stages its input around the manifest pass and
    # the data write, and releases only what it staged: a frame the
    # caller cached stays cached for the caller to release
    from pyspark import StorageLevel

    from streaming_parquet_spark.operators.multimodal import (
        mint_payload_refs,
        write_payload_store,
    )

    df = mint_payload_refs(_payloads(spark)).select("ref", "payload")
    df = df.cache()
    df.count()
    write_payload_store(df, str(tmp_path / "store"), n_shards=2)
    assert df.storageLevel != StorageLevel.NONE
    df.unpersist()


def test_payload_store_refuses_duplicate_and_null(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        mint_payload_refs,
        write_payload_store,
    )

    # equal payloads, undeduped: refuse with the dropDuplicates hint
    df = mint_payload_refs(
        _payloads(spark, 5).union(_payloads(spark, 5))
    ).select("ref", "payload")
    with pytest.raises(ValueError, match="dropDuplicates"):
        write_payload_store(df, str(tmp_path / "a"), n_shards=2)
    # two DIFFERENT payloads under one ref: same refusal (forged key)
    forged = spark.createDataFrame(
        [("r1", b"aaa"), ("r1", b"bbb")], "ref string, payload binary"
    )
    with pytest.raises(ValueError, match="duplicate refs"):
        write_payload_store(forged, str(tmp_path / "b"), n_shards=2)
    # a NULL payload raises from the digest projection itself
    from py4j.protocol import Py4JJavaError

    lost = spark.createDataFrame(
        [("r1", b"aaa"), ("r2", None)], "ref string, payload binary"
    )
    with pytest.raises(Exception) as exc:
        write_payload_store(lost, str(tmp_path / "c"), n_shards=2)
    assert "NULL payload" in str(exc.value)


def test_payload_store_verify_trichotomy(spark, tmp_path):
    """Absent shard -> ok=false with 0 observed; tampered blob ->
    fingerprint mismatch; stray unmanifested shard -> surfaces."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_parquet_spark.operators.multimodal import (
        mint_payload_refs,
        verify_payload_store,
        write_payload_store,
    )

    path = str(tmp_path / "store")
    df = mint_payload_refs(_payloads(spark, 30)).select("ref", "payload")
    man = write_payload_store(df, path, n_shards=3)
    shards = sorted(r["shard"] for r in man.collect())
    assert len(shards) == 3

    # tamper: flip a byte inside one shard's parquet payloads
    sdir = os.path.join(path, f"shard={shards[0]}")
    part = [f for f in os.listdir(sdir) if f.endswith(".parquet")][0]
    t = pq.read_table(os.path.join(sdir, part))
    pl = t.column("payload").to_pylist()
    pl[0] = bytes(pl[0][:-1]) + bytes([pl[0][-1] ^ 0xFF])
    pq.write_table(
        pa.table({"ref": t.column("ref"), "payload": pa.array(
            pl, type=pa.binary())}),
        os.path.join(sdir, part),
    )
    # drop Hadoop's local-fs .crc sidecar for the rewritten part —
    # object stores have no such guard, and the point is OUR digest
    crc = os.path.join(sdir, f".{part}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    # absence: drop another shard directory entirely
    shutil.rmtree(os.path.join(path, f"shard={shards[1]}"))
    # stray: a shard with data the manifest never promised
    os.makedirs(os.path.join(path, "shard=99"))
    pq.write_table(
        pa.table({"ref": pa.array(["stray"]),
                  "payload": pa.array([b"zz"], type=pa.binary())}),
        os.path.join(path, "shard=99", "part-0.parquet"),
    )
    v = {r["shard"]: r for r in verify_payload_store(spark, path).collect()}
    assert not v[shards[0]]["ok"]  # tamper: counts match, fps differ
    assert (
        v[shards[0]]["n_payloads_observed"]
        == v[shards[0]]["n_payloads_promised"]
    )
    assert not v[shards[1]]["ok"]  # absent
    assert v[shards[1]]["n_payloads_observed"] == 0
    assert not v[99]["ok"]  # stray
    assert v[99]["n_payloads_promised"] == 0
    assert v[shards[2]]["ok"]  # the untouched shard still verifies


def test_resolve_payload_refs_strict_and_repair(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
        resolve_payload_refs,
        write_payload_store,
    )

    store = str(tmp_path / "store")
    blobs = spark.createDataFrame(
        [("img-1", b"\x89PNGfake1"), ("img-3", b"\x89PNGfake3"),
         ("img-5", b"\x89PNGfake5")],
        "ref string, payload binary",
    )
    write_payload_store(blobs, store, n_shards=2)
    docs = _seg_docs(spark, [
        (1, "a", [("text", [5, 6]), ("image", "img-1", 4), ("text", [7])]),
        (2, "a", [("image", "img-3", 6)]),
        (3, "b", [("text", [12, 13]), ("image", "img-5", 2)]),
    ])
    win = pack_multimodal_windows(
        docs, "segments", budget=12, part_col="src",
        image_token_id=1, eos_id=2,
    )
    out = resolve_payload_refs(win, store, id_cols=("src", "win"))
    rows = {r["ref"]: bytes(r["payload"]) for r in out.collect()}
    assert rows == {
        "img-1": b"\x89PNGfake1", "img-3": b"\x89PNGfake3",
        "img-5": b"\x89PNGfake5",
    }
    # span bounds ride through: each resolved row names its window run
    for r in out.collect():
        assert 0 <= r["span_start"] < r["span_end"] <= 12
        assert r["modality"] == "image"

    # a ref missing from the store: strict raises naming it,
    # strict=False reports resolved=false
    docs2 = _seg_docs(spark, [
        (9, "a", [("image", "img-gone", 3)]),
    ])
    win2 = pack_multimodal_windows(
        docs2, "segments", budget=12, part_col="src",
        image_token_id=1, eos_id=2,
    )
    with pytest.raises(Exception) as exc:
        resolve_payload_refs(win2, store, id_cols=("src", "win")).collect()
    assert "img-gone" in str(exc.value)
    soft = resolve_payload_refs(
        win2, store, id_cols=("src", "win"), strict=False
    ).collect()
    assert len(soft) == 1 and soft[0]["resolved"] is False


def test_payload_refs_content_addressed_and_portable_shards(spark, tmp_path):
    """mint_payload_refs is md5-content-addressed (equal payloads ->
    equal refs) and the shard assignment is the portable hex-word
    hash — recomputable from the ref alone, which is what lets
    resolve_payload_refs prune the store scan."""
    from streaming_parquet_spark.operators.multimodal import (
        _payload_shard_expr,
        mint_payload_refs,
    )
    import hashlib

    df = mint_payload_refs(
        spark.createDataFrame(
            [(b"same",), (b"same",), (b"other",)], "payload binary"
        )
    )
    rows = df.collect()
    refs = [r["ref"] for r in rows]
    assert refs[0] == refs[1] != refs[2]
    assert refs[0] == hashlib.md5(b"same").hexdigest()
    shard = df.select(
        _payload_shard_expr("ref", 7).alias("s"), "ref"
    ).collect()
    import duckdb

    from streaming_parquet_spark.functions.portable import hex_word_expr

    con = duckdb.connect()
    for r in shard:
        duck = con.execute(
            f"SELECT ({hex_word_expr('md5(?)', 1)}) % 7"
            .replace("md5(?)", f"md5('{r['ref']}')")
        ).fetchone()[0]
        assert int(duck) == r["s"]


# --- split_multimodal_documents (VERDICT r13 item 3) -------------------


def _flatten(segs):
    """Token-level stream of a segment list: ('t', id) per text token,
    ('i', ref, n) per image — the representation a text-run cut cannot
    change."""
    out = []
    for s in segs:
        if s["modality"] == "text":
            out += [("t", int(x)) for x in (s["ids"] or [])]
        else:
            out.append(("i", s["ref"], int(s["n_patches"])))
    return out


def test_split_multimodal_documents_property(spark):
    """Hypothesis: for ANY documents and budget, (a) every sub-doc's
    content fits budget - eos_reserve, (b) images are never split and
    all survive with their refs, (c) reassembling sub-docs in sub_idx
    order is token-level identical to the original, (d) the output
    composes with pack_multimodal_windows (no atomicity refusal) and
    total real tokens = content + one eos per sub-doc."""
    try:
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st
    except ImportError:
        pytest.skip("hypothesis not installed")

    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
        split_multimodal_documents,
    )

    seg = st.one_of(
        st.lists(st.integers(3, 90), min_size=0, max_size=15)
        .map(lambda ids: ("text", ids)),
        st.tuples(st.integers(1, 8)).map(lambda t: ("image", t[0])),
    )
    docs_strat = st.lists(
        st.lists(seg, min_size=1, max_size=6), min_size=1, max_size=5
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(docs=docs_strat, budget=st.integers(10, 40))
    def check(docs, budget):
        rows = []
        for d, segs in enumerate(docs):
            arr = []
            for k, s in enumerate(segs):
                if s[0] == "text":
                    arr.append(("text", [int(x) for x in s[1]],
                                None, None))
                else:
                    arr.append(("image", None, f"img-{d}-{k}",
                                int(s[1])))
            rows.append((d, "p", arr))
        df = spark.createDataFrame(
            rows,
            "doc_id bigint, src string, segments "
            "array<struct<modality string, ids array<bigint>, "
            "ref string, n_patches int>>",
        )
        out = split_multimodal_documents(
            df, "segments", budget=budget, eos_reserve=1
        ).collect()
        cap = budget - 1
        by_doc: dict = {}
        for rr in out:
            by_doc.setdefault(rr["doc_id"], []).append(rr)
            # (a) cap per sub-doc
            length = sum(
                len(s["ids"]) if s["modality"] == "text"
                else s["n_patches"]
                for s in rr["segments"]
            )
            assert 0 < length <= cap
            # sub_order packs (doc, sub) losslessly
            assert rr["sub_order"] == rr["doc_id"] * (1 << 20) + rr["sub_idx"]
        for d, segs in enumerate(docs):
            orig = [
                {"modality": "text", "ids": s[1], "ref": None,
                 "n_patches": None}
                if s[0] == "text"
                else {"modality": "image", "ids": None,
                      "ref": f"img-{d}-{k}", "n_patches": s[1]}
                for k, s in enumerate(segs)
            ]
            want = _flatten(orig)
            pieces = sorted(
                by_doc.get(d, []), key=lambda rr: rr["sub_idx"]
            )
            assert [rr["sub_idx"] for rr in pieces] == list(
                range(len(pieces))
            )
            got = []
            for rr in pieces:
                got += _flatten(
                    [s.asDict() for s in rr["segments"]]
                )
            # (b) + (c): token-level identity; images intact as units
            assert got == want
        # (d) composition: the packer accepts every sub-doc
        if out:
            sub_df = split_multimodal_documents(
                df, "segments", budget=budget, eos_reserve=1
            )
            win = pack_multimodal_windows(
                sub_df, "segments", budget=budget, part_col="src",
                order_col="sub_order", image_token_id=1, eos_id=2,
            ).collect()
            content = sum(
                len(s[1]) if s[0] == "text" else s[1]
                for segs in docs for s in segs
            )
            total_real = sum(rr["n_tokens"] for rr in win)
            assert total_real == content + len(out)

    check()


def test_split_multimodal_documents_refusals(spark):
    from streaming_parquet_spark.operators.multimodal import (
        split_multimodal_documents,
    )

    # an image larger than the usable budget refuses by name
    docs = _seg_docs(spark, [(1, "a", [("image", "img-big", 11)])])
    with pytest.raises(Exception) as exc:
        split_multimodal_documents(
            docs, "segments", budget=11, eos_reserve=1
        ).collect()
    assert "img-big" in str(exc.value) and "atomic" in str(exc.value)
    # bad eos_reserve / budget refuse at the driver
    with pytest.raises(ValueError, match="no room"):
        split_multimodal_documents(docs, "segments", budget=1,
                                   eos_reserve=1)
    # a non-integer order column refuses (sub_order cannot mint)
    sdocs = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    with pytest.raises(ValueError, match="integer column"):
        split_multimodal_documents(sdocs, "segments", budget=12)
    # NULL segment elements refuse, same as the packer
    null_seg = spark.sql(
        "SELECT CAST(1 AS BIGINT) doc_id, 'a' src, "
        "array(CAST(NULL AS struct<modality string, "
        "ids array<bigint>, ref string, n_patches int>)) segments"
    )
    with pytest.raises(Exception) as exc:
        split_multimodal_documents(
            null_seg, "segments", budget=12
        ).collect()
    assert "NULL segment" in str(exc.value)


def test_split_then_pack_long_document(spark):
    """The motivating case end-to-end: one document longer than the
    budget — refused by the packer alone — splits and packs, with
    original boundaries recoverable from sub_idx."""
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
        split_multimodal_documents,
    )

    docs = _seg_docs(spark, [
        (7, "a", [("text", list(range(3, 13))), ("image", "im-1", 5),
                  ("text", list(range(20, 32))), ("image", "im-2", 4),
                  ("text", [40, 41])]),
    ])
    with pytest.raises(Exception, match="atomically"):
        pack_multimodal_windows(
            docs, "segments", budget=12, part_col="src",
            image_token_id=1, eos_id=2,
        ).collect()
    sub = split_multimodal_documents(docs, "segments", budget=12)
    rows = sorted(sub.collect(), key=lambda r: r["sub_idx"])
    assert [r["sub_idx"] for r in rows] == list(range(len(rows)))
    assert rows[0]["sub_idx"] == 0  # original start recoverable
    win = pack_multimodal_windows(
        sub, "segments", budget=12, part_col="src",
        order_col="sub_order", image_token_id=1, eos_id=2,
    ).collect()
    content = 10 + 5 + 12 + 4 + 2
    assert sum(r["n_tokens"] for r in win) == content + len(rows)
    # images intact in the packed spans
    img_spans = [
        (s["ref"], s["end"] - s["start"])
        for r in win for s in r["spans"] if s["modality"] == "image"
    ]
    assert sorted(img_spans) == [("im-1", 5), ("im-2", 4)]


def test_resolve_payload_refs_null_ref_surfaces(spark, tmp_path):
    """An image span packed WITHOUT a ref must not vanish from the
    resolve output (review r14): strict raises naming the null, the
    repair shape reports resolved=false."""
    from streaming_parquet_spark.operators.multimodal import (
        pack_multimodal_windows,
        resolve_payload_refs,
        write_payload_store,
    )

    store = str(tmp_path / "store")
    write_payload_store(
        spark.createDataFrame([("r1", b"x")], "ref string, payload binary"),
        store, n_shards=2,
    )
    docs = spark.createDataFrame(
        [(1, "a", [("image", None, None, 3)])],
        "doc_id bigint, src string, segments array<struct<"
        "modality string, ids array<bigint>, ref string, n_patches int>>",
    )
    win = pack_multimodal_windows(
        docs, "segments", budget=8, part_col="src",
        image_token_id=1, eos_id=2,
    )
    with pytest.raises(Exception) as exc:
        resolve_payload_refs(win, store, id_cols=("src", "win")).collect()
    assert "NULL ref" in str(exc.value)
    soft = resolve_payload_refs(
        win, store, id_cols=("src", "win"), strict=False
    ).collect()
    assert len(soft) == 1
    assert soft[0]["resolved"] is False and soft[0]["ref"] is None


def test_verify_payload_store_supplied_manifest_format_check(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        verify_payload_store,
        write_payload_store,
    )

    store = str(tmp_path / "store")
    man = write_payload_store(
        spark.createDataFrame([("r1", b"x")], "ref string, payload binary"),
        store, n_shards=1,
    )
    foreign = man.withColumn("format", F.lit("payload-store-v9"))
    with pytest.raises(ValueError, match="payload-store-v2"):
        verify_payload_store(spark, store, manifest=foreign)


# --- payload store lifecycle: append / orphans / compaction ------------


def test_payload_store_append_lifecycle(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        append_payload_store,
        mint_payload_refs,
        read_payload_store,
        verify_payload_store,
        write_payload_store,
    )

    path = str(tmp_path / "store")
    base = mint_payload_refs(_payloads(spark, 10)).select("ref", "payload")
    write_payload_store(base, path, n_shards=3)

    # a fresh wave lands and the whole store still verifies
    wave2 = mint_payload_refs(
        _payloads(spark, 8, salt=b"v2-")
    ).select("ref", "payload")
    rows = append_payload_store(wave2, path)
    assert sum(r["n_payloads"] for r in rows.collect()) == 8
    v = verify_payload_store(spark, path)
    assert v.where("NOT ok").count() == 0
    got, _ = read_payload_store(spark, path)
    assert got.count() == 18

    # replaying the same batch is a no-op (idempotent by content)
    again = append_payload_store(wave2, path)
    assert again.count() == 0
    assert read_payload_store(spark, path)[0].count() == 18
    assert verify_payload_store(spark, path).where("NOT ok").count() == 0

    # a batch overlapping older waves with IDENTICAL content skips the
    # overlap and lands only the genuinely new blobs
    mixed = base.limit(4).union(
        mint_payload_refs(_payloads(spark, 3, salt=b"v3-"))
        .select("ref", "payload")
    )
    w3 = append_payload_store(mixed, path)
    assert sum(r["n_payloads"] for r in w3.collect()) == 3
    assert read_payload_store(spark, path)[0].count() == 21
    assert verify_payload_store(spark, path).where("NOT ok").count() == 0

    # a forged key (same ref, different bytes) refuses before writing
    forged = spark.createDataFrame(
        [(base.first()["ref"], b"EVIL")], "ref string, payload binary"
    )
    with pytest.raises(ValueError, match="DIFFERENT content"):
        append_payload_store(forged, path)
    assert read_payload_store(spark, path)[0].count() == 21

    # column assertion against the contract
    with pytest.raises(ValueError, match="do not match"):
        append_payload_store(wave2, path, ref_col="other")


def test_payload_store_append_crash_replay_repairs(spark, tmp_path, monkeypatch):
    """The crash window: data landed, the wave's sidecar rows did not.
    verify fails loudly; REPLAYING the same batch repairs — leftovers
    fold into the same wave id and the re-digest acknowledges them."""
    import streaming_parquet_spark.operators.multimodal as M

    path = str(tmp_path / "store")
    base = M.mint_payload_refs(_payloads(spark, 10)).select("ref", "payload")
    M.write_payload_store(base, path, n_shards=3)
    wave2 = M.mint_payload_refs(
        _payloads(spark, 6, salt=b"crash-")
    ).select("ref", "payload")

    # simulate the crash: land the data leg, then die before the
    # sidecar append (patch the manifest writer to raise once)
    real_create = spark.createDataFrame
    calls = {"n": 0}

    class _Boom(RuntimeError):
        pass

    def dying_create(data, schema=None, **kw):
        if schema == M._PAYLOAD_MANIFEST_SCHEMA:
            calls["n"] += 1
            if calls["n"] == 1:
                raise _Boom("simulated crash before sidecar append")
        return real_create(data, schema, **kw)

    monkeypatch.setattr(spark, "createDataFrame", dying_create)
    with pytest.raises(_Boom):
        M.append_payload_store(wave2, path)
    monkeypatch.setattr(spark, "createDataFrame", real_create)

    # loudly incomplete: the landed-but-unacknowledged rows flip the
    # touched shards' fingerprints
    bad = M.verify_payload_store(spark, path).where("NOT ok").count()
    assert bad > 0

    # replay repairs: same batch -> same wave id; leftovers skip as
    # identical content and the wave acknowledges from the data
    rows = M.append_payload_store(wave2, path)
    assert sum(r["n_payloads"] for r in rows.collect()) == 6
    assert M.verify_payload_store(spark, path).where("NOT ok").count() == 0
    assert M.read_payload_store(spark, path)[0].count() == 16
    # and a second replay after the repair is a clean no-op
    assert M.append_payload_store(wave2, path).count() == 0


def test_payload_orphans_and_compaction(spark, tmp_path):
    from streaming_parquet_spark.operators.multimodal import (
        compact_payload_store,
        orphan_payload_refs,
        pack_multimodal_windows,
        verify_payload_store,
        write_payload_store,
        resolve_payload_refs,
    )

    store = str(tmp_path / "store")
    blobs = spark.createDataFrame(
        [("img-1", b"a"), ("img-3", b"b"), ("img-unused", b"c"),
         ("img-gone2", b"d")],
        "ref string, payload binary",
    )
    write_payload_store(blobs, store, n_shards=2)
    docs = _seg_docs(spark, [
        (1, "a", [("text", [5, 6]), ("image", "img-1", 4)]),
        (2, "a", [("image", "img-3", 6)]),
    ])
    win = pack_multimodal_windows(
        docs, "segments", budget=12, part_col="src",
        image_token_id=1, eos_id=2,
    )
    orphans = {r["ref"] for r in orphan_payload_refs(win, store).collect()}
    assert orphans == {"img-unused", "img-gone2"}

    dst = str(tmp_path / "compacted")
    man = compact_payload_store(spark, store, dst, win)
    assert sum(r["n_payloads"] for r in man.collect()) == 2
    assert verify_payload_store(spark, dst).where("NOT ok").count() == 0
    out = resolve_payload_refs(win, dst, id_cols=("src", "win"))
    assert {r["ref"]: bytes(r["payload"]) for r in out.collect()} == {
        "img-1": b"a", "img-3": b"b",
    }
    # write-once destination
    with pytest.raises(Exception):
        compact_payload_store(spark, store, dst, win)


def test_payload_pass3_refusals_and_partial_sidecar(spark, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import streaming_parquet_spark.operators.multimodal as M

    # (a) a foreign-format store refuses with the pinned message, not
    # an unresolved-column planner error
    v1 = str(tmp_path / "v1store")
    os.makedirs(os.path.join(v1, "shard=0"))
    pq.write_table(
        pa.table({"ref": pa.array(["r"]),
                  "payload": pa.array([b"x"], type=pa.binary())}),
        os.path.join(v1, "shard=0", "part-0.parquet"),
    )
    os.makedirs(os.path.join(v1, "_manifest"))
    pq.write_table(
        pa.table({
            "shard": pa.array([0], type=pa.int32()),
            "n_payloads": pa.array([1]), "n_refs": pa.array([1]),
            "n_bytes": pa.array([1]), "fp_a": pa.array([0]),
            "fp_b": pa.array([0]),
            "format": pa.array(["payload-store-v1"]),
            "n_shards": pa.array([1], type=pa.int32()),
            "ref_col": pa.array(["ref"]),
            "payload_col": pa.array(["payload"]),
        }),
        os.path.join(v1, "_manifest", "part-0.parquet"),
    )
    df = spark.createDataFrame([("r2", b"y")], "ref string, payload binary")
    with pytest.raises(ValueError, match="payload-store-v2"):
        M.append_payload_store(df, v1)

    # (b) NULL-modality spans refuse in orphan/compact, not silently
    # classify a referenced blob as an orphan
    store = str(tmp_path / "store")
    M.write_payload_store(
        spark.createDataFrame([("img-1", b"a")], "ref string, payload binary"),
        store, n_shards=1,
    )
    corrupt = spark.sql(
        "SELECT array(named_struct('start', 0, 'end', 3, "
        "'modality', CAST(NULL AS STRING), 'ref', 'img-1')) AS spans"
    )
    with pytest.raises(Exception) as exc:
        M.orphan_payload_refs(corrupt, store).collect()
    assert "NULL modality" in str(exc.value)

    # (c) a keep set of zero blobs refuses at compact time
    unrelated = _seg_docs(spark, [(1, "a", [("text", [5, 6])])])
    win = M.pack_multimodal_windows(
        unrelated, "segments", budget=8, part_col="src",
        image_token_id=1, eos_id=2,
    )
    with pytest.raises(ValueError, match="reference no blob"):
        M.compact_payload_store(spark, store, str(tmp_path / "dst"), win)

    # (d) PARTIAL sidecar for a wave: replay acknowledges the missing
    # shards instead of no-op'ing while verify fails forever
    big = str(tmp_path / "big")
    M.write_payload_store(
        M.mint_payload_refs(_payloads(spark, 12)).select("ref", "payload"),
        big, n_shards=3,
    )
    wave = M.mint_payload_refs(
        _payloads(spark, 9, salt=b"pw-")
    ).select("ref", "payload")
    rows = M.append_payload_store(wave, big)
    waved = sorted(r["shard"] for r in rows.collect())
    assert len(waved) >= 2
    # simulate the partial sidecar: delete the wave's rows for all but
    # one shard (rewrite the sidecar without them)
    wid = rows.first()["wave"]
    man = spark.read.parquet(os.path.join(big, "_manifest"))
    keep_shard = waved[0]
    pruned = man.where(
        (F.col("wave") != wid) | (F.col("shard") == keep_shard)
    )
    pdfm = pruned.toPandas()
    import shutil as _sh

    _sh.rmtree(os.path.join(big, "_manifest"))
    spark.createDataFrame(pdfm).write.parquet(
        os.path.join(big, "_manifest")
    )
    assert M.verify_payload_store(spark, big).where("NOT ok").count() > 0
    repaired = M.append_payload_store(wave, big)
    assert sorted(r["shard"] for r in repaired.collect()) == waved[1:]
    assert M.verify_payload_store(spark, big).where("NOT ok").count() == 0
    # and the next replay is a clean no-op
    assert M.append_payload_store(wave, big).count() == 0


def test_payload_ingest_stream_exactly_once_by_content(spark, tmp_path):
    """The pixel-plane producer: a checkpointed availableNow file
    stream lands one content-addressed wave per trigger; replays and
    cross-batch duplicates skip by content; new files land only their
    genuinely new blobs."""
    import shutil

    from streaming_parquet_spark.operators.multimodal import (
        payload_ingest_stream,
        read_payload_store,
        verify_payload_store,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    # cold start: nothing delivered -> zero batches, no store
    r0 = payload_ingest_stream(spark, src, store, ckpt, n_shards=3)
    assert r0.batches == [] and r0.rows_in == 0

    def deliver(name, lo, n, dup_of=None):
        rows = [
            (lo + i,
             (b"blob-%d" % (dup_of + i if dup_of is not None else lo + i))
             * 3)
            for i in range(n)
        ]
        spark.createDataFrame(
            rows, "i long, payload binary"
        ).coalesce(1).write.mode("append").parquet(src)

    deliver("a", 0, 10)
    r1 = payload_ingest_stream(spark, src, store, ckpt, n_shards=3)
    assert r1.rows_in == 10 and r1.blobs_landed == 10
    assert verify_payload_store(spark, store).where("NOT ok").count() == 0
    assert read_payload_store(spark, store)[0].count() == 10

    # resume with no new files: no batches at all
    r2 = payload_ingest_stream(spark, src, store, ckpt)
    assert r2.rows_in == 0
    # a FULL replay (fresh checkpoint) re-reads everything but lands
    # nothing new — exactly-once by content
    r3 = payload_ingest_stream(
        spark, src, store, str(tmp_path / "ckpt2")
    )
    assert r3.rows_in == 10 and r3.blobs_landed == 0
    assert read_payload_store(spark, store)[0].count() == 10

    # a second delivery overlapping the first by content: only the
    # new blobs land
    deliver("b", 100, 6, dup_of=5)  # blobs 5..10: 5 dups + 1 new
    r4 = payload_ingest_stream(spark, src, store, ckpt)
    assert r4.rows_in == 6 and r4.blobs_landed == 1
    assert read_payload_store(spark, store)[0].count() == 11
    assert verify_payload_store(spark, store).where("NOT ok").count() == 0

    # a disagreeing n_shards refuses against the pinned contract
    deliver("c", 200, 1)
    with pytest.raises(Exception, match="authoritative"):
        payload_ingest_stream(spark, src, store, ckpt, n_shards=7)


def test_payload_ingest_continuous_then_available_now(spark, tmp_path):
    """The r15 trigger drill on the pixel-plane producer: continuous
    (processingTime) mode bootstraps the store and keeps landing waves
    as files arrive; stopping and restarting availableNow over the
    same checkpoint composes — nothing re-lands, and the
    content-addressed exactly-once property holds across the mode
    switch."""
    import time

    from streaming_parquet_spark.operators.multimodal import (
        payload_ingest_stream,
        read_payload_store,
        verify_payload_store,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def deliver(lo, n):
        spark.createDataFrame(
            [(lo + i, (b"cblob-%d" % (lo + i)) * 3) for i in range(n)],
            "i long, payload binary",
        ).coalesce(1).write.mode("append").parquet(src)

    def await_(cond, timeout_s=90):
        t0 = time.time()
        while time.time() - t0 < timeout_s:
            if cond():
                return True
            time.sleep(0.5)
        return False

    deliver(0, 8)
    r = payload_ingest_stream(
        spark, src, store, ckpt, n_shards=3,
        trigger_interval="1 seconds",
    )
    assert r.query is not None and r.query.isActive
    try:
        assert await_(lambda: r.blobs_landed >= 8)  # bootstrap trigger
        deliver(100, 5)  # lands into the LIVE stream (append wave)
        assert await_(lambda: r.blobs_landed >= 13)
    finally:
        r.query.stop()
    assert verify_payload_store(spark, store).where("NOT ok").count() == 0
    assert read_payload_store(spark, store)[0].count() == 13

    # availableNow restart over the same checkpoint: offsets compose —
    # stopping a continuous query may race the offset commit, so the
    # last batch MAY replay, but identical content lands nothing
    r2 = payload_ingest_stream(spark, src, store, ckpt)
    assert r2.blobs_landed == 0
    # an overlapping delivery through the availableNow shape lands
    # only its genuinely new blob
    spark.createDataFrame(
        [(200, (b"cblob-0") * 3), (201, (b"cblob-new") * 3)],
        "i long, payload binary",
    ).coalesce(1).write.mode("append").parquet(src)
    r3 = payload_ingest_stream(spark, src, store, ckpt)
    assert r3.rows_in == 2 and r3.blobs_landed == 1
    assert read_payload_store(spark, store)[0].count() == 14
    assert verify_payload_store(spark, store).where("NOT ok").count() == 0
