"""Unit tests for the binary/image layer: codec round-trip, deterministic
k-means on non-degenerate images, and the binaryFile ingest path (S1/P1,
pyspark_yolox.py:123 / pyspark_dominant.py:25 equivalents)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.images.codec import decode_image, encode_image
from bigdata_imgprocessing_spark.images.color import _avg_color, _kmeans_dominant
from bigdata_imgprocessing_spark.images.detect import _detections_for_id


def test_codec_roundtrip():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert (decode_image(encode_image(img)) == img).all()


def test_codec_grayscale_roundtrip():
    img = np.arange(12, dtype=np.uint8).reshape(4, 3)
    out = decode_image(encode_image(img))
    assert out.shape == (4, 3, 1)
    assert (out[:, :, 0] == img).all()


def test_codec_rejects_unknown_format():
    # truly unknown magic → NotImplementedError (no codec claims it)
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a definitely not supported")
    # JPEG magic but corrupt body → the native JPEG decoder owns it now
    # and must raise a clean ValueError (quarantine contract)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 not really a jpeg")


def test_codec_cv2_slot_in(monkeypatch, caplog):
    """The cv2 dispatch branch is live code, not dead glue: with a fake
    cv2 module patched in, non-FIMG bytes route through cv2.imdecode
    (and FIMG bytes still take the native path, never touching cv2).
    Each fallback logs one INFO line naming its reason; without cv2 the
    codec's NotImplementedError propagates."""
    import logging

    from bigdata_imgprocessing_spark.images import codec

    calls = []

    class FakeCv2:
        IMREAD_COLOR = 1

        @staticmethod
        def imdecode(arr, flag):
            calls.append((bytes(arr.tobytes()), flag))
            return np.full((2, 3, 3), 7, dtype=np.uint8)

    monkeypatch.setattr(codec, "_HAS_CV2", True)
    monkeypatch.setattr(codec, "cv2", FakeCv2, raising=False)

    # baseline, progressive, lossless, partial-interleave, and CMYK
    # all decode natively as of r8 — cv2 is the slot-in for the
    # remaining EXOTIC variants the native decoders gate behind
    # NotImplementedError (arithmetic-coded SOF9 here), matching the
    # dispatch contract
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg

    good = encode_jpeg(np.full((8, 8, 3), 50, dtype=np.uint8))
    sof = good.find(bytes([0xFF, 0xC0]))
    arith = good[: sof + 1] + b"\xc9" + good[sof + 2 :]
    with caplog.at_level(logging.INFO, logger=codec.__name__):
        out = codec.decode_image(arith)
        codec.decode_image(b"GIF89a not a native format")
    assert out.shape == (2, 3, 3) and (out == 7).all()
    assert calls == [(arith, FakeCv2.IMREAD_COLOR),
                     (b"GIF89a not a native format", FakeCv2.IMREAD_COLOR)]
    assert [r.getMessage() for r in caplog.records if r.name == codec.__name__] == [
        "image decode via cv2: arithmetic/hierarchical JPEG (SOF 0xFFC9)",
        "image decode via cv2: unrecognized format",
    ]

    # FIMG bytes bypass cv2 even when it is importable
    native = codec.decode_image(encode_image(np.zeros((4, 4, 3), np.uint8)))
    assert native.shape == (4, 4, 3)
    assert len(calls) == 2

    # without cv2 the codec's gate propagates
    monkeypatch.setattr(codec, "_HAS_CV2", False)
    with pytest.raises(NotImplementedError, match="arithmetic"):
        codec.decode_image(arith)


def test_avg_color_exact():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[0, 0] = (10, 20, 30)
    img[0, 1] = (20, 30, 40)
    img[1, 0] = (30, 40, 50)
    img[1, 1] = (40, 50, 60)
    assert _avg_color(encode_image(img)) == [25.0, 35.0, 45.0]


def test_kmeans_dominant_majority_color():
    """16 pixels: 12 near-red, 4 near-blue → dominant ≈ red centroid."""
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[:, :] = (200, 10, 10)
    img[0, :2] = (10, 10, 200)
    img[1, :2] = (12, 10, 198)
    # slight noise on the majority so clusters aren't single points
    img[2, 0] = (198, 12, 10)
    dom = _kmeans_dominant(encode_image(img), k=2)
    assert dom[0] > 150 and dom[2] < 60  # red-ish wins


def test_kmeans_deterministic_across_calls():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    buf = encode_image(img)
    assert _kmeans_dominant(buf) == _kmeans_dominant(buf)


def test_detection_stub_deterministic_and_thresholdable():
    d1 = _detections_for_id("42")
    assert d1 == _detections_for_id("42")
    assert all(0 <= d["class_id"] < 80 and 0.0 <= d["score"] < 1.0 for d in d1)


def test_binaryfile_source_ingest(spark, tmp_path):
    """S1: glob ingest of binary files + P1 file-id extraction
    (regexp_extract of the basename, pyspark_yolox.py:93) + decode UDF."""
    from bigdata_imgprocessing_spark.images.color import average_color_udf

    for i, val in enumerate([0, 100, 255]):
        img = np.full((2, 2, 3), val, dtype=np.uint8)
        (tmp_path / f"img_{i}.fimg").write_bytes(encode_image(img))
    (tmp_path / "ignored.txt").write_text("not an image")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.fimg")
        .load(str(tmp_path))
    )
    assert df.count() == 3
    out = (
        df.select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.fimg$", 1).alias("img_id"),
            average_color_udf("content").alias("avg"),
        )
        .orderBy("img_id")
        .collect()
    )
    assert [r.img_id for r in out] == ["img_0", "img_1", "img_2"]
    assert [r.avg[0] for r in out] == [0.0, 100.0, 255.0]


def test_binaryfile_jpg_glob_matches_reference_ingest(spark, tmp_path):
    """The reference's EXACT S1 shape — binaryFile scan with
    pathGlobFilter("*.jpg") (pyspark_yolox.py:123, pyspark_dominant.py:25)
    — over REAL JPEG bytes from the native codec, through P1 id
    extraction and the decode UDF. Until round 6 this leg needed cv2;
    now the whole reference ingest path runs stdlib-only."""
    from bigdata_imgprocessing_spark.images.color import average_color_udf
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg

    for i, val in enumerate([0, 100, 255]):
        img = np.full((16, 16, 3), val, dtype=np.uint8)
        (tmp_path / f"photo_{i}.jpg").write_bytes(encode_jpeg(img))
    (tmp_path / "ignored.png").write_bytes(b"not scanned")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(str(tmp_path))
    )
    assert df.count() == 3
    out = (
        df.select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.jpg$", 1).alias("img_id"),
            average_color_udf("content").alias("avg"),
        )
        .orderBy("img_id")
        .collect()
    )
    assert [r.img_id for r in out] == ["photo_0", "photo_1", "photo_2"]
    # flat gray JPEGs round-trip bit-exactly (all-ones quantization)
    assert [r.avg[0] for r in out] == [0.0, 100.0, 255.0]


def test_letterbox_upscale_and_pad():
    from bigdata_imgprocessing_spark.images.transform import PAD_VALUE, letterbox

    img = np.array([[[10, 20, 30], [40, 50, 60]],
                    [[70, 80, 90], [100, 110, 120]]], dtype=np.uint8)
    out = letterbox(img, 4, 6)
    assert out.shape == (4, 6, 3)
    # scale 2: each source pixel becomes a 2x2 block
    assert (out[0:2, 0:2] == img[0, 0]).all()
    assert (out[2:4, 2:4] == img[1, 1]).all()
    # right strip is padding
    assert (out[:, 4:6] == PAD_VALUE).all()


def test_letterbox_downscale():
    from bigdata_imgprocessing_spark.images.transform import letterbox

    img = np.zeros((8, 8, 1), dtype=np.uint8)
    img[0:4] = 200  # top half bright
    out = letterbox(img, 4, 4)
    assert out.shape == (4, 4, 1)
    assert (out[0:2] == 200).all() and (out[2:4] == 0).all()


# --------------------------------------------------------------------------
# Real-format codecs (images/formats.py): stdlib BMP + PNG, P4.
# --------------------------------------------------------------------------


def test_bmp_golden_bytes():
    """encode_bmp output checked byte-for-byte against a hand-assembled
    BMP (so an encoder/decoder bug pair that cancels in a round trip
    still fails here): 2x1 RGB, bottom-up BGR rows padded to 4 bytes."""
    import struct

    from bigdata_imgprocessing_spark.images.formats import decode_bmp, encode_bmp

    img = np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)  # 1 row, 2 px RGB
    got = encode_bmp(img)
    row = bytes([3, 2, 1, 6, 5, 4]) + b"\x00\x00"  # BGR BGR + pad-to-8
    expect = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + 8, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 2835, 2835, 0, 0)
        + row
    )
    assert got == expect
    assert np.array_equal(decode_bmp(got), img)


def test_bmp_roundtrip_with_padding_and_topdown():
    """Odd widths force row padding; negative height means top-down rows
    — both must reconstruct the identical array."""
    from bigdata_imgprocessing_spark.images.formats import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (5, 3, 3), dtype=np.uint8)  # stride 9→12 pad
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)

    # hand-flip to a top-down file: negate height, rows in natural order
    buf = bytearray(encode_bmp(np.ascontiguousarray(img[::-1])))
    import struct as _s

    h = _s.unpack_from("<i", buf, 22)[0]
    _s.pack_into("<i", buf, 22, -h)
    assert np.array_equal(decode_bmp(bytes(buf)), img[::-1][::-1])


def test_png_roundtrip_all_channel_counts():
    from bigdata_imgprocessing_spark.images.formats import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in [(4, 3), (4, 3, 3), (2, 5, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img), shape


def test_png_unfilter_all_filter_types():
    """Decoder must invert every spec filter (0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth): forward-filter rows here per the spec and
    hand-assemble the IDAT, then require exact reconstruction."""
    import struct
    import zlib

    from bigdata_imgprocessing_spark.images.formats import PNG_MAGIC, decode_png

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    h, w, c = img.shape

    def fwd(ftype, row, prev):
        out = row.astype(np.int16).copy()
        for i in range(len(row)):
            a = int(row[i - c]) if i >= c else 0
            b = int(prev[i])
            cc = int(prev[i - c]) if i >= c else 0
            if ftype == 1:
                out[i] = row[i] - a
            elif ftype == 2:
                out[i] = row[i] - b
            elif ftype == 3:
                out[i] = row[i] - ((a + b) >> 1)
            elif ftype == 4:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                out[i] = row[i] - pred
        return (out % 256).astype(np.uint8)

    flat = img.reshape(h, w * c)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for r in range(h):
        ftype = r % 5  # exercise every filter type across the rows
        raw.append(ftype)
        raw += fwd(ftype, flat[r], prev).tobytes()
        prev = flat[r]

    def chunk(tag, payload):
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(">I", zlib.crc32(body))

    buf = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(buf), img)


def test_decode_image_dispatches_on_magic():
    """The codec front door routes FIMG, BMP, and PNG bytes to the right
    decoder with no cv2 present."""
    from bigdata_imgprocessing_spark.images.formats import encode_bmp, encode_png

    img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    for buf in (encode_image(img), encode_bmp(img), encode_png(img)):
        assert np.array_equal(decode_image(buf), img)


def test_format_decoders_reject_garbage_loudly():
    """Truncated or alien buffers must raise a clear error, never return
    a silently-wrong array (a 100 TB ingest WILL contain corrupt blobs;
    the quarantine path needs a reliable exception to catch)."""
    import pytest as _pytest

    from bigdata_imgprocessing_spark.images.formats import (
        decode_bmp,
        decode_png,
        encode_bmp,
        encode_png,
    )

    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    with _pytest.raises(Exception):
        decode_bmp(encode_bmp(img)[:20])  # truncated header/body
    with _pytest.raises(Exception):
        decode_png(encode_png(img)[:16])  # truncated past magic
    with _pytest.raises(ValueError):
        decode_bmp(b"PK\x03\x04 not a bmp")
    with _pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish bytes")  # corrupt JPEG, no cv2


def test_textured_gray_fixture_is_exact_and_adversarial():
    """The r8 adversarial JPEG leg (queries/images._TEXTURED_GRAY): for
    every DC shift the driver can derive from an embedding byte, both
    codecs round-trip BIT-EXACTLY (so the analytic oracle stays valid)
    and the quantized coefficients keep the sparse-high-frequency shape
    that exercises the AC zero-run / refinement-ZRL encoder paths the
    flat fixtures never reach (the r7 bug's hiding place)."""
    from bigdata_imgprocessing_spark.images.jpeg import (
        _T,
        _ZIGZAG,
        decode_jpeg,
        encode_jpeg,
    )
    from bigdata_imgprocessing_spark.images.jpeg_progressive import (
        encode_jpeg_progressive,
    )
    from bigdata_imgprocessing_spark.queries.images import _TEXTURED_GRAY

    assert _TEXTURED_GRAY.shape == (8, 8)
    assert int(_TEXTURED_GRAY.sum()) == 128 * 64  # mean exactly 128

    def has_trigger(img):
        c = _T @ (img.astype(np.float64) - 128.0) @ _T.T
        zzq = np.round(c).astype(int).flat[_ZIGZAG]
        run, hit = 0, None
        for k in range(1, 64):
            v = int(zzq[k])
            if v == 0:
                run += 1
                continue
            if abs(v) >= 2:
                if run > 15:
                    hit = k
            else:
                if hit is not None:
                    return True
                run = 0
        return False

    # edges + a stride through the shift range (full 128-shift sweep
    # ran in the r8 build tools; this keeps the suite fast)
    for c in (-64, -33, -17, -1, 0, 1, 15, 31, 63):
        t = (_TEXTURED_GRAY.astype(np.int64) + c).astype(np.uint8)
        assert (decode_jpeg(encode_jpeg(t)) == t).all(), c
        assert (decode_jpeg(encode_jpeg_progressive(t)) == t).all(), c
        assert has_trigger(t), c


def test_avg_and_dominant_handle_grayscale_decode():
    """Gray JPEG decodes to a 2-D plane; the color UDF helpers must
    treat it as replicated channels, not crash on the missing axis."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg

    g = np.full((4, 4), 77, dtype=np.uint8)
    buf = encode_jpeg(g)
    assert _avg_color(buf) == [77.0, 77.0, 77.0]
    assert _kmeans_dominant(buf) == [77, 77, 77]


def test_format_ingest_mix_covers_r8_decode_paths():
    """The r8 format mix must actually emit the formats its oracle
    assumes: %48==29 → lossless SOF3, %48==35 → Adobe CMYK (APP14,
    4-component SOF), %48==5 → partially interleaved (two SOS), and
    each decodes to the analytic pixel values the driver hash uses."""
    import pandas as pd

    from bigdata_imgprocessing_spark.queries.images import (
        _real_format_image_udf,
    )

    emb = [0.0215, 0.0301, 0.0407, 0.0113, 0.0229, 0.0335,
           0.0441, 0.0127, 0.0233, 0.0339, 0.0445, 0.0151] + [0.0] * 4
    px = (np.abs((np.array(emb[:12]) * 1000.0).astype(np.int64)) % 256
          ).astype(np.uint8).reshape(2, 2, 3)
    fn = _real_format_image_udf.func
    out = fn(pd.Series([29, 35, 5]), pd.Series([emb, emb, emb]))

    lossless = out[0]
    assert bytes([0xFF, 0xC3]) in lossless
    assert (decode_image(lossless) == px).all()  # exact arbitrary content

    cmyk = out[1]
    assert b"Adobe" in cmyk
    rgb = decode_image(cmyk)
    assert rgb.shape == (2, 2, 3)
    assert (rgb == px[0, 0]).all()  # flat planes = first pixel's bytes

    partial = out[2]
    assert partial.count(bytes([0xFF, 0xDA])) == 2  # luma + CbCr scans
    assert (decode_image(partial) == int(px[0, 0, 0])).all()  # flat gray

    # r8 lossless-format legs: %6==3 -> 32-bit BMP, %6==4 -> Adam7 PNG
    out2 = fn(pd.Series([3, 4]), pd.Series([emb, emb]))
    bmp32 = out2[0]
    assert bmp32[:2] == b"BM"
    import struct as _struct

    assert _struct.unpack_from("<H", bmp32, 14 + 14)[0] == 32  # biBitCount
    assert (decode_image(bmp32) == px).all()
    png_i = out2[1]
    assert png_i[28] == 1  # IHDR interlace byte (8 magic + 8 + 13th field)
    assert (decode_image(png_i) == px).all()


def test_png_extended_color_types_and_depths():
    """The r8 PNG envelope: palette (with and without tRNS), sub-byte
    depths with spec sample scaling, 16-bit high-byte reduction, and
    gray+alpha — each against a handcrafted spec-conformant stream."""
    import struct
    import zlib

    from bigdata_imgprocessing_spark.images.formats import (
        PNG_MAGIC,
        _chunk,
        decode_png,
    )

    rng = np.random.default_rng(4)
    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(7, 9), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(7))
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 7, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == plte[idx.astype(int)]).all()

    # palette + tRNS → RGBA with per-index alpha (255 past the table)
    trns = bytes([10, 200, 255, 0])
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 7, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"tRNS", trns)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    out = decode_png(buf)
    alpha = np.full(16, 255, dtype=np.uint8)
    alpha[:4] = np.frombuffer(trns, dtype=np.uint8)
    assert (out == np.dstack([plte[idx.astype(int)], alpha[idx.astype(int)]])).all()

    # 4-bit palette: two indices per byte, big-endian within the byte
    idx4 = rng.integers(0, 16, size=(5, 6), dtype=np.uint8)
    rows = []
    for r in range(5):
        by = bytearray()
        for i in range(0, 6, 2):
            by.append((int(idx4[r, i]) << 4) | int(idx4[r, i + 1]))
        rows.append(b"\x00" + bytes(by))
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 5, 4, 3, 0, 0, 0))
        + _chunk(b"PLTE", plte.tobytes())
        + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == plte[idx4.astype(int)]).all()

    # 16-bit gray → high byte; 1-bit gray → 0/255 scaling
    g16 = rng.integers(0, 65536, size=(4, 5), dtype=np.uint16)
    raw16 = b"".join(b"\x00" + g16[r].byteswap().tobytes() for r in range(4))
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 16, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw16))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == (g16 >> 8).astype(np.uint8)).all()

    bits = np.array([[1, 0, 1, 0, 1, 0, 1, 0, 1]], dtype=np.uint8)
    packed = bytes([0b10101010, 0b10000000])  # 9 bits, padded
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 1, 1, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x00" + packed))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == bits * 255).all()

    # gray+alpha (type 4)
    ga = rng.integers(0, 256, size=(6, 4, 2), dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[r].tobytes() for r in range(6))
    buf = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 6, 8, 4, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == ga).all()


def test_png_adam7_interlace_roundtrip():
    """Adam7 seven-pass interlace must reproduce the image exactly for
    any size — including dimensions smaller than the 8x8 pass grid,
    which leave some passes EMPTY (they must contribute zero scanlines,
    not a phantom filter byte)."""
    from bigdata_imgprocessing_spark.images.formats import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in ((1, 1), (3, 5), (8, 8), (17, 23), (5, 2)):
        for c in (None, 3, 4):
            s = shape if c is None else (*shape, c)
            img = rng.integers(0, 256, size=s, dtype=np.uint8)
            buf = encode_png(img, interlace=True)
            assert (decode_png(buf) == img).all(), s


def test_bmp_32bit_and_palette():
    """BMP's other on-disk forms: 32-bit BGRX (4th byte is padding per
    BI_RGB and must be dropped) and 8-bit palette with a BGRX color
    table, both bottom-up."""
    import struct

    from bigdata_imgprocessing_spark.images.formats import decode_bmp

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    # 32-bit: rows bottom-up, BGRX
    body = b"".join(
        b"".join(bytes([img[r, c, 2], img[r, c, 1], img[r, c, 0], 0xAB])
                 for c in range(5))
        for r in range(2, -1, -1)
    )
    off = 14 + 40
    buf = (
        struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 32, 0, len(body), 0, 0, 0, 0)
        + body
    )
    assert (decode_bmp(buf) == img).all()

    # 8-bit palette: 16-entry BGRX table, padded index rows
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    table = b"".join(bytes([p[2], p[1], p[0], 0]) for p in pal)
    idx = rng.integers(0, 16, size=(3, 5), dtype=np.uint8)
    stride_pad = b"\x00" * ((4 - 5 % 4) % 4)
    body = b"".join(idx[r].tobytes() + stride_pad for r in range(2, -1, -1))
    off = 14 + 40 + len(table)
    buf = (
        struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 8, 0, len(body), 0, 0, 16, 0)
        + table
        + body
    )
    assert (decode_bmp(buf) == pal[idx.astype(int)]).all()
