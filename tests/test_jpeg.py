"""Baseline JPEG codec (images/jpeg.py): component invariants pinned
against the T.81 spec (not just self-consistency), round-trip error
bounds, structural conformance, and the magic-dispatch integration.

Self-consistency alone (decode(encode(x)) ≈ x) would pass even if both
sides shared a mistaken convention (e.g. a wrong zigzag); the component
tests below pin each convention independently:
- the zigzag's spec prefix and full permutation property;
- DCT basis orthonormality (the IDCT is the exact inverse);
- canonical Huffman tables are prefix-free with the all-ones code
  unused (T.81 requirement);
- marker structure of emitted files (SOI/DQT/SOF0/DHT/SOS/EOI order).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bigdata_imgprocessing_spark.images.jpeg import (
    _DC_BITS,
    _ENC_AC,
    _ENC_DC,
    _T,
    _ZIGZAG,
    JPEG_MAGIC,
    decode_jpeg,
    encode_jpeg,
)


def test_zigzag_is_spec_permutation():
    # first two diagonals + final entries straight from T.81 Figure A.6
    assert list(_ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(_ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(_ZIGZAG) == list(range(64))


def test_dct_basis_is_orthonormal():
    eye = _T @ _T.T
    assert np.allclose(eye, np.eye(8), atol=1e-12)


def test_huffman_tables_prefix_free_and_spec_legal():
    for table in (_ENC_DC, _ENC_AC):
        codes = sorted((ln, code) for code, ln in table.values())
        seen = set()
        for ln, code in codes:
            assert (ln, code) not in seen
            seen.add((ln, code))
            # prefix-free: no shorter code is a prefix of this one
            for ln2, code2 in codes:
                if ln2 < ln:
                    assert code >> (ln - ln2) != code2
            # T.81: the all-ones code of any length must stay unused
            assert code != (1 << ln) - 1
    assert len(_ENC_DC) == sum(_DC_BITS) == 12
    assert len(_ENC_AC) == 162  # 0x00 EOB + 0xF0 ZRL + 16 runs x 10 sizes


def test_emitted_marker_structure():
    img = np.full((16, 24, 3), 77, dtype=np.uint8)
    buf = encode_jpeg(img)
    assert buf[:2] == JPEG_MAGIC
    assert buf[-2:] == b"\xff\xd9"
    # marker order: APP0, DQT, SOF0, DHT, DHT, SOS all present in order
    offs = [buf.find(bytes([0xFF, m])) for m in (0xE0, 0xDB, 0xC0, 0xC4, 0xDA)]
    assert all(o > 0 for o in offs) and offs == sorted(offs)


def test_flat_color_roundtrip_tight():
    for rgb in ((0, 0, 0), (255, 255, 255), (13, 200, 77), (128, 128, 128)):
        img = np.zeros((24, 16, 3), dtype=np.uint8)
        img[:] = rgb
        out = decode_jpeg(encode_jpeg(img))
        assert out.shape == img.shape
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


def test_gray_roundtrip_exact_dc():
    img = np.full((8, 8), 42, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == (8, 8)
    assert int(np.abs(out.astype(int) - 42).max()) <= 1


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(4, 24),
    w=st.integers(4, 24),
    seed=st.integers(0, 2**31 - 1),
)
def test_roundtrip_error_bound_random(h, w, seed):
    """With all-ones quantization the only loss is DCT-coefficient
    rounding (<=0.5/coeff -> <=4 spatial) plus color-transform rounding:
    max abs error <= 6 per sample, any content, any (non-multiple-of-8)
    size — and the decoder must crop the pad back off."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).max()
    assert err <= 6, f"round-trip error {err} at {h}x{w}"


def test_gradient_roundtrip_small_mean_error():
    y, x = np.mgrid[0:32, 0:48]
    img = np.stack([(x * 5) % 256, (y * 3) % 256, ((x + y) * 2) % 256],
                   axis=2).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    mean_err = float(np.abs(out.astype(int) - img.astype(int)).mean())
    assert mean_err <= 1.5


def test_decoder_gates_and_corruption_contract_for_sof_variants():
    """The r8 native additions (lossless, partial interleave, CMYK)
    shrank the gate set: mislabeled streams must now surface as
    CORRUPTION (ValueError → quarantine), and the remaining genuine
    gates (odd precisions, arithmetic coding) still raise
    NotImplementedError → the cv2 slot-in."""
    img = np.full((8, 8, 3), 50, dtype=np.uint8)
    buf = bytearray(encode_jpeg(img))
    sof = buf.find(bytes([0xFF, 0xC0]))
    # flip SOF0 -> SOF3: lossless now decodes natively, so BASELINE scan
    # data behind a lossless frame header (predictor byte Ss=0 is
    # spec-invalid for lossless) must be caught as corruption
    lossless = bytes(buf[:sof + 1]) + b"\xc3" + bytes(buf[sof + 2:])
    with pytest.raises(ValueError):
        decode_jpeg(lossless)
    # flip SOF0 -> SOF2: progressive decodes natively; a BASELINE scan
    # header (Ss=0, Se=63 — illegal for a progressive DC scan) is
    # corruption, never a silent misdecode
    prog = bytes(buf[:sof + 1]) + b"\xc2" + bytes(buf[sof + 2:])
    with pytest.raises(ValueError):
        decode_jpeg(prog)
    # declare 4 components (CMYK shape) but keep the 3-component SOF
    # payload — header truncation, caught as corruption
    cmyk = bytearray(buf)
    cmyk[sof + 2 + 2 + 5] = 4  # SOF payload Nf byte
    with pytest.raises(ValueError):
        decode_jpeg(bytes(cmyk))
    # 12-bit under SOF0 is spec-invalid (baseline is 8-bit, B.2.2):
    # corruption, not a gate
    twelve = bytearray(buf)
    twelve[sof + 2 + 2] = 12  # SOF payload precision byte
    with pytest.raises(ValueError):
        decode_jpeg(bytes(twelve))
    # genuine gates: odd precisions, arithmetic coding (12-bit CMYK
    # decodes natively since r9 — covered by the 12bit_cmyk tests)
    ten = bytearray(buf)
    ten[sof + 2 + 2] = 10
    with pytest.raises(NotImplementedError, match="only 8/12-bit"):
        decode_jpeg(bytes(ten))
    arith = bytes(buf[:sof + 1]) + b"\xc9" + bytes(buf[sof + 2:])
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arith)
    # each frame type keeps its own gates: progressive is 8-bit, 1 or 3
    # components; lossless is <= 8-bit, unsubsampled, without restarts
    from bigdata_imgprocessing_spark.images.jpeg_lossless import (
        encode_jpeg_lossless,
    )
    from bigdata_imgprocessing_spark.images.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    def patched(stream, sof_marker, offset, value):
        out = bytearray(stream)
        out[out.find(bytes([0xFF, sof_marker])) + 4 + offset] = value
        return bytes(out)

    prog = encode_jpeg_progressive(img)
    lossless = encode_jpeg_lossless(img)
    sos = lossless.find(bytes([0xFF, 0xDA]))
    for gated in (
        patched(prog, 0xC2, 0, 12),  # SOF2 at precision 12
        patched(prog, 0xC2, 5, 4),  # SOF2 with 4 components
        patched(lossless, 0xC3, 0, 12),  # SOF3 at precision 12
        patched(lossless, 0xC3, 7, 0x22),  # SOF3, subsampled component
        lossless[:sos] + b"\xff\xdd\x00\x04\x00\x02" + lossless[sos:],  # DRI
    ):
        with pytest.raises(NotImplementedError):
            decode_jpeg(gated)


def test_12bit_extended_sequential_gray():
    """12-bit SOF1 grayscale decodes natively with the documented >>4
    uint8 contract: DC-flat content is exact, general content is within
    one count after the downshift (12-bit DCT rounding / 16), and the
    wider DC/AC Huffman categories (up to 15/14) survive the trip."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit

    for v in (0, 4095, 2048, 1234):
        g = np.full((10, 13), v, dtype=np.uint16)
        assert (decode_jpeg(encode_jpeg_12bit(g)) == (v >> 4)).all()
    rng = np.random.default_rng(23)
    g = rng.integers(0, 4096, size=(24, 17), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_12bit(g)).astype(int)
    assert np.abs(out - (g >> 4).astype(int)).max() <= 1
    buf = encode_jpeg_12bit(g)
    with pytest.raises(ValueError):
        decode_jpeg(buf[: len(buf) // 2])


def test_12bit_extended_sequential_color():
    """12-bit SOF1 RGB (stored 4:4:4 YCbCr, chroma centered at 2048)
    decodes natively under the >>4 uint8 contract: flat patches are
    EXACT (DC-only planes; the chroma transform round-trips in float),
    random content is within one count, and a seed sweep over odd
    sizes holds the bound."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit

    for rgb in ((0, 0, 0), (4095, 4095, 4095), (2048, 1024, 3000),
                (100, 4000, 700)):
        img = np.zeros((10, 13, 3), dtype=np.uint16)
        img[:, :] = rgb
        dec = decode_jpeg(encode_jpeg_12bit(img)).astype(int)
        assert (dec == (np.array(rgb, dtype=int) >> 4)).all(), rgb
    for seed in range(12):
        rng = np.random.default_rng(seed)
        h, w = rng.integers(5, 40, 2)
        img = rng.integers(0, 4096, size=(h, w, 3), dtype=np.uint16)
        dec = decode_jpeg(encode_jpeg_12bit(img)).astype(int)
        assert np.abs(dec - (img >> 4).astype(int)).max() <= 1, seed
    buf = encode_jpeg_12bit(img)
    with pytest.raises(ValueError):
        decode_jpeg(buf[: len(buf) // 2])


def test_partial_interleave_scan_script():
    """1 < Ns < Nf (a luma scan + one Cb+Cr pair scan) is the last
    baseline scan-script shape; it must decode IDENTICALLY to the full
    interleave of the same image at every subsampling mode — the MCU
    walk is frame-level, so the component subset changes only which
    blocks each MCU contributes (T.81 A.2.3)."""
    rng = np.random.default_rng(31)
    for h, w in ((8, 8), (17, 23), (31, 15)):
        for sub in ("444", "420", "422"):
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            ref = decode_jpeg(encode_jpeg(img, subsampling=sub))
            buf = encode_jpeg(img, subsampling=sub, scan_mode="partial")
            assert buf.count(bytes([0xFF, 0xDA])) == 2  # Y scan + CbCr scan
            assert (decode_jpeg(buf) == ref).all(), (h, w, sub)


def test_encode_jpeg_rejects_unknown_scan_mode():
    """A misspelt scan mode is an error, not a silent interleaved
    stream; every known mode still encodes."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    for mode in ("interleaved", "separate", "partial"):
        assert decode_jpeg(encode_jpeg(img, scan_mode=mode)).shape == (8, 8, 3)
    with pytest.raises(ValueError, match="seperate"):
        encode_jpeg(img, scan_mode="seperate")


def test_cmyk_and_ycck_decode():
    """4-component Adobe JPEG: transform 0 (direct inverted CMYK) must
    reproduce the analytic RGB (R = s_C * s_K / 255) EXACTLY on flat
    patches (DC-only, all-ones quant); transform 2 (YCCK) differs only
    by the chroma transform's rounding (tight bound); and the APP14
    flag must actually matter (decoding YCCK data as CMYK is wrong)."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_cmyk

    for c, m, y, k in ((255, 255, 255, 255), (200, 100, 50, 230),
                       (0, 0, 0, 0), (128, 64, 32, 250)):
        img = np.zeros((10, 13, 4), dtype=np.uint8)
        img[:] = (c, m, y, k)
        rgb = decode_jpeg(encode_jpeg_cmyk(img, transform=0))
        exp = [int(round(s * k / 255.0)) for s in (c, m, y)]
        assert rgb.shape == (10, 13, 3)
        assert (rgb == np.array(exp, dtype=np.uint8)).all(), (c, m, y, k)
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(16, 16, 4), dtype=np.uint8)
    r0 = decode_jpeg(encode_jpeg_cmyk(img, transform=0)).astype(int)
    r2 = decode_jpeg(encode_jpeg_cmyk(img, transform=2)).astype(int)
    assert np.abs(r0 - r2).max() <= 3  # chroma-transform rounding only
    # strip the APP14 transform flag from the YCCK stream: the planes
    # then decode as direct CMYK and the colors must visibly differ
    buf = bytearray(encode_jpeg_cmyk(img, transform=2))
    app14 = buf.find(b"Adobe")
    buf[app14 + 11] = 0
    r_wrong = decode_jpeg(bytes(buf)).astype(int)
    assert np.abs(r_wrong - r2).max() > 16


def test_lossless_jpeg_roundtrip_exact():
    """SOF3 lossless: every predictor, gray and RGB, round-trips
    BIT-EXACTLY (the mode's defining property); the point transform
    reconstructs exactly at reduced precision; truncation raises the
    quarantine ValueError; and codec dispatch routes it natively."""
    from bigdata_imgprocessing_spark.images.codec import decode_image
    from bigdata_imgprocessing_spark.images.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(13)
    for pred in range(1, 8):
        g = rng.integers(0, 256, size=(17, 23), dtype=np.uint8)
        assert (decode_jpeg(encode_jpeg_lossless(g, predictor=pred)) == g).all()
        c = rng.integers(0, 256, size=(9, 14, 3), dtype=np.uint8)
        assert (decode_jpeg(encode_jpeg_lossless(c, predictor=pred)) == c).all()
    g = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg_lossless(g, predictor=4, pt=2))
        == (g >> 2) << 2
    ).all()
    buf = encode_jpeg_lossless(rng.integers(0, 256, size=(16, 16), dtype=np.uint8))
    with pytest.raises(ValueError):
        decode_jpeg(buf[: len(buf) // 2])
    c = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    assert (decode_image(encode_jpeg_lossless(c)) == c).all()


def test_noninterleaved_multiscan_decodes_and_coverage_gate():
    """ADVICE r6 flagged non-interleaved multi-scan baseline as silently
    mis-decoded; it now decodes NATIVELY: scan_mode='separate' (one SOS
    per component) must produce the identical image as the interleaved
    encoding, and a multi-scan file whose scans do NOT cover every
    component must raise (never render a flat-128 plane)."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(19, 27, 3), dtype=np.uint8)
    il = decode_jpeg(encode_jpeg(img))
    sep_buf = encode_jpeg(img, scan_mode="separate")
    assert sep_buf.count(bytes([0xFF, 0xDA])) == 3  # one SOS per comp
    assert (decode_jpeg(sep_buf) == il).all()
    # subsampled + restart-marker variants of the separate form
    gray = rng.integers(30, 226, size=(24, 40), dtype=np.uint8)
    img420 = np.stack([gray, gray, gray], axis=2)
    assert (
        decode_jpeg(encode_jpeg(img420, subsampling="420",
                                scan_mode="separate", restart_interval=3))
        == decode_jpeg(encode_jpeg(img420, subsampling="420"))
    ).all()
    # drop the 3rd scan (keep EOI): coverage gate must fire
    third = sep_buf.find(bytes([0xFF, 0xDA]),
                         sep_buf.find(bytes([0xFF, 0xDA]),
                                      sep_buf.find(bytes([0xFF, 0xDA])) + 2)
                         + 2)
    truncated = sep_buf[:third] + b"\xff\xd9"
    with pytest.raises(ValueError, match="cover every component"):
        decode_jpeg(truncated)


@pytest.mark.parametrize("mode", ["420", "422"])
def test_subsampled_roundtrip_chroma_smooth(mode):
    """4:2:0 / 4:2:2 (the camera defaults): for chroma-constant content
    the box-average downsample is lossless, so the full ±6 DCT-rounding
    bound of the 4:4:4 path must hold — including at odd (non-multiple-
    of-MCU) sizes where component dims are ceil-divided and the decoder
    crops the MCU padding back off."""
    rng = np.random.default_rng(7)
    for h, w in ((16, 16), (17, 23), (8, 9), (31, 15)):
        gray = rng.integers(40, 216, size=(h, w), dtype=np.uint8)
        img = np.stack([gray, gray, gray], axis=2)  # Cb = Cr = 128 exactly
        buf = encode_jpeg(img, subsampling=mode)
        # SOF declares the subsampled luma factor
        sof = buf.find(bytes([0xFF, 0xC0]))
        want = 0x22 if mode == "420" else 0x21
        assert buf[sof + 2 + 2 + 6 + 1] == want
        out = decode_jpeg(buf)
        assert out.shape == img.shape
        err = int(np.abs(out.astype(int) - img.astype(int)).max())
        assert err <= 6, f"{mode} {h}x{w} err={err}"


def test_subsampled_roundtrip_flat_color_and_restart():
    """Flat saturated color through 4:2:0 — chroma far from 128 — and
    the DRI/RST path layered on top of multi-block MCUs."""
    for rgb in ((200, 30, 60), (10, 10, 250)):
        img = np.zeros((24, 40, 3), dtype=np.uint8)
        img[:] = rgb
        for kw in ({}, {"restart_interval": 2}):
            out = decode_jpeg(encode_jpeg(img, subsampling="420", **kw))
            assert out.shape == img.shape
            assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 2


def test_subsampled_chroma_edges_bounded():
    """A hard vertical color edge under 4:2:0: luma stays within the DCT
    bound everywhere; chroma is averaged across the edge so error
    concentrates AT the edge and the plane interiors stay faithful."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, :8] = (255, 0, 0)
    img[:, 8:] = (0, 0, 255)
    out = decode_jpeg(encode_jpeg(img, subsampling="420"))
    interior = np.abs(
        out[:, [0, 1, 2, 13, 14, 15]].astype(int)
        - img[:, [0, 1, 2, 13, 14, 15]].astype(int)
    ).max()
    assert interior <= 12


def test_fill_bytes_before_marker_are_skipped():
    """T.81 B.1.1.2: repeated 0xFF before a marker code is padding; an
    encoder that emits fill bytes must still parse (ADVICE r6)."""
    img = np.full((8, 8, 3), 90, dtype=np.uint8)
    buf = encode_jpeg(img)
    dqt = buf.find(bytes([0xFF, 0xDB]))
    padded = buf[:dqt] + b"\xff\xff\xff" + buf[dqt:]
    assert (decode_jpeg(padded) == decode_jpeg(buf)).all()


def test_decoder_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x11not a jpeg")
    img = np.full((16, 16, 3), 99, dtype=np.uint8)
    buf = encode_jpeg(img)
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(buf[: len(buf) // 2])


def test_codec_magic_dispatch_routes_jpeg():
    from bigdata_imgprocessing_spark.images.codec import decode_image

    img = np.full((8, 16, 3), (10, 20, 30), dtype=np.uint8)
    out = decode_image(encode_jpeg(img))
    assert out.shape == (8, 16, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 1


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    frac=st.floats(0.01, 0.99),
)
def test_truncation_fuzz_never_garbage(seed, frac):
    """Any prefix of a valid stream must raise cleanly (ValueError for
    corruption, NotImplementedError never — truncation can't look like
    an unsupported variant) or, if the cut lands after the last MCU's
    bits, still decode to the correct image — never hang, never return
    a wrong-shaped array, never leak IndexError (quarantine contract)."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(8, 16, 3), dtype=np.uint8)
    buf = encode_jpeg(img)
    cut = max(2, int(len(buf) * frac))
    try:
        out = decode_jpeg(buf[:cut])
    except ValueError:
        return
    assert out.shape == img.shape


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    ri=st.integers(1, 5),
    mode=st.sampled_from(["interleaved", "separate", "partial"]),
)
def test_restart_marker_roundtrip(seed, ri, mode):
    """DRI/RSTn path: encoding with a restart interval must emit the DRI
    segment + RST markers and decode to the same image as the
    no-restart encoding (DC-predictor resets and bit re-alignment are
    exercised on BOTH sides), for every scan script — the partial one
    once wrote a DRI segment but no RST markers."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(img))
    with_rst = encode_jpeg(img, restart_interval=ri, scan_mode=mode)
    assert bytes([0xFF, 0xDD]) in with_rst  # DRI present
    assert bytes([0xFF, 0xD0]) in with_rst  # first RST marker present
    assert (decode_jpeg(with_rst) == plain).all()


def test_16bit_dqt_parsing():
    """Pq=1 (16-bit) quantization tables: rewrite the emitted 8-bit DQT
    segment to the 16-bit form — decode must parse it and produce the
    identical image (same table values, wider encoding)."""
    img = np.arange(8 * 16 * 3, dtype=np.uint8).reshape(8, 16, 3)
    buf = encode_jpeg(img)
    dqt = buf.find(bytes([0xFF, 0xDB]))
    (ln,) = np.frombuffer(buf[dqt + 2 : dqt + 4], dtype=">u2")
    payload = buf[dqt + 4 : dqt + 2 + ln]
    assert payload[0] == 0x00 and len(payload) == 65  # Pq=0, tq=0, 64 vals
    wide_vals = np.frombuffer(payload[1:], dtype=np.uint8).astype(">u2").tobytes()
    wide_seg = (
        bytes([0xFF, 0xDB])
        + int(2 + 1 + 128).to_bytes(2, "big")
        + bytes([0x10])  # Pq=1, tq=0
        + wide_vals
    )
    rewritten = buf[:dqt] + wide_seg + buf[dqt + 2 + ln :]
    assert (decode_jpeg(rewritten) == decode_jpeg(buf)).all()


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    pred=st.integers(1, 7),
    seed=st.integers(0, 2**31 - 1),
    color=st.booleans(),
)
def test_lossless_roundtrip_property(h, w, pred, seed, color):
    """Lossless SOF3 must round-trip BIT-EXACTLY for any size, any
    predictor, gray or RGB — the mode's defining property, pinned as a
    derandomized property test (the r7 lesson: fixed seeds hide
    span-order bugs)."""
    from bigdata_imgprocessing_spark.images.jpeg_lossless import (
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg_lossless(img, predictor=pred)) == img).all()


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    h=st.integers(4, 24),
    w=st.integers(4, 24),
    seed=st.integers(0, 2**31 - 1),
    sub=st.sampled_from(["444", "420", "422"]),
)
def test_partial_interleave_equals_full_property(h, w, seed, sub):
    """Partial-interleave scan scripts must decode IDENTICALLY to the
    full interleave of the same image for any size/subsampling — the
    two scripts carry the same coefficients, so any divergence is a
    scan-walk bug."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    ref = decode_jpeg(encode_jpeg(img, subsampling=sub))
    par = decode_jpeg(encode_jpeg(img, subsampling=sub, scan_mode="partial"))
    assert (par == ref).all()


@settings(max_examples=40, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**31 - 1), transform=st.sampled_from([0, 2]))
def test_cmyk_decode_bounded_property(seed, transform):
    """4-component decode must stay within the DCT+transform rounding
    envelope of the analytic inverted-CMYK RGB for ANY content (exact
    equality is only promised for flat patches — tested separately)."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_cmyk

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(12, 9, 4), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_cmyk(img, transform=transform)).astype(int)
    s = img.astype(np.float64)
    exp = np.stack([s[:, :, c] * s[:, :, 3] / 255.0 for c in range(3)], axis=2)
    # DCT rounding on each plane is bounded (~±6); the product divides
    # by 255 but errors in the two factors add — ±14 is a safe envelope
    assert np.abs(out - np.round(exp)).max() <= 14


def test_12bit_cmyk_flat_exact_both_transforms():
    """12-bit Adobe CMYK/YCCK (r9 — the last plumbing gate): flat C,M,Y
    at mid-bin 12-bit values with K=4095 must recover the 8-bit pixel
    bytes EXACTLY via the >>4 contract under BOTH transform flags (the
    image_format_ingest %48==44 slot contract)."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit

    rng = np.random.default_rng(12)
    for _ in range(25):
        px = rng.integers(0, 256, 3)
        for tr in (0, 2):
            v = np.zeros((2, 2, 4), np.uint16)
            v[:, :, :3] = px.astype(np.uint16) * 16 + 8
            v[:, :, 3] = 4095
            out = decode_jpeg(encode_jpeg_12bit(v, transform=tr))
            assert (out == px.astype(np.uint8)).all(), (px, tr, out[0, 0])


@settings(max_examples=30, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**31 - 1), transform=st.sampled_from([0, 2]))
def test_12bit_cmyk_random_within_one_count(seed, transform):
    """Random 12-bit CMYK content: after the inverted-CMYK identity in
    12-bit units and >>4, the decode must sit within one 8-bit count of
    the analytic product (DCT rounding < half a 12-bit bin per plane;
    the two factors' errors add across the multiply)."""
    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 4096, size=(9, 13, 4), dtype=np.uint16)
    out = decode_jpeg(encode_jpeg_12bit(img, transform=transform)).astype(int)
    s = img[:, :, :3].astype(np.float64)
    k = img[:, :, 3:4].astype(np.float64)
    exp = np.clip(np.round(s * k / 4095.0), 0, 4095).astype(np.int64) >> 4
    assert np.abs(out - exp).max() <= 1


def test_12bit_encode_validation():
    """Shape/range/transform validation on the extended 12-bit encoder."""
    import pytest as _pytest

    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit

    with _pytest.raises(ValueError):
        encode_jpeg_12bit(np.zeros((4, 4, 2), np.uint16))
    with _pytest.raises(ValueError):
        encode_jpeg_12bit(np.full((4, 4, 4), 5000, np.uint16))
    with _pytest.raises(ValueError):
        encode_jpeg_12bit(np.zeros((4, 4, 4), np.uint16), transform=1)


def test_bit_reader_keeps_only_live_bits(monkeypatch):
    """The entropy reader's accumulator holds only its unread bits: one
    that kept every bit read so far made each shift cost O(bytes read)
    and the whole decode quadratic in file size."""
    from bigdata_imgprocessing_spark.images import jpeg

    readers = []

    class Recording(jpeg._BitReader):
        def __init__(self, buf, pos):
            super().__init__(buf, pos)
            readers.append(self)

    monkeypatch.setattr(jpeg, "_BitReader", Recording)
    img = np.random.default_rng(5).integers(0, 256, (48, 64, 3), np.uint8)
    buf = encode_jpeg(img)
    assert decode_jpeg(buf).shape == img.shape
    (br,) = readers
    assert br.pos > 8192  # a multi-KB scan went through this reader
    assert br._acc.bit_length() <= 15


def test_batched_idct_matches_per_block_reference():
    """The decoder's tail inverse-transforms every block of a component
    in one batched matmul; each pixel must be the rounding of the per-block
    ``_T.T @ coeff @ _T`` reference, up to float noise."""
    from bigdata_imgprocessing_spark.images.jpeg import (
        _UNZIGZAG,
        _dct_pixels,
        _Layout,
    )

    rng = np.random.default_rng(9)
    lay = _Layout(21, 30, [(1, 1)])
    zz = rng.integers(-40, 41, size=(lay.mcy, lay.mcx, 64))
    q = rng.integers(1, 4, size=(8, 8)).astype(np.float64)
    out = _dct_pixels([zz], [q], lay, 8, 0)
    ref = np.zeros((lay.mcy * 8, lay.mcx * 8))
    for bv in range(lay.mcy):
        for bh in range(lay.mcx):
            coeff = zz[bv, bh][_UNZIGZAG].reshape(8, 8) * q
            ref[bv * 8 : bv * 8 + 8, bh * 8 : bh * 8 + 8] = _T.T @ coeff @ _T
    ref = np.clip(ref[:21, :30] + 128.0, 0, 255)
    assert out.shape == (21, 30)
    assert np.abs(out - ref).max() <= 0.5 + 1e-9


# md5 of each encoder's output for fixed seeded inputs. The bench corpus
# and the image-query fixtures are built with these encoders, so a byte
# change would silently change their inputs.
_ENCODER_MD5 = {
    "jpeg-interleaved-444-ri0-ones": "79010f30d4524ef03836b437b1492831",
    "jpeg-interleaved-444-ri0-q31": "00457fd2f763a7550b7150f51288b0cf",
    "jpeg-interleaved-444-ri3-ones": "2a740d0402760ac200b7dc4f32de3928",
    "jpeg-interleaved-444-ri3-q31": "6d9058c6156b941b2ab67f949d29d4a7",
    "jpeg-interleaved-420-ri0-ones": "892e683b03e49387e394498f419a94b4",
    "jpeg-interleaved-420-ri0-q31": "6777a4124d36df52d190616235fa5187",
    "jpeg-interleaved-420-ri3-ones": "5ea14b41306c07d734f017aa558a15ba",
    "jpeg-interleaved-420-ri3-q31": "a8f8a397d3afcf87dcd29f056604e9cd",
    "jpeg-separate-444-ri0-ones": "c305e26fa57364dc95d93d8adc0ffcba",
    "jpeg-separate-444-ri0-q31": "079a0a8360035917f5c4d72ce968a80e",
    "jpeg-separate-444-ri3-ones": "c869e3aefd8172811a2e39ce8030bb2e",
    "jpeg-separate-444-ri3-q31": "6c36db6787847be3e2d26849ddf98023",
    "jpeg-separate-420-ri0-ones": "c06e6b5fd1c02aa3544f45eb7df4fbbd",
    "jpeg-separate-420-ri0-q31": "fe1b15872fd0d6d602ac85fc73456ba7",
    "jpeg-separate-420-ri3-ones": "5353719081709ed311da239822ae6c13",
    "jpeg-separate-420-ri3-q31": "ab0dd43957b72e98ee4a3bc20d0c80ce",
    "jpeg-partial-444-ri0-ones": "9fc1ac0ade47cde0b75aaa9ef3025964",
    "jpeg-partial-444-ri0-q31": "5f8fb412de5fec10519fe48ce88acb94",
    "jpeg-partial-420-ri0-ones": "d3f047e98450fc3f8d938f6694802766",
    "jpeg-partial-420-ri0-q31": "962c17e41442598ecb399f91cc0b343d",
    "jpeg-gray-ri2": "bc2145ca8a6abd1a9cc90ff54815fdc3",
    "cmyk-t0": "cf91ee1b777dd9bbee7f9f170b1d7a18",
    "cmyk-t2": "a72b6c4a83630ef479a7f1e485103e57",
    "12bit-gray": "91403b136496d31a45bd60ed605788b7",
    "12bit-color": "7a97bd36ad62e6048ac214a9d9317116",
    "12bit-cmyk-t0": "8d7c445943c76fd502c2d74b0f9f4064",
    "12bit-cmyk-t2": "fde86b45e8ddaa04f09ed931e0ac2a1f",
    "progressive-444": "1f36b9d350304a0d7920cb46ebf8a3f2",
    "progressive-420-q31": "e0db4196da330fdcd5a838861b87db2d",
    "progressive-gray": "0644353a79d5558e6a8fb62f3a7f5fde",
    "lossless-gray-p4": "567aab3c51c95b2501681d2fff5cbe41",
    "lossless-rgb-p7-pt1": "ff68b95a50bf53146c25fb7fa48707cf",
}


def test_encoder_bytes_are_pinned():
    import hashlib

    from bigdata_imgprocessing_spark.images.jpeg import (
        encode_jpeg_12bit,
        encode_jpeg_cmyk,
    )
    from bigdata_imgprocessing_spark.images.jpeg_lossless import (
        encode_jpeg_lossless,
    )
    from bigdata_imgprocessing_spark.images.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(20261018)
    rgb = rng.integers(0, 256, size=(19, 27, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(19, 27), dtype=np.uint8)
    cmyk = rng.integers(0, 256, size=(13, 21, 4), dtype=np.uint8)
    w12 = rng.integers(0, 4096, size=(13, 21, 4), dtype=np.uint16)
    q = (np.arange(64) % 31 + 1).astype(np.uint16)
    got = {}
    for mode in ("interleaved", "separate", "partial"):
        for sub in ("444", "420"):
            for ri in (0, 3):
                for qn, qt in (("ones", None), ("q31", q)):
                    if mode == "partial" and ri:
                        continue  # its RST markers are new bytes
                    got[f"jpeg-{mode}-{sub}-ri{ri}-{qn}"] = encode_jpeg(
                        rgb, quant=qt, restart_interval=ri,
                        subsampling=sub, scan_mode=mode,
                    )
    got["jpeg-gray-ri2"] = encode_jpeg(gray, restart_interval=2)
    for t in (0, 2):
        got[f"cmyk-t{t}"] = encode_jpeg_cmyk(cmyk, transform=t, quant=q)
    got["12bit-gray"] = encode_jpeg_12bit(w12[:, :, 0])
    got["12bit-color"] = encode_jpeg_12bit(w12[:, :, :3], quant=q)
    for t in (0, 2):
        got[f"12bit-cmyk-t{t}"] = encode_jpeg_12bit(w12, transform=t)
    got["progressive-444"] = encode_jpeg_progressive(rgb)
    got["progressive-420-q31"] = encode_jpeg_progressive(
        rgb, quant=q, subsampling="420")
    got["progressive-gray"] = encode_jpeg_progressive(gray)
    got["lossless-gray-p4"] = encode_jpeg_lossless(gray, predictor=4)
    got["lossless-rgb-p7-pt1"] = encode_jpeg_lossless(rgb, predictor=7, pt=1)
    digests = {k: hashlib.md5(v).hexdigest() for k, v in got.items()}
    assert digests == _ENCODER_MD5


# md5 of decode_jpeg's output for seeded photos: the bench corpus shape
# (4:2:0 at IJG quality 75) at 120×160 and 640×480, plus a 4:4:4
# all-ones, a progressive and a 12-bit frame. Every decoded sample is a
# rounding of float IDCT output, so a change in the decoder's arithmetic
# that moves one sample across a rounding edge changes a digest.
_DECODED_MD5 = {
    "120x160-420-q75-0": "e107e4cd279a15fc2d3cd00e98c6d91f",
    "120x160-420-q75-1": "08ce4b90f43f60443483c7860387bdd9",
    "120x160-420-q75-2": "c87ab758edb0aa6532d60d3a78567b31",
    "120x160-420-q75-3": "5597459b54fe0ef666de59e52ef8e043",
    "120x160-420-q75-4": "029a31219682f36e53e2cdbc1bd3f704",
    "120x160-420-q75-5": "69f5d0732c46d3d7647b3b518d56bf59",
    "640x480-420-q75-0": "ce6c3069e3daf76d7166e7683f090ac9",
    "640x480-420-q75-1": "165986e9665d089e52daa3fc010264b9",
    "120x160-444-ones": "7ac8f4082a039bc9d7415462a40e43b8",
    "120x160-progressive-420-q75": "9789ae47c4aad606ac6242968b4fa972",
    "120x160-12bit": "d7ebf51ed790f5cf10e3fcb6ca69923d",
}


def _photo(rng, h: int, w: int) -> np.ndarray:
    """Smooth gradient background, a few coloured discs, sensor noise."""
    y, x = np.mgrid[0:h, 0:w]
    img = np.stack([x * 255 / w, y * 255 / h, (x + y) * 127 / (w + h)], 2)
    for _ in range(int(rng.integers(3, 8))):
        cy, cx = rng.integers(0, h), rng.integers(0, w)
        r = rng.integers(h // 10, h // 2)
        disc = (y - cy) ** 2 + (x - cx) ** 2 < r * r
        img[disc] = img[disc] * 0.3 + rng.integers(0, 256, 3) * 0.7
    img += rng.normal(0, 12, img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def test_decoded_arrays_are_pinned():
    import hashlib

    from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg_12bit
    from bigdata_imgprocessing_spark.images.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    # T.81 Annex K luminance table, IJG-scaled to quality 75
    luma = np.array(
        [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
         14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
         18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
         49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99]
    )
    q75 = np.clip((luma * 50 + 50) // 100, 1, 255).astype(np.uint16)
    rng = np.random.default_rng(20261020)
    streams = {}
    for i in range(6):
        streams[f"120x160-420-q75-{i}"] = encode_jpeg(
            _photo(rng, 120, 160), quant=q75, subsampling="420")
    for i in range(2):
        streams[f"640x480-420-q75-{i}"] = encode_jpeg(
            _photo(rng, 480, 640), quant=q75, subsampling="420")
    p = _photo(rng, 120, 160)
    streams["120x160-444-ones"] = encode_jpeg(p)
    streams["120x160-progressive-420-q75"] = encode_jpeg_progressive(
        p, quant=q75, subsampling="420")
    streams["120x160-12bit"] = encode_jpeg_12bit(
        p.astype(np.uint16) * 16 + 7, quant=q75)
    digests = {
        k: hashlib.md5(np.ascontiguousarray(decode_jpeg(v)).tobytes()).hexdigest()
        for k, v in streams.items()
    }
    assert digests == _DECODED_MD5
