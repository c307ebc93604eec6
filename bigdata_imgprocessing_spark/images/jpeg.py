"""Stdlib+numpy JPEG codec (ITU-T T.81 / ISO 10918-1): the one decoder
for every supported frame type, and the sequential encoders.

The reference reads its ``*.jpg`` corpus with ``cv2.imdecode``
(pyspark_yolox.py:123,67; pyspark_dominant.py:25,35). This codec does
that job with nothing but ``struct`` and numpy, implemented from the
published spec, so the engine needs no cv2/PIL.

- **Decoder** (``decode_jpeg``): ``_decode_jpeg`` is the only loop that
  walks marker segments. It reads DQT (8/16-bit tables), DHT, SOF0-SOF3,
  DRI, APP14 and SOS, skips 0xFF fill bytes (B.1.1.2), and applies each
  frame type's gates in ``_read_frame``:
  - SOF0 baseline and SOF1 extended sequential, 8- or 12-bit, gray,
    YCbCr or 4-component Adobe CMYK/YCCK (APP14 transform flag,
    inverted-CMYK convention, RGB output);
  - SOF2 progressive, 8-bit, gray or YCbCr: spectral selection,
    successive approximation, EOBn runs (T.81 Annex G);
  - SOF3 lossless, 8-bit, gray or direct RGB, no subsampling and no
    restart interval; its scans decode in ``images/jpeg_lossless.py``.

  A sequential scan is the progressive case Ss=0, Se=63, Ah=Al=0, so
  every DCT scan goes through one walker (``_decode_dct_scan``) into
  per-component zigzag coefficient grids: interleaved, per-component or
  partially interleaved (1 < Ns < Nf) scan scripts, restart markers,
  any integer-ratio sampling factors (4:4:4, 4:2:2, 4:2:0, 4:1:1). One
  tail (``_dct_pixels``) then dequantizes, runs the batched IDCT,
  upsamples chroma nearest-neighbour (T.81 A.1.1 leaves the filter to
  the implementation) and converts colour. 12-bit frames return uint8
  via >>4 (the viewer convention; engine arrays are uint8).

  Corrupt or truncated streams raise ValueError (the quarantine path);
  unsupported variants (arithmetic or hierarchical coding, other
  precisions) raise NotImplementedError (the cv2 fallback gate).
- **Encoder**: ``encode_jpeg`` (SOF0, JFIF, 4:4:4 / 4:2:2 / 4:2:0 or
  gray, any scan script), ``encode_jpeg_cmyk`` (Adobe APP14) and
  ``encode_jpeg_12bit`` (SOF1) are front ends over one sequential frame
  writer, ``_write_sequential``. Huffman tables are CONSTRUCTED
  canonical tables, not transcribed (every symbol of a class at one
  code length, Kraft-feasible, all-ones code unused). Chroma is
  box-averaged when subsampled; the default quantization table is all
  ones, so 4:4:4 round-trip error is DCT rounding only (±6 per sample
  including the colour transform, pinned by the property tests).

Arrays are RGB-ordered H×W×3 (or H×W gray) uint8 — the engine
convention shared with images/formats.py.
"""

from __future__ import annotations

import struct
from collections.abc import Sequence

import numpy as np

JPEG_MAGIC = b"\xff\xd8"

# --------------------------------------------------------------------------
# 8×8 orthonormal DCT-II basis and the zigzag scan, both CONSTRUCTED
# (a transcription typo in either would silently corrupt every block;
# construction + the spec-prefix test in tests/test_jpeg.py pins them).
# --------------------------------------------------------------------------


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)
    t = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    t[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return t


_T = _dct_matrix()  # spatial = _T.T @ coeff @ _T; coeff = _T @ spatial @ _T.T


def _zigzag_order() -> np.ndarray:
    """Raster index of the k-th zigzag element: diagonal scan, even
    diagonals walked bottom-left→top-right, odd ones the reverse."""
    cells = [(r, c) for r in range(8) for c in range(8)]
    cells.sort(key=lambda rc: (rc[0] + rc[1],
                               rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0]))
    return np.array([r * 8 + c for r, c in cells], dtype=np.int64)


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)

# --------------------------------------------------------------------------
# Canonical Huffman tables for the ENCODERS. The decoder never sees
# these names — it builds tables from the stream's DHT segments, so any
# spec-legal table here keeps files interoperable.
# --------------------------------------------------------------------------

_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]  # 12 codes, len 4
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]

# 12-bit tables: DC difference categories reach 15 and AC sizes 14
# (T.81 F.1.2.1 for 12-bit data) — 16 DC symbols at code length 5 and
# 226 AC symbols at length 8, both Kraft-feasible with all-ones unused.
_DC12_VALS = list(range(16))
_DC12_BITS = [0, 0, 0, 0, len(_DC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC12_VALS = sorted(
    [0x00, 0xF0] + [(run << 4) | size for run in range(16)
                    for size in range(1, 15)]
)
_AC12_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) by the T.81 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC = _canonical_codes(_DC_BITS, _DC_VALS)
_ENC_AC = _canonical_codes(_AC_BITS, sorted(_AC_VALS))

# per sample precision: the DHT segments (Tc<<4|Th, bits, values) and the
# DC / AC code maps the sequential writer emits with
_TABLES = {
    8: ([(0x00, _DC_BITS, _DC_VALS), (0x10, _AC_BITS, sorted(_AC_VALS))],
        _ENC_DC, _ENC_AC),
    12: ([(0x00, _DC12_BITS, _DC12_VALS), (0x10, _AC12_BITS, _AC12_VALS)],
         _canonical_codes(_DC12_BITS, _DC12_VALS),
         _canonical_codes(_AC12_BITS, _AC12_VALS)),
}

_QUANT_ONES = np.ones(64, dtype=np.uint16)


# --------------------------------------------------------------------------
# Bit I/O
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> bytearray:
        """Pad the last byte with 1-bits (per spec); returns the bytes."""
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)
        return self.out


class _BitReader:
    """Entropy-coded segment reader: unstuffs 0xFF00, stops at markers,
    resets cleanly at RSTn."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self._acc = 0
        self._n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy data exhausted mid-block")
        b = self.buf[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.buf[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt
                self.pos += 1
                raise ValueError("JPEG entropy data exhausted mid-block")
        # keep only the live bits: an unmasked accumulator grows with the
        # stream and makes every shift, so the whole decode, quadratic
        self._acc = ((self._acc & ((1 << self._n) - 1)) << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int | None:
        """Discard partial bits and consume an RST/other marker if next."""
        self._acc = 0
        self._n = 0
        if self.marker is not None:
            m = self.marker
            self.marker = None
            return m
        if self.buf[self.pos] == 0xFF and self.buf[self.pos + 1] != 0x00:
            m = self.buf[self.pos + 1]
            self.pos += 2
            return m
        return None

    def end(self) -> int:
        """Position of the marker that ends this scan's entropy data."""
        return self.pos - 2 if self.marker is not None else self.pos


# --------------------------------------------------------------------------
# Frame geometry, shared by the encoders and the decoder
# --------------------------------------------------------------------------


class _Layout:
    """Block geometry of a frame (T.81 A.2): the MCU grid over the
    largest sampling factors, and each component's own block grid."""

    def __init__(self, h: int, w: int, factors: list[tuple[int, int]]) -> None:
        self.h, self.w, self.factors = h, w, factors
        self.hmax = max(f[0] for f in factors)
        self.vmax = max(f[1] for f in factors)
        self.mcx = -(-w // (8 * self.hmax))
        self.mcy = -(-h // (8 * self.vmax))

    def dims(self, c: int) -> tuple[int, int]:
        """Component ``c``'s sample rows × cols (ceil-divided)."""
        hi, vi = self.factors[c]
        return -(-self.h * vi // self.vmax), -(-self.w * hi // self.hmax)

    def scan_units(self, comps: Sequence[int]):
        """Yield each unit of a scan over component indices ``comps`` as
        the (component, block row, block col) list it codes: the frame's
        MCUs (each component's Hi×Vi blocks) for an interleaved scan —
        also a partial one, since the MCU grid is frame-level — else one
        block per unit over the component's own grid."""
        if len(comps) == 1:
            c = comps[0]
            ch, cw = self.dims(c)
            for bv in range(-(-ch // 8)):
                for bh in range(-(-cw // 8)):
                    yield [(c, bv, bh)]
            return
        for my in range(self.mcy):
            for mx in range(self.mcx):
                unit = []
                for c in comps:
                    hi, vi = self.factors[c]
                    unit += [(c, my * vi + dv, mx * hi + dh)
                             for dv in range(vi) for dh in range(hi)]
                yield unit


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _rgb_to_ycbcr(a: np.ndarray, ctr: float = 128.0) -> list[np.ndarray]:
    """RGB (or inverted C,M,Y) planes → Y, Cb, Cr with chroma centred at
    ``ctr`` (128 for 8-bit samples, 2048 for 12-bit)."""
    r, g, b = (a[:, :, c].astype(np.float64) for c in range(3))
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        ctr - 0.168736 * r - 0.331264 * g + 0.5 * b,
        ctr + 0.5 * r - 0.418688 * g - 0.081312 * b,
    ]


def _blocks(plane: np.ndarray, nbv: int, nbh: int) -> np.ndarray:
    """H×W float plane → (nbv, nbh, 8, 8), edge-padded to the given
    (MCU-aligned) block grid."""
    h, w = plane.shape
    p = np.pad(plane, ((0, nbv * 8 - h), (0, nbh * 8 - w)), mode="edge")
    return p.reshape(nbv, 8, nbh, 8).swapaxes(1, 2)


def _box_downsample(plane: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Chroma downsample by an fy×fx box average (edge-padded to a
    multiple of the factor first) — the standard encoder-side filter."""
    if fx == 1 and fy == 1:
        return plane
    h, w = plane.shape
    p = np.pad(plane, ((0, (-h) % fy), (0, (-w) % fx)), mode="edge")
    return p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx).mean(axis=(1, 3))


def _size_of(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}
_APP0_JFIF = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")


def _adobe_app14(transform: int) -> bytes:
    """The APP14 segment whose transform flag (0 = CMYK, 2 = YCCK) tells
    a decoder how to read a 4-component frame."""
    return _seg(0xEE, b"Adobe" + struct.pack(">HHHB", 100, 0, 0, transform))


def _quant(quant: np.ndarray | None) -> np.ndarray:
    q = (_QUANT_ONES if quant is None else np.asarray(quant, np.uint16)).reshape(64)
    if q.max() > 255 or q.min() < 1:
        # the emitted DQT uses the 8-bit (Pq=0) encoding; values outside
        # [1, 255] would silently truncate into a corrupt table
        raise ValueError("quant table values must be in [1, 255]")
    return q


def _ycc_planes(arr: np.ndarray, subsampling: str):
    """uint8 H×W×3 RGB (or H×W gray) → (planes, sampling factors): Y at
    full resolution, Cb/Cr box-downsampled by the subsampling mode."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 2 and a.shape[2] != 3:
        raise ValueError(f"JPEG encode needs 3 channels or gray, got {a.shape}")
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    if a.ndim == 2:
        return [a.astype(np.float64)], [(1, 1)]
    hy, vy = _SUBSAMPLING[subsampling]
    y, cb, cr = _rgb_to_ycbcr(a)
    planes = [y, _box_downsample(cb, hy, vy), _box_downsample(cr, hy, vy)]
    return planes, [(hy, vy), (1, 1), (1, 1)]


def _cmyk_planes(a: np.ndarray, transform: int, ctr: float) -> list[np.ndarray]:
    """Inverted-CMYK samples → the four stored planes: direct for
    ``transform=0``; for ``transform=2`` (YCCK) the C,M,Y triple goes
    through the YCbCr transform and K stays direct."""
    if transform == 2:
        return _rgb_to_ycbcr(a[:, :, :3], ctr) + [a[:, :, 3].astype(np.float64)]
    return [a[:, :, c].astype(np.float64) for c in range(4)]


def _frame_header(sof: int, prec: int, factors: list[tuple[int, int]],
                  h: int, w: int, q: np.ndarray | None, dht: list,
                  app: bytes = b"") -> bytearray:
    """SOI, ``app``, DQT table 0 (unless ``q`` is None), the SOF and the
    DHT segments: the prefix every encoder's file starts with."""
    out = bytearray(JPEG_MAGIC) + app
    if q is not None:
        out += _seg(0xDB, bytes([0]) + bytes(q[_ZIGZAG].astype(np.uint8)))
    sof_payload = struct.pack(">BHHB", prec, h, w, len(factors))
    for cid, (hi, vi) in enumerate(factors, 1):
        sof_payload += struct.pack(">BBB", cid, (hi << 4) | vi, 0)  # qtable 0
    out += _seg(sof, sof_payload)
    for tc_th, bits, vals in dht:
        out += _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    return out


def _sos(comps: Sequence[int], ss: int, se: int, ahal: int) -> bytes:
    """SOS header over component indices ``comps`` (ids c+1, DC and AC
    table 0)."""
    payload = bytes([len(comps)]) + b"".join(bytes([c + 1, 0x00]) for c in comps)
    return _seg(0xDA, payload + bytes([ss, se, ahal]))


def _forward_dct(planes: list[np.ndarray], lay: _Layout, q: np.ndarray,
                 shift: float) -> list[np.ndarray]:
    """Level-shift, FDCT and quantize every plane over its MCU-padded
    block grid → per-component (nbv, nbh, 64) int64 in zigzag order."""
    qf = q.reshape(8, 8).astype(np.float64)
    out = []
    for p, (hi, vi) in zip(planes, lay.factors):
        b = _blocks(p - shift, lay.mcy * vi, lay.mcx * hi)
        coeff = np.einsum("ij,vhjk,lk->vhil", _T, b, _T)
        zz = np.round(coeff / qf).astype(np.int64)
        out.append(zz.reshape(b.shape[0], b.shape[1], 64)[:, :, _ZIGZAG])
    return out


def _emit_dc(bw: _BitWriter, diff: int, enc_dc: dict = _ENC_DC) -> None:
    """Huffman-code one DC-style difference: category, then amplitude."""
    s = _size_of(diff)
    code, ln = enc_dc[s]
    bw.write(code, ln)
    if s:
        bw.write(_amplitude(diff, s), s)


def _emit_block(bw: _BitWriter, zz: np.ndarray, prev_dc: int,
                enc_dc: dict, enc_ac: dict) -> int:
    """Huffman-code one zigzagged quantized block; returns its DC."""
    vals = zz.tolist()
    _emit_dc(bw, vals[0] - prev_dc, enc_dc)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for v in vals[1:last + 1]:
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = enc_ac[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _size_of(v)
        code, ln = enc_ac[(run << 4) | s]
        bw.write(code, ln)
        bw.write(_amplitude(v, s), s)
        run = 0
    if last < 63:
        code, ln = enc_ac[0x00]  # EOB
        bw.write(code, ln)
    return vals[0]


def _write_sequential(
    planes: list[np.ndarray],
    factors: list[tuple[int, int]],
    prec: int,
    quant: np.ndarray | None,
    script: list[Sequence[int]],
    restart_interval: int = 0,
    app: bytes = b"",
) -> bytes:
    """The sequential (SOF0 8-bit / SOF1 12-bit) frame writer behind every
    ``encode_jpeg*`` front end except the progressive and lossless ones.

    ``script`` lists each scan's component indices: ``[(0, 1, 2)]``
    interleaved, ``[(0,), (1,), (2,)]`` one scan per component,
    ``[(0,), (1, 2)]`` partially interleaved. ``restart_interval`` > 0
    emits a DRI segment and an RSTn marker every N units of each scan
    (MCUs when interleaved, blocks otherwise); DC predictors and the RSTn
    numbering restart with each scan (T.81 E.2.4 / B.2.3)."""
    q = _quant(quant)
    h, w = planes[0].shape
    lay = _Layout(h, w, factors)
    dht, enc_dc, enc_ac = _TABLES[prec]
    out = _frame_header(0xC0 if prec == 8 else 0xC1, prec, factors, h, w, q,
                        dht, app)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    zz = _forward_dct(planes, lay, q, float(1 << (prec - 1)))
    for comps in script:
        out += _sos(comps, 0, 63, 0)
        bw = _BitWriter()
        prev = [0] * len(planes)
        for unit, blocks in enumerate(lay.scan_units(comps)):
            if restart_interval and unit and unit % restart_interval == 0:
                out += bw.flush()
                out += bytes([0xFF, 0xD0 + (unit // restart_interval - 1) % 8])
                bw = _BitWriter()
                prev = [0] * len(planes)
            for c, bv, bh in blocks:
                prev[c] = _emit_block(bw, zz[c][bv, bh], prev[c], enc_dc, enc_ac)
        out += bw.flush()
    return bytes(out + b"\xff\xd9")  # EOI


def encode_jpeg(
    arr: np.ndarray,
    quant: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
    scan_mode: str = "interleaved",
) -> bytes:
    """uint8 H×W×3 RGB (or H×W gray) → baseline JFIF bytes.

    ``subsampling`` is ``"444"`` (luma and chroma full-resolution),
    ``"422"`` (chroma halved horizontally) or ``"420"`` (chroma halved
    both ways — the camera default); gray input ignores it.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    N units of each scan (DC predictors reset, bitstream re-aligned) —
    the resynchronization feature real encoders use so a corrupt byte
    loses one restart segment, not the rest of the scan.
    ``scan_mode="separate"`` emits the spec-legal NON-interleaved form
    (one SOS per component) instead of the usual single interleaved
    scan. ``scan_mode="partial"`` (color only) emits the PARTIALLY
    interleaved form — a luma scan followed by one Cb+Cr two-component
    interleaved scan (1 < Ns < Nf)."""
    planes, factors = _ycc_planes(arr, subsampling)
    nc = len(planes)
    if scan_mode == "partial" and nc != 3:
        raise ValueError("scan_mode='partial' needs a color image")
    script = {
        "interleaved": [tuple(range(nc))],
        "separate": [(c,) for c in range(nc)],
        "partial": [(0,), (1, 2)],
    }
    if scan_mode not in script:
        raise ValueError(f"unknown scan_mode {scan_mode!r}")
    return _write_sequential(
        planes, factors, 8, quant, script[scan_mode], restart_interval, _APP0_JFIF
    )


def encode_jpeg_cmyk(
    cmyk: np.ndarray,
    transform: int = 0,
    quant: np.ndarray | None = None,
) -> bytes:
    """uint8 H×W×4 (Adobe-style INVERTED CMYK samples, i.e. 255 = no
    ink) → 4-component baseline JPEG with an Adobe APP14 segment.
    ``transform=0`` stores the planes directly; ``transform=2`` stores
    the YCCK form (inverted C,M,Y triple through the YCbCr transform,
    K direct) — the two 4-component variants decode_jpeg accepts.
    Exists so the decoder's CMYK path is testable without external
    fixtures (real-world Adobe CMYK files are press/print exports)."""
    a = np.ascontiguousarray(cmyk, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 4:
        raise ValueError(f"CMYK encode needs 4 channels, got {a.shape}")
    if transform not in (0, 2):
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    return _write_sequential(
        _cmyk_planes(a, transform, 128.0), [(1, 1)] * 4, 8, quant,
        [(0, 1, 2, 3)], app=_adobe_app14(transform),
    )


def encode_jpeg_12bit(
    arr: np.ndarray,
    quant: np.ndarray | None = None,
    transform: int = 0,
) -> bytes:
    """uint16 12-bit samples (0..4095) → extended sequential (SOF1)
    JPEG: H×W grayscale, H×W×3 RGB stored as 4:4:4 YCbCr with chroma
    centered at 2048 (the 12-bit analogue of the 8-bit 128 center), or
    H×W×4 Adobe-style INVERTED CMYK (4095 = no ink; ``transform=0``
    stores the planes directly, ``transform=2`` the YCCK form — the
    inverted C,M,Y triple through the YCbCr transform with 2048-center
    chroma, K direct — and either emits the Adobe APP14 segment the
    decoder keys on). The matching decode path returns uint8 via >>4
    (engine arrays are uint8), so round-trip equals ``arr >> 4``
    exactly for DC-flat gray and within one count otherwise. Exists so
    the 12-bit decode paths are testable without external fixtures
    (12-bit files are medical/raw/press exports)."""
    a = np.ascontiguousarray(arr, dtype=np.uint16)
    if a.ndim not in (2, 3) or (a.ndim == 3 and a.shape[2] not in (3, 4)):
        raise ValueError(
            f"12-bit encode needs HxW, HxWx3 or HxWx4, got {a.shape}"
        )
    if a.max() > 4095:
        raise ValueError("12-bit samples must be in [0, 4095]")
    if transform not in (0, 2):
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    if a.ndim == 2:
        planes = [a.astype(np.float64)]
    elif a.shape[2] == 4:
        planes = _cmyk_planes(a, transform, 2048.0)
    else:
        planes = _rgb_to_ycbcr(a, 2048.0)
    nc = len(planes)
    # 4-component frames need the Adobe transform flag
    app = _adobe_app14(transform) if nc == 4 else b""
    return _write_sequential(planes, [(1, 1)] * nc, 12, quant,
                             [tuple(range(nc))], app=app)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


class _HuffTable:
    def __init__(self, bits: bytes, vals: bytes) -> None:
        # (length, code) → symbol, decoded bit-by-bit
        self.map: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                self.map[(ln, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | br.bit()
            sym = self.map.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """JPEG bytes → uint8 H×W×3 RGB (or H×W gray): baseline (any scan
    script — interleaved / per-component / partial), progressive
    (SOF2), lossless (SOF3), 12-bit extended-sequential gray and color,
    Adobe CMYK/YCCK at 8 and 12 bits, 4:4:4 / 4:2:2 / 4:2:0 / grayscale.

    Truncated/corrupt streams raise ValueError (the quarantine path
    needs a reliable exception); unsupported spec variants raise
    NotImplementedError (the cv2 fallback gate)."""
    if buf[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG stream")
    try:
        return _decode_jpeg(buf)
    except (IndexError, struct.error, KeyError) as exc:
        # IndexError/struct.error: truncation; KeyError: a scan references
        # an undefined quant/Huffman table id — both are stream corruption
        raise ValueError("truncated or corrupt JPEG stream") from exc


def _read_frame(sof: int, payload: bytes):
    """Parse an SOF0-SOF3 header and apply its frame type's gates →
    (precision, component ids, quant table ids, layout)."""
    prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
    if sof == 0xC3:
        if prec > 8:
            raise NotImplementedError(f"lossless JPEG precision {prec} > 8")
        if nc not in (1, 3):
            raise NotImplementedError(f"{nc}-component lossless JPEG")
    elif sof == 0xC2:
        if prec != 8:
            raise NotImplementedError(f"only 8-bit progressive JPEG (precision={prec})")
        if nc not in (1, 3):
            raise NotImplementedError(f"{nc}-component progressive JPEG unsupported")
    else:
        # 12-bit is EXTENDED sequential (SOF1) only — baseline SOF0 is
        # 8-bit by definition (B.2.2)
        if prec == 12 and sof != 0xC1:
            raise ValueError("12-bit precision requires SOF1")
        if prec not in (8, 12):
            raise NotImplementedError(f"only 8/12-bit JPEG (precision={prec})")
        if nc not in (1, 3, 4):
            raise NotImplementedError(f"{nc}-component JPEG unsupported")
    comps = [struct.unpack_from(">BBB", payload, 6 + 3 * c) for c in range(nc)]
    if sof == 0xC3 and any(samp != 0x11 for _, samp, _ in comps):
        raise NotImplementedError("subsampled lossless JPEG components")
    # single-component images are non-interleaved by definition: the MCU
    # is one data unit and the declared factors subsample nothing (A.2.2)
    factors = [(1, 1)] if nc == 1 else [(s >> 4, s & 0x0F) for _, s, _ in comps]
    lay = _Layout(h, w, factors)
    for hi, vi in factors:
        if not (1 <= hi <= 4 and 1 <= vi <= 4) or lay.hmax % hi or lay.vmax % vi:
            raise NotImplementedError(f"unsupported JPEG sampling factors {factors}")
    return prec, [c[0] for c in comps], [c[2] for c in comps], lay


def _decode_jpeg(buf: bytes) -> np.ndarray:
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    sof = 0  # the frame's SOF marker once read
    restart = 0
    adobe_transform = 0  # APP14 color-transform flag (0=CMYK, 2=YCCK)
    qf: dict[int, np.ndarray] = {}  # per component, latched at its first scan
    covered: set[int] = set()  # component indices some scan has decoded
    pt = 0  # lossless point transform of the last scan

    while True:
        if buf[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        while buf[pos + 1] == 0xFF:  # T.81 B.1.1.2: 0xFF fill bytes
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):
            continue  # parameterless
        (ln,) = struct.unpack_from(">H", buf, pos)
        payload = buf[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(payload):
                pq, tq = payload[i] >> 4, payload[i] & 0x0F
                n = 64 * (2 if pq else 1)
                raw = payload[i + 1 : i + 1 + n]
                i += 1 + n
                t = np.zeros(64, dtype=np.float64)
                t[_ZIGZAG] = np.frombuffer(raw, dtype=">u2" if pq else np.uint8)
                qtables[tq] = t.reshape(8, 8)
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(payload):
                bits = payload[i + 1 : i + 17]
                n = sum(bits)
                htables[(payload[i] >> 4, payload[i] & 0x0F)] = _HuffTable(
                    bits, payload[i + 17 : i + 17 + n])
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            if sof:
                raise ValueError("JPEG has more than one frame header")
            sof = marker
            prec, ids, tqs, lay = _read_frame(sof, payload)
            if sof == 0xC3:  # lossless: samples, in the point-shifted domain
                data = [np.zeros((lay.h, lay.w), dtype=np.int64) for _ in ids]
            else:  # DCT: zigzag coefficients over the MCU-padded grids
                data = [np.zeros((lay.mcy * vi, lay.mcx * hi, 64), dtype=np.int64)
                        for hi, vi in lay.factors]
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"arithmetic/hierarchical JPEG (SOF 0xFF{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xEE and payload[:5] == b"Adobe":
            # APP14: transform byte (offset 11) distinguishes direct
            # CMYK (0) from YCCK (2) for 4-component frames
            adobe_transform = payload[11] if len(payload) > 11 else 0
        elif marker == 0xDA:  # SOS — decode this scan, keep looping
            if not sof:
                raise ValueError("JPEG missing SOF before SOS")
            ns = payload[0]
            scan = [(ids.index(payload[1 + 2 * c]), payload[2 + 2 * c] >> 4,
                     payload[2 + 2 * c] & 0x0F) for c in range(ns)]
            ss, se, ahal = payload[1 + 2 * ns : 4 + 2 * ns]
            br = _BitReader(buf, pos)
            if sof == 0xC3:
                from .jpeg_lossless import _decode_lossless_scan  # imports us

                if restart:
                    raise NotImplementedError("lossless JPEG restart intervals")
                pt = ahal & 0x0F
                _decode_lossless_scan(br, data, scan, htables, ss, pt, prec)
            else:
                if sof != 0xC2:  # sequential: the whole band at full precision
                    ss, se, ahal = 0, 63, 0
                elif se > 63 or ss > se or (ss == 0 and se) or (ss and ns != 1):
                    # T.81 G.1: DC scans are exactly Ss=Se=0; AC bands live
                    # in 1..63 and cover one component
                    raise ValueError("invalid progressive scan header")
                for ci, _, _ in scan:
                    qf.setdefault(ci, qtables[tqs[ci]])
                _decode_dct_scan(br, data, lay, htables, scan, ss, se,
                                 ahal >> 4, ahal & 0x0F, restart)
            covered.update(ci for ci, _, _ in scan)
            pos = br.end()
        # APPn / COM / others: skipped via the length field

    if not covered:
        raise ValueError("JPEG has no scan data")
    if covered != set(range(len(ids))):
        # a plane that was never scanned would silently render flat
        raise ValueError("JPEG scans do not cover every component")
    if sof == 0xC3:
        out = [np.clip(p << pt, 0, 255).astype(np.uint8) for p in data]
        return out[0] if len(out) == 1 else np.stack(out, axis=2)
    return _dct_pixels(data, [qf[c] for c in range(len(ids))], lay, prec,
                       adobe_transform)


def _decode_dct_scan(
    br: _BitReader,
    coef: list[np.ndarray],
    lay: _Layout,
    htables: dict[tuple[int, int], _HuffTable],
    scan: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart: int,
) -> None:
    """Decode one DCT scan's entropy data into the zigzag coefficient
    grids ``coef``. A scan codes band Ss..Se of its components' blocks:
    Ss=0 carries the DC coefficient (first pass when Ah=0, one
    refinement bit otherwise), Se>0 an AC band. A sequential scan is
    Ss=0, Se=63, Ah=Al=0 — DC and the whole AC band of each block in one
    pass. DC predictors and any pending EOB run reset per scan and at
    every restart marker (T.81 E.2.4, G.1.2)."""
    dc = {ci: htables[(0, t)] for ci, t, _ in scan} if ss == 0 and ah == 0 else {}
    ac = {ci: htables[(1, t)] for ci, _, t in scan} if se else {}
    ac_pass, lo = (_ac_refine if ah else _ac_first), max(ss, 1)
    prev = [0] * len(coef)
    eob = [0]  # blocks left in the current end-of-band run
    for unit, blocks in enumerate(lay.scan_units([ci for ci, _, _ in scan])):
        if restart and unit and unit % restart == 0:
            m = br.align_to_marker()
            if m is None or not (0xD0 <= m <= 0xD7):
                raise ValueError("JPEG restart marker expected")
            prev = [0] * len(coef)
            eob[0] = 0
        for ci, bv, bh in blocks:
            block = coef[ci][bv, bh]
            if ss == 0 and ah:
                if br.bit():
                    block[0] |= 1 << al
            elif ss == 0:
                s = dc[ci].decode(br)
                prev[ci] += _extend(br.bits(s), s) if s else 0
                block[0] = prev[ci] << al
            if se:
                ac_pass(br, ac[ci], block, lo, se, al, eob)


def _ac_first(br, act, block, ss, se, al, eob) -> None:
    """First pass over AC band Ss..Se of one block (sequential AC, or a
    progressive first scan at point transform Al)."""
    if eob[0] > 0:
        eob[0] -= 1
        return
    k = ss
    while k <= se:
        sym = act.decode(br)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r != 15:  # EOB (r=0) or an EOBn run of 2^r + extra blocks
                eob[0] = (1 << r) - 1 + (br.bits(r) if r else 0)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("JPEG AC run past band end")
        block[k] = _extend(br.bits(s), s) << al
        k += 1


def _ac_refine(br, act, block, ss, se, al, eob) -> None:
    """Successive-approximation refinement of AC band Ss..Se (G.1.2.3):
    one correction bit per already-significant coefficient, and newly
    significant ±1<<Al coefficients placed among the zero-history ones."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eob[0] == 0:
        while k <= se:
            sym = act.decode(br)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eob[0] = (1 << r) + (br.bits(r) if r else 0)
                    break
                # ZRL: skip 16 zero-history coeffs (r = 15 → 15 skips
                # plus the landing position below)
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                val = p1 if br.bit() else m1
            while k <= se:
                if block[k] != 0:
                    if br.bit() and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                block[k] = val
            k += 1
    if eob[0] > 0:
        while k <= se:
            if block[k] != 0:
                if br.bit() and (block[k] & p1) == 0:
                    block[k] += p1 if block[k] >= 0 else m1
            k += 1
        eob[0] -= 1


def _dct_pixels(coef: list[np.ndarray], qf: list[np.ndarray], lay: _Layout,
                prec: int, adobe_transform: int) -> np.ndarray:
    """The tail of every DCT frame: dequantize, inverse-DCT all blocks in
    one batched matmul per component, crop, upsample chroma and convert
    colour (gray, YCbCr, Adobe CMYK/YCCK) → uint8, 12-bit frames via >>4."""
    shift = float(1 << (prec - 1))  # level shift & chroma centre: 128 / 2048
    maxv = float((1 << prec) - 1)
    crops = []
    for c, (zz, q) in enumerate(zip(coef, qf)):
        nbv, nbh = zz.shape[:2]
        nat = zz[:, :, _UNZIGZAG].reshape(nbv, nbh, 8, 8) * q
        spatial = _T.T @ nat @ _T
        ch, cw = lay.dims(c)
        p = spatial.swapaxes(1, 2).reshape(nbv * 8, nbh * 8)[:ch, :cw] + shift
        hi, vi = lay.factors[c]
        if hi != lay.hmax or vi != lay.vmax:  # nearest-neighbour upsample
            p = np.repeat(np.repeat(p, lay.vmax // vi, axis=0),
                          lay.hmax // hi, axis=1)
        crops.append(p[:lay.h, :lay.w])
    if len(crops) == 1:
        out = crops[0]
    else:
        chans = crops[:3]
        if len(crops) == 3 or adobe_transform == 2:  # YCbCr / YCCK
            y, cb, cr = chans
            chans = [
                y + 1.402 * (cr - shift),
                y - 0.344136 * (cb - shift) - 0.714136 * (cr - shift),
                y + 1.772 * (cb - shift),
            ]
        if len(crops) == 4:
            # Adobe 4-component: stored samples are INVERTED CMYK (the
            # only form seen in the wild — libjpeg/PIL assume the same);
            # K is always direct. RGB via R = s_C * s_K / maxval.
            sk = np.clip(crops[3], 0.0, maxv)
            chans = [np.clip(p, 0.0, maxv) * sk / maxv for p in chans]
        out = np.stack(chans, axis=2)
    v = np.clip(out.round(), 0, maxv).astype(np.int64)
    return (v >> (prec - 8)).astype(np.uint8)
