"""Lossless JPEG (SOF3, Huffman) — from-spec stdlib+numpy: the encoder
and the scan function the one JPEG decoder in ``images/jpeg.py`` calls
for SOF3 scans.

Lossless mode (ITU-T T.81 Annex H) has no DCT at all: each sample is
PREDICTED from its decoded neighbors (Ra = left, Rb = above, Rc =
above-left; seven selectable predictors) and the prediction DIFFERENCE
is Huffman-coded with a DC-style category+bits code. Reconstruction is
exact by construction — this is the mode DNG raws and legacy medical
imagery use. Supported: 8-bit precision, 1 or 3 components (3-component
lossless carries direct RGB — no YCbCr transform in Annex H), all seven
predictors, point transform, interleaved or per-component scans. The
frame gates (>8-bit precision, subsampled components, restart
intervals → NotImplementedError) live with the other frame types' gates
in ``jpeg._read_frame`` and ``jpeg._decode_jpeg``.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (
    _BitReader,
    _BitWriter,
    _DC_BITS,
    _DC_VALS,
    _emit_dc,
    _extend,
    _frame_header,
    _HuffTable,
    _sos,
)


def _predict(row: np.ndarray, above: np.ndarray | None, x: int,
             sel: int, default: int) -> int:
    """T.81 H.1.2 sample prediction: first sample of the scan uses the
    precision default, the rest of the first line predict from Ra, the
    first column predicts from Rb, and interior samples use the
    SOS-selected predictor."""
    if above is None:
        return int(row[x - 1]) if x else default
    if x == 0:
        return int(above[0])
    ra, rb, rc = int(row[x - 1]), int(above[x]), int(above[x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # sel == 7


def encode_jpeg_lossless(
    arr: np.ndarray, predictor: int = 1, pt: int = 0
) -> bytes:
    """uint8 H×W (gray) or H×W×3 (direct RGB) → lossless (SOF3) JPEG.
    Round-trips EXACTLY (``pt`` > 0 shifts out low bits first — the
    spec's point transform — and then reconstruction is exact at the
    reduced precision). One interleaved scan; Huffman table is the
    canonical DC table (difference categories ≤ 11 cover 8-bit data)."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"lossless encode needs gray or 3 channels, got {a.shape}")
    h, w = a.shape[:2]
    planes = [a >> pt] if gray else [a[:, :, c] >> pt for c in range(3)]
    nc = len(planes)

    out = _frame_header(0xC3, 8, [(1, 1)] * nc, h, w, None,
                        [(0x00, _DC_BITS, _DC_VALS)])
    # Ss = predictor selector, Se = 0, Ah/Al = 0/point-transform (H.2)
    out += _sos(list(range(nc)), predictor, 0, pt)

    bw = _BitWriter()
    default = 1 << (8 - pt - 1)
    prev_rows: list[np.ndarray | None] = [None] * nc
    for y in range(h):
        rows = [np.zeros(w, dtype=np.int64) for _ in range(nc)]
        for x in range(w):
            for c in range(nc):
                px = _predict(rows[c], prev_rows[c], x, predictor, default)
                v = int(planes[c][y, x])
                diff = (v - px) & 0xFFFF
                if diff > 0x7FFF:
                    diff -= 0x10000
                _emit_dc(bw, diff)
                rows[c][x] = v
        prev_rows = rows  # type: ignore[assignment]
    return bytes(out + bw.flush() + b"\xff\xd9")


def _decode_lossless_scan(
    br: _BitReader,
    planes: list[np.ndarray],
    scan: list[tuple[int, int, int]],
    htables: dict[tuple[int, int], _HuffTable],
    sel: int,
    pt: int,
    prec: int,
) -> None:
    """Decode one SOF3 scan's entropy data into ``planes`` (H×W int64
    samples in the point-shifted domain, where prediction runs, H.1.1).
    ``sel`` is the scan's predictor selector (its Ss byte), ``pt`` its
    point transform (Al)."""
    if not 1 <= sel <= 7:
        raise ValueError(f"invalid lossless predictor {sel}")
    h, w = planes[0].shape
    default = 1 << (prec - pt - 1)
    tabs = [(planes[ci], htables[(0, t)]) for ci, t, _ in scan]
    for y in range(h):
        for x in range(w):
            for p, tab in tabs:
                above = p[y - 1] if y else None
                px = _predict(p[y], above, x, sel, default)
                s = tab.decode(br)
                if s == 16:
                    diff = 32768
                else:
                    diff = _extend(br.bits(s), s) if s else 0
                p[y, x] = (px + diff) & 0xFFFF
