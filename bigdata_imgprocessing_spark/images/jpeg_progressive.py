"""Progressive JPEG (SOF2, Huffman) encoder — from-spec stdlib+numpy.

Progressive mode (ITU-T T.81 Annex G) sends the DCT coefficients in
MULTIPLE scans: spectral selection (each AC scan covers a zigzag band
Ss..Se of ONE component; DC scans are separate and may interleave all
components) and successive approximation (a first scan sends
coefficients at reduced precision — point transform Al — and later
refinement scans, Ah = Al+1, add one bit of precision each). AC scans
additionally use EOBn run codes: a single symbol ends a whole RUN of
end-of-band blocks. This is what essentially every web-optimized JPEG
("save as progressive") uses.

The encoder writes a fixed 4-stage script that exercises every decoder
path — (1) interleaved DC first scan at Al=1, (2) per-component AC
first scans at Al=1 with the luma band split at Ss=6 (spectral
selection) and EOBn run accumulation, (3) DC refinement to full
precision, (4) per-component AC refinement scans (correction bits,
buffered-bit flushing). Point transforms follow the spec exactly:
arithmetic shift for DC, magnitude shift (divide toward zero) for AC.

SOF2 frames decode through the one JPEG decoder in ``images/jpeg.py``:
its scan walker treats a sequential scan as the progressive case
Ss=0, Se=63, Ah=Al=0. This module shares that file's DCT basis, zigzag,
canonical tables, bit writer, frame geometry and header writers.
"""

from __future__ import annotations

import numpy as np

from .jpeg import (
    _AC_VALS,
    _APP0_JFIF,
    _canonical_codes,
    _DC_BITS,
    _DC_VALS,
    _amplitude,
    _BitWriter,
    _emit_dc,
    _forward_dct,
    _frame_header,
    _Layout,
    _quant,
    _size_of,
    _sos,
    _ycc_planes,
)

# Progressive AC tables additionally need the EOBn symbols (RRRR<<4,
# SSSS=0 for RRRR=1..14 — end-of-band runs of 2..32767 blocks) the
# baseline table never uses. 176 symbols all at code length 8 stays
# Kraft-feasible with the all-ones code unused (T.81 requirement).
_PAC_VALS = sorted(set(_AC_VALS) | {r << 4 for r in range(1, 15)})
_PAC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PAC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_PAC = _canonical_codes(_PAC_BITS, _PAC_VALS)


def _emit_eobrun(bw: _BitWriter, eobrun: int) -> int:
    """Flush a pending EOBn run; returns 0."""
    if eobrun > 0:
        r = eobrun.bit_length() - 1
        code, ln = _ENC_PAC[r << 4]
        bw.write(code, ln)
        if r:
            bw.write(eobrun - (1 << r), r)
    return 0


class _RefineWriter:
    """AC-refinement emission state: EOBn runs and the correction bits
    buffered while a run (or a zero run inside a block) is pending —
    the jcphuff-style two-buffer discipline the spec's G.1.2.2 flow
    chart describes."""

    def __init__(self, bw: _BitWriter) -> None:
        self.bw = bw
        self.eobrun = 0
        self.bits: list[int] = []  # correction bits awaiting the flush

    def flush_eob(self) -> None:
        self.eobrun = _emit_eobrun(self.bw, self.eobrun)
        for b in self.bits:
            self.bw.write(b, 1)
        self.bits = []

    def end_of_band(self) -> None:
        self.eobrun += 1
        # spec cap: EOBRUN <= 32767 (EOB14's max run)
        if self.eobrun == 0x7FFF:
            self.flush_eob()


def encode_jpeg_progressive(
    arr: np.ndarray,
    quant: np.ndarray | None = None,
    subsampling: str = "444",
) -> bytes:
    """uint8 H×W×3 RGB (or H×W gray) → progressive (SOF2) JFIF bytes.

    Scan script (color): DC interleaved Al=1 → AC comp0 bands (1-5,
    6-63) Al=1 → AC comp1/comp2 band 1-63 Al=1 → DC refine Ah=1 →
    AC refine per comp Ah=1→Al=0. Gray drops the chroma scans. Full
    precision is restored by the refinement ladder, so round-trip
    quality equals the baseline encoder's (±6 with all-ones quant)."""
    planes, factors = _ycc_planes(arr, subsampling)
    q = _quant(quant)
    h, w = planes[0].shape
    lay = _Layout(h, w, factors)
    comp_zz = _forward_dct(planes, lay, q, 128.0)  # (nbv, nbh, 64) zigzag
    ncomp = len(planes)
    comps = list(range(ncomp))
    out = _frame_header(
        0xC2, 8, factors, h, w, q,  # SOF2: progressive DCT, Huffman
        [(0x00, _DC_BITS, _DC_VALS), (0x10, _PAC_BITS, _PAC_VALS)], _APP0_JFIF,
    )

    # ---- scan 1: DC first, interleaved, Al=1 -------------------------
    out += _sos(comps, 0, 0, 0x01)
    bw = _BitWriter()
    prev = [0] * ncomp
    for blocks in lay.scan_units(comps):
        for c, bv, bh in blocks:
            v = int(comp_zz[c][bv, bh, 0]) >> 1
            _emit_dc(bw, v - prev[c])
            prev[c] = v
    out += bw.flush()

    # ---- AC first scans, Al=1 (luma band split exercises spectral
    # selection; EOBn runs accumulate across blocks). AC scans walk the
    # component's own ceil-sized block grid, not the MCU-padded one ----
    ac_first_bands = [(0, 1, 5), (0, 6, 63)] if ncomp == 3 else [(0, 1, 63)]
    if ncomp == 3:
        ac_first_bands += [(1, 1, 63), (2, 1, 63)]
    for c, ss, se in ac_first_bands:
        out += _sos([c], ss, se, 0x01)
        bw = _BitWriter()
        eobrun = 0
        for [(_, bv, bh)] in lay.scan_units([c]):
            zz = comp_zz[c][bv, bh]
            run = 0
            wrote = False
            for k in range(ss, se + 1):
                v = int(zz[k])
                t = (abs(v) >> 1) * (1 if v >= 0 else -1)
                if t == 0:
                    run += 1
                    continue
                eobrun = _emit_eobrun(bw, eobrun)
                while run > 15:
                    code, ln = _ENC_PAC[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s = _size_of(t)
                code, ln = _ENC_PAC[(run << 4) | s]
                bw.write(code, ln)
                bw.write(_amplitude(t, s), s)
                run = 0
                wrote = True
            if run > 0 or not wrote:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _emit_eobrun(bw, eobrun)
        _emit_eobrun(bw, eobrun)
        out += bw.flush()

    # ---- DC refinement: Ah=1 → Al=0, one bit per block ---------------
    out += _sos(comps, 0, 0, 0x10)
    bw = _BitWriter()
    for blocks in lay.scan_units(comps):
        for c, bv, bh in blocks:
            bw.write(int(comp_zz[c][bv, bh, 0]) & 1, 1)
    out += bw.flush()

    # ---- AC refinement scans: Ah=1 → Al=0 ----------------------------
    for c in comps:
        out += _sos([c], 1, 63, 0x10)
        bw = _BitWriter()
        rw = _RefineWriter(bw)
        for [(_, bv, bh)] in lay.scan_units([c]):
            zz = comp_zz[c][bv, bh]
            run = 0
            pending: list[int] = []  # correction bits inside this block
            # jcphuff's EOB variable: index of the LAST newly-significant
            # coefficient. ZRLs past it fold into the EOB run instead.
            eob_k = 0
            for k in range(1, 64):
                if abs(int(zz[k])) == 1:
                    eob_k = k
            for k in range(1, 64):
                v = int(zz[k])
                t = abs(v)  # >> Al with Al=0
                if t == 0:
                    run += 1
                    continue
                # The ZRL check runs at EVERY nonzero coefficient —
                # newly significant OR correction-bit-only — BEFORE the
                # current coefficient is classified, so each ZRL carries
                # exactly the correction bits buffered within its own
                # 16-zero span (invariant: bits only enter `pending`
                # while run <= 15). Deferring the check to the next
                # newly-significant coefficient let bits from later
                # spans flush after the first ZRL, desynchronizing the
                # decoder's span walk (``jpeg._ac_refine`` / libjpeg
                # jdphuff read them positionally inside each skip).
                while run > 15 and k <= eob_k:
                    rw.flush_eob()
                    code, ln = _ENC_PAC[0xF0]
                    bw.write(code, ln)
                    run -= 16
                    for b in pending:
                        bw.write(b, 1)
                    pending = []
                if t > 1:
                    pending.append(t & 1)
                    continue
                # newly significant at this precision (|v| == 1)
                rw.flush_eob()
                code, ln = _ENC_PAC[(run << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if v > 0 else 0, 1)
                for b in pending:
                    bw.write(b, 1)
                pending = []
                run = 0
            if run > 0 or pending:
                rw.bits.extend(pending)
                rw.end_of_band()
            # a block whose band is fully emitted contributes no EOB
        rw.flush_eob()
        out += bw.flush()

    return bytes(out + b"\xff\xd9")
