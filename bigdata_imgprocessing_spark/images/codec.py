"""Image codec front door: FIMG, real BMP/PNG/JPEG (stdlib+numpy), cv2
fallback.

The reference decodes JPEGs with ``cv2.imdecode(np.frombuffer(...))``
(pyspark_yolox.py:65-67, pyspark_dominant.py:33-35). The engine does not
need cv2/PIL: ``decode_image`` dispatches on magic bytes to the trivial
FIMG container (magic + h + w + channels + raw uint8 pixels) for
synthetic fixtures, and to the from-spec BMP, PNG (``images.formats``)
and JPEG (``images.jpeg``) codecs for real on-disk formats. cv2, when
importable, takes what those codecs do not decode, and the module
logger records why it was used. Everything downstream (average color,
k-means dominant color, resize) operates on the decoded ndarray
identically.
"""

from __future__ import annotations

import logging
import struct

import numpy as np

try:  # pragma: no cover - cv2 absent in this container
    import cv2  # type: ignore

    _HAS_CV2 = True
except ImportError:
    _HAS_CV2 = False

_log = logging.getLogger(__name__)

_MAGIC = b"FIMG"
_HEADER = struct.Struct(">4sHHB")  # magic, height, width, channels


def encode_image(arr: np.ndarray) -> bytes:
    """uint8 HxWxC (or HxW) array → FIMG bytes."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    return _HEADER.pack(_MAGIC, h, w, c) + a.tobytes()


def fixture_pixels(vec, n: int) -> np.ndarray:
    """The synthetic image fixture rule: the first ``n`` values of an
    embedding as flat uint8 pixel bytes, pixel_i = abs(trunc(v_i *
    1000)) % 256. Every image, video and patch fixture of the query
    registry and the FIMG corpus is made of these bytes, and the oracles
    recompute them with ``fixture_pixel_sql``."""
    v = np.asarray(vec[:n], dtype=np.float64) * 1000.0
    return (np.abs(v.astype(np.int64)) % 256).astype(np.uint8)


def fixture_pixel_sql(index) -> str:
    """DuckDB twin of ``fixture_pixels``: the pixel byte of the 1-based
    ``embedding`` element ``index`` (an int or a SQL expression)."""
    return f"(abs(trunc(embedding[{index}]::DOUBLE * 1000)::BIGINT) % 256)"


def decode_image(buf: bytes) -> np.ndarray:
    """Bytes → uint8 HxWxC ndarray. FIMG; BMP (24/32-bit + 8-bit
    palette); PNG (gray/RGB/RGBA/palette/gray+alpha, depths 1-16,
    Adam7 interlace); and JPEG — baseline
    (interleaved, non-interleaved multi-scan, AND partially
    interleaved), progressive, LOSSLESS (SOF3), 12-bit extended-
    sequential gray AND color (>>4 uint8 contract), 4:4:4 / 4:2:2 /
    4:2:0 / gray, plus 4-component Adobe CMYK/YCCK at both precisions
    — all natively (stdlib+numpy codecs: the reference's actual *.jpg
    ingest format decodes without cv2). The remaining exotic variants
    (arithmetic-coded, hierarchical) and unrecognized formats go to cv2
    when it is importable; otherwise the codec's NotImplementedError
    propagates (documented gate).
    All paths return RGB channel order — cv2 decodes BGR, so its
    results are channel-reversed here."""
    from .formats import BMP_MAGIC, PNG_MAGIC, decode_bmp, decode_png
    from .jpeg import JPEG_MAGIC, decode_jpeg

    if buf[:4] == _MAGIC:
        magic, h, w, c = _HEADER.unpack_from(buf)
        return np.frombuffer(buf, dtype=np.uint8, offset=_HEADER.size).reshape(h, w, c)
    if buf[:2] == BMP_MAGIC:
        return decode_bmp(buf)
    if buf[:8] == PNG_MAGIC:
        return decode_png(buf)
    if buf[:2] == JPEG_MAGIC:
        try:
            return decode_jpeg(buf)
        except NotImplementedError as exc:
            if not _HAS_CV2:
                raise
            return _cv2_decode(buf, str(exc))
    if _HAS_CV2:
        return _cv2_decode(buf, "unrecognized format")
    raise NotImplementedError(
        "unrecognized image format (FIMG, BMP, PNG and JPEG decode "
        "natively; cv2 is not importable)"
    )


def _cv2_decode(buf: bytes, reason: str) -> np.ndarray:
    """The cv2 fallback: ``cv2.imdecode`` with BGR → RGB, logging why
    the native codecs passed the bytes on."""
    _log.info("image decode via cv2: %s", reason)
    bgr = cv2.imdecode(np.frombuffer(buf, dtype=np.uint8), cv2.IMREAD_COLOR)
    if bgr is None:  # cv2 signals failure as None
        raise ValueError("cv2 could not decode image bytes")
    return np.ascontiguousarray(bgr[:, :, ::-1])
