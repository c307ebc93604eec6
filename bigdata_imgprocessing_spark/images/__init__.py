"""Binary/image analytics layer (SURVEY.md §2 P4-P9, Phase 2).

The Spark-side plumbing — binary columns with typed metadata, Arrow
``pandas_udf`` stages, detection explode, per-image clustering — sits on
``codec.decode_image``, which decodes real formats natively: JPEG
(``jpeg.py``, with ``jpeg_progressive.py`` and ``jpeg_lossless.py``),
BMP and PNG (``formats.py``), plus the raw FIMG container for synthetic
fixtures. cv2 is only a logged fallback for what those codecs gate.
"""

from .codec import decode_image, encode_image
from .color import average_color_udf, dominant_color_udf

__all__ = ["decode_image", "encode_image", "average_color_udf", "dominant_color_udf"]
