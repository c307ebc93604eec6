"""Color analytics over binary image columns — Arrow pandas UDFs.

Re-expresses pyspark_dominant.py's per-row Python lambdas as vectorized
``pandas_udf`` stages: the JVM ships Arrow record batches to one Python
worker per partition instead of pickling rows one by one (the reference's
``rdd.map`` path, SURVEY.md §3.3).

Dominant color is a per-image k-means (k=4 over pixels,
pyspark_dominant.py:39-48) — deliberately NOT Spark-ML KMeans, which
clusters across rows; this clusters within each image. Determinism:
quantile-seeded centroid init + fixed iteration count replaces the
reference's KMEANS_RANDOM_CENTERS (pyspark_dominant.py:45-46), one of
the SURVEY §7 "hard parts" decisions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from .codec import decode_image


def _mean_rgb(img: np.ndarray) -> list[float]:
    """Per-channel means of a decoded image."""
    img = img.astype(np.float64)
    if img.ndim == 2:  # grayscale decode: one plane, replicated per channel
        m = float(img.mean())
        return [m, m, m]
    return [float(x) for x in img.reshape(-1, img.shape[2]).mean(axis=0)]


def _dominant_rgb(img: np.ndarray, k: int = 4, iters: int = 25) -> list[int]:
    """Centroid of the largest pixel cluster of a decoded image
    (pyspark_dominant.py:47-48).

    Deterministic Lloyd's: init centroids at evenly spaced quantiles of
    pixel brightness, fixed iteration budget, stable argmax tie-break
    (lowest cluster index)."""
    if img.ndim == 2:
        img = np.stack([img, img, img], axis=2)
    px = img.reshape(-1, img.shape[2]).astype(np.float64)
    n = len(px)
    k = min(k, n)
    order = np.argsort(px.sum(axis=1), kind="stable")
    cent = px[order[np.linspace(0, n - 1, k).astype(int)]].copy()
    for _ in range(iters):
        d = ((px[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = np.array(
            [px[assign == i].mean(axis=0) if (assign == i).any() else cent[i] for i in range(k)]
        )
        if np.allclose(new, cent):
            cent = new
            break
        cent = new
    counts = np.bincount(assign, minlength=k)
    winner = int(counts.argmax())  # ties → lowest index, like np.argmax
    return [int(round(v)) for v in cent[winner]]


def _avg_color(buf: bytes) -> list[float]:
    return _mean_rgb(decode_image(buf))


def _kmeans_dominant(buf: bytes, k: int = 4, iters: int = 25) -> list[int]:
    return _dominant_rgb(decode_image(buf), k, iters)


def _color_features(buf: bytes) -> tuple[list[float], list[int]]:
    img = decode_image(buf)
    return _mean_rgb(img), _dominant_rgb(img)


@F.pandas_udf(ArrayType(DoubleType()))
def average_color_udf(content: pd.Series) -> pd.Series:
    """P8 (pyspark_dominant.py:37): per-image channel means."""
    return content.map(_avg_color)


@F.pandas_udf(ArrayType(IntegerType()))
def dominant_color_udf(content: pd.Series) -> pd.Series:
    """P9 (pyspark_dominant.py:29-56): per-image dominant color."""
    return content.map(_kmeans_dominant)


#: average and dominant colour of one image, from one decode
COLOR_FEATURES_SCHEMA = StructType(
    [
        StructField("avg", ArrayType(DoubleType())),
        StructField("dom", ArrayType(IntegerType())),
    ]
)


@F.pandas_udf(COLOR_FEATURES_SCHEMA)
def color_features_udf(content: pd.Series) -> pd.DataFrame:
    """P8 + P9 fused: decode each image once and return both features,
    equal to ``average_color_udf`` and ``dominant_color_udf``."""
    return pd.DataFrame(
        [_color_features(buf) for buf in content], columns=["avg", "dom"], index=content.index
    )
