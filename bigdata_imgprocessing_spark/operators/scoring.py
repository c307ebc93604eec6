"""Broadcast-model batch scoring — the reference's broadcast-torch-model
pattern (sc.broadcast(model), pyspark_yolox.py:49-50, dereferenced per
row at :63) re-expressed the Spark-native way: weights broadcast once
per executor, scoring vectorized over Arrow batches inside a
pandas_udf. A real model swaps the numpy dot for a forward pass
(predict_batch_udf); the stage shape is identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..functions.helpers import h40_of


def deterministic_weights(dim: int, seed_tag: str = "w") -> list[int]:
    """Integer weight vector derived from md5 — reproducible in SQL, so
    scored outputs stay oracle-checkable."""
    return [(h40_of(f"{seed_tag}{d}") % 201) - 100 for d in range(dim)]


def make_linear_scorer(spark: SparkSession, weights: list[int]):
    """Returns a pandas_udf Column-builder closing over a broadcast of
    the weights (one copy per executor, not per task)."""
    bc = spark.sparkContext.broadcast(np.asarray(weights, dtype=np.float64))

    @F.pandas_udf("double")
    def score_udf(emb: pd.Series) -> pd.Series:
        w = bc.value
        m = np.stack(emb.map(lambda v: np.asarray(v, dtype=np.float64)))
        # per-row python-float accumulation in array order — matches the
        # oracle's element-wise sum exactly (np.dot would pair-sum)
        return pd.Series([float(sum(r * w, 0.0)) for r in m])

    def scorer(col: Column) -> Column:
        return score_udf(col)

    return scorer


def make_batch_scorer(weights: list[int], batch_size: int = 256):
    """The REAL ``pyspark.ml.functions.predict_batch_udf`` contract —
    the slot a torch/tf model plugs into (reference: broadcast model +
    per-image forward, pyspark_yolox.py:49-50,62-87). ``make_predict_fn``
    runs once per Python worker (the model-load site: here numpy
    weights, for YOLOX the checkpoint restore), and ``predict`` receives
    a stacked ``(batch, dim)`` ndarray sliced from the Arrow stream by
    Spark itself — proving the batching contract with no torch in the
    container. Left-to-right per-row accumulation keeps scores bit-equal
    to the SQL oracle (np.dot's pair-summation would drift in the ulp).
    """
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import DoubleType

    arr = np.asarray(weights, dtype=np.float64)
    dim = len(weights)

    def make_predict_fn():
        w = arr  # per-worker "model load"

        def predict(inputs: np.ndarray) -> np.ndarray:
            assert inputs.ndim == 2 and inputs.shape[1] == dim, inputs.shape
            return np.asarray([float(sum(r * w, 0.0)) for r in inputs])

        return predict

    return predict_batch_udf(
        make_predict_fn,
        return_type=DoubleType(),
        batch_size=batch_size,
        input_tensor_shapes=[[dim]],
    )
