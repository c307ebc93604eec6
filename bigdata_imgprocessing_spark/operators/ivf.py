"""IVF (inverted-file) ANN index built with Spark ML KMeans.

The oracle-checked `ann_ivf_topk` query uses the precomputed ``label``
column as its coarse quantizer; this operator is the production path
that LEARNS the quantizer: fit KMeans on (a sample of) the corpus,
assign every vector to its nearest centroid cell, then answer queries
by probing only the closest ``n_probe`` cells.

Scale: fit on a driver-bounded sample; assignment is one ML transform
pass (JVM vectorized); probing is an equi-join on cell id — with the
corpus written partitioned/bucketed by cell, a partition-pruned local
scan (see tests/test_layout.py for the layout proofs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import norm, rounded_cosine, top_k_per_query


def build_ivf_index(
    emb: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, KMeansModel]:
    """Fit the coarse quantizer and assign every row a ``cell`` id.
    Returns (indexed corpus, fitted model)."""
    with_vec = emb.withColumn("__vec", array_to_vector(F.col(vec_col)))
    train = with_vec if sample_fraction is None else with_vec.sample(sample_fraction, seed)
    model = KMeans(k=k, seed=seed, featuresCol="__vec", predictionCol="cell").fit(train)
    indexed = model.transform(with_vec).drop("__vec")
    return indexed, model


def _centers_matrix(model_or_centers) -> np.ndarray:
    """(k, dim) float64 centroid matrix from a fitted KMeansModel or any
    array-like of centroid vectors (row i = cell i)."""
    if isinstance(model_or_centers, KMeansModel):
        return np.asarray(model_or_centers.clusterCenters(), dtype=np.float64)
    return np.asarray(model_or_centers, dtype=np.float64)


def assign_cells(
    df: DataFrame, model_or_centers, vec_col: str = "embedding"
) -> DataFrame:
    """Add a ``cell`` column: index of the nearest centroid by squared
    Euclidean distance, rounded to 6dp before the argmin (ties → lowest
    cell index) so the assignment is reproducible across engines and
    summation orders. One vectorized Arrow pass — the non-ML twin of
    ``KMeansModel.transform`` for centroids that came from elsewhere."""
    centers_mat = _centers_matrix(model_or_centers)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        def cell(vec):
            v = np.asarray(vec, dtype=np.float64)
            d = np.round(((centers_mat - v) ** 2).sum(axis=1), 6)
            return int(np.argmin(d))  # first (lowest-index) min on ties

        return vecs.map(cell)

    return df.withColumn("cell", nearest(F.col(vec_col)))


def ivf_search(
    indexed: DataFrame,
    model_or_centers,
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k per query, probing each query's ``n_probe`` nearest
    cells only. ``queries`` needs (query_id, embedding); ``indexed``
    needs a ``cell`` column (from ``build_ivf_index`` or
    ``assign_cells``). Centroids may come from the fitted ML model or a
    plain centroid array (the SQL-reproducible serving path)."""
    # (k, dim) centroid matrix captured in the closure — broadcast once
    # per executor with the serialized UDF, distances fully vectorized.
    # Arrow pandas_udf, not row-at-a-time F.udf: the query side is tiny
    # but the repo-wide contract is zero BatchEvalPython anywhere
    # (tests/test_plans.py asserts it over this plan too).
    centers_mat = _centers_matrix(model_or_centers)

    @F.pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        def cells(vec):
            v = np.asarray(vec, dtype=np.float64)
            # round before ranking: cross-engine reproducible probe order
            d = np.round(((centers_mat - v) ** 2).sum(axis=1), 6)
            return [int(i) for i in np.argsort(d, kind="stable")[:n_probe]]

        return vecs.map(cells)

    q = queries.select(
        F.col("query_id"),
        F.col(vec_col).alias("qe"),
        norm(F.col(vec_col)).alias("qn"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    # norms once per row on each side, dot once per (probe × corpus) pair
    scored = (
        indexed.withColumn("__nrm", norm(F.col(vec_col)))
        .join(F.broadcast(q), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col, rounded_cosine(vec_col, an="__nrm").alias("cos_sim")
        )
    )
    return top_k_per_query(scored, top_k, tie=id_col)
