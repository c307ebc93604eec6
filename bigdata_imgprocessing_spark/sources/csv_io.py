"""CSV / text ingest & egress matching the reference's formats.

The reference reads/writes ``;``-separated, headered CSV everywhere
(S2/K1: pyspark_yolox.py:53-55,117-119,138-140; pyspark_stats.py:22-24;
pyspark_dominant.py:60-71) with every column left as string, and writes
single-file text reports via coalesce(1) (K2: pyspark_stats.py:51-52,
pyspark_dominant.py:136-137). Here CSV is an ingest/egress format with
EXPLICIT schemas (the untyped-string model is §2.12 debt we don't carry);
parquet stays the storage format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_semicolon_csv(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """S2: ``;``-separated headered CSV with a mandatory explicit schema
    (no inferSchema scan, no untyped strings)."""
    return spark.read.schema(schema).csv(path, sep=";", header=True)


def write_semicolon_csv(df: DataFrame, path: str, *keys: str) -> None:
    """K1: overwrite-mode ``;`` CSV with header (reference's result-table
    sink, pyspark_yolox.py:138-140). With ``keys``, one part file sorted
    by them, so a grouped report's bytes do not follow the shuffle
    partition count: coalesce(1) adds no shuffle, and a sort within the
    one partition adds no range-sampling job as orderBy would (small
    reports only)."""
    if keys:
        df = df.coalesce(1).sortWithinPartitions(*keys)
    df.write.mode("overwrite").option("header", True).option("sep", ";").csv(path)


def write_single_text(df: DataFrame, path: str) -> None:
    """K2: whole-report single text file. coalesce(1) — NOT repartition(1):
    it folds the final stage into one task without adding a shuffle, and
    only the last stage narrows (fine for small report output; never use
    for large data)."""
    df.coalesce(1).write.mode("overwrite").text(path)


def write_local_csv(df: DataFrame, path: str) -> None:
    """K3: driver-local ``;``-CSV (the reference's write_results,
    pyspark_stats.py:40-49). Collects through Arrow — small result
    tables only, never distributed data."""
    df.toPandas().to_csv(path, sep=";", index=False)


def read_local_csv(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """S4: driver-local ``;``-CSV read (the reference's plotting layer
    re-reads its stat CSVs with pandas, plots.py:21,33,45). Pandas parse
    → Arrow createDataFrame with a mandatory explicit schema; the K3
    inverse, for small driver-side result tables only."""
    import pandas as pd

    return spark.createDataFrame(pd.read_csv(path, sep=";"), schema)
