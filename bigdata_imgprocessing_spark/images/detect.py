"""Object-detection stage — deterministic STUB behind the real interface.

The reference runs YOLOX-tiny per image inside an RDD map
(pyspark_yolox.py:62-87) with the checkpoint absent from its own repo
(.MISSING_LARGE_BLOBS:1). Here the model forward pass is replaced by a
deterministic md5-derived fake (so the driver oracle can replicate it),
while everything Spark-grade is real: Arrow batch transfer, the
array<struct> detection schema, explode → threshold-filter → count
(pyspark_yolox.py:90-111, P6/P7). Swapping in a real model means
replacing ``_detections_for_id`` with a ``predict_batch_udf`` scorer —
the plan shape is unchanged.

Every consumer of the detector — the reference detection pipeline and
each detection query — reads it through ``class_counts`` (each image's
per-class count of detections above ``SCORE_THRESHOLD``) or its
exploded form ``class_count_rows``, and every oracle through the DuckDB
twin ``detections_sql``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions.helpers import duck_h40, h40_of

#: score threshold for counting a detection (TRESHOLD, pyspark_yolox.py:17)
SCORE_THRESHOLD = 0.4

DETECTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("class_id", IntegerType()),
            StructField("score", DoubleType()),
        ]
    )
)


def _detections_for_id(img_id: str) -> list[dict]:
    """0-3 pseudo-detections, fully determined by the image id."""
    n = h40_of(img_id) % 4
    return [
        {
            "class_id": h40_of(f"{img_id}_{j}") % 80,
            "score": (h40_of(f"{img_id}_s{j}") % 1000) / 1000.0,
        }
        for j in range(1, n + 1)
    ]


def detections_sql(src: str, keep: str = "img_id") -> str:
    """DuckDB twin of ``_detections_for_id``: a SELECT with one row per
    stub detection of each row of relation ``src`` (which has a VARCHAR
    ``img_id``) — the ``keep`` columns, then class_id and score."""
    class_h = duck_h40("img_id || '_' || CAST(j + 1 AS VARCHAR)")
    score_h = duck_h40("img_id || '_s' || CAST(j + 1 AS VARCHAR)")
    return f"""SELECT {keep},
               CAST({class_h} % 80 AS INTEGER) AS class_id,
               ({score_h} % 1000) / 1000.0 AS score
        FROM {src} CROSS JOIN (SELECT unnest(range(3)) AS j) js
        WHERE j < {duck_h40("img_id")} % 4"""


@F.pandas_udf(DETECTION_SCHEMA)
def detect_udf(img_id: pd.Series) -> pd.Series:
    """Stub model inference (stands in for predict_batch_udf + YOLOX)."""
    return img_id.map(_detections_for_id)


def _class_totals(entries: Column, weight) -> Column:
    """A per-row ``groupBy(class_id).sum(weight)`` over an array of
    structs with a ``class_id``: ``array<struct<class_id, n>>`` sorted
    by class id."""
    return F.transform(
        F.array_sort(F.array_distinct(F.transform(entries, lambda e: e.class_id))),
        lambda k: F.struct(
            k.alias("class_id"),
            F.aggregate(
                F.filter(entries, lambda e: e.class_id == k),
                F.lit(0).cast("bigint"),
                lambda acc, e: acc + weight(e),
            ).alias("n"),
        ),
    )


def _entries(totals: str, value) -> Column:
    """``'k:v,k:v'`` over a ``_class_totals`` column."""
    return F.array_join(
        F.transform(totals, lambda s: F.concat_ws(":", s.class_id, value(s))), ","
    )


def class_counts(frame: DataFrame, id_col: str) -> DataFrame:
    """``frame`` plus ``counts``: the image ``id_col``'s detections
    above ``SCORE_THRESHOLD`` counted per class (explode →
    threshold-filter → count, P6/P7), as ``array<struct<class_id, n>>``
    sorted by class id — empty when none passes. Row-local: no groupBy
    and no join back to the image rows. The detector column is selected
    before the array functions read it, as Python UDFs cannot run
    inside a higher-order function's lambda."""
    return frame.select("*", detect_udf(id_col).alias("dets")).select(
        *frame.columns,
        _class_totals(
            F.filter("dets", lambda d: d.score > SCORE_THRESHOLD), lambda d: F.lit(1)
        ).alias("counts"),
    )


def class_count_rows(frame: DataFrame, id_col: str) -> DataFrame:
    """``class_counts`` exploded: ``frame``'s columns plus (class_id, n),
    one row per image and detected class. The generator is the outer
    form, with its empty-array rows dropped after it: for the inner
    form Catalyst infers a ``size(counts) > 0`` filter and pushes it
    below the projection, which runs the detector UDF a second time."""
    return (
        class_counts(frame, id_col)
        .select(*frame.columns, F.inline_outer("counts"))
        .where(F.col("class_id").isNotNull())
    )
