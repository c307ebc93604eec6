from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def zero_guard_div(num: Column, den: Column, scale: int = 4) -> Column:
    """``num/den`` with the reference's ``ZeroDivisionError -> 0`` semantics
    (``pyspark_stats.py:91-94``): an empty/zero denominator yields 0, not
    null/NaN. Result rounded to ``scale`` for cross-engine determinism."""
    return F.round(F.when(den == 0, F.lit(0.0)).otherwise(num / den), scale)


def first_letter(col: Column) -> Column:
    """First character of a name — the reference's alphabet grouping key
    (``pyspark_stats.py:83-85``)."""
    return F.substring(col, 1, 1)


def length_bucket(col: Column, low: int, high: int) -> Column:
    """Three-way name-length bucketing (``pyspark_stats.py:158-167``):
    ``len < low`` / ``low <= len <= high`` / ``len > high``."""
    n = F.length(col)
    return (
        F.when(n < low, F.lit(f"under_{low}"))
        .when(n <= high, F.lit(f"between_{low}_and_{high}"))
        .otherwise(F.lit(f"over_{high}"))
    )


def ordered_pairs(arr: Column, a_name: str, b_name: str) -> Column:
    """All ordered pairs (a < b) of a SORTED-DISTINCT array column as an
    array<struct> — the map-side pair-space generator shared by the
    inverted-index dedup ops and the itemset miner. Output size is
    n·(n−1)/2 per row, so callers bound n first (posting-list cutoff,
    type-domain baskets)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x: F.transform(
                F.filter(arr, lambda y: y > x),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


def ordered_fold_sum(arr: Column) -> Column:
    """Left fold (init 0.0) over an array of doubles — THE cross-engine
    float-summation primitive (the jackknife discipline): both engines
    fold the same sorted array element-by-element (F.aggregate here,
    list_reduce in the DuckDB oracle; a 0.0 init is exact), so no
    engine-specific summation order can exist. Callers sort the array
    by a stable key first (sort_array over a struct / list(... ORDER
    BY ...)). Shared by jackknife / log-rank / ACF / mixture-plan."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


# -- the deterministic hash rules --------------------------------------------
# Every md5-derived rule in the package (the stub detector, the train/val/
# test split, shard, sample and sketch buckets, near-dup node ids) builds on
# one 40-bit key: the first 10 hex chars of md5(s) as an integer. 40 bits
# keep it positive in BIGINT and leave room for the MinHash products below
# 2^63 in both engines. Each rule is written here once per engine.


def h40_of(s: str) -> int:
    """The 40-bit key of ``s`` in Python: the first 10 hex chars of
    md5(s). A plain module-level function, so Arrow UDF workers call it
    without a closure."""
    return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)


def h40(s: Column) -> Column:
    """The 40-bit key of the string column ``s`` in Spark, as a bigint."""
    return F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("bigint")


def duck_h40(expr: str) -> str:
    """DuckDB twin of ``h40`` over the VARCHAR SQL expression ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 10))::UBIGINT AS BIGINT)"


def split_of(key: Column) -> Column:
    """The train/val/test split (90/5/5) of a row with stable id ``key``:
    ``h40(key || '_split') % 100`` below 90 is train, below 95 val, else
    test. One rule across the pipeline, so a decontamination or leakage
    audit sees exactly the split the trainer will."""
    b = h40(F.concat(key.cast("string"), F.lit("_split"))) % 100
    return F.when(b < 90, "train").when(b < 95, "val").otherwise("test")


def duck_split(expr: str) -> str:
    """DuckDB twin of ``split_of`` over the SQL expression ``expr``."""
    b = duck_h40(f"CAST({expr} AS VARCHAR) || '_split'") + " % 100"
    return (
        f"CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'val' "
        "ELSE 'test' END"
    )
