"""The rank pass of the four rank tests (Mann-Whitney, Kruskal-Wallis,
Spearman, ROC-AUC): the size switch and both rank forms live here, so
each query folds its statistic once over what these return.

- ``rank_pass(scan, value, *keys, **sums)`` returns ``(keys..., m, c,
  dr, sums...)``: ``m`` is the number of scan rows a row stands for,
  ``c`` the tie count of its value and ``dr`` the doubled tie-averaged
  rank ``2*cnt_lt + c + 1`` (an exact integer; ``cnt_lt`` counts rows
  with a strictly smaller value, NULL ranking first as ``rank()``
  orders it). Each ``sums`` column is a per-row expression, summed
  over the ``m`` rows. A fold therefore weights by ``m``:
  ``sum(m * dr)`` is the doubled rank sum, ``sum(m * (c*c - 1))`` the
  tie term ``sum over values of (c^3 - c)``.
- ``row_ranks(scan, {name: col})`` returns ``dr_<name>`` per column
  and ``n`` (the row count) on every scan row, for statistics that
  pair several ranks of one row.

Below ``PREFIX_BYTES`` of scanned input, by Spark's own size estimate
of the ``scan`` frame, both run the window form: ``rank() OVER (ORDER
BY value)`` and a per-value count on every row (``m = 1``). Its total
sort runs in one task (an ``Exchange SinglePartition``), which stalls
at scale but is the faster form on small frames, where the extra stage
waves of the prefix form dominate. At or above it, or when the size is
unknown, they run the bucketed-prefix form, which has no data-sized
single partition (``doubled_tie_ranks``):

1. group rows by value (map-side combinable; the shuffle carries one
   row per distinct value, or per ``(value, keys)``),
2. bucket the value range into ``n_buckets`` equal-width buckets; the
   per-bucket totals (<= B rows, a constant) take one bounded
   single-partition window for the exclusive bucket-offset prefix sums,
3. a partitioned (per-bucket) cumulative window adds the within-bucket
   prefix, so ``cnt_lt = bucket_offset + within_bucket``.

``rank_pass`` then returns one row per distinct ``(value, keys)``; it
joins the tie counts back only when keys are given. ``row_ranks``
joins one rank map per column back to the scan on the value. Both
forms give bit-identical folds, NULLs included: every intermediate is
an exact integer (tests pin equality). A deployment with another
crossover edits ``PREFIX_BYTES`` (tests patch it).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

#: bucket count B for the two-level prefix: the offsets window and the
#: broadcast join are bounded by B rows regardless of data volume; the
#: per-bucket partitioned window sees ~|distinct values|/B rows each.
PREFIX_BUCKETS = 8192

#: input-bytes crossover: below this the window form wins (measured at
#: driver sf — stage-wave-bound); above it the fact-sized single
#: partition is the bottleneck and the prefix form must take over. It
#: keeps every test-SF plan on the window form.
PREFIX_BYTES = 2 << 30


def use_prefix_ranks(scan: DataFrame) -> bool:
    """True when Spark's size estimate of the scanned frame ``scan`` is
    at least ``PREFIX_BYTES`` — a zero-job estimate from the file index
    of its relation, whatever its storage URI. An unknown size is
    Long.MaxValue, so it plans the prefix form."""
    stats = scan._jdf.queryExecution().optimizedPlan().stats()
    size = int(str(stats.sizeInBytes()))
    prefix = size >= PREFIX_BYTES
    _log.info(
        "rank %s form: input %d bytes, prefix at >= %d",
        "prefix" if prefix else "window", size, PREFIX_BYTES,
    )
    return prefix


def _window_dr(value) -> Column:
    """Doubled tie-averaged rank of ``value`` on every row."""
    return (
        2 * F.rank().over(Window.orderBy(value))
        + F.count("*").over(Window.partitionBy(value))
        - 1
    )


def rank_pass(scan: DataFrame, value, *keys, **sums: Column) -> DataFrame:
    """``(keys..., m, c, dr, sums...)`` for ``value`` over ``scan``, in
    the form the size switch picks (module docstring). ``value``,
    ``keys`` and ``sums`` are columns of ``scan`` or expressions over
    it; a key is named by its alias."""
    value = F.col(value) if isinstance(value, str) else value
    if not use_prefix_ranks(scan):
        rows = scan.select(
            value.alias("v"), *keys, *(col.alias(n) for n, col in sums.items())
        )
        return rows.select(
            *rows.columns[1 : 1 + len(keys)],
            F.lit(1).alias("m"),
            F.count("*").over(Window.partitionBy("v")).alias("c"),
            _window_dr("v").alias("dr"),
            *sums,
        )
    pvk = scan.groupBy(value.alias("v"), *keys).agg(
        F.count("*").alias("m"), *(F.sum(col).alias(n) for n, col in sums.items())
    )
    if not keys:
        return doubled_tie_ranks(pvk, "v", "m").select(
            "m", F.col("m").alias("c"), "dr", *sums
        )
    pv = pvk.groupBy("v").agg(F.sum("m").alias("c"))
    drv = doubled_tie_ranks(pv, "v").select(F.col("v").alias("_v"), "c", "dr")
    return pvk.join(drv, F.col("v").eqNullSafe(F.col("_v"))).select(
        *pvk.columns[1 : 1 + len(keys)], "m", "c", "dr", *sums
    )


def row_ranks(scan: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """``dr_<name>`` for each ``name: col`` and ``n``, the row count, on
    every row of ``scan``, in the form the size switch picks (module
    docstring)."""
    if not use_prefix_ranks(scan):
        return scan.select(
            *(_window_dr(col).alias(f"dr_{name}") for name, col in cols.items()),
            F.count("*").over(Window.partitionBy()).alias("n"),
        )
    # one doubled-rank map per column, joined back to the scan on the
    # value (NULL-safe: a NULL value has a rank too); a deterministic
    # expression rebuilds bit-identical keys
    base = scan.select(*(col.alias(name) for name, col in cols.items()))
    ranked = base
    for name in cols:
        pv = base.groupBy(F.col(name).alias("v")).agg(F.count("*").alias("c"))
        ranked = ranked.join(
            doubled_tie_ranks(pv, "v").select("v", F.col("dr").alias(f"dr_{name}")),
            F.col(name).eqNullSafe(F.col("v")),
        ).drop("v")
    nrow = base.agg(F.count("*").alias("n"))
    return ranked.crossJoin(F.broadcast(nrow)).select(
        *(f"dr_{name}" for name in cols), "n"
    )


def doubled_tie_ranks(
    pv: DataFrame, value_col: str, count_col: str = "c",
    n_buckets: int = PREFIX_BUCKETS,
) -> DataFrame:
    """Add ``dr`` (doubled tie-averaged rank, exact int64) to a
    one-row-per-distinct-value frame ``pv`` carrying multiplicity
    ``count_col``; no data-sized single partition (module docstring).
    ``dr = 2*cnt_lt + c + 1`` where cnt_lt counts rows with a strictly
    smaller value; NULL ranks first, as ``rank()`` orders it."""
    v, c = F.col(value_col), F.col(count_col)
    stats = pv.agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    # equal-width bucket id, clamped into [0, B-1]; floor of a monotone
    # float map is monotone, and ties land in one bucket — only the
    # ORDER of buckets matters, not their balance (skew inside a bucket
    # is one partitioned-window partition, never a global sort). NULL
    # takes bucket -1, ahead of every value (least() would skip it and
    # send it to the last bucket).
    b = F.when(v.isNull(), F.lit(-1)).when(span > 0, F.least(
        F.floor((v - F.col("_lo")) / (span / n_buckets)).cast("int"),
        F.lit(n_buckets - 1),
    )).otherwise(F.lit(0))
    pvb = pv.crossJoin(F.broadcast(stats)).withColumn("_b", b)
    offs = (
        pvb.groupBy("_b")
        .agg(F.sum(count_col).alias("_bc"))
        .select(
            "_b",
            F.coalesce(
                F.sum("_bc").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    within = F.coalesce(
        F.sum(count_col).over(
            Window.partitionBy("_b")
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        pvb.join(F.broadcast(offs), "_b")
        .withColumn("dr", 2 * (F.col("_off") + within) + c + 1)
        .drop("_b", "_lo", "_hi", "_off")
    )
