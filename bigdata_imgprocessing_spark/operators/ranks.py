"""Scale-conditional tie-averaged ranking for the rank-statistic
monitors (Mann-Whitney, Kruskal-Wallis, Spearman, ROC-AUC).

The window form — ``rank() OVER (ORDER BY value)`` — plans an
``Exchange SinglePartition`` + total sort over the FACT, which is the
classic non-scaling shape (guide §2.4): at 100 TB one task sorts the
corpus. The scale form here computes the same doubled tie-averaged
rank (``dr = 2*cnt_lt + c + 1``, an exact integer) per DISTINCT value
with no data-sized single partition anywhere:

1. group rows by value (map-side combinable; the shuffle carries one
   row per distinct value),
2. bucket the value range into ``n_buckets`` equal-width buckets; the
   per-bucket totals (<= B rows, a CONSTANT independent of data
   volume) take one bounded single-partition window for the exclusive
   bucket-offset prefix sums,
3. a PARTITIONED (per-bucket) cumulative window adds the within-bucket
   prefix, so ``cnt_lt = bucket_offset + within_bucket`` — every
   data-sized operation is a groupBy, a broadcast join (<= B rows), or
   a partitioned window.

Round 15 built this restructure, proved it hash-identical at 3 SFs,
and measured it 2-4x SLOWER at driver sf — the extra dependent stage
waves dominate frames this small (OPTIMIZATION_r15.md "Rejected with
measurements", in git history at 752fc5a). It is therefore wired
behind a SIZE SWITCH (VERDICT r15 item 6): ``use_prefix_ranks`` keeps
the monitors on the measured-faster window form below
``PREFIX_BYTES`` (2 GiB) of scanned input, by Spark's own size
estimate of the frame, and switches to this form at or above it, where
the single-partition sort stalls; an unknown size counts as large. A
deployment with another crossover edits the constant (tests patch it).
Both forms produce bit-identical statistics, NULLs included (the
doubled-rank identity keeps every intermediate an exact integer; tests
pin equality).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
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
