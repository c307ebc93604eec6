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
measurements", in git history at 752fc5a). It is therefore wired behind a SIZE SWITCH (VERDICT
r15 item 6): the monitors keep the measured-faster window form below
``SPARK_GRAFT_RANK_PREFIX_BYTES`` (default 2 GiB) of input parquet and
switch to this form above it, where the single-partition sort stalls.
Both forms produce bit-identical statistics (the doubled-rank identity
keeps every intermediate an exact integer; tests pin equality).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: bucket count B for the two-level prefix: the offsets window and the
#: broadcast join are bounded by B rows regardless of data volume; the
#: per-bucket partitioned window sees ~|distinct values|/B rows each.
PREFIX_BUCKETS = 8192

#: input-bytes crossover: below this the window form wins (measured at
#: driver sf — stage-wave-bound); above it the fact-sized single
#: partition is the bottleneck and the prefix form must take over. The
#: local default keeps every test-SF plan on the window form; a cluster
#: deployment sets the env to its measured crossover.
DEFAULT_PREFIX_BYTES = 2 << 30


def _input_bytes(sf_dir: str, table: str) -> int:
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(path)
            for f in files
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def use_prefix_ranks(sf_dir: str, table: str) -> bool:
    """True when ``table``'s parquet exceeds the rank-prefix crossover
    (``SPARK_GRAFT_RANK_PREFIX_BYTES``, default 2 GiB) — a zero-job,
    deterministic size estimate from the file footprint itself."""
    thr = int(
        os.environ.get("SPARK_GRAFT_RANK_PREFIX_BYTES", DEFAULT_PREFIX_BYTES)
    )
    return _input_bytes(sf_dir, table) >= thr


def doubled_tie_ranks(
    pv: DataFrame, value_col: str, count_col: str = "c",
    n_buckets: int = PREFIX_BUCKETS,
) -> DataFrame:
    """Add ``dr`` (doubled tie-averaged rank, exact int64) to a
    one-row-per-distinct-value frame ``pv`` carrying multiplicity
    ``count_col``; no data-sized single partition (module docstring).
    ``dr = 2*cnt_lt + c + 1`` where cnt_lt counts rows with a strictly
    smaller value."""
    v, c = F.col(value_col), F.col(count_col)
    stats = pv.agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    # equal-width bucket id, clamped into [0, B-1]; floor of a monotone
    # float map is monotone, and ties land in one bucket — only the
    # ORDER of buckets matters, not their balance (skew inside a bucket
    # is one partitioned-window partition, never a global sort)
    b = F.when(span > 0, F.least(
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
