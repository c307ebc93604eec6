"""Distributed 2-d skyline (Pareto front) operator.

A point (x, y) is on the front iff no other point has BOTH a strictly
greater x and a greater-or-equal y. Skylines are MERGEABLE: the skyline
of a union is a subset of the union of skylines, so local pruning can
never remove a true front point — which is what makes the three-phase
distributed shape below exact:

1. collapse to distinct x with the best y per x (one grouped agg);
2. local skyline inside each x-bucket (parallel partitioned windows);
3. prune against the running max y of strictly-higher buckets (tiny
   broadcast frame), then an exact global pass over the O(front)
   survivors.

Only phase 3's window is global, and it sees survivors, not the input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.session import cached


def pareto_front_2d(
    df: DataFrame, x: str, y: str, bucket: Column
) -> DataFrame:
    """Return the (x, best-y) rows on the maximizing skyline of ``df``.

    ``bucket`` MUST be monotone non-decreasing in ``x`` (e.g.
    ``floor(col(x) / width)``): the phase-3a prune treats a higher
    bucket id as "all its points have higher x", so a non-monotone
    bucketing (a hash, say) would prune true front points. Within that
    contract the result is bucket-WIDTH-independent — any width only
    changes parallelism, not output. ``y`` may be any orderable type
    (date, timestamp, numeric).
    """
    # the candidate frame is domain-sized (distinct x) and feeds BOTH
    # the local skyline and the bucket-max prune — cache it so the
    # input is scanned once, not once per leg
    cand = cached(
        df.groupBy(x)
        .agg(F.max(y).alias("_bd"))
        .withColumn("_bkt", bucket)
    )
    # phase 2: local skyline per bucket
    wl = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc(x))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        cand.withColumn("_pm", F.max("_bd").over(wl))
        .where(F.col("_pm").isNull() | (F.col("_bd") > F.col("_pm")))
        .drop("_pm")
    )
    # phase 3a: running max of strictly higher buckets (domain-sized)
    bmax = cand.groupBy("_bkt").agg(F.max("_bd").alias("_bmax"))
    wb = Window.orderBy(F.desc("_bkt")).rowsBetween(Window.unboundedPreceding, -1)
    hib = bmax.withColumn("_hmax", F.max("_bmax").over(wb)).select("_bkt", "_hmax")
    pruned = local.join(F.broadcast(hib), "_bkt").where(
        F.col("_hmax").isNull() | (F.col("_bd") > F.col("_hmax"))
    )
    # phase 3b: exact skyline over the tiny survivor set
    wg = Window.orderBy(F.desc(x)).rowsBetween(Window.unboundedPreceding, -1)
    front = pruned.withColumn("_pm", F.max("_bd").over(wg)).where(
        F.col("_pm").isNull() | (F.col("_bd") > F.col("_pm"))
    )
    return front.select(x, F.col("_bd").alias(y))
