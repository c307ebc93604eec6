"""Incremental sketch maintenance via ``foreachBatch`` — the streaming
form of the mergeable-sketch rolling-distinct metric
(``queries/timeseries.py sliding_users_sketch`` is the batch form).

Per micro-batch: the batch reduces to one HLL sketch per day
(``hll_sketch_agg``), which is UNION-MERGED into the persistent per-day
sketch state (``hll_union_agg``) — the associative/commutative update
that makes the result independent of how the stream was segmented into
micro-batches (the stream≡batch contract the oracle checks). State is
versioned per batch id on the ingest skeleton exactly like
``upsert.py``: a replayed batch recomputes from the highest version
BELOW its own id and overwrites its own dir, so restarts never double-merge a batch (idempotent sketch
maintenance — the property that makes sketch state safe under
at-least-once delivery).

Scale: per-batch work is one day-keyed shuffle of kilobyte sketches;
the state table is |days| rows regardless of stream volume, and the
downstream rolling window re-merges 7 sketches per day instead of
re-scanning raw events — the entire point of maintaining sketches
incrementally at 100 TB/day ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import BatchState, drain, last_landed
from .jobs import pinned_state_partitions


def run_sketch_maintenance(stream_df: DataFrame, out_dir: str) -> None:
    """Drain a (user_id, d) stream on the ingest skeleton into versioned
    per-day HLL sketch state ``{out_dir}/sketch/b<id>``."""

    def _merge(batch_df: DataFrame, state: BatchState) -> None:
        delta = batch_df.groupBy("d").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        prev = state.dirs("sketch")
        if prev:
            old = state.spark.read.parquet(prev[-1])
            delta = old.unionByName(delta).groupBy("d").agg(
                F.hll_union_agg("sk").alias("sk")
            )
        state.land({"sketch": delta}, {})

    with pinned_state_partitions(stream_df.sparkSession):
        drain(stream_df, out_dir, _merge)


def read_final_sketches(spark: SparkSession, out_dir: str) -> DataFrame:
    final = last_landed(spark, out_dir, "sketch")
    if final is None:
        raise FileNotFoundError(f"no completed sketch state under {out_dir}")
    return spark.read.parquet(final)
