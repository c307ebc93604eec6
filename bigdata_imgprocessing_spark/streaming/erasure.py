"""Streaming erasure propagation — the governance twin of the MERGE
upsert sink (`streaming/upsert.py`): a live feed of right-to-be-
forgotten REQUESTS (victim keys) drains through ``foreachBatch``, and
each micro-batch rewrites the keyed state table minus that batch's
victims (``DELETE FROM state WHERE key IN (SELECT key FROM requests)``
— the by-hand form of Delta/Iceberg row-level DELETE, on versioned
parquet because no transactional format ships in this container).

Deletion is idempotent by nature (re-deleting a key is a no-op), so
replayed batches are harmless; version dirs keyed by batch id (the
ingest skeleton, ``streaming/ingest.py``) keep restarts monotone
exactly like the upsert sink. Each batch's work is
ONE broadcast anti join + a partition-parallel rewrite — at 100 TB the
rewrite touches only the partitions the audit pass
(``user_erasure_audit``) shows contain victims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import BatchState, drain, last_landed
from .jobs import STATE_PARTITIONS, pinned_state_partitions


def init_state(df: DataFrame, out_dir: str) -> None:
    """Materialize the pre-stream state table (the lake before any
    erasure requests arrive)."""
    df.repartition(STATE_PARTITIONS).write.mode("overwrite").parquet(
        f"{out_dir}/state_init"
    )


def run_foreachbatch_erasure(
    request_stream: DataFrame, out_dir: str, key: str = "user_id"
) -> None:
    """Drain the victim-key stream on the ingest skeleton, rewriting
    state minus victims per micro-batch into ``{out_dir}/state/b<id>``."""

    def _erase(batch_df: DataFrame, state: BatchState) -> None:
        victims = batch_df.select(key).distinct()
        prev = state.dirs("state")
        src = state.spark.read.parquet(prev[-1] if prev else f"{out_dir}/state_init")
        remaining = src.join(
            F.broadcast(victims), src[key] == victims[key], "left_anti"
        )
        state.land({"state": remaining}, {})

    with pinned_state_partitions(request_stream.sparkSession):
        drain(request_stream, out_dir, _erase)


def read_final_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """The newest completed state version, else the initial state."""
    return spark.read.parquet(
        last_landed(spark, out_dir, "state") or f"{out_dir}/state_init"
    )
