"""MERGE-style upsert sink via ``foreachBatch`` — the keyed-state sink
shape a real ingest pipeline runs against Delta/Iceberg/JDBC ``MERGE
INTO``, built here on versioned parquet because no transactional table
format ships in this container.

Semantics per micro-batch (classic CDC compaction):
- batch rows are reduced to one candidate per key (newest wins);
- existing state keys are UPDATED if the candidate is newer, kept
  otherwise; unseen keys are INSERTED — i.e. ``MERGE INTO state USING
  delta ON state.key = delta.key WHEN MATCHED AND delta.newer THEN
  UPDATE WHEN NOT MATCHED THEN INSERT``.

"Newest" is the lexicographic max of ``(ts_sec, event_id)`` — a total
order, so the result is independent of micro-batch segmentation and
arrival interleaving (the stream≡batch contract the oracle checks).

Exactly-once: state version dirs are keyed by batch id on the ingest
skeleton (``streaming/ingest.py``); a replayed batch recomputes from
the highest version BELOW its own id and overwrites its own dir —
rerunning batch N is idempotent and never double-applies. (Delta's MERGE gets this from the txn log; versioned
dirs are the same construction by hand.)

Scale: the merge is one shuffle per micro-batch on the upsert key, and
state stays distributed (no driver round-trip). At 100 TB the state
table is a partitioned/bucketed Delta table and this function body is
replaced by one MERGE INTO statement — the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import BatchState, drain, last_landed
from .jobs import pinned_state_partitions

#: columns folded into the newest-wins struct, order matters: the
#: leading (ts_sec, event_id) pair IS the recency total order.
_STATE_COLS = ("ts_sec", "event_id", "event_type", "value")


def _latest_per_key(df: DataFrame, key: str) -> DataFrame:
    """One row per key: lexicographic max over (ts_sec, event_id, ...) —
    an associative/commutative reduce, so Spark runs it map-side partial
    then one shuffle, and the result is segmentation-independent."""
    packed = df.groupBy(key).agg(
        F.max(F.struct(*[F.col(c) for c in _STATE_COLS])).alias("m")
    )
    return packed.select(key, *[F.col(f"m.{c}").alias(c) for c in _STATE_COLS])


def run_foreachbatch_upsert(
    parsed_stream: DataFrame, out_dir: str, key: str = "user_id"
) -> None:
    """Drain the stream through the MERGE upsert on the ingest skeleton
    (state ``{out_dir}/state/b<id>``, checkpoint under ``out_dir``: a
    restarted drain continues batch numbering, so a replay overwrites
    its own version and new data merges from the prior one)."""

    def _merge(batch_df: DataFrame, state: BatchState) -> None:
        delta = _latest_per_key(batch_df.select(key, *_STATE_COLS), key)
        prev = state.dirs("state")
        if prev:
            old = state.spark.read.parquet(prev[-1])
            delta = _latest_per_key(old.unionByName(delta), key)
        state.land({"state": delta}, {})

    with pinned_state_partitions(parsed_stream.sparkSession):
        drain(parsed_stream, out_dir, _merge)


def read_final_state(spark: SparkSession, out_dir: str) -> DataFrame:
    final = last_landed(spark, out_dir, "state")
    if final is None:
        raise FileNotFoundError(f"no completed state version under {out_dir}")
    return spark.read.parquet(final)
