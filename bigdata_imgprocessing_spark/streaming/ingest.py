"""The foreachBatch skeleton shared by the five ingest state machines
(lsh, simhash, decontam, paragraph, ivf) and the three versioned sinks
(upsert, erasure, sketch state). It is the only module that knows their
state layout and replay rule; each keeps only its per-batch derivation
and its store schemas.

State layout: ``{state_root}/{store}/b{N}``, one subdir per store per
micro-batch N, and the stream checkpoint at ``{state_root}/ckpt``.

Replay rule: (i) every write is mode=overwrite into its own batch-id
subdir, (ii) a batch reads only STRICTLY-earlier batches, in numeric
batch order (b10 after b2; non-numeric siblings such as an operator's
``b3.bak`` copy are ignored), (iii) the per-batch derivation is
deterministic. A crash-replayed batch (state landed, checkpoint commit
missing) therefore sees exactly its pre-batch state and overwrites its
subdirs with identical content, whichever of its stores had landed, so
write order inside a batch is free.

Landing: the first writes run synchronously as the cache barrier. Their
lineage must fill every multiply-consumed cache, because Spark does not
synchronize concurrent cold-cache fills (racing jobs each recompute the
derivation). The remaining stores then land concurrently, one Spark job
per Python thread, each in the foreachBatch thread's job group, so
``query.stop()`` cancellation and UI attribution reach them.

Listing goes through ``core/fs.py``, so ``hdfs://``, ``s3a://`` and
``file://`` roots see the same state as a bare local path; listed paths
keep the caller's form of the root.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..core import fs
from ..core.session import local_frame


def batch_dirs(
    spark: SparkSession, state_root: str, store: str, before: int | None = None
) -> list[str]:
    """``{state_root}/{store}/b{N}`` dirs in numeric N order, only
    N < ``before`` when given."""
    numbered = sorted(
        (int(name[1:]), f"{state_root}/{store}/{name}")
        for path in fs.glob(spark, f"{state_root}/{store}/b*")
        if (name := path.rsplit("/", 1)[1])[1:].isdecimal()
    )
    return [d for n, d in numbered if before is None or n < before]


def _read(spark: SparkSession, dirs: list[str], schema: str) -> DataFrame:
    # explicit schema: the store layouts are fixed, and inference would
    # re-read parquet footers on every micro-batch. The empty frame is
    # an empty LocalRelation, which Catalyst prunes out of unions and
    # joins, so a first batch plans as if no state read existed.
    if dirs:
        return spark.read.schema(schema).parquet(*dirs)
    return local_frame(spark, [], schema)


def read_store(
    spark: SparkSession, state_root: str, store: str, schema: str
) -> DataFrame:
    """Every drained batch of ``store`` (empty frame of ``schema`` when
    none has landed)."""
    return _read(spark, batch_dirs(spark, state_root, store), schema)


def last_landed(spark: SparkSession, state_root: str, store: str) -> str | None:
    """The newest ``store`` batch dir whose write completed (its
    ``_SUCCESS``), or None."""
    dirs = batch_dirs(spark, state_root, store)
    return next((d for d in reversed(dirs) if fs.landed(spark, d)), None)


def n_versions(state_root: str, store: str) -> int:
    """How many micro-batches landed ``store``."""
    return len(batch_dirs(SparkSession.active(), state_root, store))


@dataclass(frozen=True)
class BatchState:
    """One micro-batch's view of the state root."""

    spark: SparkSession
    root: str
    bid: int

    def dirs(self, store: str) -> list[str]:
        """``store``'s dirs from strictly-earlier batches."""
        return batch_dirs(self.spark, self.root, store, before=self.bid)

    def prior(self, store: str, schema: str) -> DataFrame:
        """``store`` as of the start of this batch."""
        return _read(self.spark, self.dirs(store), schema)

    def land(self, first: dict[str, DataFrame], rest: dict[str, DataFrame]) -> None:
        """Write the ``first`` stores in order (the cache barrier), then
        the ``rest`` concurrently."""
        for store, df in first.items():
            self._write(store, df)
        write = inheritable_thread_target(self.spark)(self._write)
        with ThreadPoolExecutor(max(1, len(rest))) as pool:
            list(pool.map(write, rest, rest.values()))

    def _write(self, store: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(f"{self.root}/{store}/b{self.bid}")


def drain(
    stream_df: DataFrame,
    state_root: str,
    step: Callable[[DataFrame, BatchState], None],
) -> None:
    """Run ``step(batch, state)`` on every micro-batch of ``stream_df``
    with an availableNow trigger, checkpointed under ``state_root``."""
    (
        stream_df.writeStream.foreachBatch(
            lambda batch, bid: step(
                batch, BatchState(batch.sparkSession, state_root, bid)
            )
        )
        .option("checkpointLocation", f"{state_root}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
