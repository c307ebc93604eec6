"""Structured Streaming surface (SURVEY.md §2.10 — an extension beyond
the batch-only reference, per the north-star).

Streaming jobs reuse the exact window expressions of the batch queries
(stream-batch unification): ``readStream`` over the parquet dir →
the same ``window``/``groupBy`` transformations → ``availableNow``
trigger draining all available data → memory sink, whose materialized
table the driver can value-check against plain SQL oracles.

At scale the same code runs continuously: swap ``availableNow`` for a
processing-time trigger, the memory sink for kafka/delta, and add
``withWatermark`` (shown in windowed job) for state eviction —
the logical plan is unchanged.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    Streaming sources need a declared schema, so peek the parquet footer
    with a batch read (metadata-only — no data scan) and declare
    WHATEVER dtype the file actually stores for ``ts``, then normalize
    it exactly like ``core.catalog.table`` does (schema-driven: µs
    timestamp passes through, legacy nanos-as-long gets ÷1000). The
    batch and streaming readers can therefore never disagree about event
    time, whichever encoding the upstream generator picked.
    """
    from ..core.catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    footer_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    s = (
        spark.readStream.schema(footer_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(s)


#: memory-sink tables registered by prior run_to_memory calls, keyed by
#: session UUID (temp views are session-scoped, so one session's drain
#: must not pop another's names). Each new drain drops its session's
#: stale sinks first (r16): a memory sink holds its rows on the driver
#: for the SESSION lifetime, so a 274-query bench accumulated dozens of
#: append-mode sinks (some corpus-sized) as unreclaimable heap — visible
#: as erratic multi-second GC slowdowns on whichever streaming query
#: ran late in the suite. Every consumer materializes
#: its result before the next drain starts (bench noop / driver hash /
#: test collect), so dropping stale sinks is safe; a caller that needs
#: two live sinks reads the first before creating the second.
_SINKS: dict[str, list[str]] = {}


#: shuffle partitions a drain's state and per-batch merges run on
#: (``pinned_state_partitions``)
STATE_PARTITIONS = 8


@contextmanager
def pinned_state_partitions(spark: SparkSession) -> Iterator[None]:
    """Run a drain with ``spark.sql.shuffle.partitions`` pinned to
    ``STATE_PARTITIONS``, restoring the session's value afterwards.

    Streaming state partitioning is pinned at the first checkpoint by
    spark.sql.shuffle.partitions and AQE never re-coalesces it, so every
    micro-batch pays one state-store task per partition forever. For a
    bounded local drain 8 partitions is plenty (32 was measured ~1.8x
    slower on pure task overhead); a continuous 100 TB deployment sizes
    this to state volume/throughput instead — same knob, set before the
    first start(). Restoring it keeps batch queries in the same session
    on their own shuffle sizing."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_to_memory(streaming_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain a streaming aggregation with trigger(availableNow) into a
    uniquely-named memory sink, under ``pinned_state_partitions``;
    return the materialized table."""
    spark = streaming_df.sparkSession
    sinks = _SINKS.setdefault(spark._jsparkSession.sessionUUID(), [])
    while sinks:
        spark.catalog.dropTempView(sinks.pop())
    name = f"sink_{uuid.uuid4().hex[:12]}"
    sinks.append(name)
    with pinned_state_partitions(spark):
        (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def run_foreachbatch_parquet(streaming_df: DataFrame, out_dir: str) -> None:
    """Drain a stream through foreachBatch into per-batch parquet dirs —
    the arbitrary-sink surface (upserts, JDBC, multi-sink fan-out) that
    format sinks can't express. Idempotence contract: each micro-batch
    overwrites its OWN ``batch=<id>`` directory, so a restart that
    replays a batch rewrites the same path instead of duplicating it —
    the standard exactly-once construction for non-transactional sinks."""
    with pinned_state_partitions(streaming_df.sparkSession):
        (
            streaming_df.writeStream.foreachBatch(
                lambda df, batch_id: df.write.mode("overwrite").parquet(
                    f"{out_dir}/batch={batch_id}"
                )
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def file_feed_stream(spark: SparkSession, feed: str) -> DataFrame:
    """File-source stream over a staged mtime-ordered feed, one file
    per micro-batch (schema sniffed from the staged parquet) — the
    reader half of the `_stage_feed` slicing discipline, shared by the
    stateful drains (quota / EWMA)."""
    schema = spark.read.parquet(feed).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def last_state_per_key(drained: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """FINAL per-key row from an update-mode memory-sink drain: each
    micro-batch emits a snapshot per touched key, and the one with the
    largest monotone ``order_col`` (an event counter in every stateful
    op here) is the final state. Shared epilogue of all four stateful
    drains — a tie-handling change lands once."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(key_col).orderBy(F.col(order_col).desc())
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
