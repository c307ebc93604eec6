"""Kafka-shaped streaming ingest (SURVEY.md §2.10 extension).

No Kafka broker exists in this container, so the *wire contract* is
demonstrated instead: the event corpus is re-encoded into the exact
record shape Spark's Kafka source emits — ``key: binary, value: binary,
topic: string, partition: int, offset: long, timestamp: timestamp,
timestampType: int`` — and consumers parse it with the same
``from_json(cast(value as string))`` code they would run against a real
``.format("kafka")`` stream. Swapping this stand-in for Kafka changes
ONE line (the readStream format/options); every downstream
transformation, including the foreachBatch upsert sink in
``streaming/upsert.py``, is unchanged.

Reference analog: the reference has no streaming at all (its closest
shape is the ``--cached-pred`` incremental restart,
pyspark_yolox.py:115-119); this is the continuous form of that restart.

Scale design: partition = pmod(xxhash64(key), N) mirrors Kafka's
DefaultPartitioner (murmur2 on key bytes) — per-key ordering within a
partition, the invariant the upsert sink's MERGE relies on. At 100 TB
the same plan reads a real topic with maxOffsetsPerTrigger bounding each
micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: JSON payload carried in the Kafka ``value`` — timestamps serialized
#: as unix SECONDS (integer) so the wire format is engine-neutral and
#: the round-trip is exact (no float/locale/timezone formatting).
PAYLOAD_SCHEMA = (
    "event_id bigint, ts_sec bigint, user_id bigint, "
    "event_type string, value double"
)


def to_kafka_wire(events: DataFrame, topic: str = "events", n_partitions: int = 4) -> DataFrame:
    """Encode an event DataFrame (batch or streaming) into the Kafka
    source record shape. Pure column expressions — JVM-side, streamable."""
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.unix_timestamp("ts").alias("ts_sec"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        )
    )
    return events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_partitions))
        .cast("int")
        .alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def parse_kafka_wire(wire: DataFrame) -> DataFrame:
    """Decode Kafka records back into typed event columns — the consumer
    code that would run verbatim against a real Kafka stream."""
    return wire.select(
        F.col("key").cast("string").cast("long").alias("key_user_id"),
        F.from_json(F.col("value").cast("string"), PAYLOAD_SCHEMA).alias("e"),
        "partition",
        "offset",
    ).select(
        "e.event_id",
        "e.ts_sec",
        "e.user_id",
        "e.event_type",
        "e.value",
        "key_user_id",
        "partition",
        "offset",
    )
