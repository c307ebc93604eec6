"""Streaming paragraph-dedup-at-ingest: the CCNet paragraph-hash scan
(`paragraph_dedup_stats`, queries/dedup.py) as a CONTINUOUS curation
loop. Documents arrive in waves; each micro-batch splits its arrivals
into fixed 8-word units, checks the unit hashes against the ACCUMULATED
seen-unit store (every earlier wave's first occurrences), counts how
many of the batch's unit instances are boilerplate already seen (or
repeated within the batch itself — first occurrence wins either way),
and lands ONLY the genuinely new distinct unit hashes as the store
extension for subsequent waves.

Per-batch cost is arrivals-sized: the probe is one equi-semi-shaped
left join of the batch's DISTINCT unit hashes against the store (8-byte
keys), the accumulated store is never self-joined, and — unlike the
LSH/simhash ingests — no verification stage exists (exact hash equality
IS the verdict), so counts fold map-side and the per-batch stats row is
one crossJoin of two 1-row aggregates.

Stores: ``units`` and ``stats``, under the layout and replay rule of
streaming/ingest.py. The store extension lands batch-distinct-minus-
prior, so the unit dirs are DISJOINT by construction and readers never
need a distinct.

Reference parity: the reference has no streaming engine — this extends
the paragraph-dedup surface the same way streaming/lsh_ingest.py
extends minhash LSH (same module contract as the other streaming/
jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.neardup import para_units_sql
from . import ingest

_STATS = (
    "wave bigint, n_docs bigint, n_units bigint,"
    " n_dup_units bigint, n_new_units bigint"
)


def _units(batch: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, h) unit-hash instances of a (doc_id, text)
    frame, by the unit hash `paragraph_dedup_stats` uses
    (operators/neardup.py ``para_units_sql``), so the streaming and
    batch semantics cannot drift apart."""
    return batch.select(
        "doc_id",
        F.posexplode(
            F.expr(para_units_sql("split(text, ' ')"))
        ).alias("chunk_no", "h"),
    )


def run_paragraph_ingest(stream_df: DataFrame, state_root: str) -> None:
    """Drain a (doc_id, text) stream with availableNow, maintaining the
    seen-unit store under ``state_root/units`` and one per-wave stats
    row under ``state_root/stats``."""

    def step(batch: DataFrame, state: ingest.BatchState) -> None:
        # no isEmpty() guard: one Spark job per batch saved; an empty
        # batch overwrites its subdirs with empty frames, harmless
        ch = _units(batch).coalesce(4).cache()
        # prior dirs are disjoint (each lands only its NEW hashes), so
        # no distinct on read
        seen = state.prior("units", "h bigint")
        bd = (
            ch.select("h")
            .distinct()
            .join(seen.withColumn("seen", F.lit(True)), "h", "left")
            .coalesce(4)
            .cache()
        )
        new_units = bd.where(F.col("seen").isNull()).select("h")
        inst = ch.agg(
            F.count("*").cast("bigint").alias("n_units"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        )
        dis = bd.agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.coalesce(F.sum(F.col("seen").cast("long")), F.lit(0))
            .cast("bigint")
            .alias("n_seen"),
        )
        stats = (
            inst.crossJoin(dis)
            .select(
                F.lit(state.bid).cast("bigint").alias("wave"),
                "n_docs",
                "n_units",
                # dup instances = all instances minus the first
                # occurrences of genuinely-new hashes
                (
                    F.col("n_units")
                    - (F.col("n_distinct") - F.col("n_seen"))
                ).alias("n_dup_units"),
                (F.col("n_distinct") - F.col("n_seen")).alias("n_new_units"),
            )
        )
        # the units write is the cache barrier for bd (and, through its
        # lineage, ch) — the stats write then reads both caches warm
        state.land({"units": new_units}, {"stats": stats})
        bd.unpersist()
        ch.unpersist()

    ingest.drain(stream_df, state_root, step)


def read_stats(spark: SparkSession, state_root: str) -> DataFrame:
    """One (wave, n_docs, n_units, n_dup_units, n_new_units) row per
    drained micro-batch."""
    return ingest.read_store(spark, state_root, "stats", _STATS)


def n_store_versions(state_root: str) -> int:
    """How many micro-batches extended the seen-unit store — the
    multi-batch-exercised assertion hook."""
    return ingest.n_versions(state_root, "units")
