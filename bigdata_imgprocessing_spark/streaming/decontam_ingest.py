"""Streaming decontamination-at-ingest: the benchmark-leakage scan as
a CONTINUOUS curation loop. Documents arrive in waves; each micro-batch
checks its documents' word 5-grams against the ACCUMULATED gram index
(the fixed train corpus plus the grams of every earlier wave's CLEAN
documents — arrivals that pass decontamination are ingested into the
training pool, so later arrivals must be checked against them too).
Contaminated documents are recorded tagged with the wave that CHECKED
them; clean documents' distinct grams extend the index for subsequent
waves.

This is the decontamination analog of ``streaming/lsh_ingest.py``:
per-batch probes are arrivals-sized and the accumulated index is never
re-joined against itself. Stores: ``res`` and ``idx``, under the layout
and replay rule of streaming/ingest.py — a replayed batch probing its
own clean docs' grams would flip previously clean verdicts.

Reference parity: the reference has no streaming engine — this is the
Structured Streaming extension of the decontamination surface
(``decontam_ngram_overlap`` / ``decontam_bloom_prefilter``), same
module contract as the other streaming/ jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.neardup import wordgram_5h
from . import ingest

_RES = "doc_id bigint, lang string, contaminated boolean, wave bigint"


def run_decontam_ingest(
    stream_df: DataFrame, state_root: str, base_index_dir: str
) -> None:
    """Drain a (doc_id, lang, text) document stream with availableNow,
    checking each micro-batch against ``base_index_dir`` (the fixed
    train-gram index) plus the clean-doc gram extensions of every
    earlier batch under ``state_root/idx``."""
    def step(batch: DataFrame, state: ingest.BatchState) -> None:
        # no isEmpty() guard: one Spark job per batch saved; an empty
        # batch overwrites its subdirs with empty frames, harmless to
        # every reader
        batch = batch.cache()
        grams_b = wordgram_5h(batch).cache()
        # explicit schema: the base index and every extension land as
        # (gram_h string); one scan over the base and the extensions
        idx = state.spark.read.schema("gram_h string").parquet(
            base_index_dir, *state.dirs("idx")
        )
        # the probe result is CACHED as the small contaminated-doc-id
        # frame: both per-batch writes derive from it, so the index
        # probe executes once per batch (the r9 version re-read the
        # landed res file to get the same effect — deriving clean_grams
        # from the res LINEAGE would re-execute the probe, measured
        # ~2x per-batch cost)
        contaminated = (
            grams_b.join(idx, "gram_h", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("contaminated", F.lit(True))
            .cache()
        )
        res = (
            batch.select("doc_id", "lang")
            .join(contaminated, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
                F.lit(state.bid).cast("bigint").alias("wave"),
            )
        )
        clean_grams = (
            grams_b.join(contaminated, "doc_id", "left_anti")
            .select("gram_h")
            .distinct()
        )
        # the res write is the cache barrier: its lineage fills batch,
        # grams_b and contaminated, so the idx write reads them warm
        state.land({"res": res.coalesce(2)}, {"idx": clean_grams.coalesce(2)})
        contaminated.unpersist()
        grams_b.unpersist()
        batch.unpersist()

    ingest.drain(stream_df, state_root, step)


def read_results(spark: SparkSession, state_root: str) -> DataFrame:
    """Per-document admission verdicts across the drained waves, each
    tagged with the wave that checked it."""
    return ingest.read_store(spark, state_root, "res", _RES)


def n_index_versions(state_root: str) -> int:
    """How many micro-batches extended the gram index — the
    multi-batch-exercised assertion hook."""
    return ingest.n_versions(state_root, "idx")
