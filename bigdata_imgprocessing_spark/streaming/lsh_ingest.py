"""Streaming LSH dedup-at-ingest: the near-dup index maintained as a
STREAM of document arrivals — the continuous form of the batch
`lsh_incremental_pairs` query (queries/dedup.py), which proves the
new×old ∪ new×new probe shape for ONE daily batch; this module runs
that same shape per micro-batch against a persistent band index, so
however the arrival stream is sliced, every near-dup pair is
discovered exactly once, in the micro-batch where its LATER document
arrives.

Per micro-batch (foreachBatch):
  1. band-key + signature the batch documents (the SAME
     operators/neardup.py rules as the batch pipeline — the banding
     scheme cannot drift between deployment modes),
  2. probe: batch bands join the accumulated index ∪ batch bands —
     candidates are new×old ∪ new×new; the old×old space is NEVER
     rejoined (at 100 TB that is the entire point: the index is
     bucketed on (band, bkey), the probe side is arrivals-sized),
  3. verify exact Jaccard >= 0.5 on shingle sets semi-join-pruned to
     candidate ids (old docs' sets come from the persisted shingle
     store — no re-derivation from raw text),
  4. append the verified pairs (tagged with the discovering batch id)
     and the batch's bands/shingles to the state stores.

Stores: ``bands``, ``shingles``, ``pairs`` (and ``acct`` when capped),
under the layout and replay rule of streaming/ingest.py. A replayed
batch must not probe its own bands/shingles, or the duplicated set rows
would duplicate its verified pairs. Per-batch wall is the barrier write
+ max(remaining writes), two job waves, which matters for a query whose
cost is stage count, not data volume (161 stages/drain, VERDICT r9).

Reference parity: the reference has no streaming engine — this is the
Structured Streaming extension of its dedup surface, same contract as
the other streaming/ modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.neardup import (
    band_frame,
    candidate_pairs,
    exact_jaccard,
    minhash_signatures,
    shingle_sets,
)
from . import ingest

_BANDS = "doc_id bigint, band int, bkey string"
_SHINGLES = "doc_id bigint, ss array<string>"
_PAIRS = "doc_a bigint, doc_b bigint, inter int, uni int, wave bigint"
_ACCT = "wave bigint, n_buckets_cut bigint, n_band_rows_cut bigint"


def run_lsh_ingest(
    stream_df: DataFrame, state_root: str, max_bucket: int | None = None
) -> None:
    """Drain a (doc_id, text) stream with availableNow, maintaining the
    band index and discovered-pairs store under ``state_root``.

    ``max_bucket`` ports the batch census cutoff (`minhash_lsh_capped`,
    queries/dedup.py) into the per-batch probe: without it, a
    syndicated cohort that concentrates ~70% of its docs on one
    (band, bkey) per band (SCALING.md r12: 138,953-deep buckets at 10M
    docs) arriving OVER TIME makes every subsequent batch's probe join
    quadratic in the hot bucket. With it, each batch censuses only the
    buckets its arrivals TOUCH (a semi-join — the same rows the probe
    join would read anyway, as a count instead of a product), probes
    only buckets whose accumulated depth is within the cap, and lands
    (n_buckets_cut, n_band_rows_cut) accounting per batch under
    ``acct/b{N}`` — the signal that routes the hot residue to the
    representative pass (`hot_bucket_rep_dedup`) instead of pairwise
    enumeration. A pair is therefore discovered iff SOME shared band
    bucket is within the cap at the later doc's batch; the census is
    deterministic from strictly-earlier state + the batch, so the
    replay invariants hold unchanged."""
    def step(batch: DataFrame, state: ingest.BatchState) -> None:
        # no isEmpty() guard: it costs one Spark job per batch, and an
        # empty batch just overwrites its subdirs with empty frames —
        # harmless to every reader (availableNow over a staged feed
        # does not emit empty batches in practice anyway)
        batch = batch.coalesce(4).cache()
        new_bands = band_frame(minhash_signatures(batch)).coalesce(4).cache()
        new_sh = shingle_sets(batch)
        all_bands = state.prior("bands", _BANDS).union(new_bands)
        all_sh = state.prior("shingles", _SHINGLES).union(new_sh)
        census = None
        probe = new_bands
        if max_bucket is not None:
            # Census only the buckets this batch TOUCHES: the semi-join
            # (broadcast of the arrivals' keys — the index side never
            # shuffles) reads exactly the band rows the probe join
            # would read, folded to one count per bucket instead of an
            # arrivals x depth product. Restricting the PROBE side to
            # surviving buckets suffices for the cutoff: cut keys
            # simply vanish from the a-side of the equi-join. Cached
            # (touched-bucket-sized) because BOTH the pairs write and
            # the acct write consume it; the acct write runs first,
            # synchronously, as the cache barrier. Three structures
            # were measured at sf0.1 (4-wave drain): this one 12.8 s;
            # census-uncached + concurrent acct 19.0 s (the pairs job
            # re-derives the semi-join + groupBy inline and the probe
            # loses its broadcast shape); caching the touched rows as
            # the pair join's index side 14.2 s (the wide cached
            # partitioning costs more than the saved scan at this
            # batch size). Uncapped drain is ~9.5 s in the same
            # windows — the cap's steady cost is the one extra
            # census-fold job per batch.
            census = (
                all_bands.join(
                    new_bands.select("band", "bkey"), ["band", "bkey"], "semi"
                )
                .groupBy("band", "bkey")
                .agg(F.count("*").alias("k"))
                .coalesce(4)
                .cache()
            )
            surv = census.where(F.col("k") <= max_bucket).select(
                "band", "bkey"
            )
            probe = new_bands.join(surv, ["band", "bkey"], "semi")
        cand = candidate_pairs(probe, all_bands, 4)
        exact, sets = exact_jaccard(cand, all_sh, 4)
        pairs = exact.withColumn("wave", F.lit(state.bid).cast("bigint")).where(
            F.col("inter") * 1.0 / F.col("uni") >= 0.5
        )
        # The barrier (r16, one serialized job wave cut per capped
        # micro-batch — guide §2.6). For a capped batch it is the ACCT
        # landing: census's lineage scans new_bands (both the broadcast
        # build and the union side), which in turn scans the batch
        # cache — one job fills batch + new_bands + census, and the
        # bands / pairs / shingles writes then all run warm. Uncapped
        # there is no census, so the bands write is the barrier and
        # pairs ∥ shingles follow. A crash between the two waves can
        # leave acct/b{bid} without its siblings; no reader pairs acct
        # with the other stores mid-drain.
        rest = {"pairs": pairs, "shingles": new_sh}
        if census is None:
            state.land({"bands": new_bands}, rest)
        else:
            # Always lands exactly one row, so an un-cut batch reads
            # as explicit zeros.
            acct = census.where(F.col("k") > max_bucket).agg(
                F.lit(state.bid).cast("bigint").alias("wave"),
                F.count("*").cast("bigint").alias("n_buckets_cut"),
                F.coalesce(F.sum("k"), F.lit(0))
                .cast("bigint")
                .alias("n_band_rows_cut"),
            )
            state.land({"acct": acct}, {"bands": new_bands, **rest})
        for frame in (sets, cand, new_bands, batch):
            frame.unpersist()
        if census is not None:
            census.unpersist()

    ingest.drain(stream_df, state_root, step)


def read_final_pairs(spark: SparkSession, state_root: str) -> DataFrame:
    """All pairs discovered across the drained batches, each tagged
    with its discovering batch id (``wave``)."""
    return ingest.read_store(spark, state_root, "pairs", _PAIRS)


def read_acct(spark: SparkSession, state_root: str) -> DataFrame:
    """Per-batch cut accounting landed by a ``max_bucket``-capped drain:
    one (wave, n_buckets_cut, n_band_rows_cut) row per micro-batch —
    zeros when nothing was cut."""
    return ingest.read_store(spark, state_root, "acct", _ACCT)


def n_state_versions(state_root: str) -> int:
    """How many micro-batches extended the band index — the
    multi-batch-exercised assertion hook (>= 2 means the incremental
    probe really ran against a pre-existing index)."""
    return ingest.n_versions(state_root, "bands")
