"""Hamming-distance-1 neighbor join — the wildcard (masked-key) index.

An operator the reference lacks and Spark has no native form for: find
every pair of bit-fingerprints (SimHash, pHash, feature bitmaps) that
differ in EXACTLY one bit, without an all-pairs scan. This generalizes
the FastSS deletion-neighborhood trick used for edit distance inside
``er_golden_record`` (queries/dedup.py) from string space to Hamming
space: instead of one-character deletions, each fingerprint emits one
key per bit position with that bit forced HIGH — ``(pos, fp | 1<<pos)``
— and two fingerprints differing exactly at ``pos`` collide on exactly
that one key, while fingerprints differing in two or more bits collide
on none. Candidate generation is therefore a single EQUI-join on the
key, never a cross product or bit_count theta join.

Why set-the-bit rather than mask-it-out: identical semantics (clearing
gives ``(pos, fp & ~(1<<pos))`` — the same collision rule), but OR
avoids 64-bit NOT-mask literals and keeps the key derivable with one
JVM-side bitwise op in both engines (the DuckDB oracle replays the
identical index).

Scale properties (the reason this survives 100 TB):
  * Index size is |V|·bits rows, linear in the distinct-fingerprint
    vocabulary (distinct-reduce-first rule: dedupe fingerprints before
    indexing, join per-fp payload/counts back after).
  * The join is SKEW-PROOF BY CONSTRUCTION: a key ``(pos, k)`` can only
    be produced by the two fingerprints ``k`` and ``k ^ (1<<pos)`` —
    every hash bucket holds at most 2 rows, so no hot key exists for
    any input distribution, and each distance-1 pair is emitted exactly
    once (no distinct pass needed).
  * For distance k > 1 the same pigeonhole generalizes by banding
    (split bits into k+1 blocks; near pairs match exactly on >= 1
    block) — implemented below as ``hamming_k_neighbor_join``, with
    exactly-once emission restored by the minimal-matching-block rule
    (a pair is emitted only from its FIRST equal block, a pure bitwise
    post-filter on the xor — no distinct pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hamming1_neighbor_join(
    fps: DataFrame, fp_col: str, bits: int
) -> DataFrame:
    """All unordered pairs of distinct fingerprint VALUES in ``fps``
    at Hamming distance exactly 1, as ``(fp_a, fp_b, pos)`` with
    ``fp_a < fp_b`` and ``pos`` the single differing bit position.

    ``fps`` may contain duplicate fingerprints (rows are
    distinct-reduced internally); callers carrying per-fingerprint
    payloads or multiplicities join them back on ``fp_a``/``fp_b``.
    ``bits`` is the fingerprint width (1..64; position 63 uses the
    sign bit of the long, which is still a plain bitwise op).

    Each output pair is produced exactly once — by the one key whose
    position is the differing bit — so the result needs no dedup, and
    every key bucket holds at most two fingerprints (see module
    docstring), so the equi-join cannot skew.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    fp = F.col(fp_col).cast("long")
    distinct_fp = fps.select(fp.alias("fp")).distinct()
    # one (pos, key) per bit, built JVM-side from literal shifts
    # (shiftleft on a long handles pos 63 without a Python-int overflow)
    keys = distinct_fp.select(
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("pos"),
                        F.col("fp")
                        .bitwiseOR(F.shiftleft(F.lit(1).cast("long"), i))
                        .alias("k"),
                    )
                    for i in range(bits)
                ]
            )
        ).alias("pk"),
    ).select("fp", F.col("pk.pos").alias("pos"), F.col("pk.k").alias("k"))
    # PIN a sort-merge join: both sides are the SAME |V|*bits exploded
    # frame, so broadcast is never the right strategy — and Catalyst
    # would pick it anyway at scale, because explode propagates its
    # child's size estimate (the 64x row fan-out is invisible to the
    # optimizer), then OOMs building the broadcast relation. Measured:
    # 1M distinct 64-bit fingerprints = a 64M-row index per side ->
    # "Not enough memory to build and broadcast" without the hint
    # (SCALING.md, round 9); with it, a plain two-sided shuffle whose
    # <= 2-row buckets cannot skew.
    a = keys.alias("a").hint("merge")
    b = keys.alias("b")
    return a.join(
        b,
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.k") == F.col("b.k"))
        & (F.col("a.fp") < F.col("b.fp")),
    ).select(
        F.col("a.fp").alias("fp_a"),
        F.col("b.fp").alias("fp_b"),
        F.col("a.pos").alias("pos"),
    )


def _block_layout(bits: int, k: int) -> list[tuple[int, int]]:
    """(offset, width) for each of the k+1 contiguous bit blocks; the
    remainder bits go to the LOW blocks so widths differ by at most 1."""
    nblocks = k + 1
    base, rem = divmod(bits, nblocks)
    layout, off = [], 0
    for i in range(nblocks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def band_keys(df: DataFrame, fp_col: str, bits: int, k: int) -> DataFrame:
    """All of ``df``'s columns plus ``(blk, kv)`` — one row per
    pigeonhole block of the ``_block_layout(bits, k)`` split. THE single
    definition of the banded key derivation: the batch operator below,
    the streaming prober (streaming/simhash_ingest.py), and the scale
    measurements (SCALING.md, round 10) all key through here, so the
    fingerprint bucketing cannot drift between deployment modes."""
    fp = F.col(fp_col).cast("long")
    keyed = df.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(fp, off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("kv"),
                    )
                    for i, (off, w) in enumerate(_block_layout(bits, k))
                ]
            )
        ).alias("_bk"),
    )
    return keyed.select(
        "*", F.col("_bk.blk").alias("blk"), F.col("_bk.kv").alias("kv")
    ).drop("_bk")


def first_equal_block(xor_col: F.Column, bits: int, k: int) -> F.Column:
    """Index of the FIRST block (per ``_block_layout(bits, k)``) whose
    bits are all zero in ``xor_col`` — THE exactly-once emission rule
    for banded candidates: a pair within distance k matches >= 1 block
    (pigeonhole) and is kept only where the join block equals this
    minimal one. Shared by the batch operator below and the streaming
    prober (streaming/simhash_ingest.py) so the two deployment modes
    cannot dedup differently. Only valid when every equal block is
    present in the index (the uncapped case — see ``max_bucket``)."""
    first_eq = None
    for i, (off, w) in enumerate(_block_layout(bits, k)):
        cond = (
            F.shiftright(xor_col, off).bitwiseAND(F.lit((1 << w) - 1)) == 0
        )
        first_eq = (
            F.when(cond, F.lit(i)) if first_eq is None
            else first_eq.when(cond, F.lit(i))
        )
    return first_eq


def hamming_k_neighbor_join(
    fps: DataFrame, fp_col: str, bits: int, k: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """All unordered pairs of distinct fingerprint VALUES in ``fps`` at
    Hamming distance 1..k, as ``(fp_a, fp_b, dist)`` with
    ``fp_a < fp_b`` — the banded (pigeonhole) generalization of
    ``hamming1_neighbor_join``.

    Split the ``bits`` positions into k+1 contiguous blocks: two
    fingerprints within distance k differ in at most k blocks, so they
    MATCH EXACTLY on at least one block (pigeonhole) — candidate
    generation is an equi-join on ``(block_idx, block_bits)``, never a
    cross product or a bit_count theta join. A pair can match several
    blocks; it is emitted exactly once by keeping only the join row
    whose block index is the pair's FIRST equal block — a pure bitwise
    condition on ``xor(fp_a, fp_b)``, so no distinct pass and no
    post-aggregation is needed.

    Scale properties:
      * Index size is |V|·(k+1) rows over the DISTINCT-fingerprint
        vocabulary (distinct-reduce-first; per-record payloads join
        back on fp_a/fp_b).
      * Bucket sizes are NOT bounded by construction (unlike the
        distance-1 wildcard index, where every bucket holds <= 2 rows):
        a block bucket holds every fingerprint sharing those block
        bits, ~|V|/2^w expected under a uniform fingerprint model
        (w = 64/(k+1) >= 16 for the 64-bit SimHash deployments, i.e.
        vanishing), but real corpora can concentrate mass on a common
        block value (e.g. the all-zeros block of boilerplate-heavy
        shards). That is the same failure mode as a hot MinHash band,
        and ``max_bucket`` applies the posting-list cutoff discipline
        (queries/dedup.py ``_ngram_posting_lists``): buckets larger
        than the cap are dropped from candidate generation entirely —
        a deterministic, oracle-replayable recall cutoff (a pair whose
        EVERY equal block is over-cap is not emitted; candidate volume
        is bounded by n_buckets * max_bucket^2 / 2 regardless of input
        skew). The bucket census rides the join's own (blk, kv)
        partitioning (a window count, no extra shuffle), and
        exactly-once emission in the capped path comes from a distinct
        over the VERIFIED pairs (output-sized, cheap) — the bitwise
        first-equal-block rule is only correct when no equal block can
        be missing from the index. The verification term (bit_count on
        the xor) is O(1) per candidate.
      * The merge-join pin below is the Catalyst explode-fan-out rule
        from ``hamming1_neighbor_join`` (NOTES.md rule 7): the optimizer
        cannot see the (k+1)x fan-out, would broadcast the exploded
        index, and OOMs at vocabulary scale.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    if not 1 <= k < bits:
        raise ValueError(f"k must be in 1..bits-1, got {k}")
    # arithmetic shift + mask == logical shift + mask for every
    # (off, w) with off + w <= 64 — the mask keeps only the block's own
    # bits, so the sign extension of a shifted bit-63 fp never leaks in
    # (and DuckDB oracles replay the same shift+mask); the rule lives
    # in band_keys / first_equal_block.
    fp = F.col(fp_col).cast("long")
    distinct_fp = fps.select(fp.alias("fp")).distinct()
    keys = band_keys(distinct_fp, "fp", bits, k)
    if max_bucket is not None:
        if max_bucket < 1:
            raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
        from pyspark.sql import Window

        # census on the join's own key: the window's hash(blk, kv)
        # exchange is the same partitioning the merge self-join needs,
        # so the cap costs no additional shuffle of the index
        bsz = F.count(F.lit(1)).over(Window.partitionBy("blk", "kv"))
        keys = (
            keys.withColumn("_bsz", bsz)
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
        a = keys.alias("a").hint("merge")
        b = keys.alias("b")
        capped = a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.kv") == F.col("b.kv"))
            & (F.col("a.fp") < F.col("b.fp")),
        ).select(
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
            F.bit_count(
                F.col("a.fp").bitwiseXOR(F.col("b.fp"))
            ).alias("dist"),
        )
        # exactly-once via distinct over the VERIFIED pairs: with
        # over-cap buckets absent from the index, a pair's first equal
        # block may be one of the missing ones, so the bitwise
        # first-equal-block rule would silently drop pairs that still
        # have a surviving equal block; distinct on the (output-sized)
        # verified set keeps them.
        return capped.where(F.col("dist") <= k).distinct()
    a = keys.alias("a").hint("merge")
    b = keys.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.kv") == F.col("b.kv"))
        & (F.col("a.fp") < F.col("b.fp")),
    ).select(
        F.col("a.fp").alias("fp_a"),
        F.col("b.fp").alias("fp_b"),
        F.col("a.blk").alias("blk"),
        F.col("a.fp").bitwiseXOR(F.col("b.fp")).alias("x"),
    )
    # first equal block of the pair: the minimal i with zero diff bits
    # in block i — emitted-block must equal it (exactly-once rule)
    return (
        cand.withColumn("dist", F.bit_count(F.col("x")))
        .where(
            (F.col("dist") <= k)
            & (F.col("blk") == first_equal_block(F.col("x"), bits, k))
        )
        .select("fp_a", "fp_b", "dist")
    )
