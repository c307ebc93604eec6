"""Dedup/LSH scale-stress corpus builder (VERDICT r2, next-round #6).

The claim under test: "LSH buckets stay small as the corpus grows"
(queries/dedup.py module docstring) — argued from the band-key space in
r2, MEASURED here. ``build_scaled_documents`` grows the documents table
by ``factor`` with *dissimilar* replicas (every token suffixed with the
replica id → disjoint shingle sets, so the scaled corpus mirrors the
base corpus' bucket statistics instead of degenerating into clone
buckets) and PLANTS known near-duplicate pairs (every ``mutate_every``-th
token of selected docs edited → exact 3-gram Jaccard ≈ 0.75-0.9, above
the 0.5 verify threshold), giving the LSH pipeline a non-empty,
ground-truthed answer to find.

Everything runs distributed (crossJoin against a tiny replica dim,
per-row HOF token edits); the driver only writes parquet. The scale
measurements this builder fed are recorded in SCALING.md;
tests/test_operators.py pins the planted-pair recall/precision on a
small build.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..core.catalog import table


def _suffix_tokens(text, rep):
    """Rewrite every token with a replica suffix — disjoint shingles vs
    the base doc (and vs every other replica), same length statistics."""
    return F.array_join(
        F.transform(F.split(text, " "), lambda t: F.concat(t, F.lit("_r"), rep)),
        " ",
    )


def _mutate_tokens(text, every: int):
    """Edit every ``every``-th token: each edit changes <=3 word-3gram
    shingles, so a doc with n tokens keeps Jaccard ~ (1-f)/(1+f) with
    f ~ 3/every — well above the 0.5 verify gate for every >= 20."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    return F.array_join(
        F.zip_with(
            toks,
            idx,
            lambda t, i: F.when((i % every) == (every - 1), F.concat(t, F.lit("_m"))).otherwise(t),
        ),
        " ",
    )


def build_scaled_documents(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    factor: int = 10,
    plant_every: int = 10,
    mutate_every: int = 25,
    exclude_ids: set[int] | None = None,
) -> list[tuple[int, int]]:
    """Write ``out_dir/documents.parquet`` at ``factor``× the base corpus
    plus planted near-dups; return the planted (doc_a, doc_b) id pairs.

    Id scheme: base doc d → replicas ``d*(factor+1)+r`` (r=0 keeps the
    original text), planted near-dup of the original → ``d*(factor+1)+factor``.

    ``exclude_ids`` drops base docs before scaling — used by the planted-
    pair test to remove the corpus' NATURAL near-dups first, so planted
    pairs are the only ground truth (suffixing preserves similarity
    structure, so natural near-dups would otherwise replicate into every
    band of the scaled corpus)."""
    docs = table(spark, sf_dir, "documents")
    if exclude_ids:
        docs = docs.where(~F.col("doc_id").isin(*sorted(exclude_ids)))
    stride = factor + 1
    reps = spark.range(factor).select(F.col("id").cast("int").alias("rep"))
    scaled = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") * stride + F.col("rep")).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(_suffix_tokens(F.col("text"), F.col("rep")))
        .alias("text"),
        "lang",
        "source",
    )
    planted = docs.where(F.col("doc_id") % plant_every == 0).select(
        (F.col("doc_id") * stride + F.lit(factor)).alias("doc_id"),
        _mutate_tokens(F.col("text"), mutate_every).alias("text"),
        "lang",
        "source",
    )
    out = scaled.unionByName(planted).withColumn("n_chars", F.length("text"))
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    pair_ids = [
        (int(r.doc_id) * stride, int(r.doc_id) * stride + factor)
        for r in docs.where(F.col("doc_id") % plant_every == 0)
        .select("doc_id")
        .collect()
    ]
    return sorted(pair_ids)
