#!/usr/bin/env python
"""Round-14 scale stress: paragraph-level dedup at corpus scale, and
the census-cost measurement that decides the capped-stream DELTA-store
question (NOTES r13 item 11).

Parts:

A. `paragraph_dedup_stats` at 1M and 10M heavy docs through its REAL
   code path (staged documents.parquet). The heavy corpus's syndicated
   cohort shares a 30-token prefix, so its first three 8-word units are
   corpus-wide hot paragraphs — exactly the web-boilerplate skew the
   query's groupBy-min + equi-join formulation claims to survive (AQE
   skew-join split applies to the mark-back join; a window row_number
   formulation would single-task each hot paragraph). Confirms wall
   linearity and that dup_frac picks up the planted cohort.

B. The capped streaming drain's CENSUS share (the delta-store
   decision): per batch, capped `run_lsh_ingest` computes bucket
   depths by semi-joining the accumulated band index with the batch's
   touched keys — rows the probe join reads anyway, but read TWICE. A
   per-bucket running-count DELTA store would replace that second read
   with a counts-store lookup (1 row per live bucket). Rather than
   build the machinery speculatively, measure the census's standalone
   cost against the landed state of a real hot drain and against the
   simulated delta read: if the census share of the drain wall is
   small, the delta store is not worth its write amplification and the
   negative result goes to NOTES.

Corpus: the deterministic generator from tools_scale_r12 (1% planted
near-dup pairs; heavy mode adds the 2% shared-30-token-prefix
syndicated cohort).

Usage: python tools_scale_r14.py [A|B ...]   (default: all)
Writes per-case lines; summarize into SCALING.md.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.core.session import build_session
from tools_scale_r13 import _stage_docs, _stage_feed


def part_a(spark, ns=(1_000_000, 10_000_000)):
    """paragraph_dedup_stats wall + dup mass at 1M/10M heavy docs."""
    from bigdata_imgprocessing_spark.queries import QUERIES

    for n in ns:
        root = f"/tmp/scale14_docs_{n}"
        _stage_docs(spark, n, root)
        t0 = time.time()
        rows = QUERIES["paragraph_dedup_stats"](spark, root).collect()
        dt = time.time() - t0
        tot_chunks = sum(r.n_chunks for r in rows)
        tot_dup = sum(r.n_dup_chunks for r in rows)
        print(
            f"A paragraph_dedup n={n}: wall={dt:.1f}s chunks={tot_chunks} "
            f"dup_chunks={tot_dup} "
            f"frac={tot_dup / tot_chunks:.4f} langs={len(rows)}",
            flush=True,
        )
        spark.catalog.clearCache()
        shutil.rmtree(root, ignore_errors=True)


def part_b(spark, n: int = 500_000, cap: int = 64):
    """Census share of the capped drain vs a simulated delta store."""
    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_final_pairs,
        run_lsh_ingest,
    )

    feed = _stage_feed(spark, n, f"/tmp/scale14_feed_{n}")
    state = f"/tmp/scale14_state_{n}"
    shutil.rmtree(state, ignore_errors=True)
    s = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    t0 = time.time()
    run_lsh_ingest(s, state, max_bucket=cap)
    drain_wall = time.time() - t0
    n_pairs = read_final_pairs(spark, state).count()
    print(
        f"B capped drain n={n} cap={cap}: wall={drain_wall:.1f}s "
        f"pairs={n_pairs}",
        flush=True,
    )

    # Replay JUST the census of each post-first batch against the
    # landed state: accumulated index (strictly earlier b*) ∪ batch,
    # semi-joined by the batch's touched keys, grouped to counts —
    # byte-for-byte the drain's census plan.
    # Numeric b<N> order (ADVICE r14): lexicographic sorts b10 < b2,
    # which would leak LATER batches into `prior` on drains with >=10
    # batches — matching streaming/ingest.batch_dirs.
    bdirs = sorted(
        glob.glob(f"{state}/bands/b*"),
        key=lambda d: int(d.rsplit("/b", 1)[1]),
    )
    census_wall = 0.0
    for i in range(1, len(bdirs)):
        prior = bdirs[:i]
        batch = (
            spark.read.schema("doc_id bigint, band int, bkey string")
            .parquet(bdirs[i])
        )
        allb = (
            spark.read.schema("doc_id bigint, band int, bkey string")
            .parquet(*prior)
            .union(batch)
        )
        t0 = time.time()
        c = (
            allb.join(
                batch.select("band", "bkey").distinct(),
                ["band", "bkey"],
                "semi",
            )
            .groupBy("band", "bkey")
            .agg(F.count("*").alias("k"))
        )
        k = c.count()
        census_wall += time.time() - t0
        print(f"B   census replay b{i}: buckets={k}", flush=True)

    # Delta-store simulation: a (band, bkey, k) running-count table
    # maintained per batch — the census becomes a read of that table
    # filtered to touched keys plus the batch's own counts.
    delta_dir = f"/tmp/scale14_delta_{n}"
    shutil.rmtree(delta_dir, ignore_errors=True)
    delta_wall = 0.0
    for i, bd in enumerate(bdirs):
        batch = (
            spark.read.schema("doc_id bigint, band int, bkey string")
            .parquet(bd)
        )
        t0 = time.time()
        bc = batch.groupBy("band", "bkey").agg(F.count("*").alias("k"))
        if i > 0:
            prev = spark.read.schema("band int, bkey string, k bigint").parquet(
                f"{delta_dir}/v{i - 1}"
            )
            # census read: prior counts for touched keys + batch counts
            touched = (
                prev.join(
                    bc.select("band", "bkey"), ["band", "bkey"], "semi"
                )
                .union(bc.select("band", "bkey", "k"))
                .groupBy("band", "bkey")
                .agg(F.sum("k").alias("k"))
            )
            touched.count()
            merged = (
                prev.union(bc.select("band", "bkey", "k"))
                .groupBy("band", "bkey")
                .agg(F.sum("k").alias("k"))
            )
        else:
            merged = bc
        merged.write.mode("overwrite").parquet(f"{delta_dir}/v{i}")
        delta_wall += time.time() - t0
    print(
        f"B n={n}: drain={drain_wall:.1f}s census_replay={census_wall:.1f}s "
        f"({100 * census_wall / drain_wall:.0f}% of drain) "
        f"delta_sim={delta_wall:.1f}s (includes maintaining the counts "
        f"store; census-only reads are the touched.count() jobs)",
        flush=True,
    )
    for p in (feed, state, delta_dir):
        shutil.rmtree(p, ignore_errors=True)


def part_c(spark, ns=(500_000, 1_000_000)):
    """Streaming paragraph ingest drain wall at scale: the heavy
    corpus's syndicated cohort makes the leading units corpus-wide hot,
    so the per-batch distinct-vs-store join carries real dup mass."""
    from bigdata_imgprocessing_spark.streaming.paragraph_ingest import (
        read_stats,
        run_paragraph_ingest,
    )

    for n in ns:
        feed = _stage_feed(spark, n, f"/tmp/scale14c_feed_{n}")
        state = f"/tmp/scale14c_state_{n}"
        shutil.rmtree(state, ignore_errors=True)
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        t0 = time.time()
        run_paragraph_ingest(s, state)
        dt = time.time() - t0
        rows = read_stats(spark, state).collect()
        tot_u = sum(r.n_units for r in rows)
        tot_d = sum(r.n_dup_units for r in rows)
        print(
            f"C paragraph ingest n={n}: drain_wall={dt:.1f}s "
            f"units={tot_u} dup_units={tot_d} "
            f"frac={tot_d / tot_u:.4f} waves={len(rows)}",
            flush=True,
        )
        for p in (feed, state):
            shutil.rmtree(p, ignore_errors=True)
        spark.catalog.clearCache()


def main():
    parts = [p.upper() for p in sys.argv[1:]] or ["A", "B", "C"]
    spark = build_session("scale-r14")
    spark.sparkContext.setLogLevel("ERROR")
    if "A" in parts:
        part_a(spark)
    if "B" in parts:
        part_b(spark)
    if "C" in parts:
        part_c(spark)
    spark.stop()


if __name__ == "__main__":
    main()
