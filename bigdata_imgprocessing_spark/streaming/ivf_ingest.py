"""Streaming IVF assignment-at-ingest: the index-freshness loop every
large-scale ANN deployment needs. A codebook is PINNED before the drain
(`operators/similarity.py:label_centroids` — the same label-seeded 3dp
quantizer `ann_ivf_learned` searches with); embedded documents then
arrive in waves, and each micro-batch assigns its arrivals to their
nearest centroid, lands the per-batch cell postings (the incremental
IVF index extension), the per-batch cell occupancy (k rows), and ONE
per-wave stats row measuring how the arriving distribution drifts away
from the index layout:

- ``n_foreign``: arrivals whose assigned cell differs from their own
  ``label`` — drift vs the label-partitioned layout the batch
  ``ann_ivf_topk`` probe assumes (queries/similarity.py);
- ``occ_drift_e6``: L1 distance between the batch's cell-occupancy
  shares and the ACCUMULATED prior waves' shares, in exact integer
  arithmetic (``sum_c |nb·Np − np·Nb| · 1e6 DIV (Nb·Np)`` with
  DECIMAL(38,0) widening — at web scale nb·Np passes int64 once both
  sides exceed ~3M vectors, the ks_score_drift precedent). A rising
  value says the pinned codebook is going stale and a re-train is due;
- ``avg_dist_e6`` / ``max_dist``: assignment-distance drift (the mean
  as an exact integer floor-division over e6-grid distances — no float
  quotient; the max is a single rounded double, exact in both engines).

Per-batch cost is arrivals-sized: the codebook broadcast is k rows, the
assignment argmin is a map-side-combinable ``min(struct(dist, cell))``
groupBy on vec_id (no sorted window partition — a hot shard of arrivals
splits under AQE), the drift compare reads only the landed k-row
occupancy summaries of prior batches (never the postings), and the
stats row is built from three 1-row aggregates. The accumulated
postings store is never re-read by the loop at all: it is the index
a downstream probe reads with ``ingest.read_store``.

Stores: ``postings``, ``occ`` and ``stats``, under the layout and
replay rule of streaming/ingest.py.

Reference parity: the reference has no streaming engine — this extends
the ANN surface the same way streaming/paragraph_ingest.py extends the
paragraph-dedup surface (same module contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import label_centroids
from . import ingest

_CB_SCHEMA = "cell int, cv array<double>"
_OCC_SCHEMA = "cell int, n bigint"
_STATS_SCHEMA = (
    "wave bigint, n_vecs bigint, n_cells bigint, n_foreign bigint,"
    " max_cell_n bigint, avg_dist_e6 bigint, max_dist double,"
    " occ_drift_e6 bigint"
)


def write_codebook(emb: DataFrame, state_root: str) -> None:
    """Pin the quantizer for the whole drain: one (cell, cv) parquet
    under ``state_root/codebook`` from the SHARED label-seeded
    derivation (operators/similarity.py:label_centroids)."""
    label_centroids(emb).coalesce(1).write.mode("overwrite").parquet(
        f"{state_root}/codebook"
    )


def _assign(batch: DataFrame, cb: DataFrame, dim: int | None = None) -> DataFrame:
    """(vec_id, label, cell, dist) nearest-centroid assignment of an
    arrivals frame against the broadcast codebook: k-row broadcast
    cross, 6dp-rounded squared distance (the ann_ivf_learned contract),
    argmin as min(struct(dist, cell)) — ties to the LOWEST cell, the
    same (dist, cell) order the batch query's window uses, but
    map-side-combinable instead of sort-partitioned.

    When ``dim`` is known (the pinned codebook fixes it for the whole
    drain) the distance is an UNROLLED left-associative sum over array
    indices — bit-identical to the zip_with/aggregate fold (both are
    fold-left; measured 0 differing rows at 3.2M pairs) but whole-stage
    codegen'd instead of interpreted per element: 3.2x faster on the
    dominant per-batch stage (7.1 -> 2.2 s at 50k x 64 x 64). Built as
    ONE F.expr SQL string (the NOTES py4j construction rule — a Column
    loop would pay ~seconds of plan build per micro-batch)."""
    if dim is not None:
        terms = " + ".join(
            f"(CAST(embedding[{i}] AS DOUBLE) - cv[{i}])"
            f" * (CAST(embedding[{i}] AS DOUBLE) - cv[{i}])"
            for i in range(dim)
        )
        dist = F.expr(f"round({terms}, 6)")
    else:
        from ..operators.similarity import sqdist

        dist = F.round(sqdist(F.col("embedding"), F.col("cv")), 6)
    return (
        batch.crossJoin(cb)
        .withColumn("dist", dist)
        .groupBy("vec_id", "label")
        .agg(F.min(F.struct("dist", "cell")).alias("a"))
        .select(
            "vec_id",
            "label",
            F.col("a.cell").alias("cell"),
            F.col("a.dist").alias("dist"),
        )
    )


def run_ivf_assign_ingest(
    stream_df: DataFrame, state_root: str, codebook_root: str | None = None
) -> None:
    """Drain a (vec_id, embedding, label) stream with availableNow
    against the pinned codebook at ``codebook_root/codebook`` (default
    ``state_root``; write it first — `write_codebook`), landing per
    batch: ``postings/b{bid}`` (cell, vec_id, dist), ``occ/b{bid}``
    (cell, n — k rows), and one ``stats/b{bid}`` row."""
    cb_root = codebook_root or state_root
    # the pinned codebook fixes the dimensionality for the whole drain:
    # read it ONCE (k rows, driver-side bounded) so every batch gets the
    # codegen'd unrolled distance instead of the interpreted HOF
    _cb_head = (
        stream_df.sparkSession.read.schema(_CB_SCHEMA)
        .parquet(f"{cb_root}/codebook")
        .select(F.size("cv").alias("d"))
        .first()
    )
    dim = _cb_head.d if _cb_head is not None else None

    def step(batch: DataFrame, state: ingest.BatchState) -> None:
        # no isEmpty() guard: one Spark job per batch saved; an empty
        # batch overwrites its subdirs with empty frames, harmless
        # explicit schema: fixed layout, skip per-batch footer inference
        cb = F.broadcast(
            state.spark.read.schema(_CB_SCHEMA).parquet(f"{cb_root}/codebook")
        )
        a = _assign(batch, cb, dim=dim).coalesce(4).cache()
        # deliberately UNCACHED (r15): occ has three consumers (its
        # write, the drift join, the max-cell aggregate), but caching it
        # forced the occ write to run synchronously as the cache barrier
        # — a whole serialized job wave per micro-batch. Uncached, each
        # consumer re-derives the k-row groupBy from the WARM arrivals
        # cache (map-side-combinable, arrivals-sized), and the occ write
        # overlaps the stats write on driver threads: per-batch wall is
        # postings + max(occ, stats), not the sum of three jobs
        # (adjacent-window mins 11.6 -> 7.6 s for the 4-wave drain at
        # sf0.1 on a noisy host; the saved wave is one serialized job
        # per micro-batch).
        occ = a.groupBy("cell").agg(
            F.count("*").cast("bigint").alias("n")
        ).coalesce(1)
        # prior occupancy: k rows PER PRIOR BATCH read back, summed to
        # k rows — the drift compare never touches the postings store
        p = state.prior("occ", _OCC_SCHEMA).groupBy("cell").agg(
            F.sum("n").alias("np")
        )
        go = (
            occ.select("cell", F.col("n").alias("nb"))
            .join(p, "cell", "full_outer")
            .select(
                # gap-fill BOTH sides (the contingency-grid rule): a
                # cell present only in prior waves still carries |0·Np
                # − np·Nb| drift mass
                F.coalesce("nb", F.lit(0)).alias("nb"),
                F.coalesce("np", F.lit(0)).alias("np"),
            )
        )
        tot = go.agg(
            F.sum("nb").cast("bigint").alias("n_b"),
            F.sum("np").cast("bigint").alias("n_p"),
        )
        dr = (
            go.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(
                    F.abs(
                        F.col("nb").cast("decimal(38,0)") * F.col("n_p")
                        - F.col("np").cast("decimal(38,0)") * F.col("n_b")
                    )
                ).alias("numer"),
                F.max("n_b").alias("n_b"),
                F.max("n_p").alias("n_p"),
            )
        )
        st = a.agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.count_distinct("cell").cast("bigint").alias("n_cells"),
            F.sum((F.col("cell") != F.col("label")).cast("long"))
            .cast("bigint")
            .alias("n_foreign"),
            F.sum(F.round(F.col("dist") * 1e6).cast("bigint")).alias("sum_e6"),
            F.max("dist").alias("max_dist"),
        )
        mx = occ.agg(F.max("n").cast("bigint").alias("max_cell_n"))
        stats = (
            st.crossJoin(mx)
            .crossJoin(dr)
            .select(
                F.lit(state.bid).cast("bigint").alias("wave"),
                "n_vecs",
                "n_cells",
                "n_foreign",
                "max_cell_n",
                F.expr(
                    "CASE WHEN n_vecs > 0 THEN sum_e6 DIV n_vecs END"
                ).alias("avg_dist_e6"),
                "max_dist",
                F.expr(
                    "CASE WHEN n_b > 0 AND n_p > 0 THEN"
                    " CAST(numer * 1000000"
                    " DIV (CAST(n_b AS DECIMAL(38,0)) * n_p) AS BIGINT)"
                    " END"
                ).alias("occ_drift_e6"),
            )
        )
        # the postings write is the cache barrier for `a`. Crash
        # asymmetry (ADVICE r15): a terminally-failed drain can leave
        # stats/b{bid} without occ/b{bid} (or vice versa) — no reader
        # pairs the two stores (read_stats reads only stats; the drift
        # compare reads only strictly-earlier occ).
        state.land(
            {"postings": a.select("cell", "vec_id", "dist")},
            {"occ": occ, "stats": stats},
        )
        a.unpersist()

    ingest.drain(stream_df, state_root, step)


def read_stats(spark: SparkSession, state_root: str) -> DataFrame:
    """One stats row per drained micro-batch."""
    return ingest.read_store(spark, state_root, "stats", _STATS_SCHEMA)


def n_store_versions(state_root: str) -> int:
    """How many micro-batches extended the postings store — the
    multi-batch-exercised assertion hook."""
    return ingest.n_versions(state_root, "postings")
