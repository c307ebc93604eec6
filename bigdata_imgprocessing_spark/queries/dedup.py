"""Deduplication operators over ``documents`` — the core training-data
pipeline surface (exact, MinHash+LSH, n-gram Jaccard, SimHash).

Everything runs as built-in JVM expressions so Catalyst sees the whole
plan: shingling via array HOFs, hashing via md5 (identically computable
in the DuckDB oracle: hex-prefix → integer), band-bucketing + self-join
for LSH candidates. The shingle, hash, band, probe, verification and
fingerprint rules themselves live in operators/neardup.py, shared with
the streaming ingests.

Scale notes: exact dedup is groupBy(fingerprint) with map-side combine;
minhash signatures are one pass (explode-free: aggregate over the
shingle array per row); LSH candidates self-join on (band, key) — the
join key space grows with corpus size so buckets stay small; the
verify stage joins only candidate pairs, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import fs
from ..core.catalog import table
from ..core.registry import prestaged, query
from ..core.session import cached, local_frame
from ..functions.helpers import duck_h40, h40, ordered_pairs
from ..operators.components import DUCK_CLOSURE, DUCK_SYM_EDGES
from ..operators.neardup import (
    DUCK_BANDS_CTES,
    DUCK_PAIRS_CTES,
    DUCK_SHINGLES,
    DUCK_SIMHASH64_CTES,
    N_HASHES,
    SHINGLE_SET,
    band_frame,
    candidate_pairs,
    duck_jaccard,
    duck_para_chunks,
    exact_jaccard,
    minhash_signatures,
    para_units_sql,
    shingle_sets,
    shingles,
    simhash64_frame,
)


@query(
    "dedup_exact",
    oracle="""
    SELECT lang, count(*) AS n_survivors
    FROM (
        SELECT min_by(lang, doc_id) AS lang
        FROM documents
        GROUP BY md5(lower(trim(text)))
    )
    GROUP BY lang
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a normalized fingerprint keeping the
    lowest doc_id per group (deterministic survivor), counted per lang.
    One shuffle with map-side partial min_by."""
    d = table(spark, sf_dir, "documents")
    survivors = (
        d.select(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"), "doc_id", "lang")
        .groupBy("fp")
        .agg(F.min_by("lang", "doc_id").alias("lang"))
    )
    return survivors.groupBy("lang").agg(F.count("*").alias("n_survivors"))


@query(
    "minhash_band_stats",
    oracle=f"""
    WITH {DUCK_BANDS_CTES},
    buckets AS (SELECT band, bkey, count(*) AS k FROM bands GROUP BY band, bkey)
    SELECT band, count(*) AS n_buckets, max(k) AS max_bucket,
           CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_candidate_pairs
    FROM buckets GROUP BY band
    """,
)
def minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding statistics (16 hashes, 8 bands x 2 rows):
    per-band bucket count, largest bucket, and intra-bucket candidate
    pair count — the cost model of the LSH join."""
    d = table(spark, sf_dir, "documents")
    bands = band_frame(minhash_signatures(d))
    buckets = bands.groupBy("band", "bkey").agg(F.count("*").alias("k"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("k").alias("max_bucket"),
        F.sum((F.col("k") * (F.col("k") - 1) / 2).cast("bigint")).alias("n_candidate_pairs"),
    )


def _lsh_exact_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared UNTHRESHOLDED MinHash-LSH pipeline: signature →
    band-bucket self-join → exact inter/uni for every candidate pair.
    Returns ``(sig, exact)`` where ``sig`` is the cached signature
    frame (doc_id, mh0..mh15) and ``exact`` is (doc_a, doc_b, inter,
    uni). ``_lsh_verified_pairs`` applies the ≥ 0.5 Jaccard threshold
    on top; ``minhash_estimate_error`` audits the signature against the
    same exact counts — ONE pipeline definition serves both, so a
    band-key or prune change can never desynchronize the audit from
    the pipeline it audits."""
    from ..core.session import cache_parallelism

    d = table(spark, sf_dir, "documents")
    # cache(): bands derives from sig, and the estimate-error audit
    # joins sig twice more for hash-agreement counts
    sig = cached(minhash_signatures(d))
    # cache(): bands feeds BOTH sides of the candidate self-join (and
    # sig above is already cached, so the signature lineage runs once).
    bands = cached(band_frame(sig))
    cand = candidate_pairs(bands, bands, cache_parallelism(spark))
    exact, _ = exact_jaccard(cand, d, cache_parallelism(spark), SHINGLE_SET)
    return sig, exact


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: the shared pipeline's exact counts
    thresholded at Jaccard ≥ 0.5; returns (doc_a, doc_b, jaccard).
    ``minhash_lsh_pairs`` emits this FRESH pipeline directly (so its
    end-to-end cost stays benchmarked); every graph-stage consumer
    (closure/LPA/k-core/HyperBall/PageRank/triangles/split audits/
    pair-ROUGE) reads the materialized ``_lsh_pairs_store`` built from
    it instead."""
    _, exact = _lsh_exact_candidates(spark, sf_dir)
    return exact.where(F.col("inter") / F.col("uni") >= 0.5).select(
        "doc_a", "doc_b", F.round(F.col("inter") / F.col("uni"), 4).alias("jaccard")
    )


def _fingerprinted_store(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version: str,
    build,
    schema: str | None = None,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Shared corpus-fingerprinted /tmp store machinery (r12 review:
    this pattern existed as four inline copies, each independently
    responsible for the two safety rules). The rules, centralized:

    1. the path is ``core/fs.store_root``'s, whose token fingerprints
       every table of the corpus, so a regenerated corpus rebuilds
       instead of reading stale rows (the r4 advisor lesson);
    2. ``version`` is part of the store name and must be BUMPED whenever the derivation code
       changes — the fingerprint cannot see code, so a stale-version
       store on a long-lived machine would otherwise serve old rows
       while fresh-start CI passes.

    ``build()`` returns the frame to land, UNPARTITIONED; the helper
    sizes the landing width from the frame's actual row count —
    repartitioned in BOTH branches (round-robin without keys,
    hash-by-``keys`` with — the store write rule: keyed placement
    keeps probes bucket-local; coalesce cannot WIDEN past the build
    frame's partition count, so a narrow upstream would silently cap
    the landing below the volume-derived width).
    Width = rows / ~500k per file, floored at 4 so tiny test-scale
    stores still read with a few parallel tasks (the 1-file store
    lesson), capped at 4096 files. Sizing by COUNT instead of a fixed
    number matters in both directions: fixed 8 serializes the landing
    and every consumer scan at 100x corpus (VERDICT r12 item 1), and a
    fixed core-count width (32 on local[32]) was measured REGRESSING
    every repeat-reader at sf0.1 — the iterative graph consumers
    (k-core, HyperBall, PageRank) re-scan the store per round, paying
    32 tiny-file tasks each time (kcore 1.19 -> 2.49 s, hyperball
    2.25 -> 3.71 s isolated before this fix). The floor itself got the
    same treatment (VERDICT r13 item 1): floor 8 left every iterative
    consumer paying 8 tiny-file tasks per round at driver sf where 4
    suffices — volume still widens the landing at 1M+ docs (17 files
    at 1M, 161 at 10M per SCALING.md). The built frame is PERSISTED
    across the count+write pair (ADVICE r13): without it the sizing
    count executes the full build pipeline once and the write replays
    it from scratch — an expensive build like ``_lsh_verified_pairs``
    paid ~2x on every first landing. ``schema`` optionally pins the
    read schema (skips footer inference for fixed layouts)."""
    path = fs.store_root(spark, sf_dir, f"bdip_{name}_{version}")
    if not fs.landed(spark, path):
        df = build().persist()
        try:
            width = max(4, min(df.count() // 500_000 + 1, 4096))
            landed = (
                df.repartition(width, *keys) if keys else df.repartition(width)
            )
            landed.write.mode("overwrite").parquet(path)
        finally:
            df.unpersist()
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(path)


@prestaged("dedup_pairs_store")
def _lsh_pairs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair graph as a MATERIALIZED, corpus-
    fingerprinted parquet store — computed once per corpus version and
    shared by every graph-stage consumer (closure, LPA, k-core,
    HyperBall, PageRank, triangles, split audits, pair-ROUGE). This is
    the production shape: at 100 TB nobody re-derives the pair graph
    per analysis — the dedup pipeline lands it once and a fleet of
    graph/audit jobs read the table (same materialize-once rule as
    ``bucketed_table`` and the Z-order layout). The fingerprint is the
    source parquet's mtime+size, so a regenerated corpus rebuilds
    instead of reading stale pairs (the r4 advisor lesson), and the
    md5-derived pipeline is deterministic, so cached and fresh reads
    are row-identical (pinned by ``test_lsh_pairs_store_matches_fresh``).
    ``minhash_lsh_pairs`` itself stays on the FRESH pipeline so the
    end-to-end cost remains measured in the bench."""
    return _fingerprinted_store(
        spark, sf_dir, "pairs", "pairs-v5",
        lambda: _lsh_verified_pairs(spark, sf_dir),
    )


def _ngram_posting_lists(spark: SparkSession, sf_dir: str, cutoff: int = 50) -> DataFrame:
    """FRESH DF-pruned char-shingle inverted index: (s, ds) posting
    lists keyed by the 64-bit shingle hash, capped at ``cutoff`` docs
    per shingle. One shuffle; see ``ngram_jaccard_hist`` (which stays
    on this fresh path so the pipeline cost remains benchmarked) for
    the derivation rationale."""
    d = table(spark, sf_dir, "documents")
    sets = shingle_sets(d)
    # Shuffle 8-byte shingle hashes, not ~30-byte shingle strings (the
    # hash is injective on the observed vocabulary — collision odds
    # ~1e-7 at 1e6 shingles, and the corpus-wide collision test guards
    # the same hash family).
    ex = sets.select("doc_id", F.explode("ss").alias("s0")).select(
        "doc_id", F.xxhash64("s0").alias("s")
    )
    return (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= cutoff)
    )


@prestaged("ngram_postings_store")
def _ngram_postings_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned inverted index as a MATERIALIZED, corpus-fingerprinted
    parquet store — the pair-graph-store pattern (``_lsh_pairs_store``)
    applied to the n-gram family (VERDICT r8 item 4): at 100 TB the
    posting lists are landed once per corpus release and every
    similarity/containment/coverage audit reads the table instead of
    re-deriving the explode + groupBy pipeline. ``ngram_jaccard_hist``
    stays on the FRESH pipeline so its end-to-end cost stays measured;
    ``ngram_containment_hist`` reads this store. Fingerprint =
    source parquet mtime+size (stale-cache lesson); sort_array makes
    the stored lists deterministic, so cached and fresh reads are
    row-identical (``test_ngram_postings_store_matches_fresh``)."""
    # keys=("s",): repartition BY KEY, not coalesce — AQE coalesces the
    # tiny posting shuffle to 1 partition at test scale, and a 1-file
    # store single-threads every consumer's pair-explode stage
    # (profiled 1.6 s on one task vs ~0.2 s across 8). Hash placement
    # keeps the layout deterministic; the helper sizes the file COUNT
    # to the landed row volume.
    return _fingerprinted_store(
        spark, sf_dir, "postings", "postings-v4",
        lambda: _ngram_posting_lists(spark, sf_dir),
        keys=("s",),
    )


def _wordgram_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRESH word 5-gram occurrence list: (doc_id, pos, g) with g the
    64-bit hash of the space-joined gram — the shared extraction under
    ``dup_ngram_coverage`` (store consumer) and the decontamination
    scan (``decontam_ngram_overlap`` stays fresh — its split-filtered
    extraction keeps this pipeline's cost measured)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    return d.select(
        "doc_id",
        F.posexplode(
            # guard: sequence(0, n) DESCENDS for n < 0 — emit no grams
            # for <5-word docs instead of throwing on slice()
            F.expr(
                "CASE WHEN size(w) >= 5 THEN"
                " transform(sequence(0, size(w) - 5),"
                " i -> xxhash64(concat_ws(' ', slice(w, i + 1, 5))))"
                " ELSE array() END"
            )
        ).alias("pos", "g"),
    )


@prestaged("wordgram_store")
def _wordgram_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 5-gram occurrences materialized once per corpus version —
    same store pattern as ``_ngram_postings_store``; the gram key is
    hashed before landing, so consumers join/aggregate on fixed 8-byte
    keys and the raw 40-char grams never hit a shuffle."""
    # doc-keyed placement for the same read-parallelism reason as
    # _ngram_postings_store (consumers aggregate by doc)
    return _fingerprinted_store(
        spark, sf_dir, "wordgrams", "wordgrams-v4",
        lambda: _wordgram_occurrences(spark, sf_dir),
        keys=("doc_id",),
    )


@query(
    "minhash_lsh_pairs",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → band-bucket
    self-join for candidates → exact-Jaccard verification ≥ 0.5. The
    regenerated corpus DOES contain near-dups at every sf, so the
    verify path is value-checked on real pairs."""
    return _lsh_verified_pairs(spark, sf_dir)


@query(
    "ngram_jaccard_hist",
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    ex_all AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
    ok AS (SELECT s FROM ex_all GROUP BY s HAVING count(*) <= {{cutoff}}),
    ex AS (SELECT doc_id, ex_all.s FROM ex_all JOIN ok ON ex_all.s = ok.s),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
        SELECT inter, sa.sz + sb.sz - inter AS uni
        FROM pair_inter JOIN sizes sa ON sa.doc_id = doc_a
                        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT CAST(inter * 10 // uni AS INTEGER) AS jaccard_decile,
           count(*) AS n_pairs
    FROM j GROUP BY jaccard_decile
    """.replace("{cutoff}", "50"),
)
def ngram_jaccard_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard over candidate pairs from an inverted-index
    self-join, histogrammed by decile. Shingles occurring in more than 50
    documents are pruned FIRST (classic document-frequency cutoff,
    applied identically in the oracle): a stop-shingle appearing in k
    docs creates k² candidate pairs, which is the quadratic blowup that
    killed the unpruned version at sf0.1 (SCALING.md). Set sizes are
    post-prune, so Jaccard stays a true similarity on the pruned space.
    Integer arithmetic end-to-end → exact parity."""
    # ONE shuffle on the shingle: posting lists per shingle, DF-pruned
    # (derivation in _ngram_posting_lists — this query stays on the
    # FRESH pipeline so the index-build cost remains benchmarked).
    # Everything downstream (sizes, pair generation) derives from this
    # small grouped frame — a naive ex⋈ok + self-join re-executes the
    # shingle explode lineage 4x (DataFrame DAGs don't share subplans),
    # which benchmarked 27s vs ~8s for this shape at sf0.1.
    # ≤ |vocab| rows; reused by sizes AND pair generation
    groups = cached(_ngram_posting_lists(spark, sf_dir))
    sizes = groups.select(F.explode("ds").alias("doc_id")).groupBy("doc_id").agg(
        F.count("*").alias("sz")
    )
    # ordered pairs generated JVM-side from each posting list (≤ cutoff²/2
    # per shingle — the DF prune is exactly what bounds this)
    pair_arr = ordered_pairs(F.col("ds"), "doc_a", "doc_b")
    pair_inter = (
        groups.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        pair_inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("inter", (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).alias("uni"))
    )
    return (
        j.select(F.floor(F.col("inter") * 10 / F.col("uni")).cast("int").alias("jaccard_decile"))
        .groupBy("jaccard_decile")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# SimHash: 16-bit signs-of-weighted-bit-sums fingerprint. Near-dup docs
# differ in few bits (hamming); here we emit the per-doc fingerprint —
# exact integer parity — plus collision accounting.
# ---------------------------------------------------------------------------


def _simhash_bits_sql() -> str:
    terms = []
    for bit in range(16):
        terms.append(
            f"CASE WHEN list_sum(list_transform(toks, t -> "
            f"2 * (({duck_h40('t')} >> {bit}) & 1) - 1)) >= 0 "
            f"THEN {1 << bit} ELSE 0 END"
        )
    return " + ".join(terms)


def _simhash_frame(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): the 16-bit SimHash used by both the
    fingerprint-bucket query and the hamming-1 neighbor query — one
    derivation so the fingerprint space cannot drift between them."""
    # explode → hash once per token → 16 map-side-partial bit-vote sums
    # (same CollapseProject md5-reinlining rationale as minhash_signatures)
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    h = tok.select("doc_id", h40(F.col("t")).alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.shiftright(F.col("h"), b).bitwiseAND(1) - 1).alias(f"v{b}")
            for b in range(16)
        ]
    )
    simhash = None
    for bit in range(16):
        term = F.when(F.col(f"v{bit}") >= 0, F.lit(1 << bit)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


@query(
    "simhash_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, {_simhash_bits_sql()} AS simhash FROM t)
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
    FROM s GROUP BY simhash
    """,
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (token-hash bit votes), grouped into
    fingerprint buckets — hamming-adjacent buckets are the near-dup
    candidate space."""
    s = _simhash_frame(table(spark, sf_dir, "documents"))
    return s.groupBy("simhash").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


@query(
    "hamming1_neighbor_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, {_simhash_bits_sql()} AS simhash FROM t),
    fps AS (SELECT CAST(simhash AS BIGINT) AS fp,
                   CAST(count(*) AS BIGINT) AS n
            FROM s GROUP BY 1),
    keys AS (
        SELECT fp, n, CAST(t.i AS INTEGER) AS pos,
               fp | (CAST(1 AS BIGINT) << CAST(t.i AS INTEGER)) AS k
        FROM fps, UNNEST(range(16)) AS t(i)
    ),
    pairs AS (
        SELECT a.pos, a.n * b.n AS w
        FROM keys a JOIN keys b
          ON a.pos = b.pos AND a.k = b.k AND a.fp < b.fp
    )
    SELECT pos, CAST(count(*) AS BIGINT) AS n_fp_pairs,
           CAST(sum(w) AS BIGINT) AS n_doc_pairs
    FROM pairs GROUP BY pos
    """,
)
def hamming1_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash neighbor search via the standalone hamming-1 wildcard
    index (operators/hamming.py — the FastSS masked-key trick of
    ``er_golden_record`` generalized from edit space to Hamming space):
    every unordered pair of distinct 16-bit document fingerprints at
    Hamming distance EXACTLY 1, found by one equi-join on
    ``(pos, fp | 1<<pos)`` keys — never an all-pairs bit_count scan.
    Output: per differing-bit position, the distinct-fingerprint pair
    count and the document pair count (bucket-size products), so a
    pair missed, duplicated, or attributed to the wrong bit breaks the
    hash; the DuckDB oracle replays the identical index, so the
    exactly-once emission is pinned, not just the totals.

    Scale: |V|·16 index rows over the distinct-fingerprint vocabulary
    (distinct-reduce-first); every key bucket holds <= 2 fingerprints
    (a key (pos,k) is only producible by k and k ^ 1<<pos), so the
    join cannot skew under ANY fingerprint distribution; doc counts
    join back per-fingerprint, records never pair."""
    from ..operators.hamming import hamming1_neighbor_join

    s = _simhash_frame(table(spark, sf_dir, "documents"))
    fps = s.groupBy("simhash").agg(F.count("*").alias("n"))

    # cached: feeds the pair index AND both count join-backs — the
    # uncached form re-plans the full simhash derivation three times
    fps = cached(fps)
    pairs = hamming1_neighbor_join(fps, "simhash", bits=16)
    na = fps.select(F.col("simhash").cast("long").alias("fp_a"), F.col("n").alias("na"))
    nb = fps.select(F.col("simhash").cast("long").alias("fp_b"), F.col("n").alias("nb"))
    return (
        pairs.join(na, "fp_a")
        .join(nb, "fp_b")
        .groupBy("pos")
        .agg(
            F.count("*").alias("n_fp_pairs"),
            F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("n_doc_pairs"),
        )
    )


_DUCK_SIMHASH64_KEYS = f"""{DUCK_SIMHASH64_CTES},
    fps AS (SELECT fp, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
    keys AS (
        SELECT fp, n, CAST(t.i AS INTEGER) AS blk,
               (fp >> (16 * CAST(t.i AS INTEGER))) & 65535 AS kv
        FROM fps, UNNEST(range(4)) AS t(i)
    )"""

_DUCK_D0 = """d0 AS (
        SELECT 0 AS dist, CAST(count(*) AS BIGINT) AS n_fp_pairs,
               CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_doc_pairs
        FROM fps WHERE n > 1 HAVING count(*) > 0
    )"""


def _simhash64_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(simhash64, n): the corpus' distinct 64-bit fingerprints with
    their document counts. Cached: it feeds the banded index, both
    count join-backs and the dist-0 bucket scan."""
    s = simhash64_frame(table(spark, sf_dir, "documents"))
    fps = s.groupBy("simhash64").agg(F.count("*").alias("n"))
    return cached(fps)


def _simhash64_pair_counts(fps: DataFrame, pairs: DataFrame) -> DataFrame:
    """(dist, n_fp_pairs, n_doc_pairs) of the banded index's
    fingerprint ``pairs``, weighted by ``fps``' document counts, under
    a dist-0 row of the docs colliding on one fingerprint."""
    na = fps.select(
        F.col("simhash64").cast("long").alias("fp_a"), F.col("n").alias("na")
    )
    nb = fps.select(
        F.col("simhash64").cast("long").alias("fp_b"), F.col("n").alias("nb")
    )
    near = (
        pairs.join(na, "fp_a")
        .join(nb, "fp_b")
        .groupBy("dist")
        .agg(
            F.count("*").alias("n_fp_pairs"),
            F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("n_doc_pairs"),
        )
    )
    d0 = (
        fps.where(F.col("n") > 1)
        .agg(
            F.count("*").alias("n_fp_pairs"),
            # integer `div`, not float /: summed C(n,2) past 2^53 would
            # lose exactness in a double while the oracle's `//` stays
            # exact — the divergence would surface precisely at corpus
            # scale
            F.sum(F.expr("n * (n - 1) div 2"))
            .cast("bigint")
            .alias("n_doc_pairs"),
        )
        .where(F.col("n_fp_pairs") > 0)
        .select(F.lit(0).alias("dist"), "n_fp_pairs", "n_doc_pairs")
    )
    return d0.unionByName(near.select("dist", "n_fp_pairs", "n_doc_pairs"))


@query(
    "simhash64_neardup",
    oracle=f"""
    WITH {_DUCK_SIMHASH64_KEYS},
    cand AS (
        SELECT a.blk, xor(a.fp, b.fp) AS x, a.n * b.n AS w
        FROM keys a JOIN keys b
          ON a.blk = b.blk AND a.kv = b.kv AND a.fp < b.fp
    ),
    pairs AS (
        SELECT CAST(bit_count(x) AS INTEGER) AS dist, w
        FROM cand
        WHERE bit_count(x) <= 3
          AND blk = CASE WHEN (x >> 0)  & 65535 = 0 THEN 0
                         WHEN (x >> 16) & 65535 = 0 THEN 1
                         WHEN (x >> 32) & 65535 = 0 THEN 2
                         ELSE 3 END
    ),
    near AS (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_fp_pairs,
               CAST(sum(w) AS BIGINT) AS n_doc_pairs
        FROM pairs GROUP BY dist
    ),
    {_DUCK_D0}
    SELECT * FROM d0 UNION ALL SELECT * FROM near
    """,
)
def simhash64_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-duplicate detection at Hamming distance <= 3
    — the deployment-width consumer of the banded
    ``hamming_k_neighbor_join`` (operators/hamming.py): 4 pigeonhole
    blocks of 16 bits, candidates from one equi-join on
    ``(block, block_bits)``, exactly-once emission via the
    minimal-matching-block rule (no distinct pass), never a bit_count
    theta join. Per distance 0..3: distinct-fingerprint pair count and
    document pair count — the dist-0 row counts distinct documents
    COLLIDING on one fingerprint (bucket C(n,2) sums), i.e. what exact
    SimHash dedup would collapse, and rows 1..3 are what the banded
    index adds beyond it. The DuckDB oracle replays the identical
    banded index, so a pair missed, duplicated, or attributed to the
    wrong distance breaks the hash.

    Scale: |V|*4 index rows over the distinct-fingerprint vocabulary;
    expected bucket size |V|/2^16 under a uniform model (hot-block
    remedies in the operator docstring); merge join pinned because
    Catalyst cannot see the explode fan-out (NOTES.md rule 7)."""
    from ..operators.hamming import hamming_k_neighbor_join

    fps = _simhash64_fps(spark, sf_dir)
    pairs = hamming_k_neighbor_join(fps, "simhash64", bits=64, k=3)
    return _simhash64_pair_counts(fps, pairs)


@query(
    "simhash64_neardup_capped",
    oracle=f"""
    WITH {_DUCK_SIMHASH64_KEYS},
    surv AS (
        SELECT blk, kv FROM keys GROUP BY blk, kv HAVING count(*) <= 4
    ),
    skeys AS (SELECT k.* FROM keys k JOIN surv USING (blk, kv)),
    pairs AS (
        SELECT DISTINCT a.fp AS fa, b.fp AS fb,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS dist
        FROM skeys a JOIN skeys b
          ON a.blk = b.blk AND a.kv = b.kv AND a.fp < b.fp
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ),
    near AS (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_fp_pairs,
               CAST(sum(na.n * nb.n) AS BIGINT) AS n_doc_pairs
        FROM pairs
        JOIN fps na ON na.fp = fa
        JOIN fps nb ON nb.fp = fb
        GROUP BY dist
    ),
    {_DUCK_D0},
    cut AS (
        SELECT CAST(count(*) AS BIGINT) AS n_buckets_cut
        FROM (SELECT blk, kv FROM keys GROUP BY blk, kv
              HAVING count(*) > 4)
    )
    SELECT u.dist, u.n_fp_pairs, u.n_doc_pairs, cut.n_buckets_cut
    FROM (SELECT * FROM d0 UNION ALL SELECT * FROM near) u CROSS JOIN cut
    """,
)
def simhash64_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash64_neardup`` under the hot-block CUTOFF — the
    driver-checked consumer of ``hamming_k_neighbor_join``'s
    ``max_bucket`` option (round 11, VERDICT r10 item 4): banded
    buckets holding more than 4 distinct fingerprints are dropped from
    candidate generation, and ``n_buckets_cut`` carries the cutoff
    accounting on every row (~40 buckets at sf0.01 — the cap is
    deliberately BINDING at driver scale, so the cross-engine hash
    exercises the census, the survivor join, the capped path's
    distinct-based exactly-once rule, and the recall loss, not a
    no-op). The dist-0 exact-collision row comes from the fingerprint
    multiplicity scan, same as the parent — the cutoff only governs
    the banded near-pair index.

    Scale: the census rides the join's own (blk, kv) partitioning (a
    window count, no extra shuffle — plan-checked in the operator);
    the accounting aggregate re-bands the cached vocabulary once more
    (|V|*4 rows; a deployment would fold it into the census pass).
    Candidate volume is bounded by n_buckets * cap^2/2 whatever the
    skew — the 1M planted-skew run in SCALING.md measured 676.9 s
    uncapped vs 4.5 s capped."""
    from ..operators.hamming import band_keys, hamming_k_neighbor_join

    cap = 4
    fps = _simhash64_fps(spark, sf_dir)
    pairs = hamming_k_neighbor_join(
        fps, "simhash64", bits=64, k=3, max_bucket=cap
    )
    cut = (
        band_keys(
            fps.select(F.col("simhash64").cast("long").alias("fp")).distinct(),
            "fp", 64, 3,
        )
        .groupBy("blk", "kv")
        .count()
        .where(F.col("count") > cap)
        .agg(F.count("*").cast("bigint").alias("n_buckets_cut"))
    )
    return _simhash64_pair_counts(fps, pairs).crossJoin(F.broadcast(cut))


@query(
    "doc_chain_components",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang,
               doc_id - row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS grp
        FROM documents
    ),
    runs AS (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY lang, grp) AS comp,
               count(*) OVER (PARTITION BY lang, grp) AS sz
        FROM d
    )
    SELECT doc_id AS node, comp FROM runs WHERE sz >= 2
    """,
)
def doc_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of a near-dup candidate graph via the iterative
    ``connected_components`` operator (operators/components.py), the
    cluster-assignment stage that follows pair generation in a dedup
    pipeline (reference analog: the per-landmark grouping closure of
    pyspark_yolox.py:151-176 is one-hop; dedup needs multi-hop).

    The candidate graph here is deterministic so the result is
    value-checkable: an edge joins consecutive doc_ids sharing a lang,
    so true components are maximal same-lang runs and the oracle can
    compute them in closed form (gaps-and-islands window) while Spark
    runs genuine min-label propagation — the iterative plan is verified
    against an analytic oracle, not against itself."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    a, b = d.alias("a"), d.alias("b")
    edges = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.lang") == F.col("b.lang")),
    ).select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    from ..operators.components import connected_components

    return connected_components(edges).select("node", "comp")


@query(
    "dedup_keep_best",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               md5(lower(trim(text))) AS fp,
               CAST(round((1.0 - (0.5 * least(1.0, len(string_split(text, ' ')) / 50.0)
                     + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                              / len(string_split(text, ' '))))) * 1000000) AS BIGINT)
                   * 100000000 + doc_id AS ord
        FROM documents
    ),
    best AS (
        SELECT fp,
               count(*) AS group_size,
               min_by(doc_id, ord) AS survivor,
               min_by(lang,   ord) AS lang
        FROM scored GROUP BY fp
    )
    SELECT lang,
           count(*) AS n_survivors,
           CAST(sum(group_size - 1) AS BIGINT) AS n_dropped,
           min(survivor) AS min_survivor_id
    FROM best GROUP BY lang
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: within each duplicate group keep the
    HIGHEST-quality document (ties → lowest doc_id) instead of an
    arbitrary survivor — the curation policy real pipelines want, since
    near-identical crawls differ in boilerplate. One hash shuffle with
    map-side-combinable min_by aggregates; the ordering is packed into
    one integer key ((1-quality)*1e6, a 6dp-exact integer, scaled past
    the doc_id range) so both engines order identically."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    q = (
        0.5 * F.least(F.lit(1.0), F.size(toks) / 50.0)
        + 0.5 * (F.size(F.array_distinct(toks)) / F.size(toks))
    )
    ord_key = (
        F.round((1.0 - q) * 1_000_000).cast("bigint") * 100_000_000 + F.col("doc_id")
    )
    scored = d.select(
        "doc_id",
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        ord_key.alias("ord"),
    )
    best = scored.groupBy("fp").agg(
        F.count("*").alias("group_size"),
        F.min_by("doc_id", "ord").alias("survivor"),
        F.min_by("lang", "ord").alias("lang"),
    )
    return best.groupBy("lang").agg(
        F.count("*").alias("n_survivors"),
        F.sum(F.col("group_size") - 1).alias("n_dropped"),
        F.min("survivor").alias("min_survivor_id"),
    )


@query(
    "dedup_incremental_stats",
    oracle="""
    WITH old AS (
        SELECT DISTINCT md5(lower(trim(text))) AS fp
        FROM documents WHERE doc_id < 250
    ),
    new_batch AS (
        SELECT lang, md5(lower(trim(text))) AS fp
        FROM documents WHERE doc_id >= 250
    )
    SELECT lang,
           count(*) AS n_new,
           count(*) FILTER (WHERE o.fp IS NULL) AS n_unique_vs_corpus
    FROM new_batch n LEFT JOIN old o ON n.fp = o.fp
    GROUP BY lang
    """,
)
def dedup_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a NEW batch of documents checked
    against the EXISTING corpus's fingerprint set (here: doc_id >= 250
    arriving against doc_id < 250) — the shape every continuously-fed
    training pipeline runs per ingest, distinct from whole-corpus dedup.
    Implemented as a left-ANTI-style membership probe via left join on
    the fingerprint; at 100 TB the existing-corpus fingerprints live as
    a bucketed/sorted table (or a bloom filter for a first pass) so the
    per-batch check shuffles only the new batch, never the corpus."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    old = d.where(F.col("doc_id") < 250).select(fp.alias("fp")).distinct()
    new_batch = d.where(F.col("doc_id") >= 250).select("lang", fp.alias("fp"))
    j = new_batch.join(old.withColumnRenamed("fp", "ofp"),
                       new_batch.fp == F.col("ofp"), "left")
    return j.groupBy("lang").agg(
        F.count("*").alias("n_new"),
        F.count(F.when(F.col("ofp").isNull(), 1)).alias("n_unique_vs_corpus"),
    )


@query(
    "fuzzy_match_stats",
    oracle="""
    WITH canon AS (SELECT DISTINCT p_name AS canon FROM part),
    dirty AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 3 = 0
                    THEN substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
                         || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                    ELSE p_name END AS nm
        FROM part
    ),
    scored AS (
        SELECT d.p_partkey, levenshtein(d.nm, c.canon) AS dist, c.canon
        FROM dirty d CROSS JOIN canon c
    ),
    best AS (
        SELECT p_partkey, dist, canon FROM (
            SELECT *, row_number() OVER (PARTITION BY p_partkey
                                         ORDER BY dist, canon) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT dist, count(*) AS n_parts,
           CAST(count(DISTINCT canon) AS BIGINT) AS n_canon
    FROM best GROUP BY dist
    """,
)
def fuzzy_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: map dirty strings back to a canonical
    vocabulary by Levenshtein distance. The corpus has no typos, so a
    deterministic corruption (delete the (p_partkey mod len)+1-th
    character from every 3rd part name — a pure function of the row,
    mirrored by the oracle) plays the dirty input, and every corrupted
    name is matched to its nearest canonical name (ties → lexicographic)
    with a per-distance histogram as the checked output.

    Plan at scale: the canonical vocab is distinct-reduced FIRST (name
    vocabularies grow sublinearly in corpus size — here 64 names over
    20k parts) and broadcast, so matching is one corpus scan × a tiny
    build side; the per-row argmin is a map-side-partial min over a
    (dist, canon) struct — one 1-row-per-part shuffle, NO window over
    the fanned-out pair stream, and no all-pairs corpus join anywhere.
    levenshtein() runs JVM-side (whole-stage codegen)."""
    p = table(spark, sf_dir, "part")
    canon = F.broadcast(p.select(F.col("p_name").alias("canon")).distinct())
    # Distinct-reduce the dirty strings BEFORE the distance computation:
    # string cardinality ≪ row count (≤ |vocab| + |vocab|·max_len
    # corruption variants vs 20k parts here; the same holds for real
    # dirty-entity columns), so the expensive levenshtein fan-out runs
    # per distinct string. r16 (ADVICE r15): the output only needs the
    # per-distance histogram, so the per-string PART COUNT rides along
    # through the fan-out (constant within each nm group — max() picks
    # it back up) instead of joining the answers back to the
    # part-sized corrupted frame. That removes the r15 part-sized
    # cache (rule D: never cache a fact-shaped frame) AND the answer
    # join: one corruption scan, one pruned clean-column scan, no
    # cache, vocabulary-sized frames everywhere past the first groupBy.
    nmc = (
        p.select(
            F.when(
                F.col("p_partkey") % 3 == 0,
                F.concat(
                    F.expr(
                        "substring(p_name, 1,"
                        " CAST(p_partkey % length(p_name) AS INT))"
                    ),
                    F.expr(
                        "substring(p_name,"
                        " CAST(p_partkey % length(p_name) AS INT) + 2)"
                    ),
                ),
            )
            .otherwise(F.col("p_name"))
            .alias("nm"),
        )
        .groupBy("nm")
        .agg(F.count("*").alias("cnt"))
    )
    best = (
        nmc.crossJoin(canon)
        .select(
            "nm",
            "cnt",
            F.struct(
                F.levenshtein("nm", "canon").alias("dist"), F.col("canon")
            ).alias("dc"),
        )
        .groupBy("nm")
        .agg(F.min("dc").alias("best"), F.max("cnt").alias("cnt"))
    )
    return best.groupBy(F.col("best.dist").alias("dist")).agg(
        F.sum("cnt").alias("n_parts"),
        F.count_distinct("best.canon").alias("n_canon"),
    )


@query(
    "neardup_component_dedup",
    oracle=f"""
    WITH RECURSIVE {DUCK_PAIRS_CTES}, {DUCK_SYM_EDGES}, {DUCK_CLOSURE}
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.node IS NULL OR c.comp = d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
           CAST(sum(CASE WHEN c.node IS NOT NULL AND c.comp != d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    GROUP BY d.lang
    """,
)
def neardup_component_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline APPLIED end to end: LSH verified pairs →
    transitive closure via ``operators/components.connected_components``
    (min-label propagation with pointer jumping, O(log diameter)
    rounds) → keep the lowest doc_id per cluster, count survivors and
    removals per language. The oracle closes the same pairs with a
    recursive CTE — hash parity checks the ITERATIVE distributed
    algorithm against an engine-independent fixpoint.

    Scale: pair generation is the LSH path (candidate-bounded, never
    all-pairs); the closure shuffles only the pair graph (≪ corpus —
    near-dup graphs are sparse by construction); the survivor policy is
    one broadcast-sized left join against the component map plus a
    per-lang rollup."""
    from ..operators.components import connected_components

    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = d.join(comp, d.doc_id == comp.node, "left")
    survivor = F.col("node").isNull() | (F.col("comp") == F.col("doc_id"))
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(survivor.cast("long")).alias("n_survivors"),
        F.sum((~survivor).cast("long")).alias("n_removed"),
    )


_LPA_ROUNDS = 3

# one chained CTE per synchronous round: l{r+1}(v) = min(l{r}(v),
# min over neighbors u of l{r}(u)) — nodes come FROM edges, so every
# node has >= 1 sym row and the inner joins lose nothing
_DUCK_LPA_CHAIN = "".join(
    f""",
    l{r + 1} AS (
        SELECT s.a AS node, least(min(pn.lbl), min(pb.lbl)) AS lbl
        FROM sym s
        JOIN l{r} pn ON pn.node = s.a
        JOIN l{r} pb ON pb.node = s.b
        GROUP BY s.a
    )"""
    for r in range(_LPA_ROUNDS)
)


@query(
    "label_prop_communities",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}, {DUCK_SYM_EDGES},
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym){_DUCK_LPA_CHAIN},
    comm AS (
        SELECT lbl, count(*) AS comm_size FROM l{_LPA_ROUNDS} GROUP BY lbl
    )
    SELECT comm_size, CAST(count(*) AS BIGINT) AS n_communities
    FROM comm GROUP BY comm_size
    """,
)
def label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round label-propagation communities over the LSH near-dup
    graph (``operators/components.min_label_propagation``): 3 synchronous
    rounds of min-label spread, then a community-size histogram. The
    convergence semantics differ from ``neardup_component_dedup`` on
    purpose — labels move exactly ONE hop per round (no pointer
    jumping), so a chain longer than 3 hops splits into multiple
    radius-bounded communities, which is what fixed-iteration LPA
    community detection relies on and what the run-to-convergence
    closure can't express. The oracle replays the same 3 rounds as
    chained CTEs — hash parity pins every round's synchronous-update
    semantics, not just the fixpoint.

    Scale: one edge-keyed shuffle per round over the sparse pair graph
    (static edges localCheckpointed once; per-round lineage cut);
    R is a constant, so the whole query is R+2 shuffles regardless of
    corpus size."""
    from ..operators.components import min_label_propagation

    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_propagation(pairs, "doc_a", "doc_b", rounds=_LPA_ROUNDS)
    comm = labels.groupBy("lbl").agg(F.count("*").alias("comm_size"))
    return comm.groupBy("comm_size").agg(
        F.count("*").cast("bigint").alias("n_communities")
    )


_KCORE_K = 2
_KCORE_ROUNDS = 3

# one chained CTE per synchronous peel round: alive_{r+1} = nodes of
# alive_r whose degree WITHIN alive_r is >= k (both endpoints filtered
# before counting, removals simultaneous)
_DUCK_KCORE_CHAIN = "".join(
    f""",
    alive{r + 1} AS (
        SELECT s.a AS node FROM sym s
        JOIN alive{r} x ON s.a = x.node
        JOIN alive{r} y ON s.b = y.node
        GROUP BY s.a HAVING count(*) >= {_KCORE_K}
    )"""
    for r in range(_KCORE_ROUNDS)
)

_DUCK_KCORE_ROWS = " UNION ALL ".join(
    f"""SELECT CAST({r} AS BIGINT) AS peel_round,
           (SELECT CAST(count(*) AS BIGINT) FROM alive{r}) AS n_alive,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs p
            JOIN alive{r} x ON p.doc_a = x.node
            JOIN alive{r} y ON p.doc_b = y.node) AS n_edges_alive"""
    for r in range(_KCORE_ROUNDS + 1)
)


@query(
    "kcore_neardup",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}, {DUCK_SYM_EDGES},
    alive0 AS (SELECT DISTINCT a AS node FROM sym){_DUCK_KCORE_CHAIN}
    {_DUCK_KCORE_ROWS}
    """,
)
def kcore_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling over the LSH near-dup graph
    (``operators/components.kcore_peel``, k=2, 3 synchronous rounds):
    per round, how many nodes and verified pairs survive when nodes
    with alive-degree < k are peeled simultaneously. The DENSITY screen
    of the graph-operator trio (closure = reachability, LPA = bounded
    spread, peeling = cohesion): pendant near-dup matches melt off
    round by round while mutually-duplicated blocks (triangles and
    denser) persist — the reviewer's signal for "hub doc with weak
    matches" vs "genuinely replicated block". The oracle replays every
    peel round as a chained CTE, so hash parity pins the synchronous
    removal semantics per round, not just the final core.

    Scale: per round one node-keyed shuffle of the sparse symmetric
    pair list plus graph-sized semi joins; per-round state is node ids
    only; localCheckpoint cuts iterative lineage (the pagerank/CC
    lesson). Output is 2 scalars per round via bounded 1-row driver
    aggregates — rounds are a constant, the graph never leaves the
    executors."""
    from ..operators.components import kcore_peel

    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    rows = kcore_peel(pairs, "doc_a", "doc_b", k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return local_frame(
        spark,
        rows, "peel_round bigint, n_alive bigint, n_edges_alive bigint"
    )


_HB_ROUNDS = 3

# one chained CTE per expansion round: ball_{r+1}(v) = ball_r(v) plus
# every neighbor of a node already in ball_r(v) (UNION dedups)
_DUCK_HB_CHAIN = "".join(
    f""",
    ball{r + 1} AS (
        SELECT v, u FROM ball{r}
        UNION
        SELECT p.v, s.b FROM ball{r} p JOIN sym s ON p.u = s.a
    )"""
    for r in range(_HB_ROUNDS)
)

_DUCK_HB_ROWS = " UNION ALL ".join(
    f"""SELECT CAST({r} AS BIGINT) AS reach_round,
           (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM ball{r}) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM ball{r}) AS sum_ball,
           TRUE AS est_ok"""
    for r in range(_HB_ROUNDS + 1)
)


@query(
    "hyperball_reach",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}, {DUCK_SYM_EDGES},
    ball0 AS (SELECT DISTINCT a AS v, a AS u FROM sym){_DUCK_HB_CHAIN}
    {_DUCK_HB_ROWS}
    """,
)
def hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function of the LSH near-dup graph
    (``operators/components.neighborhood_function``, HyperBall —
    Boldi/Vigna 2013): per round r in 0..3, the number of graph nodes
    and the exact sum of |ball_r(v)| (nodes within <= r hops), plus the
    audit boolean pinning that the HLL-sketch leg — one
    ``hll_sketch_agg`` sketch per node, ``hll_union_agg``-merged with
    neighbor sketches each round — estimates EVERY node's ball within
    8%. The N(r) curve's knee is the dup graph's effective diameter:
    flat by round 2 means near-dup clusters are tight blocks (safe to
    dedup by closure); still climbing at round 3 means long chains —
    the transitive-closure-will-overmerge warning a curation review
    needs before ``neardup_component_dedup`` collapses them.

    The fourth iterative-graph shape next to closure (CC), bounded
    spread (LPA), and density peeling (k-core) — this one measures
    REACH VOLUME, and it is the only one whose per-node state is a
    mergeable sketch rather than a scalar, i.e. the only one that still
    works when ball sizes explode: at 100 TB the exact reach-pair leg
    is the audit-scale oracle, the fixed-KB-per-node sketch leg is the
    production path. The DuckDB oracle replays the exact expansion as
    chained CTEs and pins the booleans TRUE.

    Scale: per round one node-keyed shuffle for the sketch union
    (register-wise max — order-insensitive, deterministic under any
    partitioning) and one for the exact leg; localCheckpoint per round
    cuts iterative lineage; 4 scalars per round reach the driver."""
    from ..operators.components import neighborhood_function

    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    rows = neighborhood_function(pairs, "doc_a", "doc_b", rounds=_HB_ROUNDS)
    return local_frame(
        spark,
        rows,
        "reach_round bigint, n_nodes bigint, sum_ball bigint, est_ok boolean",
    )


@query(
    "sorted_neighbor_lcp",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ), lagd AS (
        SELECT w,
               lag(text) OVER (PARTITION BY w[1] ORDER BY text, doc_id)
                   AS ptext
        FROM d
    ), pairs AS (
        SELECT string_split(ptext, ' ') AS wa, w AS wb
        FROM lagd WHERE ptext IS NOT NULL
    ), lcp AS (
        SELECT len(wa) AS la, len(wb) AS lb,
               coalesce(nullif(list_position(list_transform(
                   range(least(len(wa), len(wb))),
                   i -> wa[i+1] = wb[i+1]), false), 0) - 1,
                   least(len(wa), len(wb))) AS l
        FROM pairs
    )
    SELECT CASE WHEN l >= 5 THEN '5+' ELSE CAST(l AS VARCHAR) END
               AS lcp_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN l = least(la, lb) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_full_prefix,
           CAST(sum(CASE WHEN l = la AND l = lb THEN 1 ELSE 0 END)
               AS BIGINT) AS n_exact_dup
    FROM lcp GROUP BY 1
    """,
)
def sorted_neighbor_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood prefix-duplicate scan (Hernández/Stolfo
    merge/purge, SIGMOD'95; the sort step of suffix-array ExactSubstr
    dedup, Lee et al. 2022, applied at word granularity): sort the
    corpus, compare each document only with its lexicographic
    NEIGHBOR, and histogram the longest-common-word-prefix — plus the
    full-prefix count (one doc's words are a prefix of the other's:
    the truncation-duplicate class MinHash underrates because the
    shorter doc contributes few shingles) and the exact-dup count.
    Turns the O(n²) all-pairs prefix question into one sort: any two
    docs sharing a k-word prefix (k >= 1) are adjacent-or-connected
    within their first-word block, so the neighbor LCP histogram is
    EXACT for buckets >= 1, at sort cost.

    Scale design: blocking on the first word makes the sort
    embarrassingly parallel — one hash shuffle on the blocking key,
    then per-block window sort; NO global single-partition ORDER BY
    window (the naive formulation). The blocking is lossless for this
    statistic (lcp >= 1 implies equal first words). Skew bound = the
    most common first word's block; at a 100 TB corpus with Zipfian
    leading words, re-block the heavy keys on their first TWO words
    (lossless for lcp >= 2) — the standard salting refinement. LCP
    itself is a JVM array HOF (first false position over the zipped
    equality list), map-side, no UDF."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("w")
    )
    win = Window.partitionBy(F.element_at(F.col("w"), 1)).orderBy(
        "text", "doc_id"
    )
    pairs = (
        d.select("w", F.lag("text").over(win).alias("ptext"))
        .where(F.col("ptext").isNotNull())
        .select(F.split("ptext", " ").alias("wa"), F.col("w").alias("wb"))
    )
    la, lb = F.size("wa"), F.size("wb")
    m = F.least(la, lb)
    matches = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.element_at(F.col("wa"), i + F.lit(1))
        == F.element_at(F.col("wb"), i + F.lit(1)),
    )
    pos = F.array_position(matches, F.lit(False))
    scored = pairs.select(
        la.alias("la"),
        lb.alias("lb"),
        F.when(pos == 0, m).otherwise(pos - 1).alias("l"),
    )
    bucket = (
        F.when(F.col("l") >= 5, F.lit("5+"))
        .otherwise(F.col("l").cast("string"))
    )
    return scored.groupBy(bucket.alias("lcp_bucket")).agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            (F.col("l") == F.least("la", "lb")).cast("long")
        ).alias("n_full_prefix"),
        F.sum(
            ((F.col("l") == F.col("la")) & (F.col("l") == F.col("lb")))
            .cast("long")
        ).alias("n_exact_dup"),
    )


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT doc_id, lang, i AS pos,
               {duck_h40("t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]")} AS h
        FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
    ),
    selw AS (
        SELECT doc_id, lang,
               min(h * 1048576 + (1048575 - pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS packed,
               count(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n_in_window
        FROM sh
    ),
    perdoc AS (
        SELECT doc_id, lang, count(DISTINCT packed) AS n_fp
        FROM selw WHERE n_in_window = 4 GROUP BY doc_id, lang
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_fp) AS BIGINT) AS n_fingerprints,
           round(sum(n_fp) * 1.0 / count(*), 4) AS avg_fp_per_doc
    FROM perdoc GROUP BY lang
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm, exact semantics): hash every word
    3-gram, slide a w=4 window over the hash sequence, and select each
    window's RIGHTMOST minimum. That per-window selection is what
    guarantees every w-consecutive-gram run contributes >=1 fingerprint
    (density ~2/(w+1)) — the sampling contract that makes fingerprint
    stores sublinear where ``doc_fingerprints``' whole-doc md5 only
    catches EXACT duplicates. The rightmost-min-per-window is ONE
    window aggregate, no self-join: pack (hash, position) into a single
    integer ordered lexicographically as (h asc, pos desc) —
    ``h * 2^20 + (2^20-1-pos)`` — take ``min`` over the forward frame,
    and count distinct packed values per doc (frames shorter than w at
    the tail are excluded, per the spec; positions bounded < 2^20 ≡ 1M
    shingles/doc). Validated against a textbook reference
    implementation over tie-heavy random sequences. At 100 TB the
    selected (doc, hash) pairs feed the same banded-LSH join as
    ``minhash_lsh_pairs`` with ~w/2x fewer rows."""
    d = table(spark, sf_dir, "documents").where(
        F.size(F.split("text", " ")) >= 3
    )
    sh = d.select(
        "doc_id",
        "lang",
        F.posexplode(shingles("text")).alias("pos", "s0"),
    ).select("doc_id", "lang", "pos", h40(F.col("s0")).alias("h"))
    packed = F.col("h") * F.lit(1048576) + (F.lit(1048575) - F.col("pos"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    sel = sh.select(
        "doc_id",
        "lang",
        F.min(packed).over(w).alias("packed"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    ).where(F.col("n_in_window") == 4)
    perdoc = sel.groupBy("doc_id", "lang").agg(
        F.count_distinct("packed").alias("n_fp")
    )
    return perdoc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_fp").alias("n_fingerprints"),
        F.round(F.sum("n_fp") / F.count("*"), 4).alias("avg_fp_per_doc"),
    )


@query(
    "dup_ngram_coverage",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id, i AS pos,
               array_to_string(w[i+1:i+5], ' ') AS gram
        FROM d, UNNEST(range(len(w) - 4)) AS t(i)
    ), dup AS (
        SELECT gram FROM g GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2
    ), h AS (
        SELECT doc_id, pos, pos + 4 AS e FROM g JOIN dup USING (gram)
    ), isl AS (
        SELECT doc_id, pos, e,
               CASE WHEN max(e) OVER pw IS NULL OR pos > max(e) OVER pw
                    THEN 1 ELSE 0 END AS ni
        FROM h
        WINDOW pw AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl2 AS (
        SELECT doc_id, pos, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS iid
        FROM isl
    ), seg AS (
        SELECT doc_id, iid, max(e) - min(pos) + 1 AS len
        FROM isl2 GROUP BY doc_id, iid
    ), cov AS (
        SELECT doc_id, sum(len) AS covered FROM seg GROUP BY doc_id
    ), f AS (
        SELECT d.doc_id, d.lang, len(d.w) AS nw,
               coalesce(c.covered, 0) AS covered
        FROM d LEFT JOIN cov c USING (doc_id)
    )
    SELECT lang, count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE covered > 0) AS BIGINT)
               AS n_docs_with_dup,
           round(sum(round(covered * 1.0 / nw, 6)), 6) AS sum_dup_frac
    FROM f GROUP BY lang
    """,
)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram coverage (the RefinedWeb/Gopher "fraction of
    tokens inside a cross-document duplicated n-gram" quality signal):
    every word 5-gram appearing in ≥2 distinct documents marks its
    5-token span; per document the UNION of those spans (overlaps
    merged via gaps-and-islands, so nested repeats aren't
    double-counted) over the token count is the dup fraction, audited
    per language.

    Scale: gram occurrences come from the materialized word-gram
    store (``_wordgram_store`` — extraction is map-side array HOFs,
    landed once per corpus with xxhash64-hashed 8-byte gram keys, so
    raw 40-char grams never hit a shuffle; a collision could only
    merge two gram identities — odds ~1e-7 at this vocabulary, and
    the DuckDB oracle joins RAW grams, so the hash is parity-checked
    end-to-end); the duplicated-gram set is one gram-keyed shuffle
    with map-side partial distinct; marking is a semi-shaped inner
    join on the gram key; the island merge is ONE window shuffle
    keyed by doc_id over only the HIT positions (duplicated grams),
    not the full token stream."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    # gram occurrences from the MATERIALIZED word-gram store (hashed
    # 8-byte keys, landed once per corpus — _wordgram_store;
    # decontam_ngram_overlap keeps the fresh extraction benchmarked)
    g = _wordgram_store(spark, sf_dir)
    dup = (
        g.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    h = g.join(dup, "g").select(
        "doc_id", "pos", (F.col("pos") + 4).alias("e")
    )
    pw = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cw = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_e = F.max("e").over(pw)
    isl = h.withColumn(
        "ni",
        F.when(prev_e.isNull() | (F.col("pos") > prev_e), 1).otherwise(0),
    ).withColumn("iid", F.sum("ni").over(cw))
    seg = isl.groupBy("doc_id", "iid").agg(
        (F.max("e") - F.min("pos") + 1).alias("len")
    )
    cov = seg.groupBy("doc_id").agg(F.sum("len").alias("covered"))
    f = d.select("doc_id", "lang", F.size("w").alias("nw")).join(
        cov, "doc_id", "left"
    ).select(
        "lang", "nw", F.coalesce("covered", F.lit(0)).alias("covered")
    )
    # Hash-parity rounding: the per-doc fraction is rounded to the 1e-6
    # grid FIRST, and the emitted aggregate is the grid-aligned SUM
    # rounded at grid precision — an averaged (÷n) value sits off-grid
    # where a .00005-style decimal boundary can flip between engines
    # (the split_leakage_audit lesson); a sum of grid multiples has no
    # interior boundary to disagree on.
    return f.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("covered") > 0).cast("long")).alias("n_docs_with_dup"),
        F.round(
            F.sum(F.round(F.col("covered") * F.lit(1.0) / F.col("nw"), 6)), 6
        ).alias("sum_dup_frac"),
    )


@query(
    "neardup_triangle_stats",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    wedges AS (
        SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
        FROM pairs p1 JOIN pairs p2 ON p1.doc_b = p2.doc_a
    ),
    tri AS (
        SELECT count(*) AS n FROM wedges w
        JOIN pairs p3 ON w.a = p3.doc_a AND w.c = p3.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
           CASE WHEN (SELECT count(*) FROM wedges) = 0 THEN 0.0
                ELSE round((SELECT n FROM tri) * 1.0
                           / (SELECT count(*) FROM wedges), 6)
           END AS wedge_closure
    """,
)
def neardup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup pair graph — the graph-analytics
    step after pair generation: a high wedge-closure rate means near-dup
    relations are transitive on this corpus (clusters are cliques, and
    keep-one-per-component dedup is safe); a low rate means chains of
    borderline pairs (A≈B≈C but A≉C), where component-collapse
    over-merges and a threshold bump or verification pass is warranted.

    Algorithm: the classic sorted-orientation count — edges already
    stored low→high id, wedges from chaining (a<b)⋈(b<c) so every
    triangle is counted exactly once via its middle vertex, closed by
    one more join to the (a,c) edge. The orientation is the scale
    trick: join fan-out is bounded by OUT-degree under the total
    order, which caps the hub-explosion a naive undirected wedge join
    hits on skewed graphs (Schank/Wagner; Cohen's MapReduce form).
    Three joins over the SPARSE pair graph only — the corpus is
    touched exactly once, inside the shared LSH pair pipeline."""
    # cache(): the pair graph feeds the edge count, both wedge sides,
    # and the closure join — without it the whole LSH pipeline re-runs
    # per consumer.
    pairs = cached(
        _lsh_pairs_store(spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    p1, p2 = pairs.alias("p1"), pairs.alias("p2")
    wedges = p1.join(
        p2, F.col("p1.doc_b") == F.col("p2.doc_a")
    ).select(
        F.col("p1.doc_a").alias("a"),
        F.col("p1.doc_b").alias("b"),
        F.col("p2.doc_b").alias("c"),
    )
    tri = wedges.join(
        pairs,
        (F.col("a") == F.col("doc_a")) & (F.col("c") == F.col("doc_b")),
    )
    ne = pairs.agg(F.count("*").alias("n_edges"))
    nw = wedges.agg(F.count("*").alias("n_wedges"))
    nt = tri.agg(F.count("*").alias("n_triangles"))
    return (
        ne.crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_triangles") * F.lit(1.0) / F.col("n_wedges"), 6
                )
            )
            .alias("wedge_closure"),
        )
    )


_PR_SCALE = 1_000_000_000_000  # rank mass in 1e-12 units (fits BIGINT: 85*SCALE << 2^63)


def _duck_pr_iter(prev: str, out: str) -> str:
    """One unrolled fixed-point PageRank iteration as a DuckDB CTE pair.
    ALL arithmetic is BIGINT (rank mass in 1e-12 units, integer division
    everywhere): sums are exact and order-free, so there is no float
    rounding boundary anywhere for the engines to disagree on — the
    property test caught the float formulation diverging at 9th-decimal
    halves (pr/2 of an odd-last-digit grid value) before this."""
    return f"""{out}_s AS (
        SELECT e.dst AS doc_id, sum(p.pr // p.deg) AS s
        FROM edges e JOIN {prev} p ON e.src = p.doc_id GROUP BY e.dst
    ),
    {out} AS (
        SELECT v.doc_id, v.deg,
               CAST((15 * {_PR_SCALE} // (100 * (SELECT n FROM nn)))
                    + (85 * coalesce(s.s, 0) // 100) AS BIGINT) AS pr
        FROM deg_nodes v LEFT JOIN {out}_s s USING (doc_id)
    )"""


def pagerank_fixed_point(
    edges: DataFrame, nodes: DataFrame, n: int, rounds: int = 3
) -> DataFrame:
    """The fixed-point PageRank iteration itself — shared by the
    oracle-checked query and the property test so the tested loop IS
    the production loop. ``edges``: (src, dst) directed frame (already
    checkpointed/cached by the caller); ``nodes``: (doc_id, deg);
    ``n``: |V|. All arithmetic BIGINT in 1e-12 rank-mass units —
    exact, summation-order-free, no float rounding boundary."""
    teleport = (15 * _PR_SCALE) // (100 * n)  # exact ints, both engines
    pr = nodes.select("doc_id", "deg", F.lit(_PR_SCALE // n).alias("pr"))
    for _ in range(rounds):
        contrib = edges.join(pr, edges.src == pr.doc_id).select(
            F.col("dst").alias("doc_id"),
            F.expr("pr DIV deg").alias("c"),
        )
        s = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        pr = nodes.join(s, "doc_id", "left").select(
            "doc_id",
            "deg",
            (
                F.lit(teleport)
                + F.expr("85 * coalesce(s, 0L) DIV 100")
            ).cast("bigint").alias("pr"),
        )
    return pr


@query(
    "pagerank_neardup",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    deg_nodes AS (SELECT src AS doc_id, count(*) AS deg
                  FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg_nodes),
    pr0 AS (SELECT doc_id, deg,
                   CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS pr
            FROM deg_nodes),
    {_duck_pr_iter("pr0", "pr1")},
    {_duck_pr_iter("pr1", "pr2")},
    {_duck_pr_iter("pr2", "pr3")}
    SELECT doc_id, deg, pr, rnk, (SELECT n FROM nn) AS n_nodes FROM (
        SELECT doc_id, deg, pr,
               row_number() OVER (ORDER BY pr DESC, doc_id) AS rnk
        FROM pr3
    ) WHERE rnk <= 15
    """,
)
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations, d=0.85) over the near-dup pair
    graph — centrality-ranked canonical candidates: the highest-PR doc
    in a near-dup neighborhood is the one most corroborated by other
    duplicates, a better survivor-policy signal than lowest-id when
    sources disagree. Also the repo's iterative-dataflow witness beyond
    pointer-jumping CC: rank state joins against a static edge frame
    each round instead of mutating per-node state.

    Scale: each iteration shuffles only the SPARSE pair graph (edges ⋈
    rank on src, then a dst-keyed sum) — the corpus is touched once
    inside the shared LSH pipeline; at 1000 executors the edge frame
    partitions on src and iterations reuse that partitioning. Fixed
    iteration count keeps lineage bounded (production loops past ~10
    rounds localCheckpoint per round like operators/components.py).
    The node-count collect is one scalar (like the BPE best-pair and
    centroid fetches — driver state, shipped back as a literal).

    Parity: FIXED-POINT — rank mass is a BIGINT in 1e-12 units and
    every step is integer division/multiplication/sum, so results are
    exact and summation-order-free with NO float rounding boundary
    anywhere. (The first draft used grid-rounded doubles; the property
    test found 9th-decimal halves — pr/2 of an odd-last-digit grid
    value — where Spark's BigDecimal-HALF_UP and DuckDB's
    multiply-round-divide can disagree. Integers make the class
    impossible rather than improbable.)"""
    from ..core.session import cache_parallelism

    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint, not cache: every iteration's plan would otherwise
    # embed the FULL LSH lineage again and Catalyst re-analyzes a tree
    # that doubles per round — the same planning blowup
    # operators/components.py cuts per round (measured: 21.5s -> ~8s at
    # sf0.1 from this line alone). The checkpoint also materializes the
    # static per-iteration join side (and the degree census) once.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .coalesce(cache_parallelism(spark))
        .localCheckpoint()
    )
    nodes = cached(
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .select(F.col("src").alias("doc_id"), "deg")
    )
    n = nodes.count()  # one scalar — the |V| every PR formulation needs
    pr = pagerank_fixed_point(edges, nodes, n, rounds=3)
    w = Window.orderBy(F.col("pr").desc(), "doc_id")
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 15)
        .select("doc_id", "deg", "pr", "rnk", F.lit(n).alias("n_nodes"))
    )


@query(
    "ngram_containment_hist",
    oracle=f"""
    WITH sh AS ({DUCK_SHINGLES}),
    ex_all AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
    ok AS (SELECT s FROM ex_all GROUP BY s HAVING count(*) <= 50),
    ex AS (SELECT doc_id, ex_all.s FROM ex_all JOIN ok ON ex_all.s = ok.s),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
        SELECT inter, least(sa.sz, sb.sz) AS msz
        FROM pair_inter JOIN sizes sa ON sa.doc_id = doc_a
                        JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT CAST(inter * 10 // msz AS INTEGER) AS containment_decile,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN inter = msz THEN 1 ELSE 0 END) AS BIGINT) AS n_full
    FROM j GROUP BY containment_decile
    """,
)
def ngram_containment_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram CONTAINMENT (|A∩B| / min(|A|,|B|)) histogram over the
    same DF-pruned inverted index as ``ngram_jaccard_hist``. Containment
    is the asymmetric near-dup metric Jaccard misses: a short document
    fully embedded in a long one scores ~|A|/|B| on Jaccard (low) but
    1.0 on containment — the sub-document duplication case (quote
    farms, boilerplate wrappers) a training-corpus dedup must catch.
    ``containment_decile = 10`` rows (``n_full``) are exact full
    containments. Same scale posture as the Jaccard variant — stop-
    shingle prune bounds candidates, posting lists generate pairs
    JVM-side, integer arithmetic end-to-end — but the index comes
    from the MATERIALIZED posting-list store (``_ngram_postings_store``,
    round 9): audits read the landed inverted index; only
    ``ngram_jaccard_hist`` re-derives it so the build cost stays
    benchmarked.

    The constant df-cutoff is justified by measurement (SCALING.md
    round-7 section): it guarantees pairs ≤ (cutoff−1)/2 × postings —
    LINEAR in corpus size — and the measured pairs/posting ratio is
    constant (~4.9) from 1× to 100× docs. The value is a semantic
    constant ("shared by >50 docs = boilerplate"), deliberately NOT a
    corpus quantile: an adaptive cutoff would change what the metric
    means between releases, which a drift monitor cannot afford."""
    # Reads the MATERIALIZED posting-list store (built once per corpus
    # by whichever consumer runs first; ngram_jaccard_hist keeps the
    # fresh pipeline benchmarked) — the production posture: similarity
    # audits read the landed inverted index, they don't re-derive it.
    groups = _ngram_postings_store(spark, sf_dir)
    sizes = groups.select(F.explode("ds").alias("doc_id")).groupBy("doc_id").agg(
        F.count("*").alias("sz")
    )
    pair_arr = ordered_pairs(F.col("ds"), "doc_a", "doc_b")
    pair_inter = (
        groups.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        pair_inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("inter", F.least(F.col("sa.sz"), F.col("sb.sz")).alias("msz"))
    )
    return (
        j.groupBy(
            F.floor(F.col("inter") * 10 / F.col("msz"))
            .cast("int")
            .alias("containment_decile")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("inter") == F.col("msz"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_full"),
        )
    )


@query(
    "pair_rouge_stats",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
             FROM documents),
    scored AS (
        SELECT len(list_intersect(ta.ts, tb.ts)) AS inter,
               len(ta.ts) AS na, len(tb.ts) AS nb
        FROM pairs JOIN toks ta ON ta.doc_id = doc_a
                   JOIN toks tb ON tb.doc_id = doc_b
    )
    SELECT CAST(inter * 20 // (na + nb) AS INTEGER) AS f1_decile,
           count(*) AS n_pairs,
           CAST(sum(inter) AS BIGINT) AS sum_inter,
           CAST(sum(na + nb) AS BIGINT) AS sum_sizes
    FROM scored GROUP BY f1_decile
    """,
)
def pair_rouge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 overlap between the verified LSH near-dup pairs — the
    evaluation-metric surface (summarization/dedup QA teams measure
    exactly this between candidate and reference texts). ROUGE-1 F1 =
    2·|A∩B| / (|A|+|B|) over distinct-unigram sets, histogrammed by
    decile in EXACT integer arithmetic (``inter·20 DIV (na+nb)``) with
    the intersection/size sums emitted so the continuous score is
    driver-derivable. Scale: the pair frame is candidate-bounded (the
    shared LSH pipeline), token sets join to it by id — the corpus
    never self-joins; set intersection is a map-side array HOF."""
    pairs = _lsh_pairs_store(spark, sf_dir).select("doc_a", "doc_b")
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    scored = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            F.size(F.array_intersect("ts_a", "ts_b")).alias("inter"),
            F.size("ts_a").alias("na"),
            F.size("ts_b").alias("nb"),
        )
    )
    return (
        scored.groupBy(
            F.expr("CAST(inter * 20 DIV (na + nb) AS INT)").alias("f1_decile")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("inter").cast("bigint").alias("sum_inter"),
            F.sum(F.col("na") + F.col("nb")).cast("bigint").alias("sum_sizes"),
        )
    )


@query(
    "minhash_estimate_error",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    agr AS (
        SELECT doc_a, doc_b,
               ({" + ".join(f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END" for j in range(N_HASHES))}) AS agree
        FROM cand JOIN sig sa ON sa.doc_id = doc_a
                  JOIN sig sb ON sb.doc_id = doc_b
    )
    SELECT CAST(abs(agree * uni - {N_HASHES} * inter) * 10
                // ({N_HASHES} * uni) AS INTEGER) AS err_decile,
           count(*) AS n_pairs,
           CAST(sum(agree) AS BIGINT) AS sum_agree,
           CAST(sum(inter) AS BIGINT) AS sum_inter,
           CAST(sum(uni) AS BIGINT) AS sum_uni
    FROM verified JOIN agr USING (doc_a, doc_b)
    GROUP BY err_decile
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash signature itself: over the
    LSH candidate pairs, compare the signature's Jaccard ESTIMATE
    (fraction of the 16 hashes that agree) against the exact Jaccard
    (inter/uni), histogrammed by absolute-error decile in EXACT integer
    arithmetic (``|agree·uni − 16·inter|·10 DIV (16·uni)``). This is
    the counterpart of `quantized_ann_recall`/`heavy_hitters_topk` for
    the dedup sketch family: it quantifies how much estimation error
    the exact-verify stage is absorbing, driver-hash-checked with no
    tolerance pins to go stale. Scale posture is the shared LSH
    pipeline's (banded candidates, semi-join-pruned set verify);
    the agreement join touches 16 ints per pair side."""
    sig, exact = _lsh_exact_candidates(spark, sf_dir)
    ga = sig.alias("ga")
    gb = sig.alias("gb")
    agree = sum(
        (F.col(f"ga.mh{j}") == F.col(f"gb.mh{j}")).cast("int")
        for j in range(N_HASHES)
    )
    j = (
        exact.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", "inter", "uni", agree.alias("agree"))
    )
    err_decile = F.expr(
        f"CAST(abs(agree * uni - {N_HASHES} * inter) * 10"
        f" DIV ({N_HASHES} * uni) AS INT)"
    )
    return (
        j.groupBy(err_decile.alias("err_decile"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("agree").cast("bigint").alias("sum_agree"),
            F.sum("inter").cast("bigint").alias("sum_inter"),
            F.sum("uni").cast("bigint").alias("sum_uni"),
        )
    )


@query(
    "lsh_incremental_pairs",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    inc AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
    )
    SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 = 0)
               AS n_batch_docs,
           CAST(count(*) AS BIGINT) AS n_verified_pairs,
           CAST(sum(CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_pairs,
           CAST(sum(CASE WHEN (doc_a % 10 = 0) != (doc_b % 10 = 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs,
           (SELECT CAST(count(DISTINCT dd) AS BIGINT) FROM (
               SELECT doc_a AS dd FROM inc WHERE doc_a % 10 = 0
               UNION ALL
               SELECT doc_b FROM inc WHERE doc_b % 10 = 0) u)
               AS n_new_dup_docs
    FROM inc
    """,
)
def lsh_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection — the dedup-at-ingest shape a
    production pipeline runs daily: the corpus is split into an
    existing INDEX (doc_id % 10 != 0) and a new-arrivals BATCH
    (doc_id % 10 == 0); only the batch's band keys PROBE the full band
    table, so candidates are new×old ∪ new×new and the old×old space —
    the overwhelming bulk at 100 TB — is never rejoined. Exact-Jaccard
    verification at ≥ 0.5 on the probed candidates only; the output
    accounts batch size, verified pairs split into cross (new dup of an
    indexed doc) vs within (dup inside the batch), and how many new
    docs would be rejected at ingest.

    The oracle computes the FULL pair set and filters to
    batch-touching pairs — band candidacy is symmetric, so the probe
    join and the filtered closure are provably the same set; hash
    parity pins the incremental plan to the batch semantics it claims.

    Scale: batch bands are a ~10% (daily-arrivals-sized) probe side —
    broadcastable when the batch is small; the band table is the
    persisted index a real system keeps bucketed on (band, bkey) so
    this probe is a bucket-local join; verification semi-joins shingle
    sets down to candidate ids exactly like the batch pipeline."""
    from ..core.session import cache_parallelism

    d = table(spark, sf_dir, "documents")
    # the band table IS the persisted index this query's deployment
    # story describes — read the materialized `_minhash_bands_store`
    # (row-identical to the fresh pipeline by test) instead of
    # re-deriving signatures; `minhash_lsh_pairs`/`minhash_band_stats`
    # keep the fresh derivation benchmarked (r14, the
    # minhash_lsh_capped precedent)
    bands = cached(_minhash_bands_store(spark, sf_dir))
    is_batch = F.col("doc_id") % 10 == 0
    cand = candidate_pairs(bands.where(is_batch), bands, cache_parallelism(spark))
    exact, _ = exact_jaccard(cand, d, cache_parallelism(spark), SHINGLE_SET)
    inc = cached(
        exact.where(F.col("inter") / F.col("uni") >= 0.5)
        .select("doc_a", "doc_b")
    )
    batch_a = F.col("doc_a") % 10 == 0
    batch_b = F.col("doc_b") % 10 == 0
    summary = inc.agg(
        F.count("*").cast("bigint").alias("n_verified_pairs"),
        F.sum((batch_a & batch_b).cast("long")).alias("n_within_pairs"),
        F.sum((batch_a != batch_b).cast("long")).alias("n_cross_pairs"),
    )
    n_batch = d.where(is_batch).agg(
        F.count("*").alias("n_batch_docs")
    )
    new_dups = (
        inc.select(F.when(batch_a, F.col("doc_a")).alias("dd"), "doc_b")
        .select("dd")
        .where(F.col("dd").isNotNull())
        .union(inc.where(batch_b).select(F.col("doc_b").alias("dd")))
        .agg(F.count_distinct("dd").cast("bigint").alias("n_new_dup_docs"))
    )
    return n_batch.crossJoin(summary).crossJoin(new_dups)


@query(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), b AS (
        SELECT doc_id, w,
               list_filter(range(len(w)),
                   i -> {duck_h40("w[i+1]")} % 8 = 0) AS bp
        FROM d
    ), be AS (
        SELECT doc_id, w,
               CASE WHEN len(bp) = 0 OR bp[-1] != len(w) - 1
                    THEN list_append(bp, len(w) - 1) ELSE bp END AS ends
        FROM b
    ), ch AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(w, p.prev + 2, ends[k+1] + 1), ' ')) AS h,
               ends[k+1] - p.prev AS n_words
        FROM be, UNNEST(range(len(ends))) u(k),
             LATERAL (SELECT CASE WHEN k = 0 THEN -1
                                  ELSE ends[k] END AS prev) p
    ), types AS (
        SELECT h, min(n_words) AS n_words, count(*) AS occ,
               count(DISTINCT doc_id) AS ndocs
        FROM ch GROUP BY h
    )
    SELECT least(n_words, 8) AS len_bucket,
           CAST(sum(occ) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_chunk_types,
           CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS BIGINT)
               AS n_shared_occurrences,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_types
    FROM types GROUP BY 1
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (the rsync/LBFS/backup-storage
    family, word-granular): a chunk boundary falls AFTER every word
    whose 40-bit hash is ≡ 0 mod 8 (expected chunk ~8 words), so chunk
    boundaries are a pure function of CONTENT — an insertion early in a
    document shifts fixed-offset blocks everywhere but re-synchronizes
    content-defined chunks at the next boundary word, which is exactly
    why storage dedup uses CDC instead of fixed blocks. Chunks are
    md5'd and the report histograms, per capped chunk length: total
    chunk occurrences, distinct chunk types, and how much of the
    corpus sits in chunks shared by >= 2 documents — the dedup-ratio
    estimate a chunk store would achieve. Complements the n-gram
    family: shingles measure OVERLAP, chunks measure what a
    dedup store can actually COALESCE (non-overlapping spans).

    Scale: EXPLODE-based, not a nested array HOF — the slicing
    formulation (boundary positions array referenced per chunk inside
    a transform) gets re-INLINED by CollapseProject, so the per-word
    md5 boundary scan re-executes once per reference per chunk:
    measured 290s at sf0.1 on one task vs 2s for this form. Here each
    word hashes ONCE (posexplode), the chunk index is an exclusive
    running count of boundary words (doc-keyed window — also what
    parallelizes a single-file corpus across the cluster), and chunk
    strings rebuild in the (doc, chunk) groupBy via sort-by-position
    array_join. Shuffles: doc window + chunk groupBy + hash groupBy,
    all map-side combinable."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    fl = words.select(
        "doc_id",
        "pos",
        "word",
        (h40(F.col("word")) % 8 == 0).cast("int").alias("isb"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    ck = fl.select(
        "doc_id",
        "pos",
        "word",
        (F.sum("isb").over(win) - F.col("isb")).alias("chunk"),
    )
    ch = ck.groupBy("doc_id", "chunk").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            )
        ).alias("h"),
        F.count("*").alias("n_words"),
    )
    types = ch.groupBy("h").agg(
        F.min("n_words").alias("n_words"),
        F.count("*").alias("occ"),
        F.count_distinct("doc_id").alias("ndocs"),
    )
    shared = F.col("ndocs") >= 2
    return types.groupBy(
        F.least(F.col("n_words"), F.lit(8)).alias("len_bucket")
    ).agg(
        F.sum("occ").cast("bigint").alias("n_chunks"),
        F.count("*").alias("n_chunk_types"),
        F.sum(F.when(shared, F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_shared_occurrences"),
        F.sum(shared.cast("long")).alias("n_shared_types"),
    )


@query(
    "er_golden_record",
    oracle=f"""
    WITH RECURSIVE dirty AS (
        SELECT p_partkey, p_retailprice,
               CASE WHEN p_partkey % 3 = 0
                    THEN substr(p_name, 1, CAST(p_partkey % length(p_name) AS INTEGER))
                         || substr(p_name, CAST(p_partkey % length(p_name) AS INTEGER) + 2)
                    ELSE p_name END AS nm
        FROM part
    ),
    strs AS (SELECT DISTINCT nm FROM dirty),
    keys AS (
        SELECT nm, nm AS k FROM strs
        UNION ALL
        SELECT nm, substr(nm, 1, CAST(i AS INTEGER))
                   || substr(nm, CAST(i AS INTEGER) + 2) AS k
        FROM strs, UNNEST(range(length(nm))) t(i)
    ),
    cand AS (
        SELECT DISTINCT a.nm AS na, b.nm AS nb
        FROM keys a JOIN keys b ON a.k = b.k AND a.nm < b.nm
    ),
    e0 AS (
        SELECT {duck_h40("na")} AS ha, {duck_h40("nb")} AS hb
        FROM cand WHERE levenshtein(na, nb) <= 1
    ),
    sym AS (SELECT ha AS a, hb AS b FROM e0 UNION SELECT hb, ha FROM e0),
    {DUCK_CLOSURE},
    labeled AS (
        SELECT d.p_partkey, d.p_retailprice, d.nm,
               COALESCE(c.comp, {duck_h40("d.nm")}) AS ent
        FROM dirty d
        LEFT JOIN comp c ON {duck_h40("d.nm")} = c.node
    ),
    g1 AS (
        SELECT ent, p_retailprice AS gp FROM (
            SELECT ent, p_retailprice,
                   row_number() OVER (PARTITION BY ent
                                      ORDER BY p_retailprice DESC,
                                               p_partkey) AS rn
            FROM labeled
        ) WHERE rn = 1
    ),
    clus AS (
        SELECT ent, count(*) AS n_records,
               count(DISTINCT nm) AS n_strings
        FROM labeled GROUP BY ent
    )
    SELECT c.n_records AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(c.n_strings) AS BIGINT) AS n_name_variants,
           round(sum(g1.gp), 2) AS golden_price_sum
    FROM clus c JOIN g1 USING (ent) GROUP BY 1
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution with SURVIVORSHIP — the MDM
    golden-record pipeline over the deterministically dirtied part
    names (same corruption rule as `fuzzy_match_stats`): (1) BLOCK by
    FastSS deletion neighborhoods — each distinct string keys on
    itself plus its L one-character-deletion variants, and two strings
    within edit distance 1 (sub/ins/del) necessarily share a key, so
    candidate generation is an EQUI-join on the key, never a pairwise
    block scan; (2) VERIFY candidates with levenshtein <= 1 (the
    deletion index admits a few distance-2 pairs); (3) CLOSE matches
    into entities via ``connected_components`` over the string graph
    (vocabulary-sized, not record-sized — the distinct-reduce-first
    rule); (4) pick each entity's GOLDEN record by (max retail price,
    min partkey) survivorship; report the cluster-size histogram with
    name-variant counts and the surviving price mass.

    Scale: the deletion index is |vocab| x avg_len keys (linear);
    bucket sizes are collision-bounded; the closure shuffles the
    sparse string graph; records touch only a vocabulary-sized map
    join plus ONE entity-keyed window. Distance-1 on structured names
    CAN merge distinct true entities (transitive over-merge) — the
    n_name_variants column is the review signal for exactly that, and
    the oracle replays the same closure so the hash pins it."""
    from ..operators.components import connected_components

    p = table(spark, sf_dir, "part")
    dirty = p.select(
        "p_partkey",
        "p_retailprice",
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.expr(
                    "substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))"
                ),
                F.expr(
                    "substring(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)"
                ),
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("nm"),
    )
    strs = dirty.select("nm").distinct()
    nm = F.col("nm")
    dels = F.transform(
        F.sequence(F.lit(0), F.length(nm) - F.lit(1)),
        lambda i: F.concat(
            nm.substr(F.lit(1), i), nm.substr(i + F.lit(2), F.length(nm))
        ),
    )
    keys = strs.select(
        "nm", F.explode(F.concat(F.array(nm), dels)).alias("k")
    )
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k")) & (F.col("a.nm") < F.col("b.nm")),
        )
        .select(F.col("a.nm").alias("na"), F.col("b.nm").alias("nb"))
        .distinct()
    )
    # node ids: the shared 40-bit md5 hash (``h40``) — the closure's
    # convergence monotone sums node ids, so string nodes hash first
    # (collision-free at vocabulary cardinality; the shingle-collision
    # test guards the same hash corpus-wide)
    edges = cand.where(F.levenshtein("na", "nb") <= 1).select(
        h40(F.col("na")).alias("ha"), h40(F.col("nb")).alias("hb")
    )
    comp = connected_components(edges, "ha", "hb")
    labeled = dirty.join(
        comp, h40(dirty.nm) == comp.node, "left"
    ).select(
        "p_partkey",
        "p_retailprice",
        "nm",
        F.coalesce(F.col("comp"), h40(F.col("nm"))).alias("ent"),
    )
    # Survivorship, cluster size, and variant count in ONE entity-keyed
    # aggregation (r12 stage diet — was a row_number window + a second
    # groupBy + an ent-keyed join, three extra shuffle stages over the
    # same co-partitioned data): the golden record (max retail price,
    # tie → min partkey) is max(struct(price, -partkey)) because the
    # struct ordering is lexicographic — identical pick to the oracle's
    # row_number survivorship.
    clus = labeled.groupBy("ent").agg(
        F.count("*").alias("n_records"),
        F.count_distinct("nm").alias("n_strings"),
        F.max(
            F.struct(F.col("p_retailprice"), (-F.col("p_partkey")).alias("np"))
        )["p_retailprice"].alias("gp"),
    )
    return clus.groupBy(F.col("n_records").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_strings").cast("bigint").alias("n_name_variants"),
        F.round(F.sum("gp"), 2).alias("golden_price_sum"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication audit: WHERE does near-dup mass come from —
# the provenance member of the dedup family (minhash_lsh_pairs finds
# the pairs, the component family clusters them; this attributes them:
# intra-source boilerplate vs cross-source syndication need different
# fixes, and cross-source dup rate is the standard pre-mixing audit).
# ---------------------------------------------------------------------------


@query(
    "cross_source_dup_rate",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           least(da.source, db.source)
               <> greatest(da.source, db.source) AS is_cross,
           CAST(count(*) AS BIGINT) AS n_pairs,
           max(jaccard) AS max_jaccard,
           min(jaccard) AS min_jaccard
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.doc_a
    JOIN documents db ON db.doc_id = pairs.doc_b
    GROUP BY 1, 2, 3 ORDER BY 1, 2
    """,
)
def cross_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup provenance audit: every verified MinHash-LSH pair
    (Jaccard >= 0.5) attributed to its unordered (source, source)
    bucket — intra-source pairs are boilerplate/re-posts the source's
    own cleaner should fix, cross-source pairs are syndication the
    MIXTURE has to account for (a source whose content is mostly
    duplicated elsewhere contributes less novel mass than its token
    count claims; this is the audit run before ``mixture_epoch_plan``
    shares are trusted).

    Reads the materialized ``_lsh_pairs_store`` (row-identical to the
    fresh pipeline by test), so the expensive signature->band->verify
    chain is not re-paid — the production shape: the dedup pipeline
    lands the pair graph once and provenance/mixture audits join it
    against the document dims.

    Float parity: pair jaccards are 4dp-rounded store values; the
    per-group reductions are min/max (order-free) and integer counts —
    no cross-row float summation exists.

    Scale: the pair graph is orders of magnitude smaller than the
    corpus; two joins against the doc->source projection shuffle
    pair-graph-sized rows only, then a |source-pairs|-row aggregate."""
    pairs = _lsh_pairs_store(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("ida"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("idb"), F.col("source").alias("sb"))
    lo = F.least("sa", "sb")
    hi = F.greatest("sa", "sb")
    return (
        pairs.join(da, pairs.doc_a == da.ida)
        .join(db, pairs.doc_b == db.idb)
        .groupBy(
            lo.alias("src_lo"),
            hi.alias("src_hi"),
            (lo != hi).alias("is_cross"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
            F.min("jaccard").alias("min_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH under the hot-bucket cutoff: the minhash twin of
# simhash64_neardup_capped, closing the one dedup path whose skew story
# was argued but not driver-exercised (VERDICT r11 item 6 + the 10M-doc
# measurement in SCALING.md r12).
# ---------------------------------------------------------------------------


@query(
    "minhash_lsh_capped",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    census AS (
        SELECT band, bkey, count(*) AS k FROM bands GROUP BY band, bkey
    ),
    surv AS (SELECT band, bkey FROM census WHERE k <= 2),
    sbands AS (SELECT b.* FROM bands b JOIN surv USING (band, bkey)),
    ccand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sbands a JOIN sbands b ON a.band = b.band AND a.bkey = b.bkey
                                    AND a.doc_id < b.doc_id
    ),
    cex AS (
        SELECT doc_a, doc_b, {duck_jaccard()}
        FROM ccand JOIN sets sa ON sa.doc_id = doc_a
                   JOIN sets sb ON sb.doc_id = doc_b
    ),
    cver AS (
        SELECT doc_a, doc_b, round(inter * 1.0 / uni, 4) AS jaccard
        FROM cex WHERE inter * 1.0 / uni >= 0.5
    ),
    cut AS (
        SELECT CAST(count(*) AS BIGINT) AS n_buckets_cut,
               CAST(coalesce(sum(k), 0) AS BIGINT) AS n_band_rows_cut
        FROM census WHERE k > 2
    )
    SELECT doc_a, doc_b, jaccard, cut.n_buckets_cut, cut.n_band_rows_cut
    FROM cver CROSS JOIN cut
    """,
)
def minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_lsh_pairs`` under a ``max_bucket`` CUTOFF — band
    buckets holding more than 2 docs are dropped from candidate
    generation, and every emitted pair carries the cutoff accounting
    (n_buckets_cut, n_band_rows_cut). The cap is deliberately BINDING
    at driver scale (14 size-3 buckets exist at sf0.01 — the simhash
    discipline: the hash must exercise the census, the survivor join,
    and the recall loss, not a no-op), so this output is a strict
    subset of the uncapped pairs whenever a true pair is reachable
    ONLY through a hot bucket.

    Why the cap is the scale path: the r12 10M-doc measurement
    (SCALING.md, round 12) shows a natural corpus needs no
    cap (max bucket 3 at 10M docs — candidates stay linear), but ONE
    syndicated/boilerplate cohort concentrates ~70% of its docs on a
    single (band, bkey) per band — 14k-deep buckets at 1M docs, 4e8
    uncapped candidates (analytic) vs ~10k capped with planted-pair
    recall IDENTICAL (0.9874), because docs that truly agree on a hot
    band also agree on a surviving band. The cap converts the
    quadratic hot-cluster enumeration into bounded work; the cut
    accounting is the signal to route the hot residue to a
    cluster-representative pass instead of pairwise enumeration.

    Scale: the band index comes from the materialized
    `_minhash_bands_store` (landed once per corpus release,
    repartitioned by (band, bkey) — the deployment shape; row-identical
    to the fresh pipeline by test); census = one groupBy on the band
    keys the join already shuffles on; survivors semi-join band-rows;
    candidate volume is bounded by n_buckets * cap^2 regardless of
    skew."""
    from ..core.session import scaled_width

    cap = 2
    d = table(spark, sf_dir, "documents")
    bands = cached(_minhash_bands_store(spark, sf_dir))
    census = bands.groupBy("band", "bkey").agg(F.count("*").alias("k"))
    census = cached(census)
    surv = census.where(F.col("k") <= cap).select("band", "bkey")
    sbands = bands.join(surv, ["band", "bkey"])
    cand = candidate_pairs(sbands, sbands, scaled_width(spark))
    exact, _ = exact_jaccard(cand, d, scaled_width(spark), SHINGLE_SET)
    jac = F.col("inter") * 1.0 / F.col("uni")
    pairs = exact.where(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )
    cut = census.where(F.col("k") > cap).agg(
        F.count("*").cast("bigint").alias("n_buckets_cut"),
        F.coalesce(F.sum("k"), F.lit(0))
        .cast("bigint")
        .alias("n_band_rows_cut"),
    )
    return pairs.crossJoin(F.broadcast(cut))


# ---------------------------------------------------------------------------
# Hot-bucket representative dedup: the bounded treatment of exactly the
# residue minhash_lsh_capped cuts — members of a hot bucket verify
# against the bucket REPRESENTATIVE only (O(k) per bucket, never the
# O(k^2) pairwise enumeration the cap exists to prevent).
# ---------------------------------------------------------------------------


@query(
    "hot_bucket_rep_dedup",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    census AS (
        SELECT band, bkey, count(*) AS k FROM bands GROUP BY band, bkey
    ),
    hot AS (SELECT band, bkey FROM census WHERE k > 2),
    hb AS (SELECT b.band, b.bkey, b.doc_id
           FROM bands b JOIN hot USING (band, bkey)),
    rep AS (SELECT band, bkey, min(doc_id) AS rep
            FROM hb GROUP BY band, bkey),
    mem AS (
        SELECT DISTINCT hb.doc_id, rep.rep
        FROM hb JOIN rep USING (band, bkey)
        WHERE hb.doc_id <> rep.rep
    ),
    ver AS (
        SELECT doc_id, round(inter * 1.0 / uni, 4) AS j
        FROM (SELECT mem.doc_id, {duck_jaccard("sm", "sr")}
              FROM mem JOIN sets sm ON sm.doc_id = mem.doc_id
                       JOIN sets sr ON sr.doc_id = mem.rep)
    ),
    per_doc AS (
        SELECT doc_id, max(j) AS best_j,
               max(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS is_dup
        FROM ver GROUP BY doc_id
    ),
    acct AS (SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets FROM hot)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(p.is_dup) AS BIGINT) AS n_dup_members,
           max(p.best_j) AS max_rep_jaccard,
           acct.n_hot_buckets
    FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    CROSS JOIN acct
    GROUP BY d.lang, acct.n_hot_buckets ORDER BY d.lang
    """,
)
def hot_bucket_rep_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-based dedup of the HOT-bucket residue — the
    consumer of `minhash_lsh_capped`'s cut accounting: band buckets
    deeper than the cap (2, the same binding cutoff) are not
    pairwise-enumerated; instead each bucket elects its min
    doc_id as REPRESENTATIVE and every other member verifies exact
    Jaccard against the representative only. Per member the best
    representative Jaccard decides duplication — the standard
    cluster-representative move (SemDeDup's within-cluster discipline
    applied to LSH hot buckets), reported per lang with the hot-bucket
    count as the accounting column.

    Why this composes with the cap: SCALING.md r12 measured that a
    syndicated cohort concentrates ~70% of its docs on ONE (band,bkey)
    per band (138,953-deep at 10M docs — 4e10 pairwise candidates);
    rep-verification makes that bucket cost k-1 = 138,952 comparisons
    instead of k(k-1)/2 ≈ 9.7e9. A member within 0.5 Jaccard of the
    boilerplate representative is the duplicate mass the pairwise pass
    was never going to enumerate anyway.

    Float parity: jaccard is the shared inter/uni integer expression
    rounded at 4dp; per-doc best_j is a max over identical grids;
    counts are exact integers; max only — no off-grid summation
    exists anywhere in the output.

    Scale: the band index comes from the materialized
    `_minhash_bands_store` (the deployment shape — landed once,
    probed by all hot-bucket consumers); census/rep election are one
    groupBy each on (band, bkey); the verify join is Σ(k-1) rows —
    LINEAR in hot-bucket membership, cap-independent; docs are
    semi-join-pruned to members BEFORE shingling; the doc->lang join
    is a fact-side projection."""
    from ..core.session import scaled_width

    cap = 2
    d = table(spark, sf_dir, "documents")
    bands = cached(_minhash_bands_store(spark, sf_dir))
    # census cached: hot feeds BOTH the member join and the accounting
    # count (the sibling minhash_lsh_capped caches the identical frame
    # for the same dual consumption - r12 review)
    census = (
        bands.groupBy("band", "bkey")
        .agg(F.count("*").alias("k"))
        .coalesce(scaled_width(spark))
        .cache()
    )
    hot = census.where(F.col("k") > cap).select("band", "bkey")
    hb = bands.join(hot, ["band", "bkey"])
    rep = hb.groupBy("band", "bkey").agg(F.min("doc_id").alias("rep"))
    # mem feeds both the id prune and the verify join: cached so the
    # hot-bucket join runs once
    mem = (
        hb.join(rep, ["band", "bkey"])
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("m_doc"), F.col("rep").alias("m_rep"))
        .distinct()
        .coalesce(scaled_width(spark))
        .cache()
    )
    exact, _ = exact_jaccard(mem, d, scaled_width(spark), SHINGLE_SET)
    ver = exact.select(
        "m_doc", F.round(F.col("inter") * 1.0 / F.col("uni"), 4).alias("j")
    )
    per_doc = ver.groupBy("m_doc").agg(
        F.max("j").alias("best_j"),
        F.max((F.col("j") >= 0.5).cast("int")).alias("is_dup"),
    )
    acct = hot.agg(F.count("*").cast("bigint").alias("n_hot_buckets"))
    return (
        per_doc.join(d.select("doc_id", "lang"), per_doc.m_doc == F.col("doc_id"))
        .crossJoin(F.broadcast(acct))
        .groupBy("lang", "n_hot_buckets")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("is_dup").cast("bigint").alias("n_dup_members"),
            F.max("best_j").alias("max_rep_jaccard"),
        )
        .select(
            "lang", "n_members", "n_dup_members", "max_rep_jaccard",
            "n_hot_buckets",
        )
        .orderBy("lang")
    )


@prestaged("minhash_bands_store")
def _minhash_bands_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, band, bkey) MinHash band index as a MATERIALIZED,
    corpus-fingerprinted parquet store — the pair-graph-store pattern
    applied to the band index itself: at 100 TB the dedup pipeline
    lands the band index once per corpus release (REPARTITIONED BY
    (band, bkey), the store write rule, so probes are bucket-local)
    and the hot-bucket consumers (`minhash_lsh_capped`,
    `hot_bucket_rep_dedup`) read the table instead of re-deriving the
    shingle→signature→band pipeline per analysis. `minhash_lsh_pairs`
    and `minhash_band_stats` stay on the FRESH pipeline so its
    end-to-end cost remains measured in the bench; the md5-derived
    derivation is deterministic, so cached and fresh reads are
    row-identical (pinned by ``test_bands_store_matches_fresh``)."""
    return _fingerprinted_store(
        spark, sf_dir, "bands", "bands-v4",
        lambda: band_frame(
            minhash_signatures(table(spark, sf_dir, "documents"))
        ),
        schema="doc_id bigint, band int, bkey string",
        keys=("band", "bkey"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup: the CCNet discipline (Wenzek et al. 2020,
# "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
# Data") — dedup the corpus at PARAGRAPH granularity, first occurrence
# wins, so boilerplate shared across otherwise-distinct documents is
# counted (and removable) without dropping whole docs. Reference scope:
# gero0/bigdata_imgprocessing has no text dedup at all; this extends the
# dedup family the same way minhash/simhash do.
# ---------------------------------------------------------------------------

@query(
    "paragraph_dedup_stats",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    ch AS ({duck_para_chunks("doc_id, lang")}),
    marked AS (
        SELECT doc_id, lang,
               CASE WHEN row_number() OVER (
                   PARTITION BY chunk ORDER BY doc_id, chunk_no) = 1
                    THEN 1 ELSE 0 END AS keep
        FROM ch
    ),
    per_doc AS (
        SELECT doc_id, lang, count(*) AS n_ch, sum(keep) AS n_keep
        FROM marked GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ch) AS BIGINT) AS n_chunks,
           CAST(sum(n_ch - n_keep) AS BIGINT) AS n_dup_chunks,
           CAST(sum(CASE WHEN n_keep = n_ch THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_all_unique,
           round(sum(n_ch - n_keep) * 1.0 / sum(n_ch), 6) AS dup_frac
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup audit (CCNet, Wenzek et al.
    2020): split every document into non-overlapping 8-word
    units, keep only the globally FIRST occurrence of each distinct
    unit (ordered by (doc_id, chunk_no) — deterministic and
    replayable), and report per lang how much of the corpus is
    paragraph-level boilerplate: doc/chunk counts, duplicated-chunk
    count, docs untouched by the pass, and the duplicated fraction as
    ONE int/int division rounded at 6dp (the float-parity rule).

    Scale: units shuffle as 8-byte xxhash64 keys, never the ~50-char
    strings (the `_ngram_posting_lists` discipline; injectivity on the
    observed vocabulary is guarded by the corpus-wide collision test
    family). First-occurrence election is a map-side-combinable
    min(struct(doc_id, chunk_no)) groupBy — skew-IMMUNE for the
    election itself; the mark-back join on the same hash key is a
    plain equi-join, so a web-scale hot paragraph ("subscribe to our
    newsletter" x 10M) is handled by AQE's skew-join split, which a
    window row_number() formulation (one sorted partition per hot
    paragraph) would rule out. Both shuffles share the hash key, so
    the join reuses the groupBy's partitioning."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )
    ch = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.expr(para_units_sql("w"))).alias("chunk_no", "h"),
    )
    first = ch.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_no")).alias("f")
    )
    marked = ch.join(first, "h").select(
        "doc_id",
        "lang",
        (
            (F.col("doc_id") == F.col("f.doc_id"))
            & (F.col("chunk_no") == F.col("f.chunk_no"))
        )
        .cast("long")
        .alias("keep"),
    )
    per_doc = marked.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_ch"), F.sum("keep").alias("n_keep")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_ch").cast("bigint").alias("n_chunks"),
            F.sum(F.col("n_ch") - F.col("n_keep"))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum((F.col("n_keep") == F.col("n_ch")).cast("long"))
            .cast("bigint")
            .alias("n_docs_all_unique"),
            F.round(
                F.sum(F.col("n_ch") - F.col("n_keep"))
                * 1.0
                / F.sum("n_ch"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("lang")
    )
