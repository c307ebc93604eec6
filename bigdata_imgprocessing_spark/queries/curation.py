"""Training-data curation over ``documents``: deterministic dataset
splitting, overlapping-window chunking, and fixed-order sequence packing
— the three ops between "filtered corpus" and "batches a trainer reads"
that the reference's pipeline (image corpus -> per-image features ->
grouped stats) never needed but a 100 TB text pipeline always does.

All randomness is hash-derived (the 40-bit md5 key ``h40`` and the
split ``split_of`` of functions/helpers.py) so every assignment is a pure
function of the row — reproducible across runs, engines, and cluster
sizes, and re-runnable on an incrementally grown corpus without
reshuffling previously assigned rows.

Scale notes per query are in the docstrings; the common theme is that
split and chunk are map-side only (no shuffle before the final
aggregation), while packing bounds its sort width by sharding the
window key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.catalog import table
from ..core.registry import query
from ..core.session import cached
from ..functions.helpers import (
    duck_h40,
    duck_split,
    h40,
    ordered_fold_sum,
    split_of,
)
from ..operators.components import DUCK_CLOSURE, DUCK_SYM_EDGES
from ..operators.neardup import (
    DUCK_PAIRS_CTES,
    WORDGRAM_N,
    duck_wordgram_5h,
    wordgram_hashes,
)
from ..operators.similarity import duck_cosine, norm, rounded_cosine

# ---------------------------------------------------------------------------


@query(
    "doc_split_stats",
    oracle=f"""
    WITH assigned AS (
        SELECT lang,
               {duck_split("doc_id")} AS split,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY lang, split
    """,
)
def doc_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by hashing the stable
    document id, with per-(lang, split) doc and token accounting.

    The hash-threshold construction is the scale-correct way to split:
    no global shuffle or sort, no sampling state, and adding new
    documents never moves an existing one between splits. The whole
    query is one narrow projection plus a single grouped-agg shuffle on
    a low-cardinality key (langs x 3)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            split_of(F.col("doc_id")).alias("split"),
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------

_CHUNK = 100  # tokens per chunk
_STRIDE = 80  # chunk start step -> 20-token overlap


@query(
    "doc_chunk_windows",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), chunks AS (
        SELECT doc_id, lang, n_tokens,
               unnest(generate_series(0, (n_tokens - 1) // {_STRIDE})) AS chunk_id
        FROM sized
    )
    SELECT doc_id, lang, chunk_id,
           least({_CHUNK}, n_tokens - chunk_id * {_STRIDE}) AS chunk_len
    FROM chunks
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (chunk 100 tokens, stride 80 -> 20
    overlap): one output row per chunk, the UDTF/flat-map shape done with
    built-in ``sequence`` + ``explode`` so it stays inside whole-stage
    codegen — no Python, no shuffle at all (narrow row expansion only).

    At scale the expansion factor is bounded by max_doc_tokens / stride
    per input row, so output partition sizes stay proportional to input
    partition sizes; a trainer-facing variant would follow with
    ``substring_index``-style token slicing to materialize chunk text,
    which is the same narrow map."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    chunks = sized.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n_tokens") - 1) / _STRIDE))
        ).alias("chunk_id"),
    )
    return chunks.select(
        "doc_id",
        "lang",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.least(
            F.lit(_CHUNK), F.col("n_tokens") - F.col("chunk_id") * _STRIDE
        )
        .cast("bigint")
        .alias("chunk_len"),
    )


# ---------------------------------------------------------------------------

_PACK_TOKENS = 2048  # context-window budget per pack
_PACK_SHARDS = 8  # parallel packing streams per lang


@query(
    "doc_pack_stats",
    oracle=f"""
    WITH sized AS (
        SELECT lang,
               {duck_h40("CAST(doc_id AS VARCHAR) || '_shard'")} % {_PACK_SHARDS} AS shard,
               doc_id,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT lang, shard, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
                   // {_PACK_TOKENS} AS pack_id
        FROM sized
    ), per_pack AS (
        SELECT lang, shard, pack_id, sum(n_tokens) AS pack_tokens,
               count(*) AS docs_in_pack
        FROM packed GROUP BY lang, shard, pack_id
    )
    SELECT lang,
           count(*) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
           max(docs_in_pack) AS max_docs_per_pack,
           round(sum(pack_tokens) * 1.0 / (count(*) * {_PACK_TOKENS}), 4) AS fill_ratio
    FROM per_pack GROUP BY lang
    """,
)
def doc_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-order sequence packing: concatenate documents in stable
    (doc_id) order and cut every 2048 tokens; a document belongs to the
    pack its first token lands in. Reports packs, fill ratio, and the
    densest pack per language.

    The running-sum window is the scale hazard here: partitioning by
    ``lang`` alone caps parallelism at n_langs forever. So the window
    key is (lang, shard) with a hash-derived shard — {_PACK_SHARDS}
    independent packing streams per language (at 100 TB you raise
    shards to O(cluster cores); the cost is at most one underfull pack
    per stream, negligible fill-ratio loss at scale). Plan: one hash
    shuffle on (lang, shard), in-partition sort for the window, then
    two grouped aggs that reuse the same partitioning map-side."""
    d = table(spark, sf_dir, "documents")
    sized = d.select(
        "lang",
        (
            h40(F.concat(F.col("doc_id").cast("string"), F.lit("_shard")))
            % _PACK_SHARDS
        ).alias("shard"),
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.select(
        "lang",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_TOKENS).alias(
            "pack_id"
        ),
    )
    per_pack = packed.groupBy("lang", "shard", "pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.count("*").alias("docs_in_pack"),
    )
    return per_pack.groupBy("lang").agg(
        F.count("*").alias("n_packs"),
        F.sum("pack_tokens").alias("total_tokens"),
        F.max("docs_in_pack").alias("max_docs_per_pack"),
        F.round(
            F.sum("pack_tokens") / (F.count("*") * F.lit(_PACK_TOKENS)), 4
        ).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------


@query(
    "stratified_sample_stats",
    oracle=f"""
    WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    tgt AS (SELECT min(c) AS t FROM cnt),
    keep AS (
        SELECT d.lang
        FROM documents d JOIN cnt ON d.lang = cnt.lang CROSS JOIN tgt
        WHERE {duck_h40("CAST(doc_id AS VARCHAR) || '_sample'")} % 1000000 * 1.0 / 1000000
              < tgt.t * 1.0 / cnt.c
    )
    SELECT cnt.lang,
           cnt.c AS n_docs,
           coalesce(k.n, 0) AS n_sampled
    FROM cnt LEFT JOIN (SELECT lang, count(*) AS n FROM keep GROUP BY lang) k
      ON cnt.lang = k.lang
    """,
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing by deterministic stratified down-sampling: every
    language is sampled down toward the smallest language's document
    count (rate_lang = min_count / count_lang), with membership decided
    by a pure hash of the stable doc_id — reproducible across runs,
    engines, and cluster sizes, and stable under corpus growth (an
    existing doc's keep/drop never flips when new docs arrive; only the
    rates move).

    Scale shape: one count aggregation on the lang key, broadcast of the
    per-lang rates (|langs| rows) back onto the corpus as a plain
    filter — no sort, no per-group reservoir state, unlike sampleBy
    whose seeds don't survive re-partitioning deterministically."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    # the |langs|-row rate frame is CACHED because it feeds three
    # consumers (the sampling filter, the final report's left side, and
    # — via the whole-frame window — the min-count target); deriving
    # each from the uncached groupBy re-planned the corpus scan per
    # consumer (4 scans; psi-class trap, removed r8). Two scans remain:
    # the count pass and the filter pass — the inherent minimum.
    cnt = (
        d.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .withColumn("t", F.min("c").over(Window.partitionBy()))
        .cache()
    )
    u = (
        h40(F.concat(F.col("doc_id").cast("string"), F.lit("_sample"))) % 1_000_000
    ) / F.lit(1_000_000.0)
    kept = (
        d.join(F.broadcast(cnt), "lang")
        .where(u < F.col("t") / F.col("c"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    return (
        cnt.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("c").alias("n_docs"),
            F.coalesce("n", F.lit(0)).alias("n_sampled"),
        )
    )


@query(
    "doc_quality_filter",
    oracle="""
    WITH m AS (
        SELECT doc_id, lang,
               0.5 * least(1.0, len(string_split(text, ' ')) / 50.0)
             + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' '))) AS quality
        FROM documents
    ), ranked AS (
        SELECT lang, quality,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY quality, doc_id) AS pr
        FROM m
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE pr >= 0.25) AS n_kept,
           round(avg(quality) FILTER (WHERE pr >= 0.25), 4) AS kept_avg_quality,
           round(min(quality) FILTER (WHERE pr >= 0.25), 4) AS kept_min_quality
    FROM ranked GROUP BY lang
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality filtering: drop each language's bottom
    quartile by the doc_quality_scores signal (rank-based cut, so it
    adapts per language instead of using one global threshold).

    percent_rank is used here for exact cross-engine parity (integer
    rank arithmetic). At 100 TB the per-lang window sort is the wrong
    plan — the production form computes the per-lang 25th-percentile
    threshold with approx_percentile (two fully-parallel passes, no
    sort) and broadcast-joins it back as a plain filter; same
    semantics up to sketch error on the cut line."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    m = d.select(
        "doc_id",
        "lang",
        (
            0.5 * F.least(F.lit(1.0), F.size(toks) / 50.0)
            + 0.5 * (F.size(F.array_distinct(toks)) / F.size(toks))
        ).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    ranked = m.select("lang", "quality", F.percent_rank().over(w).alias("pr"))
    kept = F.col("pr") >= 0.25
    return ranked.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.round(F.avg(F.when(kept, F.col("quality"))), 4).alias("kept_avg_quality"),
        F.round(F.min(F.when(kept, F.col("quality"))), 4).alias("kept_min_quality"),
    )


# ---------------------------------------------------------------------------

@query(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               {duck_split("doc_id")} AS split
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, split,
               {duck_wordgram_5h()}
                   AS gram_h
        FROM (
            SELECT doc_id, lang, split, toks,
                   unnest(generate_series(0, len(toks) - {WORDGRAM_N})) AS i
            FROM assigned WHERE split != 'val'
        )
    ), train_grams AS (
        SELECT DISTINCT gram_h FROM grams WHERE split = 'train'
    ), contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM grams g JOIN train_grams tg USING (gram_h)
        WHERE g.split = 'test'
    )
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_test_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
           round(count(c.doc_id) * 1.0 / count(*), 4) AS contamination_rate
    FROM assigned a LEFT JOIN contaminated c USING (doc_id)
    WHERE a.split = 'test'
    GROUP BY a.lang
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination check: flag test-split documents that
    share any word 5-gram with the train split — the benchmark-leakage
    scan every training-data pipeline runs before shipping an eval set.

    Uses the SAME hash split as ``doc_split_stats``, ``split_of``
    (functions/helpers.py; one split function across the whole
    pipeline is itself the point: the contamination scan must see
    exactly the split the trainer will).

    Scale design: grams are hashed to a 16-hex-char key BEFORE the
    shuffle, so the semi join moves fixed 16-byte keys instead of raw
    40-char n-grams, and the train side is distinct-reduced map-side
    before the exchange. The join is a left-semi on the hash — at 100 TB
    the train-gram set becomes a bloom filter broadcast (or a DF-cutoff
    pruned index like ``ngram_jaccard_hist``) probed map-side, turning
    the scan into a shuffle-free pass over test docs; the exact-join
    form here is the verification-grade fallback. Hash collisions
    (2^-64) only ever ADD a flagged doc — conservative in the right
    direction for decontamination.
    """
    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        "doc_id",
        "lang",
        split_of(F.col("doc_id")).alias("split"),
        F.split(F.col("text"), " ").alias("toks"),
    ).where(F.col("split") != "val")
    grams = assigned.select(
        "doc_id",
        "split",
        F.explode(wordgram_hashes(F.col("toks"))).alias("gram_h"),
    )
    train_grams = grams.where(F.col("split") == "train").select("gram_h").distinct()
    contaminated = (
        grams.where(F.col("split") == "test")
        .join(train_grams, "gram_h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_docs = assigned.where(F.col("split") == "test").select("doc_id", "lang")
    return (
        test_docs.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_test_docs"),
            F.count("hit").alias("n_contaminated"),
            F.round(F.count("hit") / F.count("*"), 4).alias("contamination_rate"),
        )
    )



def _bitset_decontam_stats(
    spark: SparkSession,
    grams: DataFrame,
    gram_col: str,
    bucket_fn,
    test_docs: DataFrame,
) -> DataFrame:
    """Shared two-phase decontamination machinery for the bloom-bitset
    family (`decontam_bloom_prefilter` fresh-gram path,
    `decontam_store_prefilter` store path): distinct TRAIN vocabulary
    -> 64-bit-word bitset sized from the build side's cardinality ->
    map-side probe of every test gram -> exact-membership audit ->
    per-lang gram stats, survivor-derived contamination, and the two
    audited global booleans. ``grams`` carries (doc_id, lang, split,
    <gram_col>); ``bucket_fn(m_slots)`` returns the bucket Column for
    the variant's key type (string key: pmod(xxhash64, m); int64 key:
    the key's own low bits). Factored in round 11 so an
    audit-discipline fix (e.g. VERDICT r9 item 5's 'survivor
    verification is a filter, not a second join') can never land in
    one deployment path while the other drifts."""
    import math as _math

    # train side: distinct-reduced once; feeds the size count, the
    # filter build, and the exact verification join
    train = cached(
        grams.where(F.col("split") == "train")
        .select(gram_col)
        .distinct()
    )
    n_train = train.count()  # 1-scalar job: real deployments size the
    # filter from the build side's cardinality exactly like this
    m_slots = 1 << max(13, _math.ceil(_math.log2(4 * max(n_train, 1))))
    bucket = bucket_fn(m_slots)
    # a REAL bitset, not a sorted member array: 64-bit words keyed by
    # word index (M/64 entries, ~8 bytes/word), probed O(1) by
    # element_at + mask. The member-array form (bloom_prefilter_stats'
    # ~5k keys) degrades to a 200k-element linear array_contains scan
    # PER GRAM at this vocabulary — measured 15.7 s vs ~2 s for the
    # bitset at sf0.1 — and bit_count over the words gives the fill
    # ratio for free.
    words = (
        train.select(bucket.alias("bkt"))
        .select(
            F.shiftright("bkt", 6).cast("int").alias("wi"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bkt % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("wi")
        .agg(F.bit_or("bit").alias("w"))
    )
    sketch = words.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("wi", "w")))
        ).alias("bm"),
        F.sum(F.bit_count("w")).alias("n_used"),
    )
    probed = (
        grams.where(F.col("split") == "test")
        .select("doc_id", "lang", gram_col)
        .crossJoin(F.broadcast(sketch))
        .withColumn("bkt", bucket)
        .withColumn(
            "hit",
            F.expr(
                "(coalesce(element_at(bm, CAST(shiftright(bkt, 6) AS INT)),"
                " CAST(0 AS BIGINT))"
                " & shiftleft(CAST(1 AS BIGINT), CAST(bkt % 64 AS INT))) != 0"
            ),
        )
        .withColumn("fill", F.col("n_used") / F.lit(float(m_slots)))
        # DROP the filter map before anything materializes: a cached
        # row carrying the whole bitset would replicate it per gram
        # (measured: OOM at sf0.1 with the array form) — the probe
        # result is two scalars, the filter lives once in the broadcast
        .select("doc_id", "lang", gram_col, "hit", "fill")
    )
    # audit-grade membership for EVERY test gram (the booleans check
    # the filter's guarantees instead of assuming them)
    aud = probed.join(
        train.withColumn("m", F.lit(True)), gram_col, "left"
    ).withColumn("m", F.coalesce("m", F.lit(False)))
    aud = cached(aud)
    glob = aud.agg(
        (F.sum((F.col("m") & ~F.col("hit")).cast("long")) == 0).alias(
            "no_false_negatives"
        ),
        (
            F.abs(
                F.sum((~F.col("m") & F.col("hit")).cast("long"))
                / F.greatest(F.sum((~F.col("m")).cast("long")), F.lit(1))
                - F.first("fill")
            )
            <= 0.10
        ).alias("fp_within_expected"),
    )
    g_stats = aud.groupBy("lang").agg(
        F.count("*").alias("n_test_grams"),
        F.sum(F.col("m").cast("long")).alias("n_member_grams"),
    )
    # contamination from SURVIVORS only — the deployed two-phase shape.
    # The exact-membership column `m` is already on the cached audit
    # frame (one probe join serves the booleans, the per-lang gram
    # stats, AND this), so the survivors' verification is a filter, not
    # a second join against the train store: hit & m IS "survived the
    # filter and confirmed by the exact check". (VERDICT r9 item 5 —
    # the earlier form re-joined train here, paying the exact join a
    # second time.)
    contaminated = (
        aud.where(F.col("hit") & F.col("m"))
        .select("doc_id")
        .distinct()
        .withColumn("c", F.lit(1))
    )
    d_stats = (
        test_docs.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_test_docs"),
            F.count("c").alias("n_contaminated"),
            F.round(F.count("c") / F.count("*"), 4).alias(
                "contamination_rate"
            ),
        )
    )
    return (
        d_stats.join(g_stats, "lang", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            "lang",
            "n_test_docs",
            "n_contaminated",
            "contamination_rate",
            F.coalesce("n_test_grams", F.lit(0)).cast("bigint").alias(
                "n_test_grams"
            ),
            F.coalesce("n_member_grams", F.lit(0)).cast("bigint").alias(
                "n_member_grams"
            ),
            "no_false_negatives",
            "fp_within_expected",
        )
    )


@query(
    "decontam_bloom_prefilter",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               {duck_split("doc_id")} AS split
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, split,
               {duck_wordgram_5h()}
                   AS gram_h
        FROM (
            SELECT doc_id, lang, split, toks,
                   unnest(generate_series(0, len(toks) - {WORDGRAM_N})) AS i
            FROM assigned WHERE split != 'val'
        )
    ), train_grams AS (
        SELECT DISTINCT gram_h FROM grams WHERE split = 'train'
    ), test_grams AS (
        SELECT doc_id, lang, gram_h FROM grams WHERE split = 'test'
    ), g_stats AS (
        SELECT t.lang,
               CAST(count(*) AS BIGINT) AS n_test_grams,
               CAST(count(tg.gram_h) AS BIGINT) AS n_member_grams
        FROM test_grams t LEFT JOIN train_grams tg USING (gram_h)
        GROUP BY t.lang
    ), contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM test_grams t JOIN train_grams tg USING (gram_h)
    )
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_test_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
           round(count(c.doc_id) * 1.0 / count(*), 4) AS contamination_rate,
           CAST(coalesce(any_value(g.n_test_grams), 0) AS BIGINT)
               AS n_test_grams,
           CAST(coalesce(any_value(g.n_member_grams), 0) AS BIGINT)
               AS n_member_grams,
           true AS no_false_negatives,
           true AS fp_within_expected
    FROM assigned a
    LEFT JOIN contaminated c USING (doc_id)
    LEFT JOIN g_stats g ON g.lang = a.lang
    WHERE a.split = 'test'
    GROUP BY a.lang
    """,
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH `decontam_ngram_overlap`'s docstring promises,
    implemented: the train-gram set becomes a broadcast Bloom filter
    (1-hash: the distinct bucket set over M slots, M = the next power
    of two >= 4x the distinct train grams — sized like a real
    deployment, from the build side's cardinality) probed MAP-SIDE
    over every test gram; only survivors reach the exact semi join, so
    at 100 TB the big side crosses no shuffle for the ~fill-ratio
    fraction of grams the filter rejects. The driver hash pins (a) the
    final contamination per language computed FROM THE SURVIVORS —
    equal to the exact-join answer, which is only true if the filter
    has no false negatives, (b) exact test/member gram-occurrence
    counts, and (c) two audited booleans: members are never rejected
    (structural, checked not assumed) and the measured false-positive
    rate among non-members sits within 10 points of the fill ratio
    (the 1-hash filter's expected rate; computed globally so small
    per-language samples can't flap it). Bucket values and raw
    probe-hit counts stay OUT of the hash — they are filter-layout
    specific (same audit discipline as `bloom_prefilter_stats`)."""
    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        "doc_id",
        "lang",
        split_of(F.col("doc_id")).alias("split"),
        F.split(F.col("text"), " ").alias("toks"),
    ).where(F.col("split") != "val")
    grams = assigned.select(
        "doc_id",
        "lang",
        "split",
        F.explode(wordgram_hashes(F.col("toks"))).alias("gram_h"),
    )
    test_docs = assigned.where(F.col("split") == "test").select(
        "doc_id", "lang"
    )
    return _bitset_decontam_stats(
        spark,
        grams,
        "gram_h",
        lambda m: F.pmod(F.xxhash64("gram_h"), F.lit(m)),
        test_docs,
    )


@query(
    "decontam_store_prefilter",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               {duck_split("doc_id")} AS split
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, split,
               array_to_string(toks[i + 1:i + {WORDGRAM_N}], ' ') AS gram
        FROM (
            SELECT doc_id, lang, split, toks,
                   unnest(generate_series(0, len(toks) - {WORDGRAM_N})) AS i
            FROM assigned WHERE split != 'val'
        )
    ), train_grams AS (
        SELECT DISTINCT gram FROM grams WHERE split = 'train'
    ), test_grams AS (
        SELECT doc_id, lang, gram FROM grams WHERE split = 'test'
    ), g_stats AS (
        SELECT t.lang,
               CAST(count(*) AS BIGINT) AS n_test_grams,
               CAST(count(tg.gram) AS BIGINT) AS n_member_grams
        FROM test_grams t LEFT JOIN train_grams tg USING (gram)
        GROUP BY t.lang
    ), contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM test_grams t JOIN train_grams tg USING (gram)
    )
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_test_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
           round(count(c.doc_id) * 1.0 / count(*), 4) AS contamination_rate,
           CAST(coalesce(any_value(g.n_test_grams), 0) AS BIGINT)
               AS n_test_grams,
           CAST(coalesce(any_value(g.n_member_grams), 0) AS BIGINT)
               AS n_member_grams,
           true AS no_false_negatives,
           true AS fp_within_expected
    FROM assigned a
    LEFT JOIN contaminated c USING (doc_id)
    LEFT JOIN g_stats g ON g.lang = a.lang
    WHERE a.split = 'test'
    GROUP BY a.lang
    """,
)
def decontam_store_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-BACKED decontamination prefilter: the same two-phase shape
    as ``decontam_bloom_prefilter`` (broadcast Bloom bitset probed
    map-side, survivors verified by the exact membership join) but fed
    from the landed word-5-gram store (``_wordgram_store``,
    queries/dedup.py) instead of a fresh tokenize+md5 derivation. The
    hot path therefore reads fixed 8-byte xxhash64 keys from columnar
    parquet — no text scan, no per-gram string hashing — the way a
    deployment that lands gram occurrences once per corpus release and
    runs MANY decontamination/coverage consumers against them would.
    The split is decided by a pure projection on doc_id (the identical
    bucket rule as the fresh variant), so the store needs no
    re-landing when splits change.

    The oracle pins COUNT equalities only (per-lang gram occurrences,
    member occurrences, contaminated docs) with RAW gram strings — the
    collision-free contract: 64-bit keys over the ~1e6-gram sf0.1
    vocabulary collide with probability ~3e-8 (birthday bound), and a
    collision would show up here as a count mismatch, making this
    query double as the store's collision audit. The audited booleans
    (members never rejected; measured fp rate within 10 points of the
    fill ratio) follow the ``decontam_bloom_prefilter`` discipline.

    Scale: the store read is pruned to (doc_id, g) columns; the gram
    side joins the 3-column doc-split dim (broadcast at test scale,
    doc_id-co-partitioned at 100 TB); the filter is built from the
    distinct TRAIN vocabulary and sized from the build side's
    cardinality; only filter survivors reach the exact join. The
    bucket is the key's own low bits (the store key IS already a
    64-bit hash — re-hashing would add cost and no independence)."""
    from .dedup import _wordgram_store

    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", "lang", split_of(F.col("doc_id")).alias("split")
    ).where(F.col("split") != "val")
    grams = (
        _wordgram_store(spark, sf_dir)
        .select("doc_id", "g")
        .join(docs, "doc_id")
        .select("doc_id", "lang", "split", "g")
    )
    test_docs = docs.where(F.col("split") == "test").select("doc_id", "lang")
    # power-of-two slot count -> the bucket is a bitwise AND on the
    # store key (already a 64-bit hash — re-hashing would add cost and
    # no independence); two's complement low bits equal pmod for
    # negative hashes
    return _bitset_decontam_stats(
        spark,
        grams,
        "g",
        lambda m: F.col("g").bitwiseAND(F.lit(m - 1)),
        test_docs,
    )


@query(
    "shard_rendezvous_stability",
    oracle=f"""
    WITH sc AS (
        SELECT doc_id, CAST(t.s AS INTEGER) AS s,
               {duck_h40("CAST(doc_id AS VARCHAR) || '_shard_' || CAST(t.s AS VARCHAR)")}
                   AS h
        FROM documents, UNNEST(range(9)) AS t(s)
    ), a8 AS (
        SELECT doc_id, arg_max(s, h) AS shard8 FROM sc WHERE s < 8
        GROUP BY doc_id
    ), a9 AS (
        SELECT doc_id, arg_max(s, h) AS shard9 FROM sc GROUP BY doc_id
    ), j AS (
        SELECT shard8, shard9 FROM a8 JOIN a9 USING (doc_id)
    )
    SELECT shard8 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard9 != shard8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
           (sum(CASE WHEN shard9 != shard8 AND shard9 != 8
                     THEN 1 ELSE 0 END) = 0) AS moves_only_to_new,
           round(sum(CASE WHEN shard9 != shard8 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS churn_rate
    FROM j GROUP BY shard8
    """,
)
def shard_rendezvous_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard assignment + resize-stability audit
    (operators/sharding.py): every document scores shards 0..8 with a
    keyed md5 and lands on the argmax; the layout under 8 shards and
    under 9 shards comes from the SAME score array (argmax over two
    prefixes), and per 8-shard shard the output pins document count,
    how many documents the resize moves, the audited HRW theorem that
    every moved document lands on the NEW shard only
    (``moves_only_to_new`` — checked structurally, not assumed), and
    the measured churn rate (~1/9 in expectation, vs ~8/9 for a
    ``hash % n`` layout). The DuckDB oracle replays the identical
    per-(doc, shard) hash via arg_max.

    Scale: assignment is a pure JVM-side projection — one scan, no
    shuffle until the 8-group rollup, no state; this is the primitive
    that lets a 100 TB corpus add capacity without reshuffling
    history, and the audit quantifies exactly how little moves."""
    from ..operators.sharding import shard_scores

    d = table(spark, sf_dir, "documents").select("doc_id")
    scores = shard_scores(F.col("doc_id"), 9)
    moved = F.col("shard9") != F.col("shard8")
    return (
        d.select(
            F.array_max(F.slice(scores, 1, 8))["s"].alias("shard8"),
            F.array_max(scores)["s"].alias("shard9"),
        )
        .groupBy("shard8")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(moved.cast("long")).cast("bigint").alias("n_moved"),
            (F.sum((moved & (F.col("shard9") != 8)).cast("long")) == 0).alias(
                "moves_only_to_new"
            ),
            F.round(F.sum(moved.cast("long")) / F.count("*"), 4).alias(
                "churn_rate"
            ),
        )
        .select(
            F.col("shard8").alias("shard"),
            "n_docs",
            "n_moved",
            "moves_only_to_new",
            "churn_rate",
        )
    )


@query(
    "pii_scrub_stats",
    oracle="""
    WITH aug AS (
        SELECT lang,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT lang,
               len(regexp_extract_all(text, '[A-Za-z0-9]+@[A-Za-z0-9]+\\.[a-z]+')) AS ne,
               len(regexp_extract_all(text, '\\d{3}-\\d{4}')) AS np,
               length(text)
               - length(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9]+@[A-Za-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
                     '\\d{3}-\\d{4}', '<PHONE>', 'g')) AS removed
        FROM aug
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(ne) AS BIGINT) AS n_emails,
           CAST(sum(np) AS BIGINT) AS n_phones,
           CAST(sum(removed) AS BIGINT) AS chars_removed
    FROM scrubbed GROUP BY lang
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub pass every training-data pipeline runs
    before packing. The synthetic corpus contains no PII, so emails and
    phone-shaped tokens are INJECTED deterministically (pure function of
    doc_id, reproduced identically by the oracle) and then scrubbed with
    the real redaction expressions: regexp_replace to typed placeholder
    tokens, match counts and removed-character accounting per language.

    Everything is JVM-side regexp (whole-stage codegen, no UDF); at
    scale this is a pure map plus one low-cardinality shuffle — the
    scrub cost is a single pass over text bytes, which is the floor for
    any redaction."""
    email_re = "[A-Za-z0-9]+@[A-Za-z0-9]+\\.[a-z]+"
    phone_re = "\\d{3}-\\d{4}"
    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@mail.com")),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    s = aug.select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(email_re)).alias("ne"),
        F.regexp_count(F.col("text"), F.lit(phone_re)).alias("np"),
        (F.length("text") - F.length(scrub)).alias("removed"),
    )
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ne").cast("bigint").alias("n_emails"),
        F.sum("np").cast("bigint").alias("n_phones"),
        F.sum("removed").cast("bigint").alias("chars_removed"),
    )


@query(
    "mixture_sample_stats",
    oracle=f"""
    WITH srcagg AS (
        SELECT source,
               1 + (COALESCE(TRY_CAST(substr(source, 4) AS INTEGER), 0) % 4) AS w,
               count(*) AS n_docs,
               sum(n_chars) AS toks
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(toks) AS tok_total, sum(w) AS w_total FROM srcagg),
    rates AS (
        SELECT source, w, n_docs, toks,
               least(1.0, 0.5 * tok_total * w / w_total / toks) AS rate
        FROM srcagg CROSS JOIN tot
    ),
    kept AS (
        SELECT d.source, count(*) AS n_kept, sum(d.n_chars) AS toks_kept
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {duck_h40("CAST(doc_id AS VARCHAR) || '_mix'")} % 1000000 * 1.0 / 1000000
              < r.rate
        GROUP BY d.source
    )
    SELECT r.source, r.n_docs, round(r.rate, 6) AS target_rate,
           coalesce(k.n_kept, 0) AS n_kept,
           CAST(coalesce(k.toks_kept, 0) AS BIGINT) AS toks_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def mixture_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: sample each source toward a target
    WEIGHT share of a global token budget (here: budget = 50% of corpus
    tokens, weights 1..4 cycling by source index — a stand-in for the
    hand-tuned web/books/code mixture every LLM run pins down).
    Per-source acceptance rate = min(1, budget·w_s/Σw / tokens_s);
    membership is a pure hash of the stable doc_id, so the sample is
    reproducible across runs/engines/cluster sizes and an existing doc's
    keep/drop never flips as the corpus grows — only rates move.

    Scale shape (same as stratified_sample_stats): one per-source
    aggregation (tiny), rates broadcast back onto the corpus as a plain
    filter, one accounting rollup. No sort, no reservoir state, no
    driver-side planning; the heavy path is two corpus scans that a
    100 TB run would fuse by caching the filtered pass it actually
    writes out."""
    d = table(spark, sf_dir, "documents")
    # cache(): srcagg feeds the totals, the rate table, AND (via rates)
    # the broadcast filter — without it the per-source corpus scan runs
    # once per consumer. |sources| rows.
    srcagg = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("toks"))
        # try_cast of the FULL suffix: source names are generator-
        # controlled; a non-numeric suffix (e.g. 'srcNEW') must get the
        # fallback weight, not crash the ANSI cast (variant-corpus
        # net), and the tail must not be length-truncated — a truncated
        # Spark substring would cast where the oracle's full-tail
        # TRY_CAST overflows to NULL, diverging the weights
        .withColumn(
            "w",
            F.lit(1)
            + F.coalesce(
                F.expr("try_cast(substr(source, 4) AS int)"), F.lit(0)
            )
            % 4,
        )
        .coalesce(1)
        .cache()
    )
    tot = srcagg.agg(F.sum("toks").alias("tok_total"), F.sum("w").alias("w_total"))
    rates = srcagg.crossJoin(F.broadcast(tot)).withColumn(
        "rate",
        F.least(
            F.lit(1.0),
            F.lit(0.5) * F.col("tok_total") * F.col("w") / F.col("w_total") / F.col("toks"),
        ),
    )
    u = (
        h40(F.concat(F.col("doc_id").cast("string"), F.lit("_mix"))) % 1_000_000
    ) / F.lit(1_000_000.0)
    kept = (
        d.join(F.broadcast(rates.select("source", "rate")), "source")
        .where(u < F.col("rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("toks_kept"))
    )
    return rates.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_docs",
        F.round("rate", 6).alias("target_rate"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("toks_kept", F.lit(0)).alias("toks_kept"),
    )


@query(
    "fixed_size_group_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {duck_h40("'samp' || CAST(doc_id AS VARCHAR)")},
                            doc_id
               ) AS rn
        FROM documents
    )
    SELECT lang,
           count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sample_chars,
           min(doc_id) AS min_doc_id
    FROM ranked WHERE rn <= 10 GROUP BY lang
    """,
)
def fixed_size_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k per-stratum sampling (k=10 docs per language) — the
    reservoir-sampling contract, deterministic: rank each doc within its
    language by a salted hash (a uniform random permutation both engines
    can replay) and keep rank <= 10. Complements the RATE-based
    ``stratified_sample_stats``: rates can't promise exact counts on
    skewed strata; eval sets and few-shot pools need exactly k. The
    rank-<=-10 window compiles to WindowGroupLimit — per-partition
    top-k heaps per group, so the corpus never sorts globally and only
    ~k rows per (group, partition) reach the window shuffle. At 100 TB
    that is reservoir sampling's merge property, expressed
    declaratively."""
    d = table(spark, sf_dir, "documents")
    h = h40(F.concat(F.lit("samp"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.withColumn("rn", F.row_number().over(w))
    return (
        ranked.where(F.col("rn") <= 10)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sample_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# dedup loads here as an import side effect (it registers its own
# queries first; there is no cycle — dedup never imports curation)
from .dedup import _lsh_pairs_store  # noqa: E402


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}
    SELECT least({duck_split("doc_a")}, {duck_split("doc_b")}) AS split_lo,
           greatest({duck_split("doc_a")}, {duck_split("doc_b")}) AS split_hi,
           count(*) AS n_pairs,
           round(sum(jaccard), 4) AS sum_jaccard
    FROM pairs GROUP BY split_lo, split_hi
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: MinHash-LSH verified near-dup
    pairs (the `minhash_lsh_pairs` pipeline) bucketed by which
    splits their endpoints land in under the SAME hash split as
    `doc_split_stats` — a (train, test) row is evaluation
    contamination the split hash can't prevent (near-dups hash
    independently). This is the audit every pipeline should run
    between splitting and training; `decontam_ngram_overlap` is
    the exact-overlap sibling, this is the near-dup one.

    The split is a pure function of doc_id (md5 bucket), so the
    pair endpoints are labeled with a projection — no join back to
    the corpus; the expensive part is the LSH pair generation the
    audit shares with the dedup path (at scale: run once, feed
    both). Pair categories are least/greatest-normalized so
    (test, train) and (train, test) are one row. The similarity
    mass column is a SUM of the per-pair 4dp jaccards, not their
    mean: averaging already-rounded values lands exactly on .00005
    decimal boundaries where the engines' round() implementations
    legitimately disagree (observed at sf0.01), while sums of 4dp
    multiples have no boundary to disagree on."""
    pairs = _lsh_pairs_store(spark, sf_dir)
    sa = split_of(F.col("doc_a"))
    sb = split_of(F.col("doc_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
            "jaccard",
        )
        .groupBy("split_lo", "split_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("jaccard"), 4).alias("sum_jaccard"),
        )
    )


@query(
    "component_safe_split",
    oracle=f"""
    WITH RECURSIVE {DUCK_PAIRS_CTES}, {DUCK_SYM_EDGES}, {DUCK_CLOSURE},
    labeled AS (
        SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    split_l AS (
        SELECT doc_id, grp, {duck_split("grp")} AS split FROM labeled
    ),
    per_split AS (
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT grp) AS BIGINT) AS n_components
        FROM split_l GROUP BY split
    ),
    audit AS (
        SELECT CAST(coalesce(sum(CASE WHEN ca.split != cb.split
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS comp_cross_pairs,
               CAST(coalesce(sum(CASE WHEN {duck_split("doc_a")} != {duck_split("doc_b")}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS naive_cross_pairs
        FROM pairs p
        JOIN split_l ca ON p.doc_a = ca.doc_id
        JOIN split_l cb ON p.doc_b = cb.doc_id
    )
    SELECT s.split, s.n_docs, s.n_components,
           a.comp_cross_pairs, a.naive_cross_pairs
    FROM per_split s CROSS JOIN audit a
    """,
)
def component_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-SAFE train/val/test assignment — the fix for what
    `split_leakage_audit` measures: hash the near-dup COMPONENT
    representative (LSH verified pairs → ``connected_components``
    closure; singletons are their own representative), not the doc id,
    so every near-dup cluster lands whole in one split and
    train→test contamination is zero BY CONSTRUCTION. Emits per-split
    doc/component counts plus two audit scalars replicated across the
    rows: `comp_cross_pairs` (verified pairs crossing splits under the
    component hash — provably 0, computed anyway as the self-audit) and
    `naive_cross_pairs` (the same pairs under the per-doc hash of
    `doc_split_stats` — the leakage this op eliminates; non-zero on
    this corpus, which keeps the contrast inside the driver hash).

    Scale: pair generation is the shared candidate-bounded LSH path;
    the closure shuffles only the sparse pair graph; split labeling is
    a left join of the corpus against the component map (graph-sized,
    ≪ corpus) plus a pure-projection hash — no extra corpus scan
    beyond the labeling join, and the audit joins touch pairs only.
    The oracle replays the closure as a recursive CTE and the split as
    the same md5 bucket, so hash parity pins both the component
    assignment and the zero-leak contract."""
    from ..operators.components import connected_components

    pairs = (
        _lsh_pairs_store(spark, sf_dir)
        .select("doc_a", "doc_b")
        .cache()
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    d = table(spark, sf_dir, "documents").select("doc_id")
    grp = F.coalesce(F.col("comp"), F.col("doc_id"))
    labeled = (
        d.join(comp, d.doc_id == comp.node, "left")
        .select(
            F.col("doc_id"),
            grp.alias("grp"),
            split_of(grp).alias("split"),
        )
        .cache()
    )
    per_split = labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("grp").alias("n_components"),
    )
    la = labeled.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    lb = labeled.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )
    audit = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .agg(
            F.coalesce(
                F.sum((F.col("sa") != F.col("sb")).cast("long")), F.lit(0)
            ).alias("comp_cross_pairs"),
            F.coalesce(
                F.sum(
                    (
                        split_of(F.col("doc_a")) != split_of(F.col("doc_b"))
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("naive_cross_pairs"),
        )
    )
    return per_split.crossJoin(F.broadcast(audit))





@query(
    "epoch_shuffle_order",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               {duck_h40("CAST(doc_id AS VARCHAR) || ':42'")} AS hv
        FROM documents
    ), sharded AS (
        SELECT doc_id, hv, CAST(hv % 8 AS BIGINT) AS shard,
               row_number() OVER (PARTITION BY hv % 8
                                  ORDER BY hv, doc_id) AS rn
        FROM h
    )
    SELECT shard, count(*) AS n_docs,
           string_agg(CASE WHEN rn <= 3 THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY rn) AS head_docs
    FROM sharded GROUP BY shard
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle — the training-order randomization
    every run must be able to REPRODUCE: global order = seeded hash of
    the stable doc id (seed 42 here; a new epoch is a new seed, giving
    an independent permutation with zero state), sharded for parallel
    readers. The audit emits per-shard sizes plus the first three doc
    ids in shard order, which pins the exact permutation into the
    correctness hash — a nondeterministic shuffle fails the driver
    check by construction.

    Scale: the hash is a map-side projection; shard assignment is its
    low bits, so writing shards is one hash-partitioned exchange and
    the within-shard sort is per-partition (range-partition on the
    hash for globally-sorted output files). No global coordination,
    no RNG state to checkpoint — re-running any shard reproduces
    byte-identical order."""
    d = table(spark, sf_dir, "documents")
    hv = h40(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    h = d.select("doc_id", hv.alias("hv"), (hv % 8).alias("shard"))
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    sharded = h.withColumn("rn", F.row_number().over(w))
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= 3,
                            F.struct("rn", F.col("doc_id").cast("string").alias("sid")),
                        )
                    )
                ),
                lambda s: s.sid,
            ),
            ",",
        ).alias("head_docs"),
    )


@query(
    "corpus_diff_stats",
    oracle="""
    WITH v2 AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 17 != 3
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
               lang, text || ' new'
        FROM documents WHERE doc_id % 11 = 5
    ), d AS (
        SELECT coalesce(a.lang, b.lang) AS lang,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN md5(a.text) != md5(b.text) THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT lang, status, count(*) AS n_docs FROM d GROUP BY lang, status
    """,
)
def corpus_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release diff — what changed between corpus v1 and v2:
    full outer join on the stable id, content equality via md5 of the
    text (at 100 TB you diff HASHES, never the payloads — the join
    carries 16 bytes per side, not documents), rows classified
    added / removed / changed / unchanged and audited per language.
    The v2 corpus is derived deterministically here (drops, edits, and
    re-keyed additions) so the whole diff sits under the correctness
    hash; in production v2 is last release's manifest.

    Scale: one id-keyed shuffle join between two narrow
    (id, lang, hash) projections; hashing is map-side; the audit agg
    is low-cardinality. Nothing content-sized crosses the network —
    the reason manifest diffs of 100 TB corpora finish in minutes."""
    d = table(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("mxk"))
    v2 = (
        d.where(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            "lang",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 11 == 5)
            .crossJoin(F.broadcast(mx))
            .select(
                (F.col("doc_id") + F.col("mxk")).alias("doc_id"),
                "lang",
                F.concat("text", F.lit(" new")).alias("text"),
            )
        )
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.md5("text").alias("h_a"),
    )
    b = v2.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.md5("text").alias("h_b"),
    )
    j = a.join(b, a.id_a == b.id_b, "full_outer")
    status = (
        F.when(F.col("id_a").isNull(), F.lit("added"))
        .when(F.col("id_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce("lang_a", "lang_b").alias("lang"),
            status.alias("status"),
        )
        .groupBy("lang", "status")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS n_rows,
               count(DISTINCT c_mktsegment) AS n_seg
        FROM customer GROUP BY 1, 2
    )
    SELECT c_nationkey AS nation_key,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(n_rows) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_groups,
           CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           CAST(sum(CASE WHEN n_rows >= 2 AND n_seg = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_homogeneous
    FROM g GROUP BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) before releasing a training extract: treat (nation,
    1000-unit balance band) as the quasi-identifier, market segment as
    the sensitive attribute, and report per nation how many QI groups
    fall below k=5 (re-identification risk: the rows a release would
    have to suppress or generalize), how many rows sit in them, and
    how many groups are sensitive-homogeneous (size >= 2 with a single
    segment — attribute disclosure even when k holds). The governance
    sibling of `user_erasure_audit`: that one removes a known person,
    this one measures whether an "anonymized" extract actually hides
    everyone else.

    Scale: two-level aggregation — QI-keyed groupBy with map-side
    partials (the distinct-segment count is per QI group, never
    global), then a nation rollup; one scan, no joins, output is
    nation-count-sized. The balance band is floor of an IEEE double
    quotient — a pure function of the stored double, bit-identical in
    both engines."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("c_mktsegment").alias("n_seg"),
    )
    return g.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count("*").alias("n_groups"),
        F.min("n_rows").alias("min_group_size"),
        F.sum((F.col("n_rows") < 5).cast("long")).alias("n_small_groups"),
        F.sum(
            F.when(F.col("n_rows") < 5, F.col("n_rows")).otherwise(F.lit(0))
        ).alias("n_rows_at_risk"),
        F.sum(
            ((F.col("n_rows") >= 2) & (F.col("n_seg") == 1)).cast("long")
        ).alias("n_homogeneous"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture plan: alpha-sampling epochs per source —
# the budget-planning member of the mixture family (mixture_sample_stats
# draws a fixed mixture, dsir_select reweights by importance; this
# computes the PLAN: shares and epochs under temperature smoothing).
# ---------------------------------------------------------------------------


@query(
    "mixture_epoch_plan",
    oracle="""
    WITH src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ), arr AS (
        SELECT list(sqrt(CAST(toks AS DOUBLE)) ORDER BY source) AS ws,
               CAST(list_reduce(list(toks ORDER BY source),
                                (a, b) -> a + b) AS BIGINT) AS total
        FROM src
    ), den AS (
        SELECT list_reduce(ws, (a, b) -> a + b) AS d, total FROM arr
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, toks AS src_tokens,
           round(sqrt(CAST(toks AS DOUBLE)) / d, 6) AS share,
           round(sqrt(CAST(toks AS DOUBLE)) / d * total / toks, 6)
               AS epochs,
           sqrt(CAST(toks AS DOUBLE)) / d * total / toks > 1.0
               AS oversampled
    FROM src CROSS JOIN den ORDER BY source
    """,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau = 2) mixture plan per source: target
    share_s = tokens_s^(1/2) / sum_s tokens^(1/2) — the alpha-sampling
    rule (mT5/XLM-R style) that upsamples small sources without
    letting any one dominate — and epochs_s = share_s * T / tokens_s
    at a budget of T = total corpus tokens, the number every data
    loader needs to know how often each source repeats. The planning
    member of the mixture family: ``mixture_sample_stats`` draws a
    given mixture, ``dsir_select`` importance-reweights; this computes
    the mixture itself.

    Float parity: per-source token counts are exact INTEGERS (the
    doc_token_stats tokenizer: single-space split); each sqrt is one
    libm call on a bit-identical int-valued double; the denominator is
    an ORDERED fold over the source-sorted weight array (jackknife
    discipline) so summation order cannot diverge; shares and epochs
    are identical expression shapes over those operands, rounded at
    6dp, and the oversampled flag compares the UNROUNDED double in
    both engines.

    Scale: one fact scan -> per-source partials (|sources| rows);
    the fold and every division run on the |sources|-row spine. The
    plan is a 20-row broadcast a sampler joins against — nothing
    fact-sized shuffles twice."""
    d = table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1)))
        .cast("bigint")
        .alias("toks"),
    )
    arr = src.agg(
        F.array_sort(F.collect_list(F.struct("source", "toks"))).alias("a")
    )
    den = arr.select(
        ordered_fold_sum(
            F.transform("a", lambda x: F.sqrt(x["toks"].cast("double")))
        ).alias("d"),
        F.aggregate(
            F.transform("a", lambda x: x["toks"]),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total"),
    )
    w = F.sqrt(F.col("toks").cast("double"))
    epochs = w / F.col("d") * F.col("total") / F.col("toks")
    return src.crossJoin(F.broadcast(den)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("toks").alias("src_tokens"),
        F.round(w / F.col("d"), 6).alias("share"),
        F.round(epochs, 6).alias("epochs"),
        (epochs > 1.0).alias("oversampled"),
    )


# ---------------------------------------------------------------------------
# Semantic decontamination — the embedding-space complement of
# `decontam_ngram_overlap`: paraphrased or lightly-reworded benchmark
# leakage shares no 5-gram with the eval set but sits next to it in
# embedding space (the SemDedup/DataComp-style audit).
# ---------------------------------------------------------------------------

_SEM_TAU = 0.4  # cosine flag threshold — BINDING at driver sf (the
# simhash discipline: best-cos at sf0.01 spans 0.29-0.45 across the 18
# eval vectors, so both flagged and clean vectors exist)


@query(
    "decontam_semantic_audit",
    oracle=f"""
    WITH a AS (
        SELECT vec_id, label, embedding,
               {duck_split("vec_id")} AS split
        FROM embeddings
    ),
    tr AS (SELECT vec_id, embedding FROM a WHERE split = 'train'),
    te AS (SELECT vec_id, label, embedding FROM a WHERE split = 'test'),
    best AS (
        SELECT te.vec_id, te.label, max({duck_cosine("te.embedding", "tr.embedding")}) AS best_cos
        FROM te CROSS JOIN tr
        GROUP BY te.vec_id, te.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN best_cos >= {_SEM_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(sum(CASE WHEN best_cos >= {_SEM_TAU} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS contamination_rate,
           max(best_cos) AS max_cos
    FROM best GROUP BY label ORDER BY label
    """,
)
def decontam_semantic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) benchmark-contamination audit: for
    every EVAL-split vector, the best cosine against ANY train-split
    vector; per label, how many eval vectors sit within tau of the
    training corpus — the leakage n-gram decontamination cannot see
    (paraphrase shares no 5-gram but keeps its neighborhood).

    Uses the SAME split as `decontam_ngram_overlap` /
    `doc_split_stats`, ``split_of`` (functions/helpers.py; vec_id
    aligns with doc_id, so the flagged eval vectors are exactly the
    test DOCS the trainer would hold out — one split function across
    the pipeline is the point).

    Scale: the eval side is what real audits broadcast — a benchmark
    suite is 1e3-1e5 vectors regardless of corpus size — so this is
    ONE linear pass over the train corpus (knn_bruteforce's shape:
    per-row norms precomputed, broadcast cross, per-pair dot), with
    the max folding map-side into |eval| groups. No corpus self-join
    exists at any scale; the IVF-pruned variant for ENORMOUS eval
    suites is `ann_ivf_topk`'s cell-probe shape. Parity: per-pair
    cosine rounded 6dp in both engines (the knn contract); the flag
    compares the ROUNDED best — part of the pinned definition, same
    literal tau both sides; contamination_rate is one int/int
    division."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("en")
    )
    a = e.withColumn("split", split_of(F.col("vec_id")))
    tr = a.where(F.col("split") == "train").select("embedding", "en")
    te = F.broadcast(
        a.where(F.col("split") == "test").select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qe"),
            F.col("en").alias("qn"),
        )
    )
    best = (
        tr.crossJoin(te)
        .select(
            "q_id",
            "q_label",
            rounded_cosine().alias("cos"),
        )
        .groupBy("q_id", "q_label")
        .agg(F.max("cos").alias("best_cos"))
    )
    return (
        best.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum((F.col("best_cos") >= _SEM_TAU).cast("long"))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.sum((F.col("best_cos") >= _SEM_TAU).cast("long"))
                * 1.0
                / F.count("*"),
                4,
            ).alias("contamination_rate"),
            F.max("best_cos").alias("max_cos"),
        )
        .orderBy("label")
    )
