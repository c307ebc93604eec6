"""The text near-dup rules, each written once for Spark and once, next
to it, as its DuckDB oracle twin. The batch queries (queries/dedup.py,
queries/curation.py), the incremental probe and the streaming ingests
(streaming/*_ingest.py) all import them, so the banding scheme, the
verification arithmetic and the fingerprints cannot drift between
deployment modes:

| rule | Spark | DuckDB |
|---|---|---|
| word 3-gram shingles | ``shingles_sql``, ``shingles``, ``SHINGLE_SET``, ``shingle_sets`` | ``DUCK_SHINGLES`` |
| MinHash signature, band keys | ``minhash_signatures``, ``band_frame`` | ``duck_mh``, ``DUCK_BANDS_CTES`` |
| band-bucket probe | ``candidate_pairs`` | ``cand`` of ``DUCK_PAIRS_CTES`` |
| exact shingle-set Jaccard | ``exact_jaccard`` | ``duck_jaccard`` |
| SimHash-64 fingerprint | ``simhash64_frame`` | ``DUCK_SIMHASH64_CTES`` |
| paragraph unit hash | ``para_units_sql`` | ``duck_para_chunks`` |
| md5 word 5-grams | ``wordgram_hashes``, ``wordgram_5h`` | ``duck_wordgram_5h`` |

Hash design shared by Spark and oracle: H(s) = the 40-bit md5 key
(``h40``/``duck_h40``, functions/helpers.py); minhash_j(s) =
(a_j*H + b_j) mod P with a_j = 2j+3, b_j = 7919j + 1, P = 1099511627791
(prime > 2^40). 40-bit H keeps a_j*H far below 2^63, so neither engine
overflows.

Construction: the per-row rules are built from SQL strings parsed in one
``F.expr`` call, not Column loops. A foreachBatch ingest builds its plan
once per micro-batch, and the Column-DSL builds of the same expressions
cost 0.2-1.75 s each in py4j round trips (the plans are identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import cache_parallelism
from ..functions.helpers import duck_h40, h40

P = 1099511627791  # prime > 2^40
N_HASHES = 16
BANDS = 8  # 2 rows per band
PARA_W = 8  # words per paragraph unit (the synthetic corpus has no
# newline structure, so fixed non-overlapping 8-word windows stand in
# for paragraphs; on a real crawl this is split(text, '\n\n'))
WORDGRAM_N = 5  # word n-gram size of the decontamination grams


def _a(j: int) -> int:
    return 2 * j + 3


def _b(j: int) -> int:
    return 7919 * j + 1


# -- shingles, hashes, MinHash bands ------------------------------------------


def shingles_sql(text: str) -> str:
    """SQL fragment for word 3-gram shingles (empty-safe) over the
    column expression ``text``.

    Built with arrays_zip over three shifted slices rather than
    ``transform(sequence(...), i -> toks[i] ...)``: subexpression
    elimination does not reach inside HOF lambdas, so the indexed form
    re-executes split() three times per ELEMENT (~2.4ms/doc measured);
    the zip form splits once per row (the repeated ``split()`` calls
    below are identical subtrees, eliminated by whole-stage codegen's
    subexpression elimination)."""
    toks = f"split({text}, ' ')"
    n = f"size({toks})"
    zipped = (
        f"arrays_zip(slice({toks}, 1, {n} - 2), "
        f"slice({toks}, 2, {n} - 2), slice({toks}, 3, {n} - 2))"
    )
    return (
        f"CASE WHEN {n} >= 3 THEN transform({zipped}, "
        f"s -> concat_ws(' ', s['0'], s['1'], s['2'])) "
        f"ELSE array({text}) END"
    )


def shingles(text: str) -> Column:
    """Word 3-gram shingles of the column named ``text``, as an
    array<string> (empty-safe)."""
    return F.expr(shingles_sql(text))


#: A document's distinct shingles, SQL over its ``text``.
SHINGLE_SET = f"array_distinct({shingles_sql('text')})"


def shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, ss): each document's distinct shingles."""
    return d.select("doc_id", F.expr(SHINGLE_SET).alias("ss"))


def minhash_signatures(d: DataFrame) -> DataFrame:
    """doc_id + mh0..mh15 via explode → hash-once → groupBy(doc_id) with
    16 algebraic min aggregates.

    Why explode instead of array HOFs: 16 independent projections over a
    shared `transform(shingles, md5...)` array get re-INLINED by
    Catalyst's CollapseProject, so md5 runs 16x per shingle (measured 54s
    at sf0.1). Exploding computes each shingle's md5 exactly once; the
    min aggregates are map-side partial, so the shuffle carries only
    16 ints per (doc, partition) — negligible at any scale."""
    sh = d.select(
        "doc_id",
        F.expr(f"explode({SHINGLE_SET})").alias("s"),
    )
    h = sh.select("doc_id", h40(F.col("s")).alias("h"))
    return h.groupBy("doc_id").agg(
        *[
            F.expr(f"min(({_a(j)} * h + {_b(j)}) % {P}) AS mh{j}")
            for j in range(N_HASHES)
        ]
    )


def band_frame(sig: DataFrame) -> DataFrame:
    """Signature frame → (doc_id, band, bkey) LSH band keys: band b
    keys on ``mh{2b}_mh{2b+1}``."""
    inner = ", ".join(
        f"struct({b} AS band, concat_ws('_', mh{2*b}, mh{2*b+1}) AS bkey)"
        for b in range(BANDS)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({inner}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bkey")


DUCK_SHINGLES = """
    SELECT doc_id, lang,
           CASE WHEN len(string_split(text, ' ')) >= 3
                THEN list_transform(range(len(string_split(text, ' ')) - 2),
                     i -> string_split(text, ' ')[i+1] || ' ' ||
                          string_split(text, ' ')[i+2] || ' ' ||
                          string_split(text, ' ')[i+3])
                ELSE [text] END AS sh
    FROM documents
"""


def duck_mh(j: int) -> str:
    return (
        f"list_min(list_transform(sh, s -> ({_a(j)} * {duck_h40('s')}"
        f" + {_b(j)}) % {P})) AS mh{j}"
    )


#: sh (shingles) → sig (signatures) → bands (doc_id, band, bkey).
DUCK_BANDS_CTES = f"""sh AS ({DUCK_SHINGLES}),
    sig AS (SELECT doc_id, {", ".join(duck_mh(j) for j in range(N_HASHES))} FROM sh),
    bands AS (
        SELECT doc_id, band,
               CASE band {" ".join(f"WHEN {b} THEN CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)" for b in range(BANDS))} END AS bkey
        FROM sig CROSS JOIN (SELECT unnest(range({BANDS})) AS band) bs
    )"""


# -- band-bucket probe and exact-Jaccard verification -------------------------


def candidate_pairs(probe: DataFrame, index: DataFrame, width: int) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs whose docs share a (band, bkey)
    bucket, ``probe`` band rows joined against ``index`` band rows.

    When the probe IS the index (a batch self-join) each pair comes from
    its ordered side (``a.doc_id < b.doc_id``). A probe of arrivals
    against an index that contains them pairs on ``!=`` and orders the
    ids with least/greatest, so a new×new pair found from both sides
    collapses in the distinct. Cached at ``width`` partitions: both
    sides of the verify join read it."""
    a, b = probe.alias("a"), index.alias("b")
    ia, ib = F.col("a.doc_id"), F.col("b.doc_id")
    if probe is index:
        pair, ids = ia < ib, (ia.alias("doc_a"), ib.alias("doc_b"))
    else:
        pair = ia != ib
        ids = (
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey"))
    return a.join(b, on & pair).select(*ids).distinct().coalesce(width).cache()


def exact_jaccard(
    cand: DataFrame, source: DataFrame, width: int, ss: str = "ss"
) -> tuple[DataFrame, DataFrame]:
    """Exact shingle-set intersection and union for every pair of
    ``cand``, whose first two columns are the pair's doc ids.

    The sets come from ``source``, keyed by doc_id, with ``ss`` the SQL
    of a doc's set over its columns: the documents with
    ``SHINGLE_SET``, or an ingest's persisted (doc_id, ss) shingle
    store with the default. ``source`` is semi-joined down to the ids
    that occur in a candidate pair before ``ss`` is evaluated and the
    sets are cached, so only candidate docs are shingled (at scale the
    candidate set is orders of magnitude smaller than the corpus). The
    ids come from ONE scan of ``cand``: a union of two selects made
    both branches fill the cold ``cand`` cache inside the semi-join's
    broadcast build, computing the band join twice on first use.

    Returns ``(exact, sets)``: ``exact`` is (a, b, inter, uni) under
    ``cand``'s pair column names, and ``sets`` the cached set frame,
    for callers that unpersist per batch."""
    x, y = cand.columns[:2]
    ids = cand.select(F.explode(F.array(x, y)).alias("doc_id")).distinct()
    sets = (
        source.join(ids, "doc_id", "semi")
        .select("doc_id", F.expr(ss).alias("ss"))
        .coalesce(width)
        .cache()
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.ss"), F.col("sb.ss")))
    uni = F.size(F.col("sa.ss")) + F.size(F.col("sb.ss")) - inter
    exact = (
        cand.join(sa, F.col(x) == F.col("sa.doc_id"))
        .join(sb, F.col(y) == F.col("sb.doc_id"))
        .select(x, y, inter.alias("inter"), uni.alias("uni"))
    )
    return exact, sets


def duck_jaccard(a: str = "sa", b: str = "sb") -> str:
    """``exact_jaccard``'s ``inter`` and ``uni`` select items over two
    joined (doc_id, ss) set aliases."""
    inter = f"len(list_intersect({a}.ss, {b}.ss))"
    return f"{inter} AS inter, len({a}.ss) + len({b}.ss) - {inter} AS uni"


#: The batch pipeline: shingles → signatures → bands → cand (band-bucket
#: self-join) → sets → verified (exact inter/uni) → pairs (Jaccard >= 0.5,
#: rounded at 4dp).
DUCK_PAIRS_CTES = f"""{DUCK_BANDS_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                  AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
    verified AS (
        SELECT doc_a, doc_b, {duck_jaccard()}
        FROM cand JOIN sets sa ON sa.doc_id = doc_a
                  JOIN sets sb ON sb.doc_id = doc_b
    ),
    pairs AS (
        SELECT doc_a, doc_b, round(inter * 1.0 / uni, 4) AS jaccard
        FROM verified WHERE inter * 1.0 / uni >= 0.5
    )"""


# -- SimHash-64 ---------------------------------------------------------------


def simhash64_frame(d: DataFrame, parallelism: int | None = None) -> DataFrame:
    """(doc_id, simhash64): 64-bit SimHash, the standard LLM-corpus
    near-dup fingerprint width. Bits 0..39 vote from the first 40 bits
    of md5(token), bits 40..63 from the next 40 (both halves stay below
    2^63 so the UBIGINT -> BIGINT oracle cast can never overflow); the
    sign bit enters via the wrapped shiftleft (== -2^63), exercising the
    full signed range.

    The doc frame is keyed-repartitioned BEFORE the explode: a 1-file
    test-scale scan otherwise runs the token hash + 64 partial vote
    sums on a single task, and at corpus scale this is also the shuffle
    the groupBy(doc_id) needs anyway — map-side partials then combine on
    already-colocated keys. ``parallelism`` overrides the width for
    arrivals-sized callers (the streaming ingest passes a small value —
    a 32-way repartition of a micro-batch is pure task overhead)."""
    d = d.repartition(
        parallelism or cache_parallelism(d.sparkSession), "doc_id"
    )
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    h = tok.select(
        "doc_id",
        h40(F.col("t")).alias("h1"),
        F.expr("CAST(conv(substring(md5(t), 11, 10), 16, 10) AS BIGINT)").alias("h2"),
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(2 * (shiftright({'h1' if b < 40 else 'h2'},"
                f" {b if b < 40 else b - 40}) & 1) - 1) AS v{b}"
            )
            for b in range(64)
        ]
    )
    sim_sql = " + ".join(
        f"(CASE WHEN v{b} >= 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    return votes.select("doc_id", F.expr(sim_sql).alias("simhash64"))


def _duck_simhash64_value() -> str:
    """Signed-64 fingerprint from the vote signs. Bit 63 contributes
    the MIN-LONG constant (DuckDB raises on ``1::BIGINT << 63``, and
    the wrapped value is exactly -2^63 — same bit pattern Spark's
    shiftleft produces)."""
    terms = [
        f"CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(63)
    ]
    terms.append(
        "CASE WHEN v63 >= 0 THEN CAST(-9223372036854775807 AS BIGINT) - 1 ELSE 0 END"
    )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


#: tok → h (two 40-bit token hashes) → v (64 vote sums, one md5 per
#: token) → s (doc_id, fp), stage for stage the Spark derivation.
DUCK_SIMHASH64_CTES = f"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
    h AS (SELECT doc_id,
                 {duck_h40('t')} AS h1,
                 CAST(('0x' || substr(md5(t),11,10))::UBIGINT AS BIGINT) AS h2
          FROM tok),
    v AS (SELECT doc_id, {", ".join(
        f"sum(2 * ((h{1 if b < 40 else 2} >> {b if b < 40 else b - 40}) & 1) - 1) AS v{b}"
        for b in range(64)
    )} FROM h GROUP BY doc_id),
    s AS (SELECT doc_id, {_duck_simhash64_value()} AS fp FROM v)"""


# -- paragraph units and word 5-grams -----------------------------------------


def para_units_sql(words_expr: str) -> str:
    """SQL expr: the array of xxhash64 keys of ``words_expr``'s
    non-overlapping ``PARA_W``-word units (empty for shorter docs)."""
    return (
        f"CASE WHEN size({words_expr}) >= {PARA_W} THEN"
        f" transform(sequence(0, size({words_expr}) DIV {PARA_W} - 1),"
        f" i -> xxhash64(concat_ws(' ',"
        f" slice({words_expr}, i*{PARA_W} + 1, {PARA_W}))))"
        " ELSE array() END"
    )


def duck_para_chunks(cols: str) -> str:
    """``para_units_sql``'s units over a ``w`` CTE holding the word list
    ``ws``: one row per unit with ``cols`` carried, its index
    ``chunk_no`` and the unit itself as the string ``chunk`` (DuckDB has
    no xxhash64; the string is the key the hash stands for)."""
    return (
        f"SELECT {cols}, CAST(i AS BIGINT) AS chunk_no,"
        f" array_to_string(ws[(i*{PARA_W}+1):(i*{PARA_W}+{PARA_W})], ' ') AS chunk"
        f" FROM w, unnest(range(CAST(floor(len(ws)/{PARA_W}) AS BIGINT))) AS t(i)"
    )


def wordgram_hashes(toks: Column) -> Column:
    """The md5-16hex word 5-gram hashes of the word array ``toks`` (an
    empty array for docs shorter than a gram)."""
    n = F.size(toks)
    idx = F.when(n >= WORDGRAM_N, F.sequence(F.lit(0), n - WORDGRAM_N)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.substring(
            F.md5(F.array_join(F.slice(toks, i + 1, WORDGRAM_N), " ")), 1, 16
        ),
    )


def wordgram_5h(d: DataFrame) -> DataFrame:
    """(doc_id, gram_h): one row per word 5-gram occurrence of
    ``d.text``."""
    return d.select(
        "doc_id",
        F.explode(wordgram_hashes(F.split(F.col("text"), " "))).alias("gram_h"),
    )


def duck_wordgram_5h(toks: str = "toks") -> str:
    """``wordgram_hashes``' hash of the gram starting at index ``i``."""
    return (
        f"substr(md5(array_to_string({toks}[i + 1:i + {WORDGRAM_N}], ' ')), 1, 16)"
    )
