"""Data-quality & governance surface: filter-funnel accounting, a
self-trained unigram-LM (perplexity-proxy) filter, source-mixture drift
monitoring, robust (median/MAD) outlier detection, and CDC MERGE-INTO
apply with per-action audit.

These are the curation/monitoring jobs a 100 TB training-data pipeline
runs daily on top of the operator core (SURVEY.md §2): how much does
each quality rule reject, which documents look like LM outliers, did
the source mixture drift between batches, which metric streams have
heavy-tailed anomalies, and apply-change-batch with a reviewable audit.

Determinism rules follow the repo-wide contract: every computed column
aliased identically in the Spark plan and the DuckDB oracle, doubles
rounded before they feed a comparison or the final hash, and rank
boundaries fully tie-broken. ``ln``/``percentile`` parity notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.catalog import table
from ..core.registry import query
from ..core.session import cached, local_frame

# ---------------------------------------------------------------------------
# Quality-filter funnel: the per-rule rejection accounting every corpus
# curation run reports (which rule removed how much, in cascade order).
# ---------------------------------------------------------------------------


@query(
    "filter_funnel_stats",
    oracle="""
    WITH m AS (
        SELECT len(string_split(text, ' ')) AS nw,
               (len(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                   / len(string_split(text, ' ')) AS mwl,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS dr
        FROM documents
    ), a AS (
        SELECT count(*) AS n0,
               CAST(count(*) FILTER (WHERE NOT (nw BETWEEN 20 AND 80))
                    AS BIGINT) AS rej1,
               CAST(count(*) FILTER (WHERE nw BETWEEN 20 AND 80
                    AND NOT (mwl < 4.8)) AS BIGINT) AS rej2,
               CAST(count(*) FILTER (WHERE nw BETWEEN 20 AND 80
                    AND mwl < 4.8 AND NOT (dr >= 0.5)) AS BIGINT) AS rej3
        FROM m
    )
    SELECT stage, rule, n_in, n_rejected, n_in - n_rejected AS n_out FROM (
        SELECT 1 AS stage, 'word_count' AS rule, n0 AS n_in,
               rej1 AS n_rejected FROM a
        UNION ALL
        SELECT 2, 'mean_word_len', n0 - rej1, rej2 FROM a
        UNION ALL
        SELECT 3, 'distinct_ratio', n0 - rej1 - rej2, rej3 FROM a
    )
    """,
)
def filter_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-rule cascade with per-stage accounting — the
    curation funnel report (rule order matters: each stage's n_in is
    the previous stage's n_out, so a rule is only charged for documents
    the earlier rules let through). Rules are the standard cheap text
    signals (word count bounds, mean word length, distinct-word ratio),
    all pure JVM expressions.

    Scale: ONE corpus scan computes every per-doc signal map-side, one
    partial-aggregated count row leaves the executors, and the 3-stage
    funnel is reshaped from that single row with ``stack`` — no second
    scan per rule (the naive per-rule ``df.count()`` loop scans the
    corpus once per rule, k scans for k rules)."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    nw = F.size(words)
    mwl = (F.length("text") - (nw - F.lit(1))) * F.lit(1.0) / nw
    dr = F.size(F.array_distinct(words)) * F.lit(1.0) / nw
    p1 = nw.between(20, 80)
    p2 = mwl < 4.8
    p3 = dr >= 0.5
    a = d.select(
        p1.alias("p1"), p2.alias("p2"), p3.alias("p3")
    ).agg(
        F.count("*").alias("n0"),
        F.sum((~F.col("p1")).cast("long")).alias("rej1"),
        F.sum((F.col("p1") & ~F.col("p2")).cast("long")).alias("rej2"),
        F.sum((F.col("p1") & F.col("p2") & ~F.col("p3")).cast("long")).alias(
            "rej3"
        ),
    )
    stages = a.select(
        F.expr(
            "stack(3,"
            " 1, 'word_count',     n0,               rej1,"
            " 2, 'mean_word_len',  n0 - rej1,        rej2,"
            " 3, 'distinct_ratio', n0 - rej1 - rej2, rej3"
            ") AS (stage, rule, n_in, n_rejected)"
        )
    )
    return stages.withColumn("n_out", F.col("n_in") - F.col("n_rejected"))


# ---------------------------------------------------------------------------
# Unigram-LM negative-log-likelihood filter — the perplexity-proxy
# quality signal (CCNet-style filtering with the LM trained on the
# corpus itself; no external model needed).
# ---------------------------------------------------------------------------


@query(
    "unigram_logprob_filter",
    oracle="""
    WITH occ AS (
        SELECT doc_id, lang, w AS word
        FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
    ), vocab AS (
        SELECT word, count(*) AS cnt FROM occ GROUP BY word
    ), tot AS (
        SELECT count(*) AS tot FROM occ
    ), nl AS (
        SELECT word, round(-ln(cnt * 1.0 / tot), 6) AS nll FROM vocab, tot
    ), pd AS (
        SELECT o.doc_id, o.lang,
               round(sum(n.nll), 6) AS s6,
               count(*) AS nw
        FROM occ o JOIN nl n USING (word) GROUP BY o.doc_id, o.lang
    ), thr AS (
        SELECT quantile_cont(s6 / nw, 0.75) AS thr FROM pd
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE s6 / nw > thr) AS BIGINT) AS n_flagged,
           round(sum(s6), 6) AS total_nll
    FROM pd, thr GROUP BY lang
    """,
)
def unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy filtering with a self-trained unigram LM: word
    frequencies over the whole corpus give p(w); each document scores
    avg(-ln p(w)) over its token occurrences; documents above the
    corpus 75th percentile are flagged (the high-surprise tail a CCNet
    pipeline routes to the "keep/maybe/drop" buckets). Output audits
    flag rates per language — a flag rate skewed onto one language is
    the classic symptom of an LM trained on unbalanced data.

    Float parity (the load-bearing design): per-word nll is rounded to
    the 1e-6 grid on both engines (``ln`` is not IEEE-correctly-rounded
    — raw libm outputs may differ in the last ulp between JVM and
    DuckDB); the per-doc state is the grid-aligned SUM of those values
    re-rounded at grid precision (a sum of grid multiples sits ON the
    grid, so summation-order noise ~1e-13 cannot move it), and the
    per-doc score is the UNROUNDED quotient s6/nw — two bit-identical
    operands give a bit-identical IEEE quotient, leaving no rounding
    boundary anywhere before the comparison. Rounding an off-grid
    average (the first draft's round(avg(..), 5)) put ~1-per-500-docs
    on a .000005 decimal boundary where the engines' round()
    implementations disagree — caught when a grid-aligned SUM of those
    values exposed a single-doc flip at sf0.01.

    Scale: tokenize+explode is map-side; the vocab count is one
    word-keyed shuffle with map-side combine (classic wordcount); the
    occurrences⋈vocab join broadcasts while the vocab fits and degrades
    to a shuffle hash join when it doesn't (no hint pinned); per-doc
    re-aggregation is one doc-keyed shuffle. The percentile threshold
    is a 1-row broadcast, not a driver collect. The two dual-use
    SMALL frames (vocab, per-doc scores) are cached so their shuffles
    run once — measured 26s vs 34s at the 100× stress corpus
    (SCALING.md); at toy scale the cache materialization costs ~0.5s
    more than it saves, the right side of that trade."""
    d = table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    # cache(): vocab feeds the nll projection AND the corpus total
    # (derived from vocab as sum(cnt), so the wordcount shuffle runs
    # once, not once per consumer — DataFrame DAGs don't share
    # subplans). occ is deliberately NOT cached: its two uses are
    # map-side re-derivations (explode), the scale-correct recompute.
    vocab = cached(
        occ.groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    nl = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        F.round(
            -F.log(F.col("cnt") * F.lit(1.0) / F.col("tot")), 6
        ).alias("nll"),
    )
    # cache(): per-doc scores feed the percentile threshold AND the
    # final rollup; one row per doc, tiny next to the corpus.
    pd = cached(
        occ.join(nl, "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(F.sum("nll"), 6).alias("s6"),
            F.count("*").alias("nw"),
        )
    )
    score = F.col("s6") / F.col("nw")  # unrounded: bit-identical quotient
    thr = pd.agg(F.percentile(score, F.lit(0.75)).alias("thr"))
    return (
        pd.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((score > F.col("thr")).cast("long")).alias("n_flagged"),
            F.round(F.sum("s6"), 6).alias("total_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Source-mixture drift: KL divergence of the source distribution
# between two corpus cohorts (the batch-over-batch mixture monitor).
# ---------------------------------------------------------------------------


@query(
    "source_mixture_drift",
    oracle="""
    WITH c AS (
        SELECT source,
               CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_b
        FROM documents GROUP BY source
    ), t AS (
        SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS k FROM c
    )
    SELECT source, n_a, n_b,
           round((n_a + 1.0) / (ta + k), 6) AS p_a,
           round((n_b + 1.0) / (tb + k), 6) AS p_b,
           round(((n_a + 1.0) / (ta + k))
                 * ln(((n_a + 1.0) / (ta + k)) / ((n_b + 1.0) / (tb + k))),
                 8) AS kl_term
    FROM c, t
    """,
)
def source_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift monitor: split the corpus into two cohorts (even /
    odd doc_id here — in production, yesterday's batch vs today's),
    estimate the per-source probability with Laplace add-one smoothing
    (so a source absent from one cohort yields a finite KL term instead
    of ln(0)), and emit each source's contribution to KL(A‖B). The sum
    of kl_term over rows IS the divergence; per-source terms are what
    the operator actually pages on (which source moved).

    Parity: probabilities are exact-rational doubles computed in the
    same expression order on both engines; only ``ln`` can wobble in
    the last ulp, absorbed by the 8dp round on a 20-row result.

    Scale: one corpus scan → one source-keyed partial-agg shuffle
    (conditional counts computed map-side); the totals row is a 1-row
    broadcast. Nothing downstream of the first agg sees corpus-sized
    data."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    c = d.groupBy("source").agg(
        F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("doc_id") % 2 == 1).cast("long")).alias("n_b"),
    )
    t = c.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"),
        F.count("*").alias("k"),
    )
    pa = (F.col("n_a") + F.lit(1.0)) / (F.col("ta") + F.col("k"))
    pb = (F.col("n_b") + F.lit(1.0)) / (F.col("tb") + F.col("k"))
    return c.crossJoin(F.broadcast(t)).select(
        "source", "n_a", "n_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(pa * F.log(pa / pb), 8).alias("kl_term"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median/MAD flagging per metric stream (the 3-sigma
# sibling in queries/timeseries.py breaks on heavy tails — MAD doesn't).
# ---------------------------------------------------------------------------


@query(
    "mad_event_outliers",
    oracle="""
    WITH m AS (
        SELECT event_type, median(value) AS med FROM events
        GROUP BY event_type
    ), s AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN m USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_type, count(*) AS n_events,
           round(m.med, 4) AS med, round(s.mad, 4) AS mad,
           CAST(count(*) FILTER (
               WHERE abs(e.value - m.med) > 3 * 1.4826 * s.mad
           ) AS BIGINT) AS n_outliers
    FROM events e JOIN m USING (event_type) JOIN s USING (event_type)
    GROUP BY e.event_type, m.med, s.mad
    """,
)
def mad_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per metric stream: median + MAD (median
    absolute deviation), flagging |v − med| > 3·1.4826·MAD (1.4826
    scales MAD to σ under normality). Unlike the mean/stddev 3-sigma
    variant (``outlier_order_stats``), a few huge anomalies cannot
    inflate the threshold and mask each other — the estimator the
    monitor should actually use on heavy-tailed value streams.

    Parity is exact: Spark ``median`` and DuckDB ``median`` both
    linearly interpolate the middle pair over identical input doubles,
    and the outlier comparison happens on identically-derived doubles
    on both sides (no rounding before the comparison, same expression
    shape), so the strict ``>`` cannot disagree.

    Scale: medians are exact — the two inherent passes are the median
    pass and the deviation pass (at 100 TB swap in
    approx_percentile(.., 0.5) for one-pass sketched medians; kept
    exact here for the oracle). The MAD rides the deviation frame as a
    per-type WINDOW median, so the plan holds at exactly TWO corpus
    scans — the earlier groupBy-then-join-back form re-planned the
    deviation subtree (and its scan) once for the MAD and again for
    the outlier agg, 4 scans total (the psi-class trap, removed in
    round 8)."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select("event_type", "value")
    m = e.groupBy("event_type").agg(F.median("value").alias("med"))
    d = e.join(F.broadcast(m), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    d = d.withColumn(
        "mad", F.median("adev").over(Window.partitionBy("event_type"))
    )
    return d.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.first("med"), 4).alias("med"),
        F.round(F.first("mad"), 4).alias("mad"),
        F.sum(
            (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# CDC MERGE-INTO apply: the change-batch application every warehouse
# runs nightly, expressed as one outer join + per-action audit
# (sibling of the SCD2 build in queries/timeseries.py and the erasure
# delete-rewrite in queries/pipeline_queries.py).
# ---------------------------------------------------------------------------


@query(
    "merge_into_orders",
    oracle="""
    WITH mx AS (
        SELECT max(o_orderkey) AS mxk FROM orders
    ), chg AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 13 = 3 THEN 'delete'
                    WHEN o_orderkey % 7 = 0 THEN 'update' END AS action
        FROM orders
        WHERE o_orderkey % 13 = 3 OR o_orderkey % 7 = 0
    ), ins AS (
        SELECT o.o_orderkey + mx.mxk + 1 AS k, 'insert' AS action,
               o.o_totalprice * 0.5 AS price
        FROM orders o, mx WHERE o.o_orderkey % 11 = 5
    ), merged AS (
        SELECT o.o_orderstatus AS o_orderstatus,
               coalesce(c.action, 'keep') AS action,
               CASE WHEN c.action = 'update'
                    THEN o.o_totalprice * 1.1
                    ELSE o.o_totalprice END AS price
        FROM orders o LEFT JOIN chg c ON o.o_orderkey = c.k
        UNION ALL
        SELECT 'X' AS o_orderstatus, action, price FROM ins
    )
    SELECT o_orderstatus, action, count(*) AS n_rows,
           round(sum(price), 2) AS sum_price
    FROM merged GROUP BY o_orderstatus, action
    """,
)
def merge_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics applied as a relational plan: a change
    batch (updates for key%7=0, deletes for key%13=3 — delete wins on
    overlap, exactly MERGE's first-matching-clause rule — inserts
    re-keyed past max(o_orderkey)) merged into ``orders`` with a
    per-(status × action) audit of row counts and price mass. 'delete'
    rows are reported, not carried — the final table is
    keep ∪ update ∪ insert; the audit row is what a reviewer checks
    before the swap.

    Parity: updated/inserted prices stay UNROUNDED until the final
    2dp-rounded sum — per-row round(x·1.1, 2) is engine-divergent on
    ulp-boundary rows (Spark rounds the double's decimal expansion,
    DuckDB rounds x·100), and those ±0.01 flips survive into a summed
    audit; rounding once at the aggregate absorbs them.

    Scale: the change batch is derived-from/keyed-like the target, so
    the merge is ONE key-equi left join — broadcast while the batch is
    small (the nightly-CDC norm), shuffle-on-key when it isn't; with
    the target bucketed by key (sources/bucketed demo) the join is
    exchange-free. Inserts union in without touching matched rows. At
    100 TB you additionally prune to the partitions the batch touches
    (the delete-rewrite in ``user_erasure_apply`` demonstrates exactly
    that file-level rewrite accounting)."""
    o = table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderkey").alias("mxk"))
    chg = o.where(
        (F.col("o_orderkey") % 13 == 3) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 13 == 3, F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )
    ins = (
        o.where(F.col("o_orderkey") % 11 == 5)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("mxk") + 1).alias("k"),
            F.lit("insert").alias("action"),
            (F.col("o_totalprice") * 0.5).alias("price"),
        )
    )
    # no broadcast hint on chg: it is a fixed FRACTION of the target
    # (~18% of orders), not a fixed size, so pinning BroadcastHashJoin
    # would OOM at the scale the docstring targets — AQE picks
    # broadcast while it fits and degrades to a shuffle join after.
    merged = (
        o.join(chg, o.o_orderkey == chg.k, "left")
        .select(
            "o_orderstatus",
            F.coalesce("action", F.lit("keep")).alias("action"),
            F.when(
                F.col("action") == "update",
                F.col("o_totalprice") * 1.1,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .unionByName(
            ins.select(
                F.lit("X").alias("o_orderstatus"), "action", "price"
            )
        )
    )
    return merged.groupBy("o_orderstatus", "action").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("price"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Experiment analysis: two-proportion z-test — the A/B readout.
# ---------------------------------------------------------------------------


@query(
    "ab_test_zscore",
    oracle="""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS grp,
               max(CASE WHEN event_type = 'purchase' AND value > 95
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ), g AS (
        SELECT CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_b,
               CAST(sum(converted) FILTER (WHERE grp = 0) AS BIGINT) AS c_a,
               CAST(sum(converted) FILTER (WHERE grp = 1) AS BIGINT) AS c_b
        FROM assign
    )
    SELECT n_a, n_b, c_a, c_b,
           round(c_a * 1.0 / n_a, 6) AS rate_a,
           round(c_b * 1.0 / n_b, 6) AS rate_b,
           CASE WHEN zden <= 0 THEN 0.0
                ELSE round((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                           / sqrt(zden), 4) END AS z_score,
           CASE WHEN zden <= 0 THEN false
                ELSE abs((c_a * 1.0 / n_a - c_b * 1.0 / n_b)
                         / sqrt(zden)) > 1.96 END AS significant_95
    FROM (
        SELECT *,
               ((c_a + c_b) * 1.0 / (n_a + n_b))
               * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b) AS zden
        FROM g
    )
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split into control/treatment by the
    stable id (in production, the experiment-assignment hash), per-user
    conversion = any high-value purchase (value > 95 — plain
    any-purchase saturates to 100% on this corpus, making the pooled
    variance 0 and z undefined; the guard below also pins z = 0 /
    not-significant when conversion IS degenerate, on both engines
    identically, instead of an ANSI divide-by-zero), and the
    two-proportion z-test
    under the pooled null — the significance number every A/B platform
    computes. The comparison to 1.96 happens on bit-identical doubles
    (counts → IEEE divisions and a correctly-rounded sqrt in the same
    expression order on both engines; nothing pre-rounded feeds it),
    so the boolean cannot flip between engines; z itself is emitted at
    4dp (an irrational, measure-zero boundary risk).

    Scale: one user-keyed shuffle collapses the stream to per-user
    conversion flags (max of indicators, map-side partial), then a
    single global conditional-count row — the corpus never moves
    again. Variant metrics (means, ratios) swap the indicator; CUPED
    or sequential corrections compose on the same per-user frame."""
    e = table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") > 95)
            ).cast("int")
        ).alias("converted")
    ).withColumn("grp", F.col("user_id") % 2)
    g = assign.agg(
        F.sum((F.col("grp") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("grp") == 1).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0).cast("long")).alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0).cast("long")).alias("c_b"),
    )
    ra = F.col("c_a") * F.lit(1.0) / F.col("n_a")
    rb = F.col("c_b") * F.lit(1.0) / F.col("n_b")
    pp = (F.col("c_a") + F.col("c_b")) * F.lit(1.0) / (F.col("n_a") + F.col("n_b"))
    zden = pp * (1 - pp) * (
        F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(zden)
    return g.select(
        "n_a", "n_b", "c_a", "c_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.when(zden <= 0, F.lit(0.0)).otherwise(F.round(z, 4)).alias("z_score"),
        F.when(zden <= 0, F.lit(False))
        .otherwise(F.abs(z) > 1.96)
        .alias("significant_95"),
    )


@query(
    "dsir_select",
    oracle="""
    WITH occ AS (
        SELECT doc_id, source, w AS word
        FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
    ), vocab AS (
        SELECT word, count(*) AS cnt_r FROM occ GROUP BY word
    ), tvocab AS (
        SELECT word, count(*) AS cnt_t FROM occ WHERE source = 'src0'
        GROUP BY word
    ), consts AS (
        SELECT (SELECT CAST(sum(cnt_r) AS BIGINT) FROM vocab) AS tot_r,
               (SELECT CAST(count(*) AS BIGINT) FROM occ WHERE source = 'src0') AS tot_t,
               (SELECT count(*) AS v FROM vocab) AS v
    ), delta AS (
        SELECT vocab.word,
               round(ln((coalesce(tvocab.cnt_t, 0) + 1) * 1.0 / (tot_t + v)), 6)
               - round(ln((cnt_r + 1) * 1.0 / (tot_r + v)), 6) AS d
        FROM vocab LEFT JOIN tvocab USING (word), consts
    ), pd AS (
        SELECT o.doc_id, o.source,
               round(sum(d.d), 6) AS s6,
               count(*) AS nw
        FROM occ o JOIN delta d USING (word) GROUP BY o.doc_id, o.source
    ), thr AS (
        SELECT quantile_cont(s6 / nw, 0.75) AS thr FROM pd
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE s6 / nw > thr) AS BIGINT) AS n_selected,
           round(sum(s6), 6) AS total_logweight
    FROM pd, thr GROUP BY source
    """,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, deterministic
    variant): importance weights from a target-domain unigram LM vs the
    raw-corpus LM — per-word log-ratio ln p_target(w) − ln p_raw(w)
    (both Laplace-smoothed over the shared vocabulary), per-doc score =
    mean log-ratio over token occurrences, keep the top quartile. The
    paper resamples with Gumbel noise; the deterministic top-fraction
    cut is what an oracle can check, and the noise is a one-line add at
    the sampling site. Target domain here: source 'src0' — the
    per-source selection-rate audit makes the method's behavior visible
    (the target source should over-select; a flat rate means the LMs
    collapsed together).

    Float parity: exactly the ``unigram_logprob_filter`` contract —
    each libm ln() rounds to the 1e-6 grid before any combination, the
    per-doc SUM of grid deltas re-rounds at grid precision, and the
    doc score is the unrounded s6/nw quotient of bit-identical
    operands; no off-grid value is ever rounded.

    Scale: two wordcount shuffles (corpus + target — the target one
    touches only target occurrences), one broadcastable |vocab|-row
    delta table joined back onto occurrences map-side, one doc-keyed
    shuffle, a 1-row percentile broadcast. At 100 TB the delta table is
    the only state that grows with vocabulary, not corpus."""
    d = table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
    )
    # cache(): vocab feeds tot_r, V, and the delta projection (one
    # wordcount shuffle, three consumers); tvocab likewise.
    vocab = cached(
        occ.groupBy("word")
        .agg(F.count("*").alias("cnt_r"))
    )
    tvocab = cached(
        occ.where(F.col("source") == "src0")
        .groupBy("word")
        .agg(F.count("*").alias("cnt_t"))
    )
    consts = (
        vocab.agg(
            F.sum("cnt_r").alias("tot_r"), F.count("*").alias("v")
        )
        .crossJoin(F.broadcast(tvocab.agg(F.sum("cnt_t").alias("tot_t"))))
    )
    delta = (
        vocab.join(tvocab, "word", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "word",
            (
                F.round(
                    F.log(
                        (F.coalesce("cnt_t", F.lit(0)) + 1)
                        * F.lit(1.0)
                        / (F.col("tot_t") + F.col("v"))
                    ),
                    6,
                )
                - F.round(
                    F.log(
                        (F.col("cnt_r") + 1) * F.lit(1.0)
                        / (F.col("tot_r") + F.col("v"))
                    ),
                    6,
                )
            ).alias("d"),
        )
    )
    pd = cached(
        occ.join(delta, "word")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum("d"), 6).alias("s6"), F.count("*").alias("nw"))
    )
    score = F.col("s6") / F.col("nw")  # unrounded: bit-identical quotient
    thr = pd.agg(F.percentile(score, F.lit(0.75)).alias("thr"))
    return (
        pd.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((score > F.col("thr")).cast("int")).cast("bigint").alias(
                "n_selected"
            ),
            F.round(F.sum("s6"), 6).alias("total_logweight"),
        )
    )


@query(
    "doc_entropy_stats",
    oracle="""
    WITH ch AS (
        SELECT doc_id, lang, c, count(*) AS cnt
        FROM (SELECT doc_id, lang, unnest(string_split(text, '')) AS c
              FROM documents)
        WHERE c <> '' GROUP BY doc_id, lang, c
    ), pd AS (
        SELECT doc_id, lang,
               CAST(sum(cnt) AS BIGINT) AS n,
               round(sum(cnt * round(ln(cnt), 6)), 6) AS s6
        FROM ch GROUP BY doc_id, lang
    ), h AS (
        SELECT doc_id, lang,
               round(round(ln(n), 6) - s6 / n, 6) AS h6
        FROM pd
    ), thr AS (SELECT quantile_cont(h6, 0.25) AS thr FROM h)
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE h6 < thr) AS BIGINT) AS n_low_entropy,
           round(sum(h6), 6) AS total_entropy,
           round(min(h6), 6) AS min_entropy,
           round(max(h6), 6) AS max_entropy
    FROM h, thr GROUP BY lang
    """,
)
def doc_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (the Gopher-rule family's
    repetition detector): per-document Shannon entropy over the char
    distribution, H = ln(n) − (Σ c·ln c)/n — boilerplate and
    template-stamped docs sit in the low tail; docs below the corpus
    25th percentile are flagged, rolled up per language with the
    entropy range.

    Float parity: each libm ln rounds to the 1e-6 grid; Σ c·ln6(c) is a
    sum of integer multiples of grid values re-rounded at grid
    precision (grid-sum rule); per-doc H re-rounds the single IEEE
    combination of bit-identical operands, making H itself grid for the
    lang-level SUM; the percentile threshold interpolates between grid
    values identically on both engines.

    Scale: one corpus scan; the (doc, char) census explodes ≤ |alphabet|
    rows per doc (bounded fan-out, unlike token explosion); per-doc and
    per-lang rollups are two narrow shuffles; threshold is a 1-row
    broadcast."""
    d = table(spark, sf_dir, "documents")
    ch = (
        d.select("doc_id", "lang", F.explode(F.split("text", "")).alias("c"))
        .where(F.col("c") != "")
        .groupBy("doc_id", "lang", "c")
        .agg(F.count("*").alias("cnt"))
    )
    pd = ch.groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("n"),
        F.round(
            F.sum(F.col("cnt") * F.round(F.log("cnt"), 6)), 6
        ).alias("s6"),
    )
    h = cached(  # feeds threshold + rollup
        pd.select(
            "doc_id",
            "lang",
            F.round(
                F.round(F.log("n"), 6) - F.col("s6") / F.col("n"), 6
            ).alias("h6"),
        )
    )
    thr = h.agg(F.percentile("h6", F.lit(0.25)).alias("thr"))
    return (
        h.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("h6") < F.col("thr")).cast("int")).cast("bigint").alias(
                "n_low_entropy"
            ),
            F.round(F.sum("h6"), 6).alias("total_entropy"),
            F.round(F.min("h6"), 6).alias("min_entropy"),
            F.round(F.max("h6"), 6).alias("max_entropy"),
        )
    )


@query(
    "dq_expectations",
    oracle="""
    SELECT 'orders_custkey_fk' AS rule,
           (SELECT count(*) FROM orders) AS n_checked,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_failed
    UNION ALL
    SELECT 'event_id_unique',
           (SELECT count(*) FROM events),
           (SELECT count(*) - count(DISTINCT event_id) FROM events)
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'documents_nchars_consistent',
           (SELECT count(*) FROM documents),
           (SELECT count(*) FROM documents
            WHERE text IS NULL OR n_chars != length(text))
    UNION ALL
    SELECT 'events_value_present',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events
            WHERE value IS NULL OR isnan(value))
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations suite (the dbt-test / Great-
    Expectations shape): each rule yields (rule, n_checked, n_failed) —
    FK orphan count, key uniqueness, value-range conformance, derived-
    column consistency, null/NaN presence — unioned into one ledger a
    pipeline gates deploys on. Failure COUNTS, not booleans, so the
    hash pins the exact violation volume (today: zero across all five
    rules — and a regenerated corpus that breaks one fails loudly with
    the count of rows to triage).

    Scale: ONE scan per audited table (5 total — the r8 scan-dedup
    audit found the per-rule checked/failed frame pair re-planned each
    table scan twice, 11 scans where 5 are inherent). Every rule over
    a table is a conditional aggregate (count_if) inside that table's
    single map-side agg — the observe()-style shared pass a production
    harness uses — the FK check rides the orders scan as a broadcast
    left join whose NULL-probe count IS the orphan count, and the two
    events rules (uniqueness + NaN presence) explode out of one
    1-row agg."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    li = table(spark, sf_dir, "lineitem")
    d = table(spark, sf_dir, "documents")

    def row(name, nc, nf):
        return F.struct(
            F.lit(name).alias("rule"),
            nc.cast("bigint").alias("n_checked"),
            nf.cast("bigint").alias("n_failed"),
        )

    # c_custkey is the customer PK (unique), so the left join cannot
    # fan out; a NULL probe side marks an orphan — the anti-join count
    # and the total ride the same scan.
    r_fk = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o.o_custkey == c.c_custkey,
            "left",
        )
        .agg(
            F.count("*").alias("nc"),
            F.count_if(F.col("c_custkey").isNull()).alias("nf"),
        )
        .select(
            F.explode(
                F.array(row("orders_custkey_fk", F.col("nc"), F.col("nf")))
            ).alias("r")
        )
    )
    r_events = e.agg(
        F.count("*").alias("nc"),
        (F.count("*") - F.count_distinct("event_id")).alias("nf_dup"),
        F.count_if(F.col("value").isNull() | F.isnan("value")).alias("nf_nan"),
    ).select(
        F.explode(
            F.array(
                row("event_id_unique", F.col("nc"), F.col("nf_dup")),
                row("events_value_present", F.col("nc"), F.col("nf_nan")),
            )
        ).alias("r")
    )
    r_range = li.agg(
        F.count("*").alias("nc"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("nf"),
    ).select(
        F.explode(
            F.array(row("lineitem_qty_range", F.col("nc"), F.col("nf")))
        ).alias("r")
    )
    r_cons = d.agg(
        F.count("*").alias("nc"),
        F.count_if(
            F.col("text").isNull() | (F.col("n_chars") != F.length("text"))
        ).alias("nf"),
    ).select(
        F.explode(
            F.array(row("documents_nchars_consistent", F.col("nc"), F.col("nf")))
        ).alias("r")
    )
    return (
        r_fk.unionAll(r_events)
        .unionAll(r_range)
        .unionAll(r_cons)
        .select("r.rule", "r.n_checked", "r.n_failed")
    )


# ---------------------------------------------------------------------------
# Gopher-style rule panel + PSI drift — the two standard corpus-health
# reports (parallel rule flags with per-rule accounting; binned
# population-stability index between releases).
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that")


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH m AS (
        SELECT lang,
               len(string_split(text, ' ')) AS nw,
               (len(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                   / len(string_split(text, ' ')) AS mwl,
               len(list_intersect(string_split(text, ' '),
                   [{", ".join(repr(s) for s in _STOPWORDS)}])) AS stop_hits,
               list_max(list_transform(list_distinct(string_split(text, ' ')),
                   x -> len(list_filter(string_split(text, ' '),
                            y -> y = x)))) * 1.0
                   / len(string_split(text, ' ')) AS top_frac
        FROM documents
    ), f AS (
        SELECT lang, top_frac,
               (nw BETWEEN 15 AND 90) AS r_words,
               (mwl BETWEEN 3.5 AND 5.0) AS r_mwl,
               (stop_hits >= 2) AS r_stop,
               (top_frac <= 0.12) AS r_rep
        FROM m
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE r_words AND r_mwl AND r_stop AND r_rep)
                AS BIGINT) AS n_pass_all,
           CAST(count(*) FILTER (WHERE NOT r_words) AS BIGINT) AS n_fail_words,
           CAST(count(*) FILTER (WHERE NOT r_mwl) AS BIGINT) AS n_fail_wordlen,
           CAST(count(*) FILTER (WHERE NOT r_stop) AS BIGINT) AS n_fail_stopword,
           CAST(count(*) FILTER (WHERE NOT r_rep) AS BIGINT) AS n_fail_repetition,
           round(avg(top_frac), 4) AS avg_top_word_frac
    FROM f GROUP BY lang
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style PARALLEL rule panel (vs the CASCADE in
    `filter_funnel_stats`): every document is scored against all four
    rules independently — word-count bounds, mean-word-length bounds,
    minimum stopword evidence (>=2 hits from a fixed function-word
    list, the Gopher natural-language signal), and a repetition cap on
    the top word's frequency share — and the per-language report counts
    failures PER RULE plus the pass-all intersection, the numbers a
    corpus curation review actually reads.

    Scale: all four signals, including the repetition share, are pure
    JVM array HOFs computed map-side in ONE corpus scan (the
    top-word count is array_max over per-distinct-word filters —
    O(distinct x words) per row, fine at document word counts; a corpus
    of book-length texts would swap it for the explode + count + max
    aggregation at one extra shuffle). One groupBy on lang leaves the
    executors."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    nw = F.size(words)
    mwl = (F.length("text") - (nw - F.lit(1))) * F.lit(1.0) / nw
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in _STOPWORDS]))
    )
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(words),
                lambda x: F.size(F.filter(words, lambda y: y == x)),
            )
        )
        * F.lit(1.0)
        / nw
    )
    f = d.select(
        "lang",
        top_frac.alias("top_frac"),
        nw.between(15, 90).alias("r_words"),
        mwl.between(3.5, 5.0).alias("r_mwl"),
        (stop_hits >= 2).alias("r_stop"),
        (top_frac <= 0.12).alias("r_rep"),
    )
    return f.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            (
                F.col("r_words") & F.col("r_mwl") & F.col("r_stop")
                & F.col("r_rep")
            ).cast("long")
        ).alias("n_pass_all"),
        F.sum((~F.col("r_words")).cast("long")).alias("n_fail_words"),
        F.sum((~F.col("r_mwl")).cast("long")).alias("n_fail_wordlen"),
        F.sum((~F.col("r_stop")).cast("long")).alias("n_fail_stopword"),
        F.sum((~F.col("r_rep")).cast("long")).alias("n_fail_repetition"),
        F.round(F.avg("top_frac"), 4).alias("avg_top_word_frac"),
    )


@query(
    "psi_release_drift",
    oracle="""
    WITH b AS (
        SELECT least(CAST(n_chars // 80 AS BIGINT), 5) AS bin,
               CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_b
        FROM documents GROUP BY bin
    ), t AS (
        SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS k FROM b
    )
    SELECT bin, n_a, n_b,
           round(((n_a + 1.0) / (ta + k) - (n_b + 1.0) / (tb + k))
                 * ln(((n_a + 1.0) / (ta + k)) / ((n_b + 1.0) / (tb + k))),
                 6) AS psi_term
    FROM b, t
    """,
)
def psi_release_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index between two corpus releases (even /
    odd doc_id) over FIXED n_chars bins (width 80, capped at bin 5 so
    edges never drift between releases — the property that makes PSI
    comparable run-to-run, unlike quantile bins). Laplace add-one
    smoothing keeps empty bins finite; each bin's (pA-pB)·ln(pA/pB)
    term is reported so a reviewer sees WHERE the mass moved, and the
    term sum is the headline PSI (>0.2 = actionable drift by the usual
    rule of thumb). Complements `source_mixture_drift` (categorical
    KL) with the binned-numeric monitor.

    Scale: ONE corpus scan into the 6-row binned frame; the release
    totals come from an unpartitioned window over those 6 rows (the
    single-partition warning is harmless at bin-count cardinality, and
    this avoids the naive `b.agg(...).crossJoin(b)` shape, which plans
    the corpus scan TWICE — the same double-scan trap
    `equidepth_approx_audit` hit; plan contract in tests/test_plans.py)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    b = d.select(
        F.least(F.floor(F.col("n_chars") / 80), F.lit(5)).alias("bin"),
        (F.col("doc_id") % 2 == 0).alias("is_a"),
    ).groupBy("bin").agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
    )
    w = Window.partitionBy()  # 6-row frame: totals without a rescan
    j = b.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("ta"),
        F.sum("n_b").over(w).alias("tb"),
        F.count("*").over(w).alias("k"),
    )
    pa = (F.col("n_a") + 1.0) / (F.col("ta") + F.col("k"))
    pb = (F.col("n_b") + 1.0) / (F.col("tb") + F.col("k"))
    return j.select(
        "bin",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# observe(): accumulator-style metrics riding a production scan — the
# Observation API (the zero-extra-pass form of the dq_expectations
# shared-agg pattern).
# ---------------------------------------------------------------------------


@query(
    "observed_scan_metrics",
    oracle="""
    WITH real AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_discount > 0.02 GROUP BY l_returnflag
    ), obs AS (
        SELECT CAST(count(*) AS BIGINT) AS obs_rows,
               round(sum(l_extendedprice), 2) AS obs_price_total,
               CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
                   AS obs_nonpos_qty
        FROM lineitem
    )
    SELECT r.l_returnflag, r.n_items, r.sum_qty,
           o.obs_rows, o.obs_price_total, o.obs_nonpos_qty
    FROM real r CROSS JOIN obs o
    """,
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``Observation`` API — named accumulator metrics attached to
    a scan with ``df.observe(...)`` and collected as a side effect of
    the REAL query's action, the production pattern for data-quality
    gates that must not pay a second corpus pass (``dq_expectations``
    demonstrates the shared-agg form; this is the zero-extra-pass
    form: the business aggregate and the DQ counters ride ONE scan).
    The observed values are then literalized into the result so the
    driver hash pins them: per-returnflag filtered aggregates (the
    business result) carrying the observed full-scan row count, price
    total, and non-positive-quantity count (the DQ gate inputs).

    Float parity: observed sums are 2dp grid money (grid-sum rule);
    counts are ints; the one internal action that populates the
    observation is the same collect the driver repeats.

    Scale: ONE fact scan serves both the filtered business aggregate
    and the observation (observe() aggregates are accumulator-style,
    map-side, no extra shuffle); the observation result is a 1-row
    broadcast literalized cross-join."""
    from pyspark.sql import Observation

    l = table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("obs_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("obs_price_total"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias(
            "obs_nonpos_qty"
        ),
    )
    real = (
        observed.where(F.col("l_discount") > 0.02)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    rows = real.collect()  # populates the observation
    got = obs.get
    metrics = local_frame(
        spark,
        [
            (
                int(got["obs_rows"]),
                float(got["obs_price_total"]),
                int(got["obs_nonpos_qty"]),
            )
        ],
        "obs_rows bigint, obs_price_total double, obs_nonpos_qty bigint",
    )
    return local_frame(
        spark,
        rows, real.schema
    ).crossJoin(F.broadcast(metrics))


# ---------------------------------------------------------------------------
# McNemar filter-agreement test: do two quality filters disagree beyond
# chance — the paired test a curation team runs before swapping filters
# (an unpaired rate comparison is wrong here: both filters score the
# SAME documents, so only the discordant cells carry information).
# ---------------------------------------------------------------------------


@query(
    "mcnemar_filter_agreement",
    oracle="""
    WITH f AS (
        SELECT CASE WHEN n_chars < 300 THEN 1 ELSE 0 END AS fa,
               CASE WHEN len(string_split(text, ' ')) < 50
                    THEN 1 ELSE 0 END AS fb
        FROM documents
    ), m AS (
        SELECT count(*) FILTER (WHERE fa = 1 AND fb = 1) AS a,
               count(*) FILTER (WHERE fa = 1 AND fb = 0) AS b,
               count(*) FILTER (WHERE fa = 0 AND fb = 1) AS c,
               count(*) FILTER (WHERE fa = 0 AND fb = 0) AS d
        FROM f
    )
    SELECT CAST(a AS BIGINT) AS n_both, CAST(b AS BIGINT) AS n_only_a,
           CAST(c AS BIGINT) AS n_only_b, CAST(d AS BIGINT) AS n_neither,
           CASE WHEN a + b + c > 0
                THEN round(a * 1.0 / (a + b + c), 4) END AS flag_jaccard,
           CASE WHEN b + c > 0 THEN
               round((b - c) * (b - c) * 1.0 / (b + c), 4)
           END AS mcnemar_chi2,
           CASE WHEN b + c > 0 THEN
               (b - c) * (b - c) * 1.0 / (b + c) > 3.841459
           END AS significant
    FROM m
    """,
)
def mcnemar_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two document quality filters
    (filter A: n_chars < 300; filter B: whitespace tokens < 50) — the
    statistically correct way to ask "does the candidate filter flag a
    DIFFERENT population than the incumbent": both filters score the
    same documents, so the concordant cells are uninformative and the
    test runs on the discordant counts alone, chi2 = (b-c)^2/(b+c).
    Alongside: the flagged-set Jaccard (how much the filters overlap at
    all) and the full 2x2 agreement table — the numbers a filter-swap
    review actually reads.

    Float parity: the 2x2 cells are exact integer counts from
    identical predicates; chi2 and the Jaccard are single divisions of
    bit-identical int64 operands; the all-concordant (b + c = 0) and
    nothing-flagged degenerates pin their ratios to NULL in both
    engines, and the significance flag compares the UNROUNDED double.

    Scale: ONE corpus scan into four map-side-combinable conditional
    counts — the audit costs a rounding error on top of either filter
    it compares."""
    d = table(spark, sf_dir, "documents")
    fa = (F.col("n_chars") < 300).cast("int")
    fb = (F.size(F.split("text", " ", -1)) < 50).cast("int")
    m = d.select(fa.alias("fa"), fb.alias("fb")).agg(
        F.sum(((F.col("fa") == 1) & (F.col("fb") == 1)).cast("bigint")).alias("a"),
        F.sum(((F.col("fa") == 1) & (F.col("fb") == 0)).cast("bigint")).alias("b"),
        F.sum(((F.col("fa") == 0) & (F.col("fb") == 1)).cast("bigint")).alias("c"),
        F.sum(((F.col("fa") == 0) & (F.col("fb") == 0)).cast("bigint")).alias("d"),
    )
    chi2 = (
        (F.col("b") - F.col("c"))
        * (F.col("b") - F.col("c"))
        * 1.0
        / (F.col("b") + F.col("c"))
    )
    return m.select(
        F.col("a").cast("bigint").alias("n_both"),
        F.col("b").cast("bigint").alias("n_only_a"),
        F.col("c").cast("bigint").alias("n_only_b"),
        F.col("d").cast("bigint").alias("n_neither"),
        F.when(
            F.col("a") + F.col("b") + F.col("c") > 0,
            F.round(
                F.col("a") * 1.0 / (F.col("a") + F.col("b") + F.col("c")),
                4,
            ),
        ).alias("flag_jaccard"),
        F.when(F.col("b") + F.col("c") > 0, F.round(chi2, 4)).alias(
            "mcnemar_chi2"
        ),
        F.when(F.col("b") + F.col("c") > 0, chi2 > 3.841459).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Blocklist safety filter: the safety stage every training-data
# pipeline runs between quality scoring and mixing — C4 drops any doc
# containing a blocklisted term (hard block), Gopher-style rate rules
# drop docs where flagged mass exceeds a threshold (rate block). Both
# verdicts in ONE scan, with per-lang accounting (safety filters have
# notoriously uneven per-language false-positive rates — the rollup IS
# the audit).
# ---------------------------------------------------------------------------

_HARD_BLOCK = ["dup"]
_SOFT_BLOCK = ["slow", "batch"]
_SOFT_RATE = 0.08


@query(
    "blocklist_safety_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ), scored AS (
        SELECT lang,
               len(toks) AS n_tokens,
               len(list_filter(toks,
                   x -> list_contains({_HARD_BLOCK!r}, x))) AS n_hard,
               len(list_filter(toks,
                   x -> list_contains({_SOFT_BLOCK!r}, x))) * 1.0
                   / len(toks) AS soft_rate
        FROM t
    ), verdicts AS (
        SELECT lang, n_tokens, soft_rate,
               CASE WHEN n_hard > 0 THEN 'hard_block'
                    WHEN soft_rate > {_SOFT_RATE!r} THEN 'rate_block'
                    ELSE 'pass' END AS verdict
        FROM scored
    )
    SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
           round(max(soft_rate), 6) AS max_soft_rate
    FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict
    """,
)
def blocklist_safety_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon safety filtering — the stage between quality scoring and
    mixing that every production corpus pipeline runs: a HARD blocklist
    (any occurrence rejects the doc — the C4 badwords discipline) and a
    SOFT rate rule (flagged-token fraction > 0.08 rejects — the
    Gopher-style rate form that tolerates incidental mentions), both
    computed in ONE scan, rolled up per (lang, verdict) because safety
    lexicons have uneven per-language false-positive rates and the
    rollup is exactly the audit a release review reads. The lexicons
    are identical repr literals in both engines (the benford
    literal-injection rule); on this synthetic corpus they are fixture
    tokens chosen to make every verdict class non-empty.

    Float parity: token and hit counts are exact integers via array
    HOF filters (no tokenizer UDF); soft_rate is ONE int/int division
    per doc; the verdict compares the UNROUNDED rate against an
    identical threshold literal; per-group reductions are count / sum /
    max only — no off-grid summation.

    Scale: one corpus scan, all scoring inside whole-stage codegen
    (split + filter + size HOFs), one low-cardinality (lang, verdict)
    shuffle with map-side partials. A real lexicon (hundreds of terms)
    swaps the literal arrays for a broadcast set — same plan shape."""
    d = table(spark, sf_dir, "documents")
    hard = ", ".join(f"'{w}'" for w in _HARD_BLOCK)
    soft = ", ".join(f"'{w}'" for w in _SOFT_BLOCK)
    scored = d.select(
        "lang",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(
            f"size(filter(split(text, ' '), x -> array_contains(array({hard}), x)))"
        ).alias("n_hard"),
        (
            F.expr(
                f"size(filter(split(text, ' '), x -> array_contains(array({soft}), x)))"
            )
            * 1.0
            / F.expr("size(split(text, ' '))")
        ).alias("soft_rate"),
    )
    verdicts = scored.select(
        "lang",
        "n_tokens",
        "soft_rate",
        F.when(F.col("n_hard") > 0, "hard_block")
        .when(F.col("soft_rate") > _SOFT_RATE, "rate_block")
        .otherwise("pass")
        .alias("verdict"),
    )
    return (
        verdicts.groupBy("lang", "verdict")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
            F.round(F.max("soft_rate"), 6).alias("max_soft_rate"),
        )
        .orderBy("lang", "verdict")
    )


# ---------------------------------------------------------------------------
# The deployment-shaped lexicon: blocklist_safety_filter proves the
# verdict machinery on a 3-term fixture; a real release pipeline ships
# HUNDREDS of terms. The promise in its docstring — "a real lexicon
# swaps the literal arrays for a broadcast set, same plan shape" — is
# proven here: the lexicon is a term -> kind MAP literal that Catalyst
# constant-folds into a single plan-shipped Literal (the broadcast-set
# shape: built once, carried in the serialized plan, never a join), so
# membership is ONE lookup per token instead of one array scan per
# list, and the whole scoring stage stays inside the same single
# codegen'd corpus scan (plan-asserted).
# ---------------------------------------------------------------------------

_LEX_HARD = _HARD_BLOCK + [f"badterm{i:03d}" for i in range(160)]
_LEX_SOFT = _SOFT_BLOCK + [f"flagterm{i:03d}" for i in range(160)]


@query(
    "blocklist_lexicon_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ), scored AS (
        SELECT lang,
               len(toks) AS n_tokens,
               len(list_filter(toks,
                   x -> list_contains({_LEX_HARD!r}, x))) AS n_hard,
               len(list_filter(toks,
                   x -> list_contains({_LEX_SOFT!r}, x))) * 1.0
                   / len(toks) AS soft_rate
        FROM t
    ), verdicts AS (
        SELECT lang, n_tokens, soft_rate,
               CASE WHEN n_hard > 0 THEN 'hard_block'
                    WHEN soft_rate > {_SOFT_RATE!r} THEN 'rate_block'
                    ELSE 'pass' END AS verdict
        FROM scored
    )
    SELECT lang, verdict, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
           round(max(soft_rate), 6) AS max_soft_rate,
           CAST({len(_LEX_HARD) + len(_LEX_SOFT)} AS BIGINT)
               AS n_lexicon_terms
    FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict
    """,
)
def blocklist_lexicon_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`blocklist_safety_filter` at deployment lexicon size (VERDICT
    r12 item 5): 322 terms (the 3 corpus-hitting fixture terms so
    every verdict class stays non-empty, plus 320 synthetic terms — a
    real pipeline loads these from the lexicon release file). The
    lexicon rides the plan as ONE constant-folded term->kind map
    Literal — the broadcast-set discipline: built once on the driver,
    shipped inside the serialized plan to every task, membership is a
    single map lookup per token (`coalesce(blk[x], 0)`), and the map
    appears ONCE in the expression tree (each token classified once,
    the hard/soft counts then fold over the small kinds array) instead
    of once per blocklist. No join, no shuffle before the final
    (lang, verdict) rollup, no Python — the scoring stage is the same
    single codegen'd scan as the fixture query (plan-asserted by
    test_blocklist_lexicon_plan).

    Float parity: identical to the fixture query — exact integer
    counts via array HOFs, one int/int division per doc, unrounded
    threshold compare, count/sum/max reductions only.

    Scale: one corpus scan; per-token cost is O(1) in lexicon size
    (map lookup), so a 10k-term production lexicon changes the plan
    literal, not the plan. n_lexicon_terms pins the shipped lexicon
    size into the audited output."""
    d = table(spark, sf_dir, "documents")
    entries = ", ".join(
        [f"'{w}', 1" for w in _LEX_HARD] + [f"'{w}', 2" for w in _LEX_SOFT]
    )
    kinds = d.select(
        "lang",
        F.expr(
            f"transform(split(text, ' '), x -> coalesce(map({entries})[x], 0))"
        ).alias("kinds"),
    )
    scored = kinds.select(
        "lang",
        F.size("kinds").alias("n_tokens"),
        F.expr("size(filter(kinds, k -> k = 1))").alias("n_hard"),
        (
            F.expr("size(filter(kinds, k -> k = 2))")
            * 1.0
            / F.size("kinds")
        ).alias("soft_rate"),
    )
    verdicts = scored.select(
        "lang",
        "n_tokens",
        "soft_rate",
        F.when(F.col("n_hard") > 0, "hard_block")
        .when(F.col("soft_rate") > _SOFT_RATE, "rate_block")
        .otherwise("pass")
        .alias("verdict"),
    )
    return (
        verdicts.groupBy("lang", "verdict")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
            F.round(F.max("soft_rate"), 6).alias("max_soft_rate"),
        )
        .withColumn(
            "n_lexicon_terms",
            F.lit(len(_LEX_HARD) + len(_LEX_SOFT)).cast("bigint"),
        )
        .orderBy("lang", "verdict")
    )
