"""Warehouse-analytics surface (round 6): distribution statistics,
skyline/segmentation operators, exact-distinct bitmap aggregation, and
the Spark-4 dialect features (LISTAGG ... WITHIN GROUP, collated
grouping, deterministic MODE) the reference's stats queries would grow
into on a real cluster.

Design rules shared by every query here:

- **Exact-integer outputs wherever a ratio could terminate.** The
  round-5 lesson (NOTES.md "grid-sum rule") is applied from the start:
  KS / Gini / CUSUM emit integer-scaled statistics (numerators,
  denominators, integer floor-divisions) instead of rounded quotients,
  so cross-engine parity is exact rather than probabilistic.
- **Windows only over bounded domains.** Global windows appear only on
  dimension-sized frames (distinct prices, value domains, customers,
  days); every fact-sized pass is a grouped aggregation. Where a global
  sort would not survive 100 TB, the scalable two-phase form is
  implemented (see ``pareto_front_orders``) or documented as the scale
  path in the docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.catalog import table
from ..core.registry import query
from ..core.session import cached, ensure_utc, local_frame
from ..functions.helpers import duck_h40, h40, ordered_fold_sum, ordered_pairs

# ---------------------------------------------------------------------------
# Spark-4 SQL dialect surfaces
# ---------------------------------------------------------------------------


@query(
    "listagg_order_lines",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def listagg_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 ``LISTAGG(DISTINCT ...) WITHIN GROUP`` (SQL:2023 ordered
    string aggregation) — the per-group status roll-up the reference
    prints driver-side (``pyspark_stats.py`` report strings) expressed
    as one grouped aggregation. DISTINCT bounds the list at the status
    domain (3 values), so the agg state stays O(domain) per group.

    The customer count is a SEPARATE agg joined back (5-row broadcast):
    combining ``listagg(DISTINCT) WITHIN GROUP`` with a second DISTINCT
    aggregate in one GROUP BY trips a Spark 4.1 planner bug
    (RewriteDistinctAggregates casts the WITHIN GROUP SortOrder to
    AttributeReference → ClassCastException), so the split is a
    correctness requirement, not a style choice."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT l.o_orderpriority, l.statuses, l.n_orders, c.n_customers
        FROM (
            SELECT o_orderpriority,
                   listagg(DISTINCT o_orderstatus, ',')
                     WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderpriority
        ) l
        JOIN (
            SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
            FROM orders GROUP BY o_orderpriority
        ) c USING (o_orderpriority)
        """
    )


@query(
    "collation_group_names",
    oracle=f"""
    WITH t AS (
        SELECT CASE WHEN {duck_h40("w")} % 2 = 0 THEN upper(w) ELSE w END AS w2
        FROM (SELECT string_split(text, ' ')[1] AS w FROM documents)
    )
    SELECT lower(w2) AS word,
           count(*) AS n_docs,
           CAST(count(DISTINCT w2) AS BIGINT) AS n_variants
    FROM t GROUP BY lower(w2)
    """,
)
def collation_group_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via a Spark-4 COLLATION
    (``UTF8_LCASE``), not via a lower() projection: the grouping key
    itself carries the collation, which is what lets the same plan
    serve collation-aware joins/sorts at scale. Case variance is
    synthesized deterministically (md5-parity uppercase of each doc's
    first word) so ``n_variants`` > 1 proves the ci-merge actually
    happened; the emitted key is ``lower()`` of the group (constant
    across a ci-group, unlike the arbitrary group representative)."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ").getItem(0)
    w2 = F.when(h40(w) % 2 == 0, F.upper(w)).otherwise(w)
    return (
        d.select(w2.alias("w2"))
        .groupBy(F.collate(F.col("w2"), "UTF8_LCASE").alias("wc"))
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.col("w2")).alias("n_variants"),
        )
        .select(
            F.collate(F.lower(F.col("wc")), "UTF8_BINARY").alias("word"),
            "n_docs",
            "n_variants",
        )
    )


@query(
    "mode_per_group",
    oracle="""
    WITH c AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY month, o_orderpriority
    ),
    r AS (
        SELECT month, o_orderpriority,
               sum(cnt) OVER (PARTITION BY month) AS n_orders,
               row_number() OVER (PARTITION BY month
                                  ORDER BY cnt DESC, o_orderpriority) AS rk
        FROM c
    )
    SELECT month, o_orderpriority AS modal_priority,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM r WHERE rk = 1
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month modal order priority via Spark's ``mode(col,
    deterministic=true)`` (lowest value on frequency ties — the only
    tie rule an oracle can replicate; DuckDB's own ``mode()`` tie-break
    is unspecified, so the oracle derives the mode from counts +
    ``row_number`` instead). One grouped agg, no window on the fact."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.mode("o_orderpriority", True).alias("modal_priority"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Exact-distinct at scale: bitmap aggregation
# ---------------------------------------------------------------------------


@query(
    "bitmap_distinct_users",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY day
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day distinct users via Spark's bitmap aggregates
    (``bitmap_construct_agg`` over ``bitmap_bit_position`` per
    ``bitmap_bucket_number`` bucket, then ``bitmap_count`` summed per
    day). Unlike ``count(DISTINCT)``, the bitmap state is MERGEABLE:
    partials combine map-side and the shuffle carries fixed-width
    bitmaps keyed by (day, bucket) instead of every raw user_id — the
    same two-level shape that lets a 1000-executor cluster compute
    exact uniques without a distinct-expand shuffle. The oracle is the
    plain COUNT DISTINCT the bitmaps must equal."""
    ensure_utc(spark)
    e = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    per_bucket = e.groupBy(
        "day", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"),
        F.count("*").alias("cnt"),
    )
    return per_bucket.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users"),
        F.sum("cnt").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Time-series M4 downsampling
# ---------------------------------------------------------------------------


@query(
    "m4_downsample",
    oracle="""
    WITH t AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
               ts, value, event_id
        FROM events
    ),
    r AS (
        SELECT bucket, value,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY ts, value, event_id) AS ra,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY ts DESC, value DESC, event_id DESC) AS rd
        FROM t
    )
    SELECT bucket,
           round(min(value), 4) AS v_min,
           round(max(value), 4) AS v_max,
           round(max(CASE WHEN ra = 1 THEN value END), 4) AS v_first,
           round(max(CASE WHEN rd = 1 THEN value END), 4) AS v_last,
           count(*) AS n_rows
    FROM r GROUP BY bucket
    """,
)
def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (min/max/first/last per pixel-bucket
    — the error-free line-chart reduction from the M4 paper, VLDB'14):
    what a 100 TB events table must be reduced to before any chart sink
    like ``sources/html_report``. One shuffle on the bucket; first/last
    are rank-1 rows under a TOTAL order (ts, value, event_id) so
    same-timestamp ties cannot flip parity. Emitted values are raw row
    values (no cross-row float arithmetic) — rounding is presentational
    only."""
    ensure_utc(spark)
    e = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
            "bucket"
        ),
        "ts",
        "value",
        "event_id",
    )
    wa = Window.partitionBy("bucket").orderBy("ts", "value", "event_id")
    wd = Window.partitionBy("bucket").orderBy(
        F.desc("ts"), F.desc("value"), F.desc("event_id")
    )
    r = e.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return r.groupBy("bucket").agg(
        F.round(F.min("value"), 4).alias("v_min"),
        F.round(F.max("value"), 4).alias("v_max"),
        F.round(F.max(F.when(F.col("ra") == 1, F.col("value"))), 4).alias("v_first"),
        F.round(F.max(F.when(F.col("rd") == 1, F.col("value"))), 4).alias("v_last"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front)
# ---------------------------------------------------------------------------


@query(
    "pareto_front_orders",
    oracle="""
    WITH c AS (
        SELECT o_totalprice AS price, max(o_orderdate) AS bd
        FROM orders GROUP BY price
    ),
    r AS (
        SELECT price, bd,
               max(bd) OVER (ORDER BY price DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM c
    )
    SELECT round(price, 2) AS price, strftime(bd, '%Y-%m-%d') AS front_date
    FROM r WHERE pm IS NULL OR bd > pm
    """,
)
def pareto_front_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-d skyline (Pareto front) of orders maximizing (totalprice,
    orderdate): an order is on the front iff no other order has both a
    strictly higher price and a later-or-equal date. Implemented in the
    DISTRIBUTED three-phase shape (local skyline per price-bucket →
    cross-bucket prune against higher buckets' max date → exact global
    pass over the tiny survivor set), because a skyline IS mergeable:
    pruning can never remove a true front point. Only the final window
    is global, and it runs over O(front) rows, not O(orders). The
    oracle is the direct one-window formulation over distinct prices.
    Core algorithm in ``operators/skyline.py`` (property-tested vs a
    brute-force dominance check)."""
    from ..operators.skyline import pareto_front_2d

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    front = pareto_front_2d(
        o,
        x="o_totalprice",
        y="o_orderdate",
        bucket=F.floor(F.col("o_totalprice") / 10000).cast("bigint"),
    )
    return front.select(
        F.round("o_totalprice", 2).alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("front_date"),
    )


# ---------------------------------------------------------------------------
# Distribution statistics: chi-square, KS drift, Gini, CUSUM
# ---------------------------------------------------------------------------


@query(
    "chi2_lang_source",
    oracle="""
    WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, sum(o) AS rl FROM cells GROUP BY lang),
    ct AS (SELECT source, sum(o) AS cs FROM cells GROUP BY source),
    tot AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
                   count(DISTINCT source) AS ns
            FROM cells)
    SELECT round(sum(
               (CAST(o * n - rl * cs AS DOUBLE) * CAST(o * n - rl * cs AS DOUBLE))
               / (CAST(n AS DOUBLE) * rl * cs)), 4) AS chi2,
           CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof,
           CAST(n AS BIGINT) AS n
    FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
    GROUP BY nl, ns, n
    """,
)
def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test for the documents ``lang × source``
    contingency table — the mixture-drift detector a corpus-governance
    pipeline runs per release. One fact-scan groupBy builds the cell
    table; everything after runs on the O(langs × sources) frame with
    broadcast joins. Each term is computed as
    ``(o·n − rl·cs)² / (n·rl·cs)`` with the numerator difference exact
    in BIGINT and promoted to double only for the final
    multiply/divide, so per-term values are bit-identical cross-engine
    (only the sum's addition order differs — far below the 4 dp
    rounding)."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    # row/column/grand totals as WINDOWS over the O(langs x sources)
    # cell frame — the groupBy-then-join-back form re-planned the full
    # corpus scan once per derived frame (4 scans; the psi-class
    # double-scan trap, removed in round 8)
    joined = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("rl"),
        F.sum("o").over(Window.partitionBy("source")).alias("cs"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
        F.size(
            F.collect_set("lang").over(Window.partitionBy())
        ).alias("nl"),
        F.size(
            F.collect_set("source").over(Window.partitionBy())
        ).alias("ns"),
    )
    diff = F.col("o") * F.col("n") - F.col("rl") * F.col("cs")
    term = (diff.cast("double") * diff.cast("double")) / (
        F.col("n").cast("double") * F.col("rl") * F.col("cs")
    )
    return joined.groupBy("nl", "ns", "n").agg(
        F.round(F.sum(term), 4).alias("chi2")
    ).select(
        "chi2",
        ((F.col("nl") - 1) * (F.col("ns") - 1)).cast("bigint").alias("dof"),
        F.col("n").cast("bigint").alias("n"),
    )


def _top2_length_counts(spark: SparkSession, sf_dir: str):
    """``(pv, tt)`` for the two largest documents sources (count desc,
    name asc — a deterministic pick): ``pv`` holds each observed
    ``n_chars`` with its count in the first (``d1``) and the second
    (``d2``) source, ``tt`` the one row ``(src_a, src_b, n1, n2)``."""
    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    # ONE fact scan: collapse to the (source, length) contingency frame
    # and derive both the per-source totals and the per-length counts
    # from it (cached — it is domain-sized, |sources| × |lengths|).
    base = cached(
        d.groupBy("source", "n_chars")
        .agg(F.count("*").alias("c"))
    )
    sc = base.groupBy("source").agg(F.sum("c").alias("cnt"))
    wr = Window.orderBy(F.desc("cnt"), "source")  # tiny frame: one row/source
    top2 = sc.withColumn("rk", F.row_number().over(wr)).where(F.col("rk") <= 2)
    t = base.join(F.broadcast(top2), "source").select("rk", "n_chars", "c")
    pv = t.groupBy("n_chars").agg(
        F.sum(F.when(F.col("rk") == 1, F.col("c")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("rk") == 2, F.col("c")).otherwise(0)).alias("d2"),
    )
    tt = top2.agg(
        F.max(F.when(F.col("rk") == 1, F.col("source"))).alias("src_a"),
        F.max(F.when(F.col("rk") == 2, F.col("source"))).alias("src_b"),
        F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("n1"),
        F.max(F.when(F.col("rk") == 2, F.col("cnt"))).alias("n2"),
    )
    return pv, tt


@query(
    "ks_score_drift",
    oracle="""
    WITH sc AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    r AS (SELECT source, cnt,
                 row_number() OVER (ORDER BY cnt DESC, source) AS rk
          FROM sc),
    top2 AS (SELECT * FROM r WHERE rk <= 2),
    t AS (SELECT rk, n_chars FROM documents JOIN top2 USING (source)),
    pv AS (SELECT n_chars,
                  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS d1,
                  sum(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS d2
           FROM t GROUP BY n_chars),
    cum AS (SELECT sum(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
                   sum(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2
            FROM pv),
    tt AS (SELECT max(CASE WHEN rk = 1 THEN source END) AS src_a,
                  max(CASE WHEN rk = 2 THEN source END) AS src_b,
                  max(CASE WHEN rk = 1 THEN cnt END) AS n1,
                  max(CASE WHEN rk = 2 THEN cnt END) AS n2
           FROM top2)
    SELECT src_a, src_b, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
           CAST(max(abs(c1 * n2 - c2 * n1)) * 1000000 // (n1 * n2) AS BIGINT)
               AS ks_e6
    FROM cum CROSS JOIN tt
    GROUP BY src_a, src_b, n1, n2
    """,
)
def ks_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the doc-length
    distributions of the two largest sources (count desc, name asc —
    deterministic pick). The KS sup-gap is computed in EXACT integer
    arithmetic: ``d_num = max |c1·n2 − c2·n1|`` over the union of
    observed lengths, with ``KS = d_num/(n1·n2)`` emitted as an integer
    floor-division (``ks_e6``) — no float quotient ever rounds. The
    cumulative window runs over the distinct length DOMAIN (bounded),
    not the corpus; the per-length counts come from one grouped scan."""
    pv, tt = _top2_length_counts(spark, sf_dir)
    wv = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select(
        F.sum("d1").over(wv).alias("c1"), F.sum("d2").over(wv).alias("c2")
    )
    dd = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (
        cum.crossJoin(F.broadcast(tt))
        .groupBy("src_a", "src_b", "n1", "n2")
        .agg(F.max(dd).alias("d_num"))
        .select(
            "src_a",
            "src_b",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "d_num",
            # same DECIMAL(38,0) widening as wasserstein_source_drift:
            # d_num <= n1*n2 fits int64 at any plausible scale, but
            # d_num*1e6 wraps once the source pair passes ~3M docs each
            F.expr(
                "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(n1 AS BIGINT) * n2) AS BIGINT)"
            ).alias("ks_e6"),
        )
    )


@query(
    "wasserstein_source_drift",
    oracle="""
    WITH sc AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
    r AS (SELECT source, cnt,
                 row_number() OVER (ORDER BY cnt DESC, source) AS rk
          FROM sc),
    top2 AS (SELECT * FROM r WHERE rk <= 2),
    t AS (SELECT rk, n_chars FROM documents JOIN top2 USING (source)),
    pv AS (SELECT n_chars,
                  sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS d1,
                  sum(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS d2
           FROM t GROUP BY n_chars),
    cum AS (SELECT n_chars,
                   sum(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
                   sum(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2,
                   lead(n_chars) OVER (ORDER BY n_chars) - n_chars AS dx
            FROM pv),
    tt AS (SELECT max(CASE WHEN rk = 1 THEN source END) AS src_a,
                  max(CASE WHEN rk = 2 THEN source END) AS src_b,
                  max(CASE WHEN rk = 1 THEN cnt END) AS n1,
                  max(CASE WHEN rk = 2 THEN cnt END) AS n2
           FROM top2)
    SELECT src_a, src_b, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(sum(abs(c1 * n2 - c2 * n1) * dx) AS BIGINT) AS w1_num,
           CAST(sum(abs(c1 * n2 - c2 * n1) * dx) * 1000000 // (n1 * n2)
                AS BIGINT) AS w1_e6
    FROM cum CROSS JOIN tt
    WHERE dx IS NOT NULL
    GROUP BY src_a, src_b, n1, n2
    """,
)
def wasserstein_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the doc-length
    distributions of the two largest sources — the transport-aware
    complement to `ks_score_drift`'s sup-gap (KS sees only the single
    worst CDF gap; W1 integrates ALL displaced mass, so a long mild
    shift registers even when no single gap is large — the standard
    release-drift pairing). W1 = integral of |F1 - F2| over the value
    axis, computed in EXACT integer arithmetic on the distinct-length
    domain: ``w1_num = sum |c1*n2 - c2*n1| * dx`` over consecutive
    observed lengths, emitted with the floor-divided ``w1_e6 =
    w1_num*1e6 // (n1*n2)`` (in n_chars units) — no float quotient
    ever rounds (the ks_score_drift discipline).

    Scale: identical shape to `ks_score_drift` — one grouped scan
    collapses the corpus to the (source, length) contingency frame;
    the cumulative/lead window runs over the bounded distinct-length
    DOMAIN, never corpus rows."""
    pv, tt = _top2_length_counts(spark, sf_dir)
    wv = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("n_chars")
    cum = pv.select(
        F.sum("d1").over(wv).alias("c1"),
        F.sum("d2").over(wv).alias("c2"),
        (F.lead("n_chars").over(wl) - F.col("n_chars")).alias("dx"),
    ).where(F.col("dx").isNotNull())
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (
        cum.crossJoin(F.broadcast(tt))
        .groupBy("src_a", "src_b", "n1", "n2")
        # widen the transported-mass sum and the *1e6 numerator to
        # DECIMAL(38,0) (the kruskal/welch HUGEINT-parity rule): at
        # 10M-doc sources w1_num ~ 1e16 fits int64 but w1_num*1e6 does
        # NOT — int64 would wrap (or raise under ANSI) exactly in the
        # scale regime this query advertises, while DuckDB's sum
        # promotes to HUGEINT and stays exact. Decimal DIV matches
        # DuckDB's // bit-for-bit (verified live at 1.4e19).
        .agg(
            F.sum((gap * F.col("dx")).cast("decimal(38,0)")).alias("w1_num")
        )
        .select(
            "src_a",
            "src_b",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("w1_num").cast("bigint").alias("w1_num"),
            F.expr(
                "CAST(CAST(w1_num AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(n1 AS BIGINT) * n2) AS BIGINT)"
            ).alias("w1_e6"),
        )
    )


@query(
    "gini_revenue_concentration",
    oracle="""
    WITH per AS (
        SELECT o_custkey, CAST(round(round(sum(o_totalprice), 2) * 100) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    rk AS (SELECT cents,
                  row_number() OVER (ORDER BY cents, o_custkey) AS i
           FROM per),
    a AS (SELECT count(*) AS n, sum(cents) AS s, sum(i * cents) AS w FROM rk)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS total_cents,
           CAST(2 * w - (n + 1) * s AS BIGINT) AS g_num,
           CAST(n * s AS BIGINT) AS g_den,
           CAST(CASE WHEN n * s >= 1000000
                     THEN (2 * w - (n + 1) * s) // ((n * s) // 1000000)
                     ELSE NULL END AS BIGINT) AS gini_ppm
    FROM a
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (the
    train-data analogue: how skewed is the corpus toward a few heavy
    sources/customers). Revenue is converted to integer CENTS (sums of
    the 2 dp grid sit on the grid, so the conversion is exact), ranked,
    and the Gini ``(2Σi·xᵢ − (n+1)Σxᵢ) / (nΣxᵢ)`` is emitted as exact
    BIGINT numerator/denominator plus an integer parts-per-million
    floor-division — zero float arithmetic anywhere. The rank window is
    over the customer DIMENSION; at fact scale the rank would come from
    a range-partitioned sort (repartitionByRange + per-partition offset
    scan), which preserves the same exact integers."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.round(F.round(F.sum("o_totalprice"), 2) * 100)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    rk = per.select("cents", F.row_number().over(w).alias("i"))
    a = rk.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("w"),
    )
    # integer DIV (not /): both engines floor-divide; operands are
    # non-negative (gini >= 0) so floor == truncate cross-engine.
    return a.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(s AS BIGINT) AS total_cents",
        "CAST(2 * w - (n + 1) * s AS BIGINT) AS g_num",
        "CAST(n * s AS BIGINT) AS g_den",
        "CAST(CASE WHEN n * s >= 1000000 "
        "     THEN (2 * w - (n + 1) * s) DIV ((n * s) DIV 1000000) "
        "     ELSE NULL END AS BIGINT) AS gini_ppm",
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS x
        FROM events GROUP BY day
    ),
    tot AS (SELECT CAST(sum(x) AS BIGINT) AS t, count(*) AS d_days FROM daily),
    c AS (
        SELECT day,
               CAST(d_days * sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    - row_number() OVER (ORDER BY day) * t AS BIGINT) AS c_scaled,
               d_days, t
        FROM daily CROSS JOIN tot
    )
    SELECT day, c_scaled, CAST(d_days AS BIGINT) AS d_days,
           CAST(t AS BIGINT) AS total
    FROM c ORDER BY abs(c_scaled) DESC, day LIMIT 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-count series:
    the day where the cumulative deviation from the global mean peaks.
    The CUSUM is carried SCALED BY THE DAY COUNT
    (``c_i = D·Σx_j − i·T``, all BIGINT) so the statistic is exact
    integer arithmetic — the mean never materializes as a float. The
    cumulative window runs over the day DOMAIN (bounded); the argmax is
    a bounded take (orderBy + limit → TakeOrderedAndProject)."""
    ensure_utc(spark)
    e = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    )
    daily = e.groupBy("day").agg(F.count("*").alias("x"))
    tot = daily.agg(
        F.sum("x").cast("bigint").alias("t"), F.count("*").alias("d_days")
    )
    wv = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wi = Window.orderBy("day")
    c = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("x").over(wv))
        .withColumn("i", F.row_number().over(wi))
        .select(
            "day",
            (F.col("d_days") * F.col("cum") - F.col("i") * F.col("t"))
            .cast("bigint")
            .alias("c_scaled"),
            F.col("d_days").cast("bigint").alias("d_days"),
            F.col("t").cast("bigint").alias("total"),
        )
    )
    return c.orderBy(F.abs(F.col("c_scaled")).desc(), "day").limit(1)


# ---------------------------------------------------------------------------
# Customer-entity analytics: interval coverage + RFM segmentation
# ---------------------------------------------------------------------------


@query(
    "interval_merge_coverage",
    oracle="""
    WITH o AS (
        SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS s
        FROM orders
    ),
    i AS (SELECT o_custkey, s, s + 30 AS e FROM o),
    m AS (
        SELECT o_custkey, s, e,
               max(e) OVER (PARTITION BY o_custkey ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM i
    ),
    f AS (SELECT o_custkey, s, e,
                 CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni
          FROM m),
    g AS (SELECT o_custkey, s, e,
                 sum(ni) OVER (PARTITION BY o_custkey ORDER BY s
                               ROWS UNBOUNDED PRECEDING) AS isl
          FROM f),
    isl AS (SELECT o_custkey, isl, date_diff('day', min(s), max(e)) AS days
            FROM g GROUP BY o_custkey, isl),
    pc AS (SELECT o_custkey, count(*) AS n_islands, sum(days) AS covered
           FROM isl GROUP BY o_custkey)
    SELECT CAST(n_islands AS BIGINT) AS n_islands,
           count(*) AS n_customers,
           CAST(sum(covered) AS BIGINT) AS sum_covered_days
    FROM pc GROUP BY n_islands
    """,
)
def interval_merge_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-overlapping-intervals (gaps-and-islands): each order opens
    a 30-day activity interval; overlapping intervals per customer are
    merged and the total covered days distribution is emitted. The
    running-max-end window is per-customer (partitioned — parallel at
    any scale) and a new island starts when an interval begins strictly
    after every prior interval's end. Pure date/integer arithmetic —
    exact parity. Same shape as SCD2/PIT interval logic but for the
    union-of-intervals aggregation the reference never needed at its
    single-node scale. Core algorithm in ``operators/intervals.py``
    (property-tested vs a brute-force interval union)."""
    from ..operators.intervals import merge_intervals

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date(F.date_trunc("day", "o_orderdate")).alias("s")
    )
    i = o.select("o_custkey", "s", F.date_add("s", 30).alias("e"))
    isl = merge_intervals(i, key="o_custkey", start="s", end="e").select(
        "o_custkey", F.datediff("e", "s").alias("days")
    )
    pc = isl.groupBy("o_custkey").agg(
        F.count("*").alias("n_islands"), F.sum("days").alias("covered")
    )
    return pc.groupBy(F.col("n_islands").cast("bigint").alias("n_islands")).agg(
        F.count("*").alias("n_customers"),
        F.sum("covered").cast("bigint").alias("sum_covered_days"),
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH per AS (
        SELECT o_custkey, max(date_trunc('day', o_orderdate)) AS r,
               count(*) AS fcnt, round(sum(o_totalprice), 2) AS m
        FROM orders GROUP BY o_custkey
    ),
    seg AS (
        SELECT m,
               ntile(4) OVER (ORDER BY r, o_custkey) AS rq,
               ntile(4) OVER (ORDER BY fcnt, o_custkey) AS fq,
               ntile(4) OVER (ORDER BY m, o_custkey) AS mq
        FROM per
    )
    SELECT rq::VARCHAR || '-' || fq::VARCHAR || '-' || mq::VARCHAR AS segment,
           count(*) AS n_customers,
           round(sum(m), 2) AS sum_monetary
    FROM seg GROUP BY segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation — the
    classic entity-scoring shape (same as doc-quality stratification
    over a corpus). One fact scan collapses orders to the customer
    dimension; the three ``ntile(4)`` windows run over that dimension
    with a TOTAL order (metric, custkey) so quartile boundaries are
    deterministic cross-engine. Monetary is round(sum, 2) of 2 dp grid
    values — on-grid, and segment sums of those grid values re-round
    exactly (grid-sum rule). At fact scale the quartile cutpoints would
    come from approx_percentile instead of a global ntile sort; the
    dimension-sized form here is the exact-parity variant."""
    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.date_trunc("day", "o_orderdate")).alias("r"),
        F.count("*").alias("fcnt"),
        F.round(F.sum("o_totalprice"), 2).alias("m"),
    )
    wr = Window.orderBy("r", "o_custkey")
    wf = Window.orderBy("fcnt", "o_custkey")
    wm = Window.orderBy("m", "o_custkey")
    seg = per.select(
        "m",
        F.ntile(4).over(wr).alias("rq"),
        F.ntile(4).over(wf).alias("fq"),
        F.ntile(4).over(wm).alias("mq"),
    )
    return seg.groupBy(
        F.concat_ws("-", "rq", "fq", "mq").alias("segment")
    ).agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("m"), 2).alias("sum_monetary"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


@query(
    "weighted_doc_sample",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               {duck_h40("doc_id::VARCHAR || '_wsample'")} % 1048576 AS h_int
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, h_int
    FROM t
    ORDER BY ln((h_int + 1) / 1048577.0) / n_chars DESC, doc_id
    LIMIT 20
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): key = u^(1/w) with u a deterministic md5-derived uniform and
    w = n_chars; the top-k keys ARE a w-weighted sample. Ordering uses
    the monotone-equivalent ``ln(u)/w`` (avoids pow()'s cross-library
    last-ulp variance); keys are random-spaced ~1e-5 apart so a 1-ulp
    ln() difference can never flip the order. The OUTPUT carries only
    exact integers (doc_id, weight, the hash) — the float key exists
    solely inside the TakeOrderedAndProject ordering. This is the
    scale-correct corpus sampler: one scan, one bounded top-k, no
    global sort materialized."""
    d = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = h40(F.concat(F.col("doc_id").cast("string"), F.lit("_wsample"))) % (1 << 20)
    t = d.select("doc_id", "n_chars", h.alias("h_int"))
    key = F.ln((F.col("h_int") + 1) / F.lit(float((1 << 20) + 1))) / F.col("n_chars")
    return (
        t.orderBy(key.desc(), "doc_id")
        .limit(20)
        .select("doc_id", "n_chars", "h_int")
    )


@query(
    "freq_event_pairs",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
    singles AS (SELECT event_type, count(*) AS n FROM d GROUP BY event_type),
    tot AS (SELECT count(DISTINCT user_id) AS n_users FROM d),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS support
        FROM d a JOIN d b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, CAST(support AS BIGINT) AS support,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(support * n_users * 1000000 // (sa.n * sb.n) AS BIGINT)
               AS lift_e6
    FROM pairs JOIN singles sa ON sa.event_type = type_a
               JOIN singles sb ON sb.event_type = type_b
               CROSS JOIN tot
    """,
)
def freq_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pairs (market-basket) over per-user event-type
    baskets: support and LIFT for every co-occurring type pair. The
    pair space is generated map-side from each user's collect_set via
    array HOFs — bounded by the type-domain (≤ |types|²/2 per user),
    never a fact self-join — after ONE distinct-pairs shuffle; lift is
    emitted as the exact integer floor-division
    ``support·n_users·10⁶ DIV (n_a·n_b)`` (the association-rule screen
    for curriculum/mixture interactions, zero float quotients)."""
    ensure_utc(spark)
    # ONE corpus scan: the basket frame (n_users rows, types-bounded
    # arrays) is cached and every derived frame — pair supports,
    # per-type user counts, the user total — reads the cache. The
    # earlier form derived singles/tot from the pre-basket DISTINCT
    # frame, re-planning the events scan (and the distinct shuffle)
    # once per derived frame (the psi-class trap, removed in round 8).
    baskets = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts"))
        .cache()
    )
    pair_arr = ordered_pairs(F.col("ts"), "type_a", "type_b")
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    singles = (
        baskets.select(F.explode("ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = baskets.agg(F.count("*").cast("bigint").alias("n_users"))
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "type_a", "type_b", "support", "n_a", "n_b", "n_users",
            "CAST(support * n_users * 1000000 DIV (n_a * n_b) AS BIGINT) AS lift_e6",
        )
    )


_DRIFT_LEVELS = (0.25, 0.5, 0.75)  # exact quarter fractions: the
# interpolation weight p*(n-1) - floor(p*(n-1)) is a binary-exact
# quarter, so both engines' interpolated quantiles are bit-identical
# (the 0.9-style levels whose weights are 0.1-grid are NOT — see the
# grid-sum rule in NOTES.md)


@query(
    "kll_quantile_drift",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS rel,
               n_chars
        FROM documents
    ),
    s AS (
        SELECT rel, count(*) AS n,
               quantile_cont(n_chars, 0.25) AS q1,
               quantile_cont(n_chars, 0.50) AS q2,
               quantile_cont(n_chars, 0.75) AS q3
        FROM r GROUP BY rel
    ),
    u AS (
        SELECT rel, n, 'q25' AS level, q1 AS ex FROM s
        UNION ALL SELECT rel, n, 'q50', q2 FROM s
        UNION ALL SELECT rel, n, 'q75', q3 FROM s
    )
    SELECT level,
           round(max(CASE WHEN rel = 'A' THEN ex END), 4) AS exact_a,
           round(max(CASE WHEN rel = 'B' THEN ex END), 4) AS exact_b,
           round(max(CASE WHEN rel = 'B' THEN ex END)
                 - max(CASE WHEN rel = 'A' THEN ex END), 4) AS drift,
           true AS sketch_a_within_5pct,
           true AS sketch_b_within_5pct
    FROM u GROUP BY level
    """,
)
def kll_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantile drift across two corpus releases (release A
    = even doc_ids, B = odd — the corpus_diff_stats split): per release,
    the n_chars quartiles from ONE mergeable quantile-sketch pass
    (``approx_percentile``, the KLL/GK-family sketch that replaces the
    exact sort at 100 TB) next to the exact interpolated quartiles, with
    the release-over-release drift reported from the exact values. The
    audit-contract pattern of ``approx_sketch_stats``: sketch outputs
    are implementation-defined, so the hash carries boolean
    within-bound columns (oracle pins them true) plus the exact-side
    values — a hash match machine-proves the sketch honors its 5% gate
    on BOTH releases at every level.

    Scale: the exact side is the audit harness, not the product — a
    real 100 TB drift monitor ships only the sketch pass (one scan,
    map-side combinable partials, merge on the driver), and two
    releases' sketches merge without rescanning either corpus."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, "A").otherwise("B").alias("rel"),
        "n_chars",
    )
    lv = list(_DRIFT_LEVELS)
    s = d.groupBy("rel").agg(
        F.count("*").alias("n"),
        F.percentile("n_chars", F.array(*[F.lit(x) for x in lv])).alias("ex"),
        F.percentile_approx(
            "n_chars", F.array(*[F.lit(x) for x in lv]), 10000
        ).alias("ap"),
    )
    u = s.select(
        "rel",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(
                    *[F.lit(f"q{int(x * 100)}") for x in lv]
                ).alias("level"),
                F.col("ex").alias("ex"),
                F.col("ap").alias("ap"),
            )
        ).alias("z"),
    ).select("rel", "n", "z.level", "z.ex", "z.ap")
    within = (F.col("n") < 100) | (
        F.abs(F.col("ap") - F.col("ex")) <= 0.05 * F.abs(F.col("ex"))
    )
    u = u.withColumn("ok", within)
    return u.groupBy("level").agg(
        F.round(F.max(F.when(F.col("rel") == "A", F.col("ex"))), 4).alias(
            "exact_a"
        ),
        F.round(F.max(F.when(F.col("rel") == "B", F.col("ex"))), 4).alias(
            "exact_b"
        ),
        F.round(
            F.max(F.when(F.col("rel") == "B", F.col("ex")))
            - F.max(F.when(F.col("rel") == "A", F.col("ex"))),
            4,
        ).alias("drift"),
        F.bool_and(F.when(F.col("rel") == "A", F.col("ok"))).alias(
            "sketch_a_within_5pct"
        ),
        F.bool_and(F.when(F.col("rel") == "B", F.col("ok"))).alias(
            "sketch_b_within_5pct"
        ),
    )


_EQD_LEVELS = tuple(j / 8 for j in range(1, 8))  # eighths: the weight
# p*(n-1) - floor(...) is a binary-exact multiple of 1/8, so both
# engines' interpolated boundaries are bit-identical (same rule as
# _DRIFT_LEVELS)


@query(
    "equidepth_price_buckets",
    oracle=f"""
    WITH b AS (
        SELECT [{", ".join(f"quantile_cont(o_totalprice, {p})" for p in _EQD_LEVELS)}] AS bnd
        FROM orders
    )
    SELECT CAST(len(list_filter(b.bnd, x -> x < o_totalprice)) AS INTEGER) AS bucket,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders, b
    GROUP BY bucket
    """,
)
def equidepth_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram bucket join (the optimizer-statistics /
    load-balancing primitive): 8 equal-population price buckets whose
    boundaries are the order-statistic octiles, then every order joins
    its bucket by counting boundaries strictly below its price (ties go
    DOWN — a boundary value belongs to the lower bucket, the rule both
    engines state identically as ``b < price``). Output proves the
    equi-depth property (n_orders near-equal per bucket) plus per-bucket
    revenue and the price range.

    Scale: ONE aggregate pass computes all 7 boundaries (at 100 TB
    you'd swap ``percentile`` for the ``approx_percentile`` sketch —
    same plan shape, see approx_balance_deciles); the 1-row boundary
    frame broadcasts; bucket membership is a map-side array HOF (no
    range join, no global sort — the ntile() formulation this replaces
    was round 1's documented scale-killer)."""
    o = table(spark, sf_dir, "orders")
    bnd = o.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in _EQD_LEVELS])
        ).alias("bnd")
    )
    bucketed = o.crossJoin(F.broadcast(bnd)).select(
        F.size(
            F.filter("bnd", lambda b: b < F.col("o_totalprice"))
        ).alias("bucket"),
        "o_totalprice",
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "equidepth_approx_audit",
    oracle=f"""
    WITH b AS (
        SELECT [{", ".join(f"quantile_cont(o_totalprice, {p})" for p in _EQD_LEVELS)}] AS bnd,
               count(*) AS n_total
        FROM orders
    )
    SELECT CAST(k AS INTEGER) AS bucket,
           n_total,
           CASE WHEN k < 7 THEN round(bnd[CAST(k AS INTEGER) + 1], 2) END AS exact_upper,
           true AS sketch_upper_within_5pct,
           true AS depth_within_2pct
    FROM b, (SELECT unnest(range(8)) AS k) ks
    """,
)
def equidepth_approx_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB leg `equidepth_price_buckets`' docstring promises:
    the SAME plan shape with the mergeable ``approx_percentile``
    (KLL/GK-family) sketch supplying the bucket boundaries, under the
    audit-contract pattern (`approx_sketch_stats`, `kll_quantile_drift`)
    — sketch outputs are implementation-defined, so the driver hash
    carries the exact-side boundary values plus boolean gates the
    oracle pins true: each approx octile within 5% of the exact one,
    and each approx-bucket's population within 2% of the equi-depth
    ideal n/8 (sketch rank error at accuracy 10000 is ~n/10000, far
    inside both gates; a hash match machine-proves the sketch-built
    histogram is still equi-depth).

    Scale: exact and approx octiles come from ONE distributed aggregate
    pass whose single result row is collected (the bounded-collect
    audit pattern — the exact leg is the harness; at 100 TB only the
    sketch pass ships); bucketing is then a map-side array HOF over
    LITERAL boundaries (no self-join at all), and the depth audit is
    one groupBy on an 8-value key joined to a broadcast 8-row frame —
    2 scans, 1 broadcast join, no BNLJ (the naive two-crossJoin form
    planned a third full scan of orders; see tests/test_plans.py)."""
    o = table(spark, sf_dir, "orders")
    lv = list(_EQD_LEVELS)
    row = o.agg(
        F.count("*").alias("n_total"),
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in lv])
        ).alias("ex"),
        F.percentile_approx(
            "o_totalprice", F.array(*[F.lit(p) for p in lv]), 10000
        ).alias("ap"),
    ).first()
    n_total = int(row["n_total"])
    ex = [float(x) for x in (row["ex"] or [0.0] * 7)]
    ap = [float(x) for x in (row["ap"] or [0.0] * 7)]
    small = n_total < 100
    # boundary audit is driver-side arithmetic on the collected row
    upper_ok = [
        bool(small or abs(ap[k] - ex[k]) <= 0.05 * abs(ex[k]))
        for k in range(7)
    ] + [True]
    ap_arr = F.array(*[F.lit(x) for x in ap])
    counts = (
        o.select(
            F.size(
                F.filter(ap_arr, lambda b: b < F.col("o_totalprice"))
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_b"))
    )
    buckets = spark.range(8).select(F.col("id").cast("int").alias("bucket"))
    joined = buckets.join(F.broadcast(counts), "bucket", "left").select(
        "bucket", F.coalesce("n_b", F.lit(0)).alias("n_b")
    )
    ex_arr = F.array(*[F.round(F.lit(x), 2) for x in ex])
    ok_arr = F.array(*[F.lit(v) for v in upper_ok])
    return joined.select(
        "bucket",
        F.lit(n_total).alias("n_total"),
        F.when(
            F.col("bucket") < 7,
            F.try_element_at(ex_arr, F.col("bucket") + 1),
        ).alias("exact_upper"),
        F.try_element_at(ok_arr, F.col("bucket") + 1).alias(
            "sketch_upper_within_5pct"
        ),
        (
            F.lit(small)
            | (F.abs(F.col("n_b") - F.lit(n_total / 8.0)) <= 0.02 * n_total)
        ).alias("depth_within_2pct"),
    )


@query(
    "hll_intersection_audit",
    oracle="""
    WITH ud AS (SELECT DISTINCT event_type, user_id FROM events),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               count(*) AS n_inter
        FROM ud a JOIN ud b ON a.user_id = b.user_id
                           AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    sizes AS (SELECT event_type, count(*) AS n FROM ud GROUP BY 1)
    SELECT p.ta AS type_a, p.tb AS type_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(p.n_inter AS BIGINT) AS n_inter,
           TRUE AS within_tol
    FROM pairs p JOIN sizes sa ON sa.event_type = p.ta
                 JOIN sizes sb ON sb.event_type = p.tb
    """,
)
def hll_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-INTERSECTION estimation from mergeable sketches — the set
    operation HLL doesn't support directly, recovered by
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    union estimate comes from ``hll_union`` of the two per-type user
    sketches (register-wise max — the only set operation the sketch
    family natively has). The audit contract of the other sketch
    queries: exact |A|, |B|, |A∩B| per event-type pair next to a
    boolean pinning the inclusion-exclusion estimate within
    max(10%, 16) of exact — the error COMPOUNDS three estimates, which
    is exactly why this needs its own audit before anyone trusts
    audience-overlap numbers off a sketch store at 100 TB.

    Scale: per-type sketches build in one distinct-reduced scan and
    are kilobytes (the overlap of any pair of a thousand segments is
    then pure sketch arithmetic — no re-scan per pair); the exact leg
    is one user-keyed self-join of the distinct (type, user) frame,
    the audit-scale oracle."""
    e = table(spark, sf_dir, "events")
    ud = e.select("event_type", "user_id").distinct().cache()
    sk = ud.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n"),
    )
    a = ud.alias("a")
    b = ud.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    ska = sk.select(
        F.col("event_type").alias("ta"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("n_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("tb"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("n_b"),
    )
    j = inter.join(F.broadcast(ska), "ta").join(F.broadcast(skb), "tb")
    est_inter = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    tol = F.greatest(F.lit(0.1) * F.col("n_inter"), F.lit(16.0))
    return j.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_inter").cast("bigint").alias("n_inter"),
        (F.abs(est_inter - F.col("n_inter")) <= tol).alias("within_tol"),
    )


_CMS_D = 4  # sketch rows (independent hash functions)
_CMS_W = 64  # buckets per row — ~900 bigram keys over 64 buckets, so
# collisions are REAL and the one-sided/error-bound audits are
# exercised, not vacuously true (the corpus's 31-word unigram pool
# would never collide in any reasonable width)


@query(
    "cms_frequency_audit",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents
                  WHERE len(string_split(text, ' ')) >= 2),
    tok AS (SELECT t[i+1] || ' ' || t[i+2] AS g
            FROM toks, UNNEST(range(len(t) - 1)) AS u(i)),
    tc AS (SELECT g, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY g),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM tc),
    keys AS (
        SELECT g, cnt, CAST(r.i AS INTEGER) AS r,
               {duck_h40("g || '_cms_' || CAST(r.i AS VARCHAR)")} % {_CMS_W} AS b
        FROM tc, UNNEST(range({_CMS_D})) AS r(i)
    ),
    counters AS (
        SELECT r, b, CAST(sum(cnt) AS BIGINT) AS tot FROM keys GROUP BY r, b
    ),
    top20 AS (SELECT g, cnt FROM tc ORDER BY cnt DESC, g LIMIT 20),
    est AS (
        SELECT k.g, CAST(min(c.tot) AS BIGINT) AS est
        FROM keys k
        JOIN top20 USING (g)
        JOIN counters c ON k.r = c.r AND k.b = c.b
        GROUP BY k.g
    )
    SELECT top20.g AS token, top20.cnt AS true_cnt, est.est AS est_cnt,
           est.est >= top20.cnt AS is_overestimate,
           (est.est - top20.cnt) * {_CMS_W} <= 3 * (SELECT n_tok FROM n)
               AS within_3n_over_w
    FROM top20 JOIN est ON top20.g = est.g
    """,
)
def cms_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, audited against exact
    counts — the FREQUENCY member of the sketch family (HLL = distinct,
    KLL = quantiles, bitmap = exact distinct, Bloom = membership): a
    d=4 x w=64 counter grid over the corpus word-BIGRAM stream (one
    md5-derived bucket per row), point estimate = min over rows of the
    key's bucket sums (Cormode & Muthukrishnan). Bigrams, not
    unigrams, for the same reason as `vocab_growth_curve`: the ~31-word
    unigram pool could never collide, while ~900 bigram keys over 64
    buckets make the collision structure — and therefore the audits —
    real. For the top-20 true-count bigrams the output pins the exact
    count, the sketch estimate, the STRUCTURAL one-sided guarantee
    (CMS never underestimates — checked per key, not assumed), and the
    integer-exact relaxed error bound (est − true) · w <= 3 · N
    (e < 3 form of the e·N/w Markov bound — both engines compare
    integers, no float epsilon). The DuckDB oracle replays the
    identical grid.

    Scale: the counter grid is BOUNDED state (d·w = 256 cells) built
    with one map-side-combinable groupBy — the property that makes CMS
    the streaming/mergeable frequency sketch: shards sketch
    independently and counters ADD, unlike exact top-k which needs the
    full key space shuffled. Probes broadcast the 20-key panel."""
    from ..core.session import cache_parallelism

    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(2)),
        lambda i: F.concat_ws(
            " ",
            F.element_at(words, i + F.lit(1)),
            F.element_at(words, i + F.lit(2)),
        ),
    )
    tok = (
        d.where(F.size(words) >= 2)
        .repartition(cache_parallelism(spark), "doc_id")
        .select(F.explode(grams).alias("g"))
    )
    tc = cached(
        tok.groupBy("g")
        .agg(F.count("*").alias("cnt"))
    )
    n = tc.agg(F.sum("cnt").cast("bigint").alias("n_tok"))
    keys = tc.select(
        "g",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (
                            h40(F.concat(F.col("g"), F.lit(f"_cms_{r}"))) % _CMS_W
                        ).alias("b"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("g", "cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    counters = keys.groupBy("r", "b").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    top20 = tc.orderBy(F.desc("cnt"), F.asc("g")).limit(20)
    est = (
        keys.join(F.broadcast(top20.select("g")), "g")
        .join(counters, ["r", "b"])
        .groupBy("g")
        .agg(F.min("tot").cast("bigint").alias("est"))
    )
    return (
        top20.join(est, "g")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("g").alias("token"),
            F.col("cnt").alias("true_cnt"),
            F.col("est").alias("est_cnt"),
            (F.col("est") >= F.col("cnt")).alias("is_overestimate"),
            (
                (F.col("est") - F.col("cnt")) * _CMS_W <= 3 * F.col("n_tok")
            ).alias("within_3n_over_w"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: distribution-law conformance testing over
# monetary amounts (the fraud/data-quality screen).
# ---------------------------------------------------------------------------

# log10(1 + 1/d) injected as IDENTICAL literals into both engines —
# neither side ever calls log10, so no cross-libm surface exists.
import math as _math

_BENFORD_P = {d: repr(_math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}


@query(
    "benford_amount_audit",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ), digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM cents WHERE c > 0
    ), counts AS (
        SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT sum(n) AS t FROM counts)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
           round(n / t, 6) AS obs_share,
           round(exp_p, 6) AS benford_share,
           round((n - t * exp_p) * (n - t * exp_p) / (t * exp_p), 6)
               AS chi2_term
    FROM counts CROSS JOIN tot
    JOIN (VALUES {", ".join(f"({d}, CAST({p} AS DOUBLE))" for d, p in _BENFORD_P.items())})
         AS b(digit, exp_p) USING (digit)
    """,
)
def benford_amount_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts — the
    distribution-law screen a curation pipeline points at any
    money/count column (fabricated or re-binned data drifts off the
    log-uniform leading-digit law). Per digit d: observed count and
    share vs the Benford share log10(1 + 1/d), plus the chi-square
    contribution ((n - t*p)^2 / (t*p)) whose 8-dof sum is the audit
    statistic.

    Float parity: the leading digit is extracted via INTEGER string
    arithmetic (cents = round(price*100) — exact on the 2dp money
    grid; first char of the integer's decimal print), never via
    log10/pow on doubles whose last-ulp could flip a digit boundary;
    the Benford shares are the SAME python-repr literals injected into
    both engines, so every double entering the arithmetic is
    bit-identical and the 6dp rounds cannot straddle.

    Scale: one scan -> 9-group map-side-combinable count; the digit
    dim is a 9-row literal join (broadcast)."""
    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).where(F.col("c") > 0)
    counts = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("n"))
    bench = local_frame(
        spark,
        [(d, float(_BENFORD_P[d])) for d in range(1, 10)],
        "digit int, exp_p double",
    )
    tot = counts.agg(F.sum("n").alias("t"))
    return (
        counts.join(F.broadcast(bench), "digit")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("n") / F.col("t"), 6).alias("obs_share"),
            F.round(F.col("exp_p"), 6).alias("benford_share"),
            F.round(
                (F.col("n") - F.col("t") * F.col("exp_p"))
                * (F.col("n") - F.col("t") * F.col("exp_p"))
                / (F.col("t") * F.col("exp_p")),
                6,
            ).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U: nonparametric two-sample location test (the rank-sum
# member of the drift-test family: chi2 tests categories, KS tests the
# full CDF, this tests a location shift robustly).
# ---------------------------------------------------------------------------


@query(
    "mannwhitney_price_shift",
    oracle="""
    WITH ranked AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS grp,
               rank() OVER (ORDER BY o_totalprice) AS r,
               count(*) OVER (PARTITION BY o_totalprice) AS c
        FROM orders
    ), stats AS (
        SELECT count(*) FILTER (WHERE grp = 1) AS n1,
               count(*) FILTER (WHERE grp = 0) AS n2,
               sum(r + (c - 1) / 2.0) FILTER (WHERE grp = 1) AS r1,
               count(*) AS n
        FROM ranked
    ), ties AS (
        SELECT sum(c * c * c - c) AS tie_term
        FROM (SELECT count(*) AS c FROM orders GROUP BY o_totalprice)
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u1,
           CASE WHEN sg <> 0 THEN round(
               (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) / sg, 4)
           END AS z,
           CASE WHEN sg <> 0 THEN
               abs(r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) > 1.96 * sg
           END AS significant
    FROM stats CROSS JOIN ties
    CROSS JOIN LATERAL (SELECT sqrt(n1 * n2 / 12.0
               * ((n + 1) - tie_term * 1.0 / (n * (n - 1)))) AS sg) s
    """,
)
def mannwhitney_price_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test for a location shift in
    order amounts between high-priority (URGENT/HIGH) and other orders
    — the nonparametric member of the drift-test family (chi2 tests
    categorical mixes, KS the full CDF; the rank-sum is the robust
    'did the median move' monitor that heavy tails cannot inflate).
    Average ranks for ties via rank() + (tie_size - 1)/2, U from the
    rank sum, z normal-approximated with the standard tie-corrected
    variance.

    Float parity: ranks, tie sizes and counts are INTEGERS in both
    engines; the average-rank grid is halves (exact doubles); u1/z
    arithmetic runs the identical expression shape over bit-identical
    operands (one sqrt — correctly rounded IEEE in both), then rounds.
    tie_term = sum(c^3 - c) stays far inside int64 (c <= corpus rows).

    Scale: one rank pass (``operators/ranks.py`` ``rank_pass``), then
    one scalar aggregate: no per-pair work (the naive U definition is
    |n1 x n2|), and the tie term folds from the same pass via
    sum_rows(c^2 - 1) = sum_prices(c^3 - c)."""
    from ..operators.ranks import rank_pass

    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    grp = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    rp = rank_pass(o, "o_totalprice", c1=grp)
    m, c1 = F.col("m"), F.col("c1")
    # r1 = sum over group-1 rows of (rank + (c-1)/2) = sum(c1*dr)/2; the
    # doubled sum accumulates as DECIMAL(38,0) (it can pass int64 at
    # ~1e6 rows) and the terminal halving of the double-cast value is
    # exact
    stats = rp.agg(
        F.sum(c1).alias("n1"),
        F.sum(m - c1).alias("n2"),
        # NULL (not 0) when no group-1 row exists
        F.when(
            F.sum(c1) > 0,
            F.sum((c1 * F.col("dr")).cast("decimal(38,0)")).cast("double")
            / 2.0,
        ).alias("r1"),
        F.coalesce(F.sum(m), F.lit(0)).alias("n"),
        F.sum(m * (F.col("c") * F.col("c") - 1)).alias("tie_term"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    sigma = F.sqrt(
        F.col("n1") * F.col("n2") / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie_term") * 1.0 / (F.col("n") * (F.col("n") - 1))
        )
    )
    # Zero-guarded (the seasonal_naive_mase discipline): an all-equal
    # price column makes tie_term = n^3 - n, so the variance — and
    # sigma — is exactly 0; Spark-ANSI division would throw where
    # DuckDB emits inf. Both engines pin z/significant to NULL.
    return stats.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(u1, 2).alias("u1"),
        F.when(sigma != 0, F.round((u1 - mu) / sigma, 4)).alias("z"),
        F.when(sigma != 0, F.abs(u1 - mu) > 1.96 * sigma).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# Jackknife: delete-one-group resampling variance — the inference
# member of the stats family (chi2/KS/MW test hypotheses; this puts a
# standard error on an estimate without distributional assumptions).
# ---------------------------------------------------------------------------


@query(
    "jackknife_revenue_variance",
    oracle="""
    WITH g AS (
        SELECT n.n_name AS grp,
               round(sum(o.o_totalprice), 2) AS s,
               count(*) AS c
        FROM orders o
        JOIN customer cu ON cu.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = cu.c_nationkey
        GROUP BY n.n_name
    ), arr AS (
        SELECT list(s ORDER BY grp) AS ss, list(c ORDER BY grp) AS cs,
               count(*) AS ng
        FROM g
    ), tot AS (
        SELECT ss, cs, ng,
               list_reduce(ss, (a, b) -> a + b) AS s_all,
               list_reduce(cs, (a, b) -> a + b) AS n_all
        FROM arr
    ), thetas AS (
        SELECT ng, s_all, n_all,
               [ (s_all - ss[i]) / (n_all - cs[i])
                 for i in generate_series(1, ng) ] AS th
        FROM tot
    ), bar AS (
        SELECT ng, s_all, n_all, th,
               list_reduce(th, (a, b) -> a + b) / ng AS th_bar
        FROM thetas
    )
    SELECT CAST(ng AS BIGINT) AS n_groups,
           round(s_all / n_all, 6) AS mean_rev,
           round(sqrt((ng - 1.0) / ng * list_reduce(
               [ (x - th_bar) * (x - th_bar) for x in th ],
               (a, b) -> a + b)), 6) AS jk_se
    FROM bar
    """,
)
def jackknife_revenue_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of mean order revenue,
    groups = customer nations — the resampling-inference member of the
    stats family (chi2/KS/Mann-Whitney test hypotheses; the jackknife
    puts an assumption-free SE on an estimator, the number a data-card
    should print next to every corpus-level mean). theta_i = the mean
    with nation i deleted; SE^2 = (N-1)/N * sum (theta_i - theta_bar)^2.

    Float parity: per-nation revenue sums are 2dp grid (safe to round
    once), counts are ints, so every theta_i is a division of
    bit-identical operands. The cross-group sums fold over
    nation-name-SORTED arrays via aggregate()/list_reduce in the SAME
    order in both engines — never a groupBy sum of off-grid doubles,
    whose partial-aggregation order is engine- and partitioning-
    dependent (the repo's HOF-fold rule for small off-grid
    reductions). |nations| = 25, so the arrays are trivially bounded.

    Scale: one fact-side shuffle to |nations| partials (customer and
    nation dims broadcast), then a 1-row array fold; the jackknife
    itself costs O(N) on 25 elements, not a re-scan per deletion —
    the algebraic identity theta_i = (S - s_i)/(n - n_i) is the whole
    point."""
    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("grp"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("s"),
            F.count("*").alias("c"),
        )
    )
    arr = g.agg(
        F.array_sort(F.collect_list(F.struct("grp", "s", "c"))).alias("a"),
        F.count("*").alias("ng"),
    )
    dsum = ordered_fold_sum
    tot = arr.select(
        "ng",
        F.col("a"),
        dsum(F.transform("a", lambda x: x["s"])).alias("s_all"),
        F.aggregate(
            F.transform("a", lambda x: x["c"]),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_all"),
    )
    th = tot.select(
        "ng",
        "s_all",
        "n_all",
        F.transform(
            "a",
            lambda x: (F.col("s_all") - x["s"])
            / (F.col("n_all") - x["c"]),
        ).alias("th"),
    )
    bar = th.select(
        "ng",
        "s_all",
        "n_all",
        "th",
        (dsum(F.col("th")) / F.col("ng")).alias("th_bar"),
    )
    return bar.select(
        F.col("ng").cast("bigint").alias("n_groups"),
        F.round(F.col("s_all") / F.col("n_all"), 6).alias("mean_rev"),
        F.round(
            F.sqrt(
                (F.col("ng") - 1.0)
                / F.col("ng")
                * dsum(
                    F.transform(
                        "th",
                        lambda x: (x - F.col("th_bar"))
                        * (x - F.col("th_bar")),
                    )
                )
            ),
            6,
        ).alias("jk_se"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: monotone-association monitor — the
# correlation member of the stats family (chi2 tests categories, KS the
# CDF, MW a location shift; Spearman asks "do these two measures move
# together at all", robustly to any monotone transform).
# ---------------------------------------------------------------------------


@query(
    "spearman_rank_corr",
    oracle="""
    WITH lr AS (
        SELECT 2 * rank() OVER (ORDER BY l_quantity)
                 + count(*) OVER (PARTITION BY l_quantity) - 1 AS dq,
               2 * rank() OVER (ORDER BY l_extendedprice)
                 + count(*) OVER (PARTITION BY l_extendedprice) - 1 AS dp,
               2 * rank() OVER (ORDER BY l_extendedprice
                                * (1 - l_discount))
                 + count(*) OVER (PARTITION BY l_extendedprice
                                  * (1 - l_discount)) - 1 AS dr,
               count(*) OVER () AS n
        FROM lineitem
    ), c AS (
        SELECT CAST(dq - (n + 1) AS BIGINT) AS uq,
               CAST(dp - (n + 1) AS BIGINT) AS up,
               CAST(dr - (n + 1) AS BIGINT) AS ur
        FROM lr
    ), m AS (
        SELECT count(*) AS n,
               sum(uq * up) AS sqp, sum(up * ur) AS spr,
               sum(uq * uq) AS sqq, sum(up * up) AS spp,
               sum(ur * ur) AS srr
        FROM c
    )
    SELECT * FROM (
        SELECT 'quantity_vs_price' AS col_pair,
               CAST(n AS BIGINT) AS n_rows,
               CASE WHEN sqq > 0 AND spp > 0 THEN
                   round(CAST(sqp AS DOUBLE)
                         / (sqrt(CAST(sqq AS DOUBLE))
                            * sqrt(CAST(spp AS DOUBLE))), 6)
               END AS rho
        FROM m
        UNION ALL
        SELECT 'price_vs_revenue', CAST(n AS BIGINT),
               CASE WHEN spp > 0 AND srr > 0 THEN
                   round(CAST(spr AS DOUBLE)
                         / (sqrt(CAST(spp AS DOUBLE))
                            * sqrt(CAST(srr AS DOUBLE))), 6)
               END
        FROM m
    ) ORDER BY col_pair
    """,
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation over lineitem measure pairs — the
    monotone-association monitor: Pearson on tie-averaged ranks, so
    any monotone transform of either measure leaves it unchanged and
    heavy tails cannot inflate it. Reported pairs: (quantity, price)
    — independent in this corpus, an honest ~0 — and (price,
    discounted revenue), a genuinely monotone-linked pair (~0.94).

    Float parity: tie-averaged ranks are kept as exact INTEGERS via
    the doubled-rank identity 2*avgrank = 2*rank + tiesize - 1, then
    centered by the integer 2*mean = n + 1, so every moment (sum of
    centered products) is an exact int64 in both engines; the final
    rho is the identical sqrt/divide expression over bit-identical
    integer-valued operands. DuckDB's HUGEINT sums are cast back to
    DOUBLE exactly as Spark's BIGINT sums widen.

    Scale: one rank pass (``operators/ranks.py`` ``row_ranks``), then
    one scalar aggregate; no per-pair work (the naive rho is |n^2|
    concordance pairs).
    The moments accumulate as DECIMAL(38,0) (exact to n ~ 2.9e11 rows
    — int64 sums would overflow past n ~ 1.3e6 since |sum(u*u)| <=
    4n^3), mirroring DuckDB's HUGEINT widening; both engines convert
    to double only at the terminal ratio."""
    from ..operators.ranks import row_ranks

    ensure_utc(spark)
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rr = row_ranks(
        li, {"q": F.col("l_quantity"), "p": F.col("l_extendedprice"), "r": rev}
    )
    # doubled tie-averaged ranks centered by 2*mean = n + 1: exact int64
    c = rr.select(
        *(
            (F.col(f"dr_{k}") - (F.col("n") + 1)).cast("bigint").alias(f"u{k}")
            for k in "qpr"
        )
    )
    # Products are int64-safe (|u| <= 2n -> |u*u| <= 4n^2, fine to
    # n ~ 1.5e9 rows) but their SUMS are not past n ~ 1.3e6 (4n^3), so
    # the moments accumulate as DECIMAL(38,0) — exact to n ~ 2.9e11 —
    # mirroring DuckDB's HUGEINT sum; both cast to double only at the
    # terminal ratio.
    def dsum38(a: str, b: str):
        return F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))

    m = c.agg(
        F.count("*").alias("n"),
        dsum38("uq", "up").alias("sqp"),
        dsum38("up", "ur").alias("spr"),
        dsum38("uq", "uq").alias("sqq"),
        dsum38("up", "up").alias("spp"),
        dsum38("ur", "ur").alias("srr"),
    )

    def rho(num, d1, d2):
        return F.when(
            (F.col(d1) > 0) & (F.col(d2) > 0),
            F.round(
                F.col(num).cast("double")
                / (
                    F.sqrt(F.col(d1).cast("double"))
                    * F.sqrt(F.col(d2).cast("double"))
                ),
                6,
            ),
        )

    # Both output rows from ONE evaluation of the aggregate (r15): the
    # former unionAll of two selects over `m` duplicated the whole
    # subtree — DataFrame DAGs don't share subplans — so the fact-wide
    # rank-window pipeline (scan + SinglePartition exchange + 6 sorts)
    # executed TWICE per run (concurrent stage scheduling hid part of
    # the duplication: interleaved same-session mins 4.29 -> 3.41 s at
    # sf0.1, and half the CPU). Identical rows, so the hash is
    # unchanged.
    return m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity_vs_price").alias("col_pair"),
                    F.col("n").cast("bigint").alias("n_rows"),
                    rho("sqp", "sqq", "spp").alias("rho"),
                ),
                F.struct(
                    F.lit("price_vs_revenue").alias("col_pair"),
                    F.col("n").cast("bigint").alias("n_rows"),
                    rho("spr", "spp", "srr").alias("rho"),
                ),
            )
        ).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# Welch's t-test: unequal-variance two-sample mean test — the parametric
# companion to Mann-Whitney (the rank test asks "did the location move";
# Welch asks "did the MEAN move", without the classical equal-variance
# assumption that real segment comparisons never satisfy).
# ---------------------------------------------------------------------------


@query(
    "welch_ttest_price",
    oracle="""
    WITH c AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS grp,
               CAST(round(o_totalprice * 100) AS BIGINT) AS yc
        FROM orders
    ), m AS (
        SELECT count(*) FILTER (WHERE grp = 1) AS n1,
               count(*) FILTER (WHERE grp = 0) AS n2,
               sum(yc) FILTER (WHERE grp = 1) AS s1,
               sum(yc) FILTER (WHERE grp = 0) AS s2,
               sum(yc * yc) FILTER (WHERE grp = 1) AS ss1,
               sum(yc * yc) FILTER (WHERE grp = 0) AS ss2
        FROM c
    ), v AS (
        SELECT n1, n2, s1, s2,
               CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
               CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                   / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2
        FROM m WHERE n1 > 1 AND n2 > 1
    ), t AS (
        SELECT n1, n2, v1, v2,
               (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) AS dc,
               ((v1 / n1) + (v2 / n2)) AS se2
        FROM v
    )
    SELECT CAST(n1 AS BIGINT) AS n_high, CAST(n2 AS BIGINT) AS n_low,
           round(dc / 100, 4) AS mean_shift,
           CASE WHEN se2 > 0 THEN round(dc / sqrt(se2), 4) END AS t_stat,
           CASE WHEN se2 > 0 THEN round(
               (se2 * se2)
               / (((v1 / n1) * (v1 / n1)) / (n1 - 1)
                  + ((v2 / n2) * (v2 / n2)) / (n2 - 1)), 2)
           END AS welch_df,
           CASE WHEN se2 > 0 THEN abs(dc / sqrt(se2)) > 1.96 END
               AS significant
    FROM t
    """,
)
def welch_ttest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test for a mean shift in order
    amounts between high-priority (URGENT/HIGH) and other orders — the
    parametric member of the drift family next to
    ``mannwhitney_price_shift`` (the rank test is robust to tails, the
    t-test quantifies the mean difference itself, and Welch's form
    drops the equal-variance assumption that segment comparisons never
    satisfy). Degrees of freedom via Welch-Satterthwaite.

    Float parity: amounts become exact int64 CENTS; per-group sums are
    int64 and sums of squares exact DECIMAL(38,0)/HUGEINT (cents^2 <=
    3.6e15 per row, the sum overflows int64 at sf >= 0.1 — the
    spearman widening rule); each variance is ONE double division of
    bit-identical exact operands (n*ss - s^2 computed in decimal), and
    t/df run the IDENTICAL double expression shape — same
    associativity, one sqrt — in both engines before the terminal
    rounds. n<=1 groups drop the row; se2 = 0 (both groups constant)
    pins t/df/significant to NULL symmetrically.

    Scale: one fact scan -> ONE 6-aggregate map-side-partial reduce to
    a single row; no window, no sort (contrast: the rank test pays a
    total sort) — this is the cheapest drift monitor in the family."""
    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    c = o.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("yc"),
    )
    m = c.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("yc"))).alias("s1"),
        F.sum(F.when(F.col("grp") == 0, F.col("yc"))).alias("s2"),
        F.sum(
            F.when(F.col("grp") == 1, F.col("yc") * F.col("yc")).cast(
                "decimal(38,0)"
            )
        ).alias("ss1"),
        F.sum(
            F.when(F.col("grp") == 0, F.col("yc") * F.col("yc")).cast(
                "decimal(38,0)"
            )
        ).alias("ss2"),
    ).where((F.col("n1") > 1) & (F.col("n2") > 1))
    dd = "decimal(38,0)"
    v1 = (
        (F.col("n1").cast(dd) * F.col("ss1") - F.col("s1").cast(dd) * F.col("s1").cast(dd))
        .cast("double")
        / (F.col("n1").cast("double") * (F.col("n1") - 1))
    )
    v2 = (
        (F.col("n2").cast(dd) * F.col("ss2") - F.col("s2").cast(dd) * F.col("s2").cast(dd))
        .cast("double")
        / (F.col("n2").cast("double") * (F.col("n2") - 1))
    )
    t = m.select(
        "n1",
        "n2",
        (
            F.col("s1").cast("double") / F.col("n1")
            - F.col("s2").cast("double") / F.col("n2")
        ).alias("dc"),
        v1.alias("v1"),
        v2.alias("v2"),
    ).select(
        "n1",
        "n2",
        "dc",
        "v1",
        "v2",
        ((F.col("v1") / F.col("n1")) + (F.col("v2") / F.col("n2"))).alias(
            "se2"
        ),
    )
    return t.select(
        F.col("n1").cast("bigint").alias("n_high"),
        F.col("n2").cast("bigint").alias("n_low"),
        F.round(F.col("dc") / 100, 4).alias("mean_shift"),
        F.when(
            F.col("se2") > 0, F.round(F.col("dc") / F.sqrt("se2"), 4)
        ).alias("t_stat"),
        F.when(
            F.col("se2") > 0,
            F.round(
                (F.col("se2") * F.col("se2"))
                / (
                    ((F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")))
                    / (F.col("n1") - 1)
                    + ((F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2")))
                    / (F.col("n2") - 1)
                ),
                2,
            ),
        ).alias("welch_df"),
        F.when(
            F.col("se2") > 0,
            F.abs(F.col("dc") / F.sqrt("se2")) > 1.96,
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Cramér's V: effect size for categorical association — chi2's missing
# half (chi2_lang_source answers "is the association significant", V
# answers "is it LARGE"; at corpus scale everything is significant, so
# the effect size is the number that actually drives decisions).
# ---------------------------------------------------------------------------


@query(
    "cramers_v_association",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus AS s,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS g,
               count(*) AS o
        FROM orders GROUP BY 1, 2
    ), tot AS (
        SELECT sum(o) AS n, count(DISTINCT s) AS nr,
               count(DISTINCT g) AS nc
        FROM c
    ), rows_ AS (SELECT s, sum(o) AS rt FROM c GROUP BY s),
    cols_ AS (SELECT g, sum(o) AS ct FROM c GROUP BY g),
    grid AS (
        -- zero cells are ABSENT from the grouped counts but still
        -- contribute their full expected mass to chi2 — gap-fill the
        -- r x c grid before the cell terms
        SELECT rows_.s, cols_.g, rows_.rt, cols_.ct,
               coalesce(c.o, 0) AS o
        FROM rows_ CROSS JOIN cols_
        LEFT JOIN c ON c.s = rows_.s AND c.g = cols_.g
    ), cells AS (
        SELECT grid.s, grid.g,
               CAST((tot.n * grid.o - grid.rt * grid.ct)
                    * (tot.n * grid.o - grid.rt * grid.ct) AS DOUBLE)
               / CAST(tot.n * grid.rt * grid.ct AS DOUBLE) AS term
        FROM grid, tot
    ), folded AS (
        SELECT tot.n, tot.nr, tot.nc,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       [x.t FOR x IN
                           list({'s': s, 'g': g, 't': term}
                                ORDER BY s, g)]),
                   (a, b) -> a + b) AS chi2
        FROM cells, tot
        GROUP BY tot.n, tot.nr, tot.nc
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(nr AS BIGINT) AS n_statuses,
           CAST(nc AS BIGINT) AS n_groups,
           round(chi2, 6) AS chi2,
           CASE WHEN least(nr, nc) > 1 THEN
               round(sqrt(chi2 / (n * (least(nr, nc) - 1))), 6)
           END AS cramers_v
    FROM folded
    """,
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order status and priority tier — the effect
    size chi2 alone does not give (``chi2_lang_source`` tests
    significance; at corpus row counts everything is 'significant', so
    V = sqrt(chi2 / (n * (min(r,c) - 1))) is the scale-free 0..1
    association strength a mixture audit actually compares across
    releases). chi2 via the integer identity
    (n*o - rt*ct)^2 / (n*rt*ct) per cell — no expected-count doubles —
    over the GAP-FILLED r x c grid (a zero cell is absent from the
    grouped counts but still contributes its expected mass; the
    planted perfect-association test pins exactly this).

    Float parity: cell/row/col/total counts are exact int64; each
    cell's numerator is exact DECIMAL (n*o <= 4e10 squared overflows
    int64 at sf 1+ — widened pre-emptively, the welch rule), so each
    term is ONE double division of bit-identical operands; the 6-cell
    sum folds over a (status, group)-SORTED bounded array with a 0.0
    init in the SAME order in both engines (the jackknife/zipf HOF-fold
    rule — never a groupBy sum of off-grid doubles); sqrt last, round
    terminal. A single-category degenerate pins V to NULL in both
    engines.

    Scale: one fact scan -> |statuses x tiers| cell counts (map-side
    partial), row/col margins derive from the 6-row cell frame, and
    the fold is a 1-row array op — no second fact scan, no sort."""
    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    c = (
        o.select(
            F.col("o_orderstatus").alias("s"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("g"),
        )
        .groupBy("s", "g")
        .agg(F.count("*").alias("o"))
        # cached: the cell frame feeds FOUR branches (row margins, col
        # margins, totals, and the gap-filled grid) - without it the
        # fact scan + aggregation re-runs per branch (r12 review); the
        # frame is category-sized, so the cache is trivial
        .cache()
    )
    rt = c.groupBy("s").agg(F.sum("o").alias("rt"))
    ct = c.groupBy("g").agg(F.sum("o").alias("ct"))
    tot = c.agg(
        F.sum("o").alias("n"),
        F.count_distinct("s").alias("nr"),
        F.count_distinct("g").alias("nc"),
    )
    dd = "decimal(38,0)"
    num = (
        F.col("n").cast(dd) * F.col("o").cast(dd)
        - F.col("rt").cast(dd) * F.col("ct").cast(dd)
    )
    # zero cells are absent from the grouped counts but still carry
    # their expected mass — gap-fill the r x c grid (margin frames are
    # category-sized, so the cross join is trivially bounded)
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(c, ["s", "g"], "left")
        .select("s", "g", "rt", "ct", F.coalesce("o", F.lit(0)).alias("o"))
    )
    cells = grid.crossJoin(F.broadcast(tot)).select(
        "s",
        "g",
        "n",
        "nr",
        "nc",
        (
            (num * num).cast("double")
            / (
                F.col("n").cast(dd)
                * F.col("rt").cast(dd)
                * F.col("ct").cast(dd)
            ).cast("double")
        ).alias("term"),
    )
    folded = cells.groupBy("n", "nr", "nc").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("s", "g", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2")
    )
    mindim = F.least("nr", "nc")
    return folded.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("nr").cast("bigint").alias("n_statuses"),
        F.col("nc").cast("bigint").alias("n_groups"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.when(
            mindim > 1,
            F.round(
                F.sqrt(F.col("chi2") / (F.col("n") * (mindim - 1))), 6
            ),
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis: the k-group extension of Mann-Whitney — one rank pass
# answers "did ANY priority tier's price distribution shift", the
# omnibus check run before pairwise rank tests are even considered.
# ---------------------------------------------------------------------------


def _gammp(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x): series for
    x < a + 1, Lentz continued fraction otherwise — the standard
    numerically-stable construction, deterministic given (a, x)."""
    import math as _mm

    if x <= 0:
        return 0.0
    if x < a + 1.0:
        ap, sm, d = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1.0
            d *= x / ap
            sm += d
            if abs(d) < abs(sm) * 1e-17:
                break
        return sm * _mm.exp(-x + a * _mm.log(x) - _mm.lgamma(a))
    tiny = 1e-300
    b = x + 1.0 - a
    c, d, h = 1.0 / tiny, 1.0 / b, 1.0 / b
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        de = d * c
        h *= de
        if abs(de - 1.0) < 1e-17:
            break
    return 1.0 - _mm.exp(-x + a * _mm.log(x) - _mm.lgamma(a)) * h


def _chi2_crit95(df: int) -> float:
    """95% chi-square critical value via bisection on _gammp —
    deterministic; validated against the independently-sourced df=4
    literal the kruskal planted test pinned (agreement to 4e-16
    relative)."""
    lo, hi = 0.0, 200.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if _gammp(df / 2.0, mid / 2.0) < 0.95:
            lo = mid
        else:
            hi = mid
    return lo


# df 1..9 (k = 2..10 groups); df=4 pinned to the ORIGINAL verified
# literal so the canonical 5-tier flag cannot move by an ulp — the
# generator reproduces it to 4e-16 relative, which validates the
# other rows.
_CHI2_TAB = [repr(_chi2_crit95(df)) for df in range(1, 10)]
_CHI2_TAB[3] = "9.487729036781154"
_DUCK_CHI2_TAB = "[" + ", ".join(_CHI2_TAB) + "]"
_SPARK_CHI2_TAB = "array(" + ", ".join(_CHI2_TAB) + ")"


@query(
    "kruskal_wallis_price",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority AS grp,
               count(*) OVER (PARTITION BY o_totalprice) AS c,
               2 * rank() OVER (ORDER BY o_totalprice)
                 + count(*) OVER (PARTITION BY o_totalprice) - 1 AS dr
        FROM orders
    ), per_g AS (
        SELECT grp, count(*) AS nj, sum(dr) AS dj,
               sum(c * c - 1) AS ttg
        FROM ranked GROUP BY grp
    ), folded AS (
        SELECT CAST(sum(nj) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               sum(ttg) AS tt,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       [x.t FOR x IN list(
                           {'g': grp,
                            't': CAST(CAST(dj AS HUGEINT)
                                      * CAST(dj AS HUGEINT) AS DOUBLE)
                                 / nj}
                           ORDER BY grp)]),
                   (a, b) -> a + b) AS a4
        FROM per_g
    ), h AS (
        SELECT n, k,
               (3.0 * a4) / (n * (n + 1)) - 3.0 * (n + 1) AS h_raw,
               1.0 - tt / (1.0 * n * n * n - n) AS cc
        FROM folded
    )
    SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_groups,
           round(h_raw, 6) AS h,
           CASE WHEN cc <> 0 THEN round(h_raw / cc, 6) END AS h_corrected,
           CASE WHEN cc <> 0 THEN
               h_raw / cc > (__DUCK_CHI2_TAB__)[CAST(k - 1 AS INT)] END
               AS significant
    FROM h
    """.replace("__DUCK_CHI2_TAB__", _DUCK_CHI2_TAB),
)
def kruskal_wallis_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across all five order-priority tiers on order
    amount — the omnibus k-group rank test (Mann-Whitney answers a
    2-group shift; this answers "did ANY tier move" in ONE rank pass,
    the test run before pairwise comparisons are licensed). Tie-
    corrected: H / (1 - sum(t^3 - t)/(n^3 - n)); significance against
    the chi-square 5% critical value for df = k - 1, selected from a
    precomputed df-indexed literal table (df 1..9; a corpus growing
    or losing priority tiers gets the correct df, the BH table rule;
    beyond the table both engines' out-of-range indexing yields NULL —
    conservative). The df=4 row is the original independently-verified
    literal; the deterministic incomplete-gamma bisection generator
    reproduces it to 4e-16 relative, validating the other rows.

    Float parity: tie-averaged ranks stay exact INTEGERS via the
    doubled-rank identity (dr = 2*rank + tiesize - 1), so each group's
    doubled rank-sum dj is exact int64 and dj^2 exact DECIMAL/HUGEINT
    (dj <= 2n^2 overflows int64 on squaring at any sf — the welch
    widening rule); sum(Rj^2/nj) = sum(dj^2/nj)/4 folds over a
    priority-SORTED 5-element array of single divisions; H and the
    tie correction are identical double expression shapes, the
    critical values are identical repr literals in both engines
    (df-indexed table), the
    significance flag compares the UNROUNDED ratio, and the all-equal
    degenerate (cc = 0) NULL-pins h_corrected/significant.

    Scale: one rank pass (``operators/ranks.py`` ``rank_pass``, keyed
    by tier); the tie term folds from the SAME pass via
    sum_rows(c^2 - 1) = sum_prices(c^3 - c), so there is no second
    fact scan; then a 5-row fold — no per-pair work."""
    from ..operators.ranks import rank_pass

    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    dd = "decimal(38,0)"
    m = F.col("m")
    per_g = (
        rank_pass(o, "o_totalprice", F.col("o_orderpriority").alias("grp"))
        .groupBy("grp")
        .agg(
            F.sum(m).alias("nj"),
            F.sum(m * F.col("dr")).alias("dj"),
            # tie term widened to decimal like dj^2: DuckDB's BIGINT
            # sum promotes to HUGEINT while Spark's int64 sum would
            # silently wrap on a heavily tied column (sum approaches
            # n^3)
            F.sum((m * (F.col("c") * F.col("c") - 1)).cast(dd)).alias("ttg"),
        )
    )
    folded = per_g.agg(
        F.sum("nj").alias("n"),
        F.count("*").alias("k"),
        F.sum("ttg").alias("tt"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("grp").alias("g"),
                        (
                            (F.col("dj").cast(dd) * F.col("dj").cast(dd))
                            .cast("double")
                            / F.col("nj")
                        ).alias("t"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("a4"),
    )
    h_raw = (3.0 * F.col("a4")) / (F.col("n") * (F.col("n") + 1)) - 3.0 * (
        F.col("n") + 1
    )
    cc = 1.0 - F.col("tt") / (
        1.0 * F.col("n") * F.col("n") * F.col("n") - F.col("n")
    )
    return (
        folded
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("k").cast("bigint").alias("n_groups"),
            h_raw.alias("h_raw"),
            cc.alias("cc"),
        )
        .select(
            "n_rows",
            "n_groups",
            F.round(F.col("h_raw"), 6).alias("h"),
            F.when(
                F.col("cc") != 0, F.round(F.col("h_raw") / F.col("cc"), 6)
            ).alias("h_corrected"),
            F.when(
                # n_groups > 1: with a single tier df = 0 and Spark's
                # try_element_at(tab, 0) RAISES (INVALID_INDEX_OF_ZERO)
                # where DuckDB's tab[0] is NULL — gate the degenerate
                # one-tier corpus to NULL explicitly so both engines
                # agree (ADVICE r13). Indexes past the table (k > 10,
                # i.e. df > 9 on the 9-entry table) are genuinely
                # NULL-conservative in both engines.
                (F.col("cc") != 0) & (F.col("n_groups") > 1),
                F.col("h_raw") / F.col("cc")
                > F.try_element_at(
                    F.expr(_SPARK_CHI2_TAB),
                    (F.col("n_groups") - 1).cast("int"),
                ),
            ).alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: the ONE-PASS bootstrap for massive data — classic
# resampling redraws the corpus R times (impossible at 100 TB); the
# Poisson approximation gives every row an independent Poisson(1)
# weight per replicate, so all R resamples ride a single scan with R
# counters (the streaming-bootstrap construction of Chamandy et al.,
# "Estimating uncertainty for massive data streams", 2012).
# ---------------------------------------------------------------------------

_POIS1_CDF = [
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253",
]
_BOOT_R = 64


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS yc
        FROM orders
    ), fan AS (
        SELECT r.r, c.yc,
               ('0x' || substr(md5(CAST(c.o_orderkey AS VARCHAR)
                                  || '_br' || CAST(r.r AS VARCHAR)),
                               1, 13))::UBIGINT
                   / 4503599627370496.0 AS u
        FROM c CROSS JOIN (SELECT unnest(range({_BOOT_R})) AS r) r
    ), w AS (
        SELECT r, yc,
               {" + ".join(f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _POIS1_CDF)}
                   AS wt
        FROM fan
    ), reps AS (
        SELECT r, sum(wt * yc) AS t, sum(wt) AS m
        FROM w GROUP BY r
    ), means AS (
        SELECT list({{'r': r,
                      'v': CAST(t AS DOUBLE) / m}} ORDER BY r) AS ms
        FROM reps WHERE m > 0
    ), mbar AS (
        SELECT ms, len(ms) AS nr,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [x.v FOR x IN ms]), (a, b) -> a + b) / len(ms) AS mb
        FROM means
    ), se AS (
        SELECT nr, mb,
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [(x.v - mb) * (x.v - mb) FOR x IN ms]),
                   (a, b) -> a + b) / (nr - 1)) AS s
        FROM mbar
    ), pt AS (
        SELECT count(*) AS n, sum(yc) AS sy FROM c
    )
    SELECT CAST(pt.n AS BIGINT) AS n_orders,
           CAST(se.nr AS BIGINT) AS n_replicates,
           round(CAST(pt.sy AS DOUBLE) / pt.n / 100, 4) AS mean_price,
           round(se.s / 100, 4) AS boot_se,
           round((CAST(pt.sy AS DOUBLE) / pt.n - 1.96 * se.s) / 100, 4)
               AS ci_lo,
           round((CAST(pt.sy AS DOUBLE) / pt.n + 1.96 * se.s) / 100, 4)
               AS ci_hi
    FROM pt CROSS JOIN se
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI on mean order amount via the POISSON bootstrap
    — the resampling scheme that actually works at corpus scale: each
    row draws an independent Poisson(1) weight per replicate (inverse
    CDF on a deterministic md5-uniform), so all 64 resamples ride ONE
    scan with 64 counters instead of 64 corpus redraws (Chamandy et
    al. 2012 — the standard error a data card should print when the
    jackknife's group structure doesn't apply).

    Determinism + float parity: the uniform is 52 exact bits of
    md5(orderkey || '_br' || replicate) — identical in both engines by
    construction; the Poisson(1) CDF thresholds are identical repr
    literals (the benford literal-injection rule); weights and
    replicate totals are exact int64 (w <= 8, cents*w sums bounded
    far inside int64 at any sf); each replicate mean is ONE double
    division of exact operands; the across-replicate mean and SE fold
    over the replicate-index-SORTED 64-element array (the jackknife
    HOF-fold rule); empty replicates (impossible beyond toy n) drop
    before the fold; sqrt once, rounds terminal.

    Scale: the 64x fan-out is map-side (explode + hash, no shuffle
    until the 64-group partial-aggregated reduce); contrast the naive
    bootstrap's R corpus shuffles. At 100 TB this is THE way error
    bars get computed in one pass."""
    ensure_utc(spark)
    from ..core.session import cache_parallelism

    o = table(spark, sf_dir, "orders")
    # repartition the fan input to the core count: the orders table is
    # one parquet file at test SFs, so without this the 64x fan-out's
    # 9.6M md5 evaluations run on the scan's 1-2 input splits (bench:
    # 9.7 s) instead of all cores (~1.5 s); the shuffled frame is the
    # pre-fan projection — corpus-sized, 2 columns, cheap
    c = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    ).repartition(cache_parallelism(spark))
    fan = c.crossJoin(
        F.broadcast(
            spark.range(_BOOT_R).select(F.col("id").cast("int").alias("r"))
        )
    ).select(
        "r",
        "yc",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit("_br"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            / 4503599627370496.0
        ).alias("u"),
    )
    wt = None
    for t in _POIS1_CDF:
        term = F.when(F.col("u") >= float(t), 1).otherwise(0)
        wt = term if wt is None else wt + term
    reps = (
        fan.select("r", "yc", wt.alias("wt"))
        .groupBy("r")
        .agg(
            F.sum(F.col("wt") * F.col("yc")).alias("t"),
            F.sum("wt").alias("m"),
        )
        .where(F.col("m") > 0)
    )
    means = reps.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("r"),
                    (F.col("t").cast("double") / F.col("m")).alias("v"),
                )
            )
        ).alias("ms")
    )
    mbar = means.select(
        "ms",
        F.size("ms").alias("nr"),
        (
            F.aggregate(
                F.col("ms"), F.lit(0.0), lambda a, x: a + x["v"]
            )
            / F.size("ms")
        ).alias("mb"),
    )
    se = mbar.select(
        "nr",
        "mb",
        F.sqrt(
            F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda a, x: a + (x["v"] - F.col("mb")) * (x["v"] - F.col("mb")),
            )
            / (F.col("nr") - 1)
        ).alias("s"),
    )
    pt = c.agg(F.count("*").alias("n"), F.sum("yc").alias("sy"))
    m0 = F.col("sy").cast("double") / F.col("n")
    return pt.crossJoin(F.broadcast(se)).select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("nr").cast("bigint").alias("n_replicates"),
        F.round(m0 / 100, 4).alias("mean_price"),
        F.round(F.col("s") / 100, 4).alias("boot_se"),
        F.round((m0 - 1.96 * F.col("s")) / 100, 4).alias("ci_lo"),
        F.round((m0 + 1.96 * F.col("s")) / 100, 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR control: the MULTIPLE-testing governance layer
# the stats family was missing — a release audit never runs one test,
# it runs one per segment (lang, tier, shard), and at alpha=0.05 a
# 20-segment audit fires a false alarm every release without
# correction. BH (step-up on sorted p-values, p(i) <= i*alpha/m) is
# the standard FDR control. p-values need the normal CDF, which
# neither engine exposes portably — so the per-RANK critical values
# zcrit(i) = Phi^{-1}(1 - (i*alpha/m)/2) are computed ONCE in Python
# (deterministic 200-step bisection on math.erfc — converges to the
# unique double) and injected as identical literals into both engines:
# p(i) <= i*alpha/m  <=>  |z(i)| >= zcrit(i) with |z| sorted DESC.
# ---------------------------------------------------------------------------


def _z_upper(p: float) -> float:
    """Upper-tail standard-normal quantile: z with P(Z > z) = p, via
    bisection on erfc (monotone; 200 halvings of [0,10] land on one
    double — deterministic for the literal-injection rule)."""
    lo, hi = 0.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if _math.erfc(mid / _math.sqrt(2.0)) / 2.0 > p:
            lo = mid
        else:
            hi = mid
    return lo


_BH_ALPHA = 0.05
_BH_MAX_M = 10
# 2-D threshold table: row m holds zcrit(i*alpha/m / 2) for i = 1..m,
# so the step-up works for ANY segment count up to _BH_MAX_M with m
# read from the data (count of tested groups); past the table both
# engines' out-of-range list indexing yields NULL -> conservative.
_BH_ZTAB = [
    [repr(_z_upper(i * _BH_ALPHA / m / 2.0)) for i in range(1, m + 1)]
    for m in range(1, _BH_MAX_M + 1)
]
_Z_RAW = repr(_z_upper(_BH_ALPHA / 2.0))  # uncorrected two-sided cut
_DUCK_ZTAB = "[" + ", ".join(
    "[" + ", ".join(row) + "]" for row in _BH_ZTAB
) + "]"
_SPARK_ZTAB = "array(" + ", ".join(
    "array(" + ", ".join(row) + ")" for row in _BH_ZTAB
) + ")"


@query(
    "bh_fdr_price_tests",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS tier,
               CAST(round(o_totalprice * 100) AS BIGINT) AS yc
        FROM orders
    ), per AS (
        SELECT tier, count(*) AS nj, sum(yc) AS sj, sum(yc * yc) AS ssj
        FROM c GROUP BY tier
    ), tot AS (
        SELECT sum(nj) AS n, sum(sj) AS s, sum(ssj) AS ss FROM per
    ), z AS (
        SELECT tier, nj,
               CAST(sj AS DOUBLE) / nj / 100 AS mean_price,
               (CAST(sj AS DOUBLE) / nj
                   - CAST(tot.s - sj AS DOUBLE) / (tot.n - nj)) AS dc,
               CAST(nj * ssj - sj * sj AS DOUBLE)
                   / (CAST(nj AS DOUBLE) * (nj - 1)) AS vj,
               CAST((tot.n - nj) * (tot.ss - ssj)
                    - (tot.s - sj) * (tot.s - sj) AS DOUBLE)
                   / (CAST(tot.n - nj AS DOUBLE) * ((tot.n - nj) - 1)) AS vr,
               (tot.n - nj) AS nr
        FROM per, tot WHERE nj > 1 AND tot.n - nj > 1
    ), zz AS (
        SELECT tier, nj, mean_price,
               CASE WHEN (vj / nj + vr / nr) > 0
                    THEN dc / sqrt(vj / nj + vr / nr) END AS zval
        FROM z
    ), ranked AS (
        SELECT tier, nj, mean_price, zval,
               row_number() OVER (ORDER BY abs(zval) DESC, tier) AS r,
               count(*) OVER () AS m
        FROM zz
    ), flagged AS (
        SELECT *,
               zval IS NOT NULL
                   AND abs(zval) >= ({_DUCK_ZTAB})[m][r] AS cond
        FROM ranked
    ), cut AS (
        SELECT *, max(CASE WHEN cond THEN r END) OVER () AS istar
        FROM flagged
    )
    SELECT tier, CAST(nj AS BIGINT) AS n_orders,
           round(mean_price, 4) AS mean_price,
           round(zval, 6) AS z,
           CAST(r AS BIGINT) AS z_rank,
           CASE WHEN zval IS NOT NULL
                THEN abs(zval) >= {_Z_RAW} END AS raw_significant,
           CASE WHEN zval IS NOT NULL
                THEN r <= coalesce(istar, 0) END AS bh_rejected
    FROM cut ORDER BY tier
    """,
)
def bh_fdr_price_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest Welch z per order-priority tier with
    Benjamini-Hochberg FDR control across the five tests — the
    multiple-testing form every segment-level release audit needs
    (`welch_ttest_price` is one test; a real audit runs one per
    segment and must control the family-wise false-discovery rate).
    Step-up rule: sort |z| descending (= p ascending), find the
    largest rank i with p(i) <= i*alpha/m, reject ranks 1..i.

    Float parity: the welch discipline per tier — exact int64 cents,
    DECIMAL(38,0)/HUGEINT squared sums, rest-group moments by exact
    subtraction from the totals (no second scan), each variance ONE
    double division of exact operands, z the identical expression
    shape in both engines; the BH thresholds are bisection-derived
    literals injected into BOTH engines (no erf/quantile calls
    anywhere), compared against the UNROUNDED |z|, and the rank order
    (abs(z) desc, tier) is total. raw_significant is the uncorrected
    alpha=0.05 two-sided cut. m is DATA-DERIVED (the count of tested
    groups) and indexes a precomputed m x rank threshold table
    covering m <= 10 — a corpus growing or losing segments gets the
    CORRECT step-up thresholds for its actual m (the variant corpus'
    sixth priority is tested against the m=6 row, not m=5's); past
    the table, out-of-range indexing yields NULL in BOTH engines
    (try_element_at / DuckDB list semantics) — conservative, never an
    error.

    Scale: ONE fact scan -> 5-row groupBy with map-side partials;
    totals fold from the 5 rows (broadcast back, no second scan);
    the rank/step-up windows run over 5 rows on one partition."""
    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    dd = "decimal(38,0)"
    c = o.select(
        F.col("o_orderpriority").alias("tier"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    )
    per = c.groupBy("tier").agg(
        F.count("*").alias("nj"),
        F.sum("yc").alias("sj"),
        F.sum((F.col("yc") * F.col("yc")).cast(dd)).alias("ssj"),
    )
    tot = per.agg(
        F.sum("nj").alias("n"),
        F.sum("sj").alias("s"),
        F.sum("ssj").alias("ss"),
    )
    z = (
        per.crossJoin(F.broadcast(tot))
        .where((F.col("nj") > 1) & (F.col("n") - F.col("nj") > 1))
        .select(
            "tier",
            "nj",
            (F.col("sj").cast("double") / F.col("nj") / 100).alias(
                "mean_price"
            ),
            (
                F.col("sj").cast("double") / F.col("nj")
                - (F.col("s") - F.col("sj")).cast("double")
                / (F.col("n") - F.col("nj"))
            ).alias("dc"),
            (
                (
                    F.col("nj").cast(dd) * F.col("ssj")
                    - F.col("sj").cast(dd) * F.col("sj").cast(dd)
                ).cast("double")
                / (F.col("nj").cast("double") * (F.col("nj") - 1))
            ).alias("vj"),
            (
                (
                    (F.col("n") - F.col("nj")).cast(dd)
                    * (F.col("ss") - F.col("ssj"))
                    - (F.col("s") - F.col("sj")).cast(dd)
                    * (F.col("s") - F.col("sj")).cast(dd)
                ).cast("double")
                / (
                    (F.col("n") - F.col("nj")).cast("double")
                    * ((F.col("n") - F.col("nj")) - 1)
                )
            ).alias("vr"),
            (F.col("n") - F.col("nj")).alias("nr"),
        )
    )
    se2 = F.col("vj") / F.col("nj") + F.col("vr") / F.col("nr")
    zz = z.select(
        "tier",
        "nj",
        "mean_price",
        F.when(se2 > 0, F.col("dc") / F.sqrt(se2)).alias("zval"),
    )
    rw = Window.orderBy(F.abs(F.col("zval")).desc(), "tier")
    mw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ztab = F.expr(_SPARK_ZTAB)
    # row m of the threshold table is selected by the DATA-DERIVED
    # group count; try_element_at (not ANSI element_at) so a corpus
    # with more segments than the table ranks past it and yields NULL
    # (like DuckDB list indexing) — conservative, never an error
    ranked = (
        zz.withColumn("r", F.row_number().over(rw))
        .withColumn("m", F.count("*").over(mw))
        .withColumn(
            "cond",
            F.col("zval").isNotNull()
            & (
                F.abs(F.col("zval"))
                >= F.try_element_at(
                    F.try_element_at(ztab, F.col("m").cast("int")),
                    F.col("r"),
                )
            ),
        )
    )
    iw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cut = ranked.withColumn(
        "istar",
        F.max(F.when(F.col("cond"), F.col("r"))).over(iw),
    )
    return cut.select(
        "tier",
        F.col("nj").cast("bigint").alias("n_orders"),
        F.round("mean_price", 4).alias("mean_price"),
        F.round("zval", 6).alias("z"),
        F.col("r").cast("bigint").alias("z_rank"),
        F.when(
            F.col("zval").isNotNull(),
            F.abs(F.col("zval")) >= float(_Z_RAW),
        ).alias("raw_significant"),
        F.when(
            F.col("zval").isNotNull(),
            F.col("r") <= F.coalesce(F.col("istar"), F.lit(0)),
        ).alias("bh_rejected"),
    ).orderBy("tier")


# ---------------------------------------------------------------------------
# Split-conformal coverage: the distribution-free prediction-interval
# guarantee, evaluated the way a model-serving release audit does it —
# calibrate a residual quantile on one half, measure empirical
# coverage on the other. Finite-sample conformal uses the
# ceil((n_cal+1)(1-alpha))-th smallest calibration residual, so with
# an integer-cents MEDIAN predictor the whole pipeline is EXACT
# integer selection end-to-end (the sorted-selection discipline) —
# no float quantile interpolation in either engine.
# ---------------------------------------------------------------------------

_CONF_ALPHA = 0.1  # target coverage 0.9


@query(
    "conformal_coverage_eval",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS tier,
               CAST(round(o_totalprice * 100) AS BIGINT) AS yc,
               CASE WHEN {duck_h40("CAST(o_orderkey AS VARCHAR) || '_conf'")} % 2 = 0
                    THEN 'cal' ELSE 'eval' END AS split
        FROM orders
    ), med AS (
        SELECT tier, yc AS med FROM (
            SELECT tier, yc,
                   row_number() OVER (PARTITION BY tier ORDER BY yc) AS rn,
                   count(*) OVER (PARTITION BY tier) AS n
            FROM c WHERE split = 'cal'
        ) WHERE rn = (n + 1) // 2
    ), calr AS (
        SELECT abs(c.yc - med.med) AS r
        FROM c JOIN med USING (tier) WHERE split = 'cal'
    ), q AS (
        SELECT r AS qv, k, n_cal FROM (
            SELECT r, row_number() OVER (ORDER BY r) AS rn,
                   count(*) OVER () AS n_cal,
                   CAST(ceil((count(*) OVER () + 1) * {1 - _CONF_ALPHA!r})
                        AS BIGINT) AS k
            FROM calr
        ) WHERE rn = k
    ), ev AS (
        SELECT count(*) AS n_eval,
               sum(CASE WHEN abs(c.yc - med.med) <= q.qv
                        THEN 1 ELSE 0 END) AS n_cov
        FROM c JOIN med USING (tier) CROSS JOIN q
        WHERE split = 'eval'
    )
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(ev.n_eval AS BIGINT) AS n_eval,
           CAST(q.k AS BIGINT) AS k_index,
           round(q.qv / 100.0, 2) AS q_width,
           CAST(ev.n_cov AS BIGINT) AS n_covered,
           round(ev.n_cov * 1.0 / ev.n_eval, 6) AS coverage,
           CAST({1 - _CONF_ALPHA!r} AS DOUBLE) AS target
    FROM q CROSS JOIN ev
    """,
)
def conformal_coverage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction-interval coverage on order amounts —
    the distribution-free guarantee audit (Vovk et al.; the serving-
    side release check that a model's claimed 90% intervals really
    cover 90%): a deterministic md5 coin splits orders into
    calibration/evaluation halves; the per-tier calibration MEDIAN is
    the point predictor; the interval half-width is the finite-sample
    conformal quantile — the ceil((n_cal+1)*0.9)-th SMALLEST absolute
    calibration residual; empirical coverage on the held-out half must
    then be >= 0.9 in expectation under exchangeability.

    Float parity: cents, medians (lower-middle position (n+1)//2 of
    the sorted multiset), residuals, and the conformal quantile are
    ALL exact integers selected by position — never an interpolating
    quantile in either engine (the sorted-selection discipline);
    coverage is one int/int division rounded at 6dp; the split is the
    shared md5-bucket literal expression.
    Scale: NO sort anywhere — both the per-tier medians and the
    conformal quantile come from `operators/selection.py`'s
    distributed histogram refinement (exact order statistics in
    O(log_B(span)) map-side-combinable passes; a rank window here
    would single-partition the calibration half). The five medians
    ride ONE selection call on a composite tier<<31|cents column
    (per-tier ranks become global ranks offset by the preceding
    tiers' calibration counts — a bounded 5-row collect), the
    residual quantile one more; med and q return to the plan as
    literals, so the eval pass is a single scan-and-aggregate.
    Driver traffic is bounded (5-row tier counts + the operator's
    <=|ranks|-row refinement collects). Measured crossover, recorded
    honestly: at sf0.1 the two-window-sort formulation reads 3.5 s and
    this one 6.7 s (each refinement level is a ~0.4 s job at tiny
    data) — selection wins where it matters, where a window partition
    holding 20% (per-tier median) or 50% (global residual sort) of
    the corpus on one task is not runnable at all."""
    import math as _m

    from ..operators.selection import exact_rank_values

    ensure_utc(spark)
    o = table(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderpriority").alias("tier"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        (
            h40(F.concat(F.col("o_orderkey").cast("string"), F.lit("_conf"))) % 2
            == 0
        ).alias("is_cal"),
    )
    cal = c.where("is_cal").cache()
    tier_counts = sorted(
        (r["tier"], r["cnt"])
        for r in cal.groupBy("tier").agg(F.count("*").alias("cnt")).collect()
    )
    # Degenerate-corpus short-circuit (ADVICE r13): with fewer than 9
    # calibration rows k = ceil((n_cal+1)*0.9) exceeds n_cal and the
    # rank selection would raise (and an EMPTY calibration half would
    # break the 1-tuple unpack); the DuckDB oracle's q CTE is simply
    # empty there, so mirror its empty-result semantics exactly.
    n_cal_pre = sum(cnt for _, cnt in tier_counts)
    if n_cal_pre == 0 or _m.ceil((n_cal_pre + 1) * (1 - _CONF_ALPHA)) > n_cal_pre:
        cal.unpersist()
        return local_frame(
            spark,
            [],
            "n_cal bigint, n_eval bigint, k_index bigint, q_width double,"
            " n_covered bigint, coverage double, target double",
        )
    # composite tier<<31 | cents: one selection call serves all five
    # medians — the k-th smallest within tier t is the global rank
    # (preceding tiers' counts + k). cents are positive and < 2^31
    # ($21M per order); the tight shift keeps the composite span at
    # 3 refinement levels instead of 4.
    idx = {t: i for i, (t, _) in enumerate(tier_counts)}
    targets, cum = [], 0
    for t, cnt in tier_counts:
        targets.append((t, cum + (cnt + 1) // 2))
        cum += cnt
    comp = (
        F.element_at(
            F.expr(
                "map("
                + ", ".join(f"'{t}', {i}" for t, i in idx.items())
                + ")"
            ),
            F.col("tier"),
        ).cast("bigint")
        * F.lit(1 << 31)
        + F.col("yc")
    )
    meds = {
        tag: val - idx[tag] * (1 << 31)
        for tag, _k, val in exact_rank_values(
            cal.select(comp.alias("v")), "v", targets
        )
    }
    med_expr = F.element_at(
        F.expr(
            "map(" + ", ".join(f"'{t}', {m}L" for t, m in meds.items()) + ")"
        ),
        F.col("tier"),
    )
    calr = cal.select(F.abs(F.col("yc") - med_expr).alias("r"))
    seen = {}

    def q_rank(n: int):
        seen["n_cal"] = n
        return [("q", int(_m.ceil((n + 1) * (1 - _CONF_ALPHA))))]

    ((_tag, k, qv),) = exact_rank_values(calr, "r", q_rank)
    n_cal = seen["n_cal"]
    cal.unpersist()
    ev = (
        c.where(~F.col("is_cal"))
        .where(med_expr.isNotNull())
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(
                (F.abs(F.col("yc") - med_expr) <= F.lit(qv)).cast("long")
            ).alias("n_cov"),
        )
    )
    return ev.select(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.col("n_eval").cast("bigint").alias("n_eval"),
        F.lit(k).cast("bigint").alias("k_index"),
        F.round(F.lit(qv) / 100.0, 2).alias("q_width"),
        F.col("n_cov").cast("bigint").alias("n_covered"),
        F.round(F.col("n_cov") * 1.0 / F.col("n_eval"), 6).alias("coverage"),
        F.lit(1 - _CONF_ALPHA).alias("target"),
    )
