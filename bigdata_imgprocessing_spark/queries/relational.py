"""Relational core — scans, joins, filters, aggregations (SURVEY.md §2).

Each query is the idiomatic single-shuffle DataFrame form of a reference
operator (citations in docstrings point into ``/root/reference``); the
reference's driver-loop group-bys (156 jobs for stat 1,
``pyspark_stats.py:82-94``) collapse into one ``groupBy`` each.

Determinism rules for the DuckDB oracle hash-compare:
* every computed column aliased identically on both sides,
* double aggregates rounded (sum→2dp, ratios→4dp) on both sides,
* top-k selections fully tie-broken by a unique key.

Scale notes (100 TB target) are inline per query; the general posture:
fixed tiny dims (region 5, nation 25) are broadcast explicitly; sf-scaled
dims (part, customer) are left to AQE/autoBroadcastJoinThreshold so the
plan degrades to shuffle joins gracefully when they outgrow broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.catalog import table
from ..core.registry import query
from ..core.session import cached
from ..functions import first_letter, length_bucket, zero_guard_div

# --------------------------------------------------------------------------
# Flagship: single-pass grouped aggregation (TPC-H Q1 shape).
# Reference analog: per-group sum/avg stats computed as ~170 driver-side
# .sum() jobs (pyspark_stats.py:82-94,108-119) → ONE partial-agg shuffle.
# Scale: map-side combine makes this ~#distinct-groups traffic per
# partition; no join; whole-stage codegen end to end.
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                        AS sum_qty,
           round(sum(l_extendedprice), 2)                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 2)                        AS avg_qty,
           round(avg(l_extendedprice), 2)                   AS avg_price,
           round(avg(l_discount), 4)                        AS avg_disc,
           count(*)                                         AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (the flagship entry() query): one lineitem scan, date filter pushed to parquet, single partial+final agg shuffle over (returnflag, linestatus) — reference parity for the grouped-sum stats family (pyspark_stats.py:82-94 done as ONE groupBy)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --------------------------------------------------------------------------
# Alphabet stats: reference stat 1 (pyspark_stats.py:73-99) — per
# first-letter-of-name sum + file count + zero-guarded average (A1-A3, F1).
# 26 letters x 6 actions there; one groupBy here.
# Scale: part is sf-scaled → no forced broadcast; lineitem⋈part is a
# shuffle hash/sort-merge join on l_partkey, AQE may still broadcast the
# built side while it fits.
# --------------------------------------------------------------------------


@query(
    "alphabet_stats",
    oracle="""
    SELECT substr(p_name, 1, 1)                  AS letter,
           round(sum(l_quantity), 2)             AS sum_qty,
           count(DISTINCT l_orderkey)            AS order_cnt,
           round(CASE WHEN count(DISTINCT l_orderkey) = 0 THEN 0
                      ELSE round(sum(l_quantity), 2) / count(DISTINCT l_orderkey)
                 END, 4)                         AS avg_qty_per_order
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY substr(p_name, 1, 1)
    """,
)
def alphabet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/A1-A3: per-first-letter class sums with the zero-guard average (functions/zero_guard_div) — the reference's 156-job driver loop (pyspark_stats.py:82-94) as one broadcast-join + one groupBy."""
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", first_letter(F.col("p_name")).alias("letter"))
    joined = l.join(p, l.l_partkey == p.p_partkey)
    agg = joined.groupBy("letter").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count_distinct("l_orderkey").alias("order_cnt"),
    )
    return agg.select(
        "letter",
        "sum_qty",
        "order_cnt",
        zero_guard_div(F.col("sum_qty"), F.col("order_cnt")).alias("avg_qty_per_order"),
    )


# --------------------------------------------------------------------------
# Top-k after join+agg (TPC-H Q3 shape): filter → 3-way join → group →
# fully tie-broken order → limit. Exercises predicate pushdown (both
# filters reach the scans) and top-k.
# Scale: TakeOrderedAndProject — per-partition heaps, no global sort.
# --------------------------------------------------------------------------


@query(
    "top_orders",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: two broadcast-pruned joins into a per-order revenue agg with a bounded top-10 (TakeOrderedAndProject, plan-asserted — never a global sort)."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Multi-join star query with broadcast dims (TPC-H Q5 shape). The
# reference hand-broadcasts its dims (pyspark_stats.py:37,
# pyspark_yolox.py:49-59) — here the fixed tiny dims (nation=25,
# region=5 rows at EVERY sf) get an explicit broadcast() hint: J1.
# --------------------------------------------------------------------------


@query(
    "region_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join: region/nation dims broadcast onto the fact, one agg shuffle; the In(r_name,...) filter reaches the region scan (plan-asserted)."""
    r = table(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    dim = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(dim, c.c_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Length-bucket stats: reference stat 4 (pyspark_stats.py:156-188, F4/A6)
# — 3-way name-length buckets with zero-guarded averages. Boundaries
# adapted to p_name's 7-12 char range so all buckets are populated.
# --------------------------------------------------------------------------


@query(
    "name_length_buckets",
    oracle="""
    SELECT CASE WHEN length(p_name) < 9 THEN 'under_9'
                WHEN length(p_name) <= 10 THEN 'between_9_and_10'
                ELSE 'over_10' END            AS bucket,
           round(sum(l_quantity), 2)          AS sum_qty,
           count(*)                           AS n_rows,
           round(CASE WHEN count(*) = 0 THEN 0
                      ELSE round(sum(l_quantity), 2) / count(*) END, 4) AS avg_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY bucket
    """,
)
def name_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/A6: three-way name-length bucketing (functions/length_bucket, reference pyspark_stats.py:158-167) as a single groupBy over a derived bucket column."""
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select(
        "p_partkey", length_bucket(F.col("p_name"), 9, 10).alias("bucket")
    )
    agg = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("bucket")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n_rows"))
    )
    return agg.select(
        "bucket", "sum_qty", "n_rows", zero_guard_div(F.col("sum_qty"), F.col("n_rows")).alias("avg_qty")
    )


# --------------------------------------------------------------------------
# Semi / anti / outer joins (J3/F7 + the "free" Spark join types,
# SURVEY.md §2.5). The reference's semi-join prune is
# pyspark_yolox.py:146-148.
# --------------------------------------------------------------------------


@query(
    "semi_join_customers",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY n_name
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/J3: membership pre-filter as a LEFT SEMI join (plan-asserted LeftSemi) — rows of the big side never widen, the reference's index-probe loop (pyspark_yolox.py:146-148) gone declarative."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate < TIMESTAMP '1996-01-01')
    GROUP BY c_mktsegment
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order before 1996 (date-filtered so the anti side
    is non-empty at every sf), counted per segment."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1996-01-01").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "outer_join_order_counts",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS num_orders
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT num_orders, count(*) AS num_customers
    FROM per_cust GROUP BY num_orders
    """,
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving empty groups (customers with 0 orders),
    then a distribution over the per-customer order count."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("num_orders"))
    )
    return per_cust.groupBy("num_orders").agg(F.count("*").alias("num_customers"))


# --------------------------------------------------------------------------
# Distinct aggregation (A12) + grouped conditional counts.
# --------------------------------------------------------------------------


@query(
    "distinct_counts",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: exact distinct across three tables in one result row — each count is its own partial-agg shuffle, no distinct-expand over a union."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Histogram: group-by-count (A8/A9) — replaces the reference's
# collect→np.unique→parallelize→per-value-count round-trip
# (pyspark_dominant.py:74-92) and its 6 sequential filter(x==i).count()
# jobs (pyspark_dominant.py:122-124).
# --------------------------------------------------------------------------


@query(
    "event_histogram",
    oracle="""
    SELECT event_type, count(*) AS n_events, round(avg(value), 4) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/A8: the reference's 6-filter histogram loop (pyspark_dominant.py:122-124) as ONE groupBy over the bucketed value."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value")
    )


# --------------------------------------------------------------------------
# JSON-map measure extraction (P2, §2.9 JSON): the reference stores
# {class: count} maps as JSON strings (pyspark_yolox.py:103-111) and
# re-parses them per row (pyspark_stats.py:56-59). Real MapType via
# from_json; lookup with the same .get(k, 0) default semantics.
# --------------------------------------------------------------------------


@query(
    "json_map_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS sum_k,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def json_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: JSON-map field lookup with default over a REAL MapType (from_json + element_at + coalesce; reference pyspark_stats.py:56-59) — typed access, no per-row json.loads."""
    e = table(spark, sf_dir, "events")
    kval = F.coalesce(
        F.from_json(F.col("props"), "map<string,bigint>").getItem("k"), F.lit(0)
    )
    return e.groupBy("event_type").agg(
        F.sum(kval).alias("sum_k"), F.count("*").alias("n_events")
    )


# --------------------------------------------------------------------------
# Pivot / unpivot reshape (A13, plots.py:27-40): long → wide per-class
# columns in one pass.
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/J4: long-to-wide pivot with an explicit value list (no distinct-values pre-job) — the reference's driver-side merge + transpose (plots.py:27-40) as one shuffle."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type")
    wide = e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


# --------------------------------------------------------------------------
# Window functions: per-group top-k (§2.7 — absent in the reference; part
# of the engine surface) and frame-based moving aggregate.
# Scale: one shuffle on the partition key; rank pushdown via
# WindowGroupLimit keeps per-key state at k.
# --------------------------------------------------------------------------


@query(
    "window_topk_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 2
    """,
)
def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via a rank window — WindowGroupLimit pushes the k-cut into per-partition heaps (plan-asserted in tests/test_plans.py), no per-group full sort."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


@query(
    "moving_avg_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(sum(o_totalprice) OVER w / count(*) OVER w, 4) AS mov_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-order average per customer as sum/count division (NOT windowed avg(): 2dp money means avg hits .005 round boundaries where engines disagree — README driver-contract rule)."""
    # sum/count divided explicitly (not avg()): money values have exactly
    # 2 decimals, so a windowed avg's true value can sit on the .005
    # rounding boundary where engine-specific summation order flips the
    # rounded cent; sum/count keeps the quotient off boundaries.
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey").rowsBetween(-3, 0)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.sum("o_totalprice").over(w) / F.count("*").over(w), 4).alias("mov_avg"),
    )


# --------------------------------------------------------------------------
# Rollup / cube (SURVEY.md §2.6 closing note: A1+A2 at per-letter AND
# global level is a natural ROLLUP). Grouping nulls are coalesced to
# 'ALL' so the hash compare is unambiguous.
# --------------------------------------------------------------------------


@query(
    "rollup_revenue",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           round(sum(c_acctbal), 2) AS sum_acctbal,
           count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): subtotal levels the reference computed as separate driver passes, in one grouping-sets aggregation with NULL-marker normalization."""
    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dim = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name", "r_name")
    )
    return (
        c.join(dim, c.c_nationkey == dim.n_nationkey)
        .rollup("r_name", "n_name")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"), F.count("*").alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "sum_acctbal",
            "n_customers",
        )
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one pass — the row-multiplication cost vs explicit GROUPING SETS is the documented trade (SCALING.md)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


# --------------------------------------------------------------------------
# Set operations (§2.8 — engine surface): customers active in 1995-1996
# vs 1997+ — union / intersect / except cardinalities in one row.
# --------------------------------------------------------------------------


@query(
    "set_ops_customers",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate < TIMESTAMP '1997-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1997-01-01')
    SELECT (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))     AS union_cnt,
           (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS intersect_cnt,
           (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))    AS except_cnt
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-scan formulation: one pass over orders computes per-key
    era membership flags, then union/intersect/except cardinalities are
    conditional counts — instead of three union/intersect/exceptAll
    subplans each rescanning orders (the oracle keeps the literal set-op
    SQL, proving the rewrite's equivalence)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    flags = o.groupBy("o_custkey").agg(
        F.max((F.col("o_orderdate") < "1997-01-01").cast("int")).alias("in_a"),
        F.max((F.col("o_orderdate") >= "1997-01-01").cast("int")).alias("in_b"),
    )
    return flags.agg(
        F.count("*").alias("union_cnt"),
        F.sum((F.col("in_a") * F.col("in_b"))).cast("bigint").alias("intersect_cnt"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("bigint").alias("except_cnt"),
    )


@query(
    "full_outer_nation_counts",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (SURVEY.md §2.5 'free' join types): per-nation
    customer vs supplier counts — suppliers cover only a subset of
    nations, so both null sides are exercised."""
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


# --------------------------------------------------------------------------
# Subqueries — optimizer surface the reference lacks entirely (SURVEY.md
# §4 "absent" list): EXISTS decorrelates to a semi join; a correlated
# scalar aggregate subquery decorrelates to an aggregate + join. Written
# through the spark.sql path since subqueries are SQL-level constructs.
# --------------------------------------------------------------------------


@query(
    "exists_late_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (in a date window) having at least one
    lineitem shipped >60 days after the order date, counted per
    priority. EXISTS decorrelates to a left-semi hash join."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM {o} o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM {l} l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """,
        o=o,
        l=l,
    )


@query(
    "small_quantity_revenue",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    GROUP BY p_brand
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems below half their part's average
    quantity. The correlated scalar subquery decorrelates to a
    per-partkey aggregate joined back — one extra shuffle, not a
    per-row subquery execution."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT p_brand,
               round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM {l} l JOIN {p} p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM {l} l2
                              WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p_brand
        """,
        l=l,
        p=p,
    )


@query(
    "inactive_rich_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    """,
)
def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — an uncorrelated scalar subquery (broadcast single value)
    plus NOT EXISTS (anti join)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_bal
        FROM {c} c
        WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM {c} c2 WHERE c2.c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM {o} o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_mktsegment
        """,
        c=c,
        o=o,
    )


@query(
    "customer_balance_deciles",
    oracle="""
    WITH d AS (
        SELECT c_acctbal,
               ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    SELECT decile, count(*) AS n_customers,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM d GROUP BY decile
    """,
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning via a global ntile window. The order key
    (c_acctbal, c_custkey) is total, so decile assignment is identical
    across engines even at tie values. A global window is a single-sort
    operator — fine for dimension-sized inputs; at fact scale use
    approx_percentile cutpoints instead (approx_sketch_stats)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select(F.ntile(10).over(w).alias("decile"), "c_acctbal")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@query(
    "priority_multiset_diff",
    oracle="""
    WITH a AS (SELECT o_orderpriority FROM orders WHERE extract(year FROM o_orderdate) = 1996),
         b AS (SELECT o_orderpriority FROM orders WHERE extract(year FROM o_orderdate) = 1997),
         ex AS (SELECT o_orderpriority, count(*) AS n_except
                FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY o_orderpriority),
         inter AS (SELECT o_orderpriority, count(*) AS n_intersect
                   FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY o_orderpriority)
    SELECT coalesce(ex.o_orderpriority, inter.o_orderpriority) AS o_orderpriority,
           coalesce(n_except, 0) AS n_except,
           coalesce(n_intersect, 0) AS n_intersect
    FROM ex FULL OUTER JOIN inter ON ex.o_orderpriority = inter.o_orderpriority
    """,
)
def priority_multiset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-ops (EXCEPT ALL / INTERSECT ALL) on order-priority
    bags from two years — the duplicate-preserving semantics
    union/except DISTINCT can't express (exceptAll keeps
    max(cnt_a - cnt_b, 0) copies; intersectAll keeps min counts)."""
    # cached (r15): exceptAll and intersectAll each consume BOTH year
    # bags, so the uncached 2-column projection was scanned 4x (plan
    # audit); one scan now. r16 (ADVICE r15): filter to the two
    # consumed years BEFORE the cache — still one scan, identical
    # results, and the cached frame holds only the 1996/1997 slice
    # instead of every year of the fact (rule D: cache tiny shared
    # frames, never corpus-sized ones).
    o = cached(
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", F.year("o_orderdate").alias("yr"))
        .where(F.col("yr").isin(1996, 1997))
    )
    a = o.where(F.col("yr") == 1996).select("o_orderpriority")
    b = o.where(F.col("yr") == 1997).select("o_orderpriority")
    ex = a.exceptAll(b).groupBy("o_orderpriority").agg(F.count("*").alias("n_except"))
    inter = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_intersect"))
    )
    return (
        ex.join(inter, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.coalesce("n_except", F.lit(0)).alias("n_except"),
            F.coalesce("n_intersect", F.lit(0)).alias("n_intersect"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q8-style market share: the deepest join tree in the suite —
# fact⋈fact shuffle join with three broadcast dimension arms.
# --------------------------------------------------------------------------


@query(
    "market_share_by_year",
    oracle="""
    WITH base AS (
        SELECT year(o.o_orderdate) AS order_year,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS total_revenue,
               round(sum(CASE WHEN sn.n_name = 'NATION_3'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END), 2) AS nation_revenue
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
        JOIN region r    ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'ASIA'
        GROUP BY order_year
    )
    SELECT order_year, total_revenue, nation_revenue,
           round(nation_revenue / total_revenue, 6) AS market_share
    FROM base
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: among orders by ASIA-region
    customers, the yearly revenue share supplied by one nation's
    suppliers. The deepest join tree in the suite: lineitem⋈orders is
    the one genuine big-big shuffle join (both sides hash-partitioned on
    the order key); the customer→nation→region arm and the
    supplier→nation arm are broadcast dims, so neither fact shuffles for
    them, and Catalyst is free to reorder the broadcast arms around the
    shuffle join. Conditional sum gives the numerator in the same pass
    as the denominator — one aggregation, no second scan, no join of two
    aggregates.

    Cross-engine float contract: the share is derived from the ALREADY
    2-rounded sums (identical inputs in both engines → identical
    quotient), never from the raw float accumulations."""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    cust_dim = F.broadcast(
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                    "n_nationkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_dim = F.broadcast(
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), "n_name")),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_dim, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(F.sum(rev), 2).alias("total_revenue"),
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(0.0)),
                2,
            ).alias("nation_revenue"),
        )
    )
    return base.select(
        "order_year",
        "total_revenue",
        "nation_revenue",
        F.round(F.col("nation_revenue") / F.col("total_revenue"), 6).alias(
            "market_share"
        ),
    )


# --------------------------------------------------------------------------
# Spark 4 VARIANT ingestion of semi-structured JSON (the modern
# schema-on-read path, successor to from_json-with-a-declared-schema).
# --------------------------------------------------------------------------


@query(
    "variant_props_stats",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k
    FROM x GROUP BY event_type
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` encodes each document once into the binary variant
    form, ``try_variant_get`` extracts typed paths without re-parsing
    and without a declared schema — unlike ``from_json`` (see
    ``json_map_extract``, the P2 reference shape), heterogeneous or
    evolving keys don't need a schema migration, and missing
    keys/type mismatches yield NULL instead of failing.

    Scale: parse + extraction are narrow map-side expressions feeding
    one low-cardinality aggregation shuffle; variant's binary encoding
    amortizes parsing across multiple path extractions per row (one
    parse, N gets), where chained ``from_json`` calls would re-parse
    per expression."""
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    x = e.select("event_type", k.alias("k"))
    return x.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.coalesce(F.col("k"), F.lit(0))).alias("sum_k"),
    )


@query(
    "lone_problem_supplier",
    oracle="""
    WITH l1 AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def lone_problem_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who were the ONLY one with returned
    items in a multi-supplier finished order), adapted to this schema's
    columns (returnflag = 'R' plays receipt>commit). The ORACLE keeps
    the literal EXISTS / NOT EXISTS correlated form; the Spark plan is
    the decorrelated aggregation rewrite — per order, one pass computes
    (distinct suppliers, distinct returning suppliers, returned rows,
    the lone returning supplier), and an order qualifies iff it has ≥2
    suppliers but exactly 1 returning one. Hash-parity between the two
    forms proves the rewrite preserves semantics.

    Why rewrite instead of two correlated joins: at 100 TB the EXISTS
    and NOT EXISTS legs are each another fact-fact join against
    lineitem (three scans + three shuffles of the biggest table); the
    aggregation form scans lineitem once, shuffles once on l_orderkey
    (map-side partial), and once more on the winning supplier —
    lineitem's orderkey bucketing (core/catalog.bucketed_table) would
    remove the first shuffle entirely."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    is_r = F.col("l_returnflag") == "R"
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct(F.when(is_r, F.col("l_suppkey"))).alias("n_r_supp"),
            F.sum(is_r.cast("long")).alias("n_r_rows"),
            F.max(F.when(is_r, F.col("l_suppkey"))).alias("r_supp"),
        )
    )
    lone = per_order.where((F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1))
    return (
        lone.join(s, lone.r_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_r_rows").alias("numwait"))
    )


@query(
    "lateral_topk_customers",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """,
)
def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — per-nation top-2 customers by
    balance, written as the for-each-row-of-the-outer-table dependent
    subquery (the SQL:1999 LATERAL operator Spark supports since 3.2
    and the reference's driver loops approximate by iterating groups).
    Catalyst DECORRELATES it: the physical plan is a rank-limited
    window over customer joined back to nation — no per-row re-execution
    anywhere, which is exactly why the lateral form is safe at 100 TB.
    Fully tie-broken (balance desc, name) for cross-engine parity."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        """
    )


@query(
    "order_value_position",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority AS priority, o_totalprice,
               percent_rank() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS pr,
               cume_dist() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice, o_orderkey) AS cd
        FROM orders
    )
    SELECT priority,
           count(*) AS n_orders,
           CAST(count(*) FILTER (WHERE cd <= 0.5) AS BIGINT) AS n_bottom_half,
           CAST(count(*) FILTER (WHERE pr >= 0.99) AS BIGINT) AS n_top_pct,
           round(max(CASE WHEN cd <= 0.5 THEN o_totalprice END), 2) AS median_price
    FROM r GROUP BY priority
    """,
)
def order_value_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position windows (percent_rank + cume_dist) — the
    distribution-position family next to ntile
    (``customer_balance_deciles``): per priority, how many orders sit in
    the bottom half (cume_dist) and the top percentile (percent_rank),
    plus the realized median price (max price of the bottom half — an
    exact order statistic, no interpolation ambiguity between engines).
    Ordering includes o_orderkey so ranks are a total order and the
    0.5/0.99 threshold comparisons are identical rationals in both
    engines. One window shuffle per priority partition + one rollup;
    at 100 TB the same shape runs per day-partition (the position of a
    row within its cohort is the quality-scoring primitive for
    curriculum ordering)."""
    # alias BEFORE the window so the rollup groups on the same exprId the
    # window partitioned by — the aggregation then reuses the window's
    # hash partitioning instead of adding a second corpus shuffle
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice", "o_orderkey"
    )
    w = Window.partitionBy("priority").orderBy("o_totalprice", "o_orderkey")
    r = o.select(
        "priority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return r.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        F.sum((F.col("cd") <= 0.5).cast("long")).alias("n_bottom_half"),
        F.sum((F.col("pr") >= 0.99).cast("long")).alias("n_top_pct"),
        F.round(
            F.max(F.when(F.col("cd") <= 0.5, F.col("o_totalprice"))), 2
        ).alias("median_price"),
    )


@query(
    "user_erasure_audit",
    oracle="""
    WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 9 = 0),
    vorders AS (SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM victims))
    SELECT 'customer' AS table_name, count(*) AS n_rows_to_erase FROM victims
    UNION ALL
    SELECT 'orders', count(*) FROM vorders
    UNION ALL
    SELECT 'lineitem', count(*) FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM vorders)
    UNION ALL
    SELECT 'events', count(*) FROM events
    WHERE user_id IN (SELECT c_custkey FROM victims)
    """,
)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: an erasure request keyed by
    customer cascades over the FK graph (customer → orders → lineitem,
    plus the events feed keyed by the same id), counting the rows each
    table must delete BEFORE any destructive write — the planning pass
    every GDPR deletion pipeline runs first. Each hop is a left-SEMI
    join against the (small) victim set — broadcast at any victim
    cardinality that fits an erasure batch — so non-victim data is
    never materialized; lineitem is reached through the orders hop
    (never scanned against raw victim ids, which would miss the FK
    indirection). At 100 TB the same plan drives the actual
    delete-rewrite job per partition."""
    c = table(spark, sf_dir, "customer")
    # victim/affected-order key sets are CACHED: each feeds two
    # downstream hops, and uncached reuse re-planned the customer scan
    # three times and the orders scan twice (6 fact/dim scans where 4
    # are inherent — one per audited table; psi-class trap, removed
    # r8). A production erasure pipeline persists these sets anyway —
    # they ARE the erasure batch manifest.
    victims = (
        c.where(F.col("c_custkey") % 9 == 0).select("c_custkey").cache()
    )
    o = table(spark, sf_dir, "orders")
    vorders = (
        o.join(
            F.broadcast(victims), o.o_custkey == victims.c_custkey,
            "left_semi",
        )
        .select("o_orderkey")
        .cache()
    )
    li = table(spark, sf_dir, "lineitem")
    vlines = li.join(
        F.broadcast(vorders), li.l_orderkey == vorders.o_orderkey, "left_semi"
    )
    e = table(spark, sf_dir, "events")
    vevents = e.join(
        F.broadcast(victims), e.user_id == victims.c_custkey, "left_semi"
    )

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_rows_to_erase")).select(
            F.lit(name).alias("table_name"), "n_rows_to_erase"
        )

    return (
        one("customer", victims)
        .unionByName(one("orders", vorders))
        .unionByName(one("lineitem", vlines))
        .unionByName(one("events", vevents))
    )


@query(
    "null_safe_reconcile",
    oracle="""
    WITH a AS (
        SELECT nullif(event_type, 'error') AS k,
               count(*) AS n_a, round(sum(value), 2) AS sum_a
        FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ),
    b AS (
        SELECT nullif(event_type, 'error') AS k,
               count(*) AS n_b, round(sum(value), 2) AS sum_b
        FROM events WHERE user_id % 2 = 1 GROUP BY 1
    )
    SELECT coalesce(a.k, b.k, '(null)') AS key_display,
           coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
           round(coalesce(sum_a, 0) + coalesce(sum_b, 0), 2) AS sum_total
    FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def null_safe_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join semantics (``<=>`` / IS NOT DISTINCT FROM) — the
    reconciliation shape every pipeline audit hits: two halves of a feed
    aggregated per key where the key itself can be NULL (here a
    quarantined 'error' type nulled by nullif), full-outer-joined so the
    NULL groups MATCH each other instead of silently dropping (a plain
    ``=`` join loses every null-keyed row — the classic reconciliation
    bug). Both sides are already aggregated (≤|event_types| rows) before
    the join, so the null-safe full outer is broadcast-trivial at any
    corpus size; the corpus itself sees only the two grouped passes."""
    e = table(spark, sf_dir, "events")
    k = F.nullif("event_type", F.lit("error"))
    a = (
        e.where(F.col("user_id") % 2 == 0)
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_a"), F.round(F.sum("value"), 2).alias("sum_a"))
    )
    b = (
        e.where(F.col("user_id") % 2 == 1)
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_b"), F.round(F.sum("value"), 2).alias("sum_b"))
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")), "full_outer"
    )
    return j.select(
        F.coalesce("a.k", "b.k", F.lit("(null)")).alias("key_display"),
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.round(
            F.coalesce("sum_a", F.lit(0.0)) + F.coalesce("sum_b", F.lit(0.0)), 2
        ).alias("sum_total"),
    )


@query(
    "pipe_syntax_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (``|>`` — the Spark-4 linear-composition SQL
    dialect): scan |> filter |> aggregate, reading top-to-bottom the
    way the DataFrame API does. Semantically identical to the classic
    form (the oracle states it), and it PLANS identically — pipe
    operators are pure syntax, Catalyst sees the same logical plan, so
    pushdown/pruning/codegen are unchanged."""
    li = table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM {li}
        |> WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |> AGGREGATE CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                     round(sum(l_extendedprice), 2) AS sum_price,
                     count(*) AS n_rows
           GROUP BY l_returnflag, l_linestatus
        """,
        li=li,
    )
