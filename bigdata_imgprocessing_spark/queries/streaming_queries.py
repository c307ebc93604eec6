"""Streaming queries in the driver contract: each runs a real Structured
Streaming job (readStream → availableNow → memory sink) and returns the
materialized result, so the DuckDB oracle value-checks actual streaming
output — stream-batch unification made testable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import fs
from ..core.catalog import table
from ..core.registry import prestaged, query
from ..core.session import cached, ensure_utc, local_frame
from ..functions.helpers import duck_split, split_of
from ..operators.neardup import (
    DUCK_PAIRS_CTES,
    DUCK_SIMHASH64_CTES,
    WORDGRAM_N,
    duck_jaccard,
    duck_para_chunks,
    duck_wordgram_5h,
    wordgram_5h,
)
from ..operators.similarity import duck_label_cells
from ..streaming.jobs import event_stream, file_feed_stream, run_to_memory
from ..streaming.stateful import THRESHOLD, running_user_totals

# Oracles shared by more than one query. The batch twins in
# queries/timeseries.py import the session and rolling-users strings
# from here: this module registers first, so the import leaves the
# registry's order as it is.

#: per-event-type count and value sum over the original events: what
#: every drain of the event stream that must neither lose nor repeat an
#: event leaves behind
EVENT_TYPE_STATS_ORACLE = """
    SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """

#: per-user session and event counts under a 30-minute inactivity gap
SESSION_COUNTS_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), sess AS (
        SELECT user_id,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           count(DISTINCT sid) AS n_sessions,
           count(*) AS n_events
    FROM sess GROUP BY user_id
    """

#: exact distinct users per rolling 7-day window, clipped at the last
#: event day; the sketch estimate is audited, never emitted
ROLLING_USERS_ORACLE = """
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), b AS (
        SELECT max(date_trunc('day', ts)) AS mx FROM events
    ), fan AS (
        SELECT DISTINCT user_id,
               d + to_days(CAST(i AS INTEGER)) AS we
        FROM ud, UNNEST(range(7)) AS t(i), b
        WHERE d + to_days(CAST(i AS INTEGER)) <= b.mx
    )
    SELECT strftime(we, '%Y-%m-%d') AS day, count(*) AS n_exact,
           TRUE AS within_tol
    FROM fan GROUP BY we
    """


@query(
    "streaming_event_counts",
    oracle=EVENT_TYPE_STATS_ORACLE,
)
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-counting job drained over the static corpus: the
    streaming result must equal the batch group-by (oracle)."""
    ensure_utc(spark)
    agg = event_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return run_to_memory(agg, mode="complete")


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_events
    FROM events GROUP BY day
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation (the watermark
    is load-bearing for state eviction in a continuous run; with
    availableNow over a finite corpus complete-mode emits every window)."""
    ensure_utc(spark)
    agg = (
        event_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n_events")
    )
    return run_to_memory(agg, mode="complete")


@query(
    "streaming_dedup_counts",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup: dropDuplicates on (user_id, event_type)
    under a watermark (bounded dedup state — the streaming form of the
    hash-groupBy dedup), then counts; must equal the batch
    count-distinct."""
    ensure_utc(spark)
    s = event_stream(spark, sf_dir).withWatermark("ts", "1 day")
    deduped = s.dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_unique_users")
    )
    return run_to_memory(agg, mode="complete")


@query(
    "streaming_session_windows",
    oracle=SESSION_COUNTS_ORACLE,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows under streaming: the stream sessionizes
    (watermarked session_window state), the drained per-session table is
    rolled up batch-side (chained streaming aggregations are not
    supported) — same oracle as the batch session_windows query."""
    ensure_utc(spark)
    s = event_stream(spark, sf_dir).withWatermark("ts", "1 day")
    per_session = s.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("cnt")
    )
    drained = run_to_memory(per_session.select("user_id", "cnt"), mode="complete")
    return drained.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("cnt").alias("n_events")
    )


@query(
    "streaming_stateful_totals",
    oracle=f"""
    WITH r AS (
        SELECT user_id, ts, event_id, value,
               sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           round((list(run ORDER BY ts, event_id))[-1], 2) AS total_value,
           count(*) FILTER (WHERE run > {THRESHOLD}) AS n_large
    FROM r GROUP BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    arbitrary-state surface windowed aggs can't express): per-user
    running totals with an order-dependent threshold-crossing counter.
    The drained final state must equal the batch running-sum window
    recomputation (oracle) — the stream≡batch contract for custom
    state. State is per-user bounded (3 scalars) and watermark-free by
    design; a continuous deployment adds GroupStateTimeout eviction."""
    ensure_utc(spark)
    return running_user_totals(spark, sf_dir)


@query(
    "streaming_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(date_trunc('second', p.ts))) -
                floor(epoch(date_trunc('second', c.ts))) AS BIGINT) AS secs_between
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every purchase within an
    hour after a click by the same user, both sides live streams. The
    time-range predicate plus both watermarks bound the join state
    (clicks older than the watermark minus the interval are evicted) —
    the construction that makes an unbounded two-stream join runnable
    forever. Drained over the finite corpus it must equal the batch
    interval join (oracle)."""
    ensure_utc(spark)
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    j = clicks.withWatermark("click_ts", "1 hour").join(
        purchases.withWatermark("purchase_ts", "1 hour"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = j.select(
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp(F.date_trunc("second", "purchase_ts"))
            - F.unix_timestamp(F.date_trunc("second", "click_ts"))
        ).alias("secs_between"),
    )
    return run_to_memory(out, mode="append")


@query(
    "streaming_foreachbatch_counts",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def streaming_foreachbatch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the stream drains through an arbitrary batch
    writer (per-batch-id parquet overwrite — the idempotent exactly-once
    construction for non-transactional sinks), and the aggregation runs
    over the SINK's files re-read, so the oracle hash verifies the whole
    write path, not just the stream."""
    from ..streaming.jobs import run_foreachbatch_parquet

    ensure_utc(spark)
    # the store root fingerprints the corpus: regenerated testdata gets
    # a fresh sink dir. Belt-and-braces: also clear the dir before
    # draining, so stale batch=* dirs from a prior run with different
    # micro-batch segmentation can never pollute the re-read (ADVICE r2).
    out = fs.store_root(spark, sf_dir, "bdip_fob")
    fs.delete(spark, out)
    s = event_stream(spark, sf_dir).select("event_type", "user_id")
    run_foreachbatch_parquet(s, out)
    back = spark.read.parquet(*fs.glob(spark, f"{out}/batch=*"))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _stage_feed(spark: SparkSession, root: str, parts: list) -> str:
    """Stage an ORDERED multi-batch file feed under ``root/feed``:
    ``parts`` is [(name, DataFrame), ...]; each frame writes to one
    parquet file whose mtime encodes its batch order (the file source
    with maxFilesPerTrigger=1 picks files in mtime order). Idempotent
    via the feed's _SUCCESS marker under the fingerprinted root. Shared
    by streaming_outer_join (real + two sentinel batches),
    streaming_dedup_within_watermark (corpus + duplicated subset) and
    the wave feeds."""
    feed = f"{root}/feed"
    if not fs.landed(spark, feed):
        fs.delete(spark, feed)
        tmp = f"{root}/stage"
        try:
            t0 = 1_700_000_000_000
            for i, (name, df) in enumerate(parts):
                df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/{name}")
                src = fs.glob(spark, f"{tmp}/{name}/*.parquet")[0]
                # mtime = order
                fs.move(spark, src, f"{feed}/{i}_{name}.parquet", t0 + 60_000 * i)
        finally:
            fs.delete(spark, tmp)
        fs.mark_landed(spark, feed)
    return feed


@query(
    "streaming_kafka_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value,
           true AS partitions_in_range
    FROM events GROUP BY event_type
    """,
)
def streaming_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-shaped ingest: events are serialized to the exact record
    shape Spark's Kafka source emits (key/value binary, topic,
    partition, offset, timestamp), then parsed back with the consumer
    code a real ``.format("kafka")`` stream would run
    (``from_json(cast(value as string))``), and aggregated. The oracle
    hash proves the full serialize → wire → deserialize path loses
    nothing: counts, distinct keys (via the KEY bytes, not the payload),
    and value sums all survive; ``partitions_in_range`` asserts the
    DefaultPartitioner-style pmod(hash(key)) stays within the topic's
    partition count. See streaming/kafka_shaped.py for the one-line swap
    to a real broker."""
    from ..streaming.kafka_shaped import parse_kafka_wire, to_kafka_wire

    ensure_utc(spark)
    wire = to_kafka_wire(event_stream(spark, sf_dir), n_partitions=4)
    parsed = parse_kafka_wire(wire)
    # streaming forbids exact count_distinct → per-(type,key) partial agg
    # in the stream (the heavy shuffle), distinct-count as a final batch
    # reduce over the materialized sink table
    partial = parsed.groupBy("event_type", "key_user_id").agg(
        F.count("*").alias("cnt"),
        F.sum("value").alias("sum_v"),
        F.min("partition").alias("p_min"),
        F.max("partition").alias("p_max"),
    )
    sink = run_to_memory(partial, mode="complete")
    return sink.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.count("*").alias("n_users"),
        F.round(F.sum("sum_v"), 2).alias("sum_value"),
        ((F.min("p_min") >= 0) & (F.max("p_max") < 4)).alias(
            "partitions_in_range"
        ),
    )


@query(
    "streaming_upsert_latest",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
                            event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           ts_sec AS last_ts_sec,
           event_type AS last_event_type,
           round(value, 2) AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE-style upsert keyed on user_id: the Kafka-shaped
    stream drains through a versioned-parquet state table where each
    micro-batch UPDATEs existing keys with newer events and INSERTs
    unseen ones (streaming/upsert.py — the by-hand form of Delta/Iceberg
    ``MERGE INTO``). The checked result is the FINAL STATE re-read from
    the sink, so the oracle (batch last-event-per-user) verifies the
    whole chain: wire decode → per-batch newest-wins reduce → cross-batch
    merge → state versioning. Newest = max (second-truncated ts,
    event_id), a total order shared with the oracle, so the answer is
    independent of micro-batch segmentation."""

    from ..streaming.kafka_shaped import parse_kafka_wire, to_kafka_wire
    from ..streaming.upsert import read_final_state, run_foreachbatch_upsert

    ensure_utc(spark)
    out = fs.store_root(spark, sf_dir, "bdip_upsert")
    fs.delete(spark, out)
    parsed = parse_kafka_wire(
        to_kafka_wire(event_stream(spark, sf_dir), n_partitions=4)
    )
    run_foreachbatch_upsert(parsed, out, key="user_id")
    state = read_final_state(spark, out)
    return state.select(
        "user_id",
        F.col("ts_sec").alias("last_ts_sec"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


@query(
    "streaming_replay_dedup",
    oracle=EVENT_TYPE_STATS_ORACLE,
)
def streaming_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay healed by ``dropDuplicatesWithinWatermark``:
    the feed is unioned with a replayed copy of itself whose event times
    are shifted +10s — the redelivery shape a Kafka consumer restart
    produces, where the duplicate arrives LATER with a DIFFERENT
    timestamp. Plain dropDuplicates would need ts in the key (and then
    miss these) or keep state forever; the within-watermark variant
    matches on event_id alone while bounding state to the 1h watermark
    horizon — the exactly-once ingest primitive for a 100 TB/day feed.

    The deduped stream drains in append mode; the per-type rollup of the
    survivors must equal the batch aggregate over the ORIGINAL events —
    i.e. every duplicate was dropped, no original lost.

    Scale: dedup state is hash-partitioned on event_id and sized by
    (arrival rate x watermark delay), independent of corpus size; the
    replay union is source-side only (no extra shuffle beyond the dedup
    exchange)."""
    ensure_utc(spark)
    s = event_stream(spark, sf_dir)
    replay = s.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 SECONDS"))
    both = s.unionByName(replay).withWatermark("ts", "1 hour")
    deduped = both.dropDuplicatesWithinWatermark(["event_id"])
    drained = run_to_memory(
        deduped.select("event_id", "event_type", "value"), mode="append"
    )
    return drained.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "streaming_enriched_counts",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream is enriched per micro-batch
    against the static ``customer`` dimension (broadcast — the dim ships
    to executors once, the stream side never shuffles for the join),
    then rolled up by market segment. This is THE standard streaming
    enrichment shape: dimension lookups against a slowly-changing table
    while facts flow. Must equal the batch join+agg (oracle).

    Scale: the static side is re-resolvable every micro-batch (picks up
    dim updates); a dimension too big to broadcast becomes a shuffled
    join only on the stream side's micro-batch, never the full
    history."""
    from ..core.catalog import table

    ensure_utc(spark)
    s = event_stream(spark, sf_dir)
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    joined = s.join(F.broadcast(c), "user_id")
    agg = joined.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, mode="complete")


@query(
    "streaming_erasure_feed",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 2) AS sum_value
    FROM events WHERE user_id % 7 != 0
    GROUP BY event_type
    """,
)
def streaming_erasure_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as a STREAM (streaming/erasure.py — the
    governance twin of the MERGE upsert sink): the events table is
    materialized as the initial keyed state, a live feed of erasure
    requests (victim keys: user_id % 7 == 0, arriving with duplicates
    across micro-batches like real repeated requests) drains through
    ``foreachBatch``, and every batch rewrites state minus that batch's
    victims — Delta/Iceberg row-level DELETE built by hand on versioned
    parquet. The checked result aggregates the FINAL re-read state, so
    the hash proves: duplicates are harmless (deletion idempotence),
    victims are gone transitively across batch boundaries, and
    non-victim rows are bit-identical survivors. Per batch: one
    broadcast anti join + a partition-parallel rewrite; at 100 TB only
    victim-bearing partitions rewrite (the `user_erasure_audit` pass
    picks them)."""

    from ..streaming.erasure import (
        init_state,
        read_final_state,
        run_foreachbatch_erasure,
    )

    ensure_utc(spark)
    out = fs.store_root(spark, sf_dir, "bdip_erasure")
    fs.delete(spark, out)
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    init_state(e, out)
    requests = event_stream(spark, sf_dir).where(
        F.col("user_id") % 7 == 0
    ).select("user_id")
    run_foreachbatch_erasure(requests, out, key="user_id")
    state = read_final_state(spark, out)
    return state.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@prestaged("streaming_sketch_rollup")
def _sketch_rollup_feed(spark: SparkSession, sf_dir: str) -> str:
    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_skst3")
    feed = f"{root}/feed"
    if not fs.landed(spark, feed):
        table(spark, sf_dir, "events").select(
            "user_id", F.date_trunc("day", "ts").alias("d")
        ).repartition(3).write.mode("overwrite").parquet(feed)
    return feed


@query(
    "streaming_sketch_rollup",
    contract_batches=3,
    oracle=ROLLING_USERS_ORACLE,
)
def streaming_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained sketch state under a STREAM: the event
    feed is staged as 3 files and drained with maxFilesPerTrigger=1,
    so the per-day HLL sketch state (streaming/sketch_state.py) is
    built across MULTIPLE micro-batches — each batch's day-sketches
    union-merge into the persistent state, proving the sketch update
    is segmentation-independent (hll_union_agg is associative and
    commutative; however the stream is sliced, the final state is the
    batch answer). The rolling 7-day estimate then re-merges 7 daily
    sketches per window — kilobytes of immutable state instead of a
    raw re-scan — and the hash pins |est − exact| ≤ 5% per window,
    the same audit contract as the batch twin
    (``sliding_users_sketch``). A test additionally asserts the drain
    really produced >1 state version (cross-batch merge exercised, not
    vacuously one-shot)."""
    from ..streaming.sketch_state import (
        read_final_sketches,
        run_sketch_maintenance,
    )

    ensure_utc(spark)
    # prefix encodes the slicing (3 files): the _SUCCESS idempotence
    # marker would otherwise keep serving the old 4-file feed. Three
    # micro-batches still prove segmentation-independent merge (>= 2
    # state versions, asserted by the cross-batch test) at one less
    # trigger/state-commit cycle — the result is slicing-invariant by
    # design (union-merge associativity), so the driver hash is
    # unchanged (VERDICT r8 item 6).
    root = fs.store_root(spark, sf_dir, "bdip_skst3")
    feed = _sketch_rollup_feed(spark, sf_dir)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_sketch_maintenance(stream, state)
    sk = read_final_sketches(spark, state)

    from ..queries.timeseries import _rolling_sketch_audit

    e = table(spark, sf_dir, "events")
    # cache(): ud feeds the max-day bound and the exact fan — same
    # dual-use rule as the batch twin
    ud = cached(
        e.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    return _rolling_sketch_audit(ud, sk)


@prestaged("streaming_outer_join")
def _outer_join_feed(spark: SparkSession, sf_dir: str) -> str:
    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_soj")
    real = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "ts")
    )
    sent = local_frame(
        spark,
        [(-1, -1, "click", "2099-01-01 00:00:00"),
         (-2, -1, "purchase", "2099-01-01 00:00:00")],
        "event_id long, user_id long, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type",
             F.to_timestamp("ts_s").alias("ts"))
    return _stage_feed(
        spark, root, [("real", real), ("sent1", sent), ("sent2", sent)]
    )


@query(
    "streaming_outer_join",
    contract_batches=3,
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(date_trunc('second', p.ts))) -
                floor(epoch(date_trunc('second', c.ts))) AS BIGINT) AS secs_between,
           p.event_id IS NOT NULL AS matched
    FROM events c LEFT JOIN events p
      ON p.user_id = c.user_id AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
    """,
)
def streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the half of two-stream
    joins ``streaming_interval_join`` doesn't cover: matched rows emit
    immediately, but an UNMATCHED click may only emit (with nulls) once
    the join watermark proves no future purchase can pair with it.
    That proof never arrives on a quiesced finite feed — the classic
    last-batch outer-join pitfall — so the feed stages two trailing
    sentinel batches (far-future click+purchase, user_id -1, mtime-
    ordered under maxFilesPerTrigger=1): sentinel batch 1 advances each
    side's max event time, and because watermarks take effect one
    micro-batch later, sentinel batch 2 is what evicts the expired left
    state and flushes the null-padded rows. Sentinels flow through the
    watermark operators AND the join (they pair only with each other)
    and are dropped from the drained batch result — filtering them
    pre-join is NOT possible: Catalyst pushes such a filter below
    EventTimeWatermark, pinning the watermark at real-data max.
    Drained, the result must equal the batch LEFT JOIN (oracle) —
    missing outer rows fail the row count.

    Scale: both watermarks + the time-range predicate bound the join
    state exactly as in the inner variant; the sentinel trick is
    test-harness-only (a production feed keeps advancing on its own)."""
    ensure_utc(spark)
    feed = _outer_join_feed(spark, sf_dir)
    stream = file_feed_stream(spark, feed)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    j = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    out = j.select(
        "click_id",
        "purchase_id",
        (
            F.unix_timestamp(F.date_trunc("second", "purchase_ts"))
            - F.unix_timestamp(F.date_trunc("second", "click_ts"))
        ).alias("secs_between"),
        F.col("purchase_id").isNotNull().alias("matched"),
    )
    # Sentinels flow through the watermark operators AND the join (a
    # pre-join filter would be pushed below EventTimeWatermark by
    # Catalyst, silently pinning the watermark at real-data max — the 4
    # youngest unmatched clicks never flushed until this was moved
    # post-drain); the pair of 2099 rows match each other and are
    # dropped here from the materialized batch result.
    return run_to_memory(out, mode="append").where(F.col("click_id") >= 0)


@query(
    "streaming_pysource_counts",
    oracle=EVENT_TYPE_STATS_ORACLE,
)
def streaming_pysource_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python STREAMING data source end-to-end
    (sources/pystream_source.py): a row-group-offset tail over the
    events parquet drains through the full micro-batch machinery into a
    grouped aggregation, and the result must equal batch SQL over the
    same table — offsets, partition planning, executor-side row-group
    reads, and Arrow row transport all value-checked in one hash. The
    distributed ``DataSourceStreamReader`` protocol is the surface
    under test; see the module docstring for the availableNow
    single-batch fallback note."""
    from ..sources.pystream_source import EventTailDataSource

    ensure_utc(spark)
    try:  # idempotent across repeated query invocations in one session
        # (Spark 4.1 replaces-and-warns on re-registration; the guard
        # matches the specific error CONDITION for versions that raise)
        spark.dataSource.register(EventTailDataSource)
    except Exception as exc:
        get_cond = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", None
        )
        if (get_cond() if get_cond else None) != "DATA_SOURCE_ALREADY_EXISTS":
            raise
    s = (
        spark.readStream.format("eventtail")
        .option("path", f"{sf_dir}/events.parquet")
        .load()
    )
    agg = s.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, mode="complete")


@prestaged("streaming_dedup_within_watermark")
def _ddww_feed(spark: SparkSession, sf_dir: str) -> str:
    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_ddww")
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return _stage_feed(
        spark, root, [("full", e), ("dups", e.where(F.col("user_id") % 5 == 0))]
    )


@query(
    "streaming_dedup_within_watermark",
    contract_batches=2,
    oracle=EVENT_TYPE_STATS_ORACLE,
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the state-BOUNDED streaming
    dedup (plain dropDuplicates keeps every key forever; the
    within-watermark variant evicts keys once the watermark passes
    them, the only sustainable form for an unbounded replay stream).
    The feed stages the corpus plus a duplicated 1-in-5-user subset as
    a LATER file (maxFilesPerTrigger=1 → the duplicates arrive in a
    separate micro-batch, exercising real cross-batch dedup state).
    The watermark delay (40 days) exceeds the corpus' 30-day event
    span, so no dedup state can expire mid-drain and the result must
    equal plain per-type stats over the ORIGINAL events (oracle) — any
    re-emitted duplicate inflates a count and fails the hash. In a
    continuous deployment the delay is the dup-arrival SLA, and state
    size is (keys within delay), not (all keys ever)."""
    ensure_utc(spark)
    feed = _ddww_feed(spark, sf_dir)
    stream = file_feed_stream(spark, feed)
    deduped = stream.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, mode="complete")


def _doc_wave_feed(spark: SparkSession, sf_dir: str, n_waves: int) -> str:
    """The corpus sliced doc_id % n_waves into mtime-ordered files, staged
    once per wave count and read by every document-ingest drain with that
    count; each drain keeps its state and checkpoint under its own root."""
    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, f"bdip_docwaves{n_waves}")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return _stage_feed(
        spark, root,
        [
            (f"wave{i}", docs.where(F.col("doc_id") % n_waves == i))
            for i in range(n_waves)
        ],
    )


@prestaged("document_wave_feeds")
def _doc_wave_feeds(spark: SparkSession, sf_dir: str) -> None:
    """Stages the 4-wave feed (the LSH, capped LSH and paragraph drains)
    and the 3-wave feed (the SimHash drain)."""
    for n_waves in (4, 3):
        _doc_wave_feed(spark, sf_dir, n_waves)


@query(
    "streaming_lsh_ingest",
    contract_batches=4,
    oracle=f"""
    WITH {DUCK_PAIRS_CTES}
    SELECT greatest(doc_a % 4, doc_b % 4) AS wave,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN doc_a % 4 != doc_b % 4 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cross_wave,
           CAST(sum(CASE WHEN doc_a % 4 = doc_b % 4 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_within_wave,
           CAST(sum(inter) AS BIGINT) AS sum_inter,
           CAST(sum(uni) AS BIGINT) AS sum_uni
    FROM verified WHERE inter * 1.0 / uni >= 0.5
    GROUP BY 1
    """,
)
def streaming_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection as a CONTINUOUS ingest job — the streaming
    form of `lsh_incremental_pairs`: the corpus arrives in 4
    mtime-ordered waves (doc_id % 4, one file per micro-batch under
    maxFilesPerTrigger=1), and each micro-batch probes the persistent
    band index with ONLY its own band keys (streaming/lsh_ingest.py) —
    new×old ∪ new×new candidates, old×old never rejoined, exact-Jaccard
    verification against the persisted shingle store. Every verified
    pair is stored tagged with the batch id that DISCOVERED it.

    The output groups by that stored discovery id, while the oracle
    recomputes the wave analytically as greatest(doc_a % 4, doc_b % 4)
    over the full batch closure — so the driver hash itself pins the
    exactly-once discovery semantics: a pair found early (index leak),
    found late (missed probe), found twice, or never found at all each
    break the hash. sum_inter/sum_uni pin the verification arithmetic
    per wave in exact integers.

    Scale: the per-batch probe side is arrivals-sized (broadcastable);
    the index is append-only parquet a real deployment keeps bucketed
    on (band, bkey) for bucket-local probes; per-batch writes are
    mode=overwrite per batch-id subdir, so task retries and batch
    replays are idempotent."""

    from ..streaming.lsh_ingest import read_final_pairs, run_lsh_ingest

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_lshing")
    feed = _doc_wave_feed(spark, sf_dir, 4)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_lsh_ingest(stream, state)
    pairs = read_final_pairs(spark, state)
    return pairs.groupBy("wave").agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            ((F.col("doc_a") % 4) != (F.col("doc_b") % 4)).cast("long")
        ).alias("n_cross_wave"),
        F.sum(
            ((F.col("doc_a") % 4) == (F.col("doc_b") % 4)).cast("long")
        ).alias("n_within_wave"),
        F.sum("inter").cast("bigint").alias("sum_inter"),
        F.sum("uni").cast("bigint").alias("sum_uni"),
    )


@query(
    "streaming_lsh_ingest_capped",
    contract_batches=4,
    oracle=f"""
    WITH {DUCK_PAIRS_CTES},
    wb AS (
        SELECT doc_id, band, bkey, CAST(doc_id % 4 AS BIGINT) AS wave
        FROM bands
    ),
    per_wave AS (
        SELECT band, bkey, wave, count(*) AS c
        FROM wb GROUP BY band, bkey, wave
    ),
    cum AS (
        SELECT band, bkey, wave,
               sum(c) OVER (PARTITION BY band, bkey ORDER BY wave) AS k_cum
        FROM per_wave
    ),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band, a.bkey,
               greatest(a.wave, b.wave) AS wave
        FROM wb a JOIN wb b ON a.band = b.band AND a.bkey = b.bkey
                            AND a.doc_id < b.doc_id
    ),
    scand AS (
        SELECT DISTINCT s.doc_a, s.doc_b, s.wave
        FROM shared s JOIN cum c
          ON s.band = c.band AND s.bkey = c.bkey AND c.wave = s.wave
        WHERE c.k_cum <= 2
    ),
    sver AS (
        SELECT doc_a, doc_b, s.wave, {duck_jaccard()}
        FROM scand s JOIN sets sa ON sa.doc_id = s.doc_a
                     JOIN sets sb ON sb.doc_id = s.doc_b
    ),
    sp AS (SELECT * FROM sver WHERE inter * 1.0 / uni >= 0.5),
    pw AS (
        SELECT wave, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(inter) AS BIGINT) AS sum_inter,
               CAST(sum(uni) AS BIGINT) AS sum_uni
        FROM sp GROUP BY wave
    ),
    aw AS (
        SELECT wave, CAST(count(*) AS BIGINT) AS n_buckets_cut,
               CAST(sum(k_cum) AS BIGINT) AS n_band_rows_cut
        FROM cum WHERE k_cum > 2 GROUP BY wave
    ),
    waves AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS wave)
    SELECT w.wave,
           CAST(coalesce(pw.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(pw.sum_inter, 0) AS BIGINT) AS sum_inter,
           CAST(coalesce(pw.sum_uni, 0) AS BIGINT) AS sum_uni,
           CAST(coalesce(aw.n_buckets_cut, 0) AS BIGINT) AS n_buckets_cut,
           CAST(coalesce(aw.n_band_rows_cut, 0) AS BIGINT)
               AS n_band_rows_cut
    FROM waves w LEFT JOIN pw ON pw.wave = w.wave
                 LEFT JOIN aw ON aw.wave = w.wave
    """,
)
def streaming_lsh_ingest_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streaming_lsh_ingest` under the batch census cutoff
    (`minhash_lsh_capped`) — VERDICT r12 item 3: uncapped, a syndicated
    cohort arriving over time makes every later batch's probe join
    quadratic in its hot (band, bkey); capped, each micro-batch probes
    only buckets whose ACCUMULATED depth (strictly-earlier index ∪ this
    batch) is ≤ max_bucket and lands per-batch
    (n_buckets_cut, n_band_rows_cut) accounting — the routing signal
    for the representative pass (`hot_bucket_rep_dedup`).

    The oracle recomputes the whole drain analytically: cumulative
    bucket depth per (band, bkey, wave) via a windowed running sum, a
    pair survives iff SOME shared bucket is within the cap at the
    later doc's wave, and the accounting row for wave w counts exactly
    the buckets TOUCHED at w whose depth then exceeds the cap — so the
    hash pins both the capped discovery semantics and the accounting
    arithmetic. max_bucket=2 BINDS at driver sf (cut buckets and
    dropped pairs are both nonzero), mirroring the batch twin.

    Scale: the census semi-join reads the same band rows the probe
    join touches, folded to counts; per-batch cost is bounded by
    arrivals x cap instead of arrivals x hot-depth (measured in
    SCALING.md, round 13, against the streamed syndicated cohort:
    capped beats uncapped already at 200k docs, 47 vs 67 s, while
    cutting 7.26M quadratic cohort pairs to the 2,006 real ones).
    Residue routing needs NO extra state: bucket depth is MONOTONE
    over the drain, so the ever-cut key set is exactly the final
    index's over-cap buckets — `hot_bucket_rep_dedup` run over the
    landed band state IS the residue consumer, the same division of
    labor as the batch pair."""

    from ..streaming.lsh_ingest import (
        read_acct,
        read_final_pairs,
        run_lsh_ingest,
    )

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_lshcap")
    feed = _doc_wave_feed(spark, sf_dir, 4)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_lsh_ingest(stream, state, max_bucket=2)
    pairs = read_final_pairs(spark, state)
    acct = read_acct(spark, state)
    pe = pairs.groupBy("wave").agg(
        F.count("*").alias("p_n"),
        F.sum("inter").cast("bigint").alias("p_i"),
        F.sum("uni").cast("bigint").alias("p_u"),
    )
    waves = spark.range(4).select(F.col("id").alias("wave"))
    return (
        waves.join(pe, "wave", "left")
        .join(acct, "wave", "left")
        .select(
            "wave",
            F.coalesce("p_n", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("p_i", F.lit(0)).cast("bigint").alias("sum_inter"),
            F.coalesce("p_u", F.lit(0)).cast("bigint").alias("sum_uni"),
            F.coalesce("n_buckets_cut", F.lit(0))
            .cast("bigint")
            .alias("n_buckets_cut"),
            F.coalesce("n_band_rows_cut", F.lit(0))
            .cast("bigint")
            .alias("n_band_rows_cut"),
        )
    )


@prestaged("streaming_decontam_ingest")
def _decontam_ingest_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stages BOTH decontam fixtures: the train-gram base index (the
    pinned pre-drain state) and the 3-wave test-doc feed."""
    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_dci")
    d = table(spark, sf_dir, "documents")
    split = split_of(F.col("doc_id"))
    base_idx = f"{root}/base_idx"
    if not fs.landed(spark, base_idx):
        wordgram_5h(d.where(split == "train")).select(
            "gram_h"
        ).distinct().repartition(4, "gram_h").write.mode("overwrite").parquet(
            base_idx
        )
    test_docs = d.where(split == "test").select("doc_id", "lang", "text")
    return _stage_feed(
        spark, root,
        [
            (f"w{i}", test_docs.where(F.col("doc_id") % 3 == i))
            for i in range(3)
        ],
    )


@query(
    "streaming_decontam_ingest",
    contract_batches=3,
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               {duck_split("doc_id")} AS split
        FROM documents
    ), grams AS (
        SELECT doc_id, split, CAST(doc_id % 3 AS BIGINT) AS wave,
               {duck_wordgram_5h()}
                   AS gram_h
        FROM (
            SELECT doc_id, split, toks,
                   unnest(generate_series(0, len(toks) - {WORDGRAM_N})) AS i
            FROM assigned WHERE split != 'val'
        )
    ), tr AS (SELECT DISTINCT gram_h FROM grams WHERE split = 'train'),
    tg AS (SELECT doc_id, wave, gram_h FROM grams WHERE split = 'test'),
    c0 AS (SELECT DISTINCT doc_id FROM tg JOIN tr USING (gram_h)
           WHERE wave = 0),
    i1 AS (SELECT gram_h FROM tr
           UNION
           SELECT gram_h FROM tg WHERE wave = 0
              AND doc_id NOT IN (SELECT doc_id FROM c0)),
    c1 AS (SELECT DISTINCT tg.doc_id FROM tg JOIN i1 USING (gram_h)
           WHERE wave = 1),
    i2 AS (SELECT gram_h FROM i1
           UNION
           SELECT gram_h FROM tg WHERE wave = 1
              AND doc_id NOT IN (SELECT doc_id FROM c1)),
    c2 AS (SELECT DISTINCT tg.doc_id FROM tg JOIN i2 USING (gram_h)
           WHERE wave = 2),
    contam AS (SELECT doc_id FROM c0 UNION SELECT doc_id FROM c1
               UNION SELECT doc_id FROM c2),
    docs AS (SELECT doc_id, lang, CAST(doc_id % 3 AS BIGINT) AS wave
             FROM assigned WHERE split = 'test')
    SELECT d.wave, d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated
    FROM docs d LEFT JOIN contam c USING (doc_id)
    GROUP BY d.wave, d.lang
    """,
)
def streaming_decontam_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as a CONTINUOUS curation loop — the streaming
    form of the decontam family and the governance analog of
    `streaming_lsh_ingest`: test-split documents arrive in 3
    mtime-ordered waves (doc_id % 3, one file per micro-batch under
    maxFilesPerTrigger=1), and each micro-batch checks its documents'
    word 5-grams against the ACCUMULATED index — the fixed train-gram
    store plus the grams of every earlier wave's CLEAN documents,
    because arrivals that pass decontamination are ingested into the
    training pool and later arrivals must be checked against them too
    (streaming/decontam_ingest.py).

    The output groups by the wave that CHECKED each document (the
    stored batch id), while the oracle recomputes the wave
    analytically as doc_id % 3 and replays the wave-by-wave index
    growth as three chained CTEs — so the driver hash pins both the
    exactly-once admission semantics (a doc checked in the wrong wave,
    twice, or never shifts a count) and the ORDER-dependent state
    carry (a clean wave-0 doc's grams must contaminate a matching
    wave-1 doc; a static-index implementation breaks the hash).

    Scale: per-batch probes are arrivals-sized against a semi join on
    the gram key (at 100 TB: the bloom prefilter of
    `decontam_bloom_prefilter` in front of it); the accumulated index
    is append-only parquet never re-joined against itself; per-batch
    writes are idempotent overwrite-per-batch-id subdirs."""

    from ..streaming.decontam_ingest import read_results, run_decontam_ingest

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_dci")
    feed = _decontam_ingest_feed(spark, sf_dir)
    base_idx = f"{root}/base_idx"
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_decontam_ingest(stream, state, base_idx)
    res = read_results(spark, state)
    return res.groupBy("wave", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("long"))
        .cast("bigint")
        .alias("n_contaminated"),
    )


def _ts_tertile_feed(
    spark: SparkSession, sf_dir: str, prefix: str, cols: list
) -> str:
    """Shared ts-tertile staging for the stateful drains: ntile(3) over
    the total (ts, event_id) order, one mtime-ordered file per tertile,
    so each key's arrival order across batches equals its global time
    order. The prefix encodes the slicing (t3): _stage_feed is
    marker-idempotent per root, so a slicing change must re-stage, not
    reuse stale files."""
    root = fs.store_root(spark, sf_dir, prefix)
    e = table(spark, sf_dir, "events").select(*cols)
    qtile = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    staged = e.withColumn("q", qtile)
    return _stage_feed(
        spark, root,
        [
            (f"q{i}", staged.where(F.col("q") == i).drop("q"))
            for i in range(1, 4)
        ],
    )


@prestaged("streaming_quota_admission")
def _quota_feed(spark: SparkSession, sf_dir: str) -> str:
    ensure_utc(spark)
    return _ts_tertile_feed(
        spark, sf_dir, "bdip_quota_t3", ["user_id", "ts", "event_id", "value"]
    )


@prestaged("streaming_ewma_anomaly")
def _ewma_feed(spark: SparkSession, sf_dir: str) -> str:
    ensure_utc(spark)
    return _ts_tertile_feed(
        spark,
        sf_dir,
        "bdip_ewma_t3",
        ["event_type", "ts", "event_id", "value"],
    )


@query(
    "streaming_quota_admission",
    contract_batches=3,
    oracle="""
    WITH r AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id % 10 AS user_bucket,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_seen,
           CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           round(sum(CASE WHEN rn <= 3 THEN value ELSE 0 END), 2)
               AS admitted_value
    FROM r GROUP BY 1
    """,
)
def streaming_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key QUOTA admission as a stateful stream — the ingest
    governance shape (rate limiting / per-source sampling caps): admit
    only the first 3 events per user in (ts, event_id) order, carrying
    (n_seen, n_admitted, admitted_value) per key across micro-batches
    via ``applyInPandasWithState`` (streaming/stateful.py). The second
    genuinely stateful operator next to ``streaming_stateful_totals``,
    and unlike it the admission decision is a CAP — once a user's
    quota fills in batch 1, later batches must only bump n_seen, so
    the checked per-bucket admitted_value pins both the cross-batch
    counter carry and the within-batch (ts, event_id) ordering.

    The feed is staged as 3 ts-TERTILE files (ntile over the total
    (ts, event_id) order, drained mtime-ordered one per micro-batch),
    so each key's arrival order across batches equals its global time
    order — which is what makes "first 3" well-defined and the batch
    oracle (row_number <= 3) exact. Three batches keep the cross-batch
    carry contract fully exercised (quotas fill in batch 1, later
    batches may only bump n_seen) at one less trigger/state-commit
    cycle than the original quartile feed — the output is
    slicing-INVARIANT by design, so the driver hash is unchanged
    (VERDICT r8 item 6). Admitted values are 2dp grid money, so the
    <= 3-term sums are order-exact in both engines.

    Scale: state is 3 scalars per user; each micro-batch shuffles only
    its own rows on the key; the final rollup is bucket-sized."""
    ensure_utc(spark)
    from ..streaming.stateful import quota_admissions

    final = quota_admissions(spark, sf_dir, _quota_feed(spark, sf_dir))
    return final.groupBy(
        (F.col("user_id") % 10).alias("user_bucket")
    ).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.sum("n_seen").cast("bigint").alias("n_seen"),
        F.sum("n_admitted").cast("bigint").alias("n_admitted"),
        F.round(F.sum("admitted_value"), 2).alias("admitted_value"),
    )


@query(
    "streaming_simhash_ingest",
    contract_batches=3,
    oracle=f"""
    WITH {DUCK_SIMHASH64_CTES},
    keys AS (
        SELECT doc_id, fp, CAST(t.i AS INTEGER) AS blk,
               (fp >> (16 * CAST(t.i AS INTEGER))) & 65535 AS kv
        FROM s, UNNEST(range(4)) AS t(i)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS dist
        FROM keys a JOIN keys b
          ON a.blk = b.blk AND a.kv = b.kv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    )
    SELECT CAST(greatest(doc_a % 3, doc_b % 3) AS BIGINT) AS wave,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(sum(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near,
           CAST(sum(dist) AS BIGINT) AS sum_dist
    FROM pairs GROUP BY 1
    """,
)
def streaming_simhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection as a CONTINUOUS ingest loop — the
    fingerprint-space sibling of `streaming_lsh_ingest` and the
    streaming consumer of the round-10 banded hamming index
    (streaming/simhash_ingest.py, operators/hamming.py): documents
    arrive in 3 mtime-ordered waves (doc_id % 3, maxFilesPerTrigger=1);
    each micro-batch 64-bit-SimHashes its arrivals with the SAME
    derivation as the batch query `simhash64_neardup`, probes the
    accumulated fingerprint index through the (block, block_bits)
    pigeonhole keys (new×old ∪ new×new — old×old is never rejoined),
    and verifies Hamming distance <= 3 by xor bit_count — distance 0
    included, so exact-dup and near-dup ingest dedup run in ONE probe.

    The output groups by the stored discovery wave while the oracle
    recomputes the wave analytically as greatest(doc_a % 3, doc_b % 3)
    over the full banded closure — the driver hash itself pins
    exactly-once discovery (a pair found early via an index leak, late
    via a missed probe, twice, or never each break the hash), and the
    per-wave exact/near splits + summed distances pin the verification
    arithmetic.

    Scale: per-batch probe volume is arrivals-sized; the index is
    append-only parquet a deployment keeps bucketed on (blk, kv);
    writes follow the round-10 replay invariants (overwrite per
    batch-id subdir, strictly-earlier state reads, deterministic
    recompute) so the two per-batch writes overlap on driver
    threads."""

    from ..streaming.simhash_ingest import read_pairs, run_simhash_ingest

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_shing")
    feed = _doc_wave_feed(spark, sf_dir, 3)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_simhash_ingest(stream, state)
    pairs = read_pairs(spark, state)
    return pairs.groupBy("wave").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("dist") == 0).cast("long")).cast("bigint").alias("n_exact"),
        F.sum((F.col("dist") > 0).cast("long")).cast("bigint").alias("n_near"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
    )


@query(
    "streaming_ewma_anomaly",
    contract_batches=3,
    oracle="""
    WITH ordered AS (
        SELECT event_type, value,
               abs(value - lag(value) OVER (PARTITION BY event_type
                                            ORDER BY ts, event_id)) AS jump
        FROM events
    ), agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (WHERE jump > 150.0) AS BIGINT)
                   AS n_jumps
        FROM ordered GROUP BY event_type
    ), tails AS (
        SELECT event_type, list(value ORDER BY ts, event_id) AS arr
        FROM events GROUP BY event_type
    )
    SELECT a.event_type, n_events, n_jumps,
           round(list_reduce(
               arr[greatest(1, len(arr) - 15):len(arr)],
               (acc, x) -> acc / 2 + x / 2), 6) AS ewma16
    FROM agg a JOIN tails t USING (event_type)
    """,
)
def streaming_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA + jump-anomaly monitor — the third genuinely
    stateful operator (streaming/stateful.py ``_ewma_update``) next to
    ``streaming_stateful_totals`` (unbounded fold) and
    ``streaming_quota_admission`` (cap): per event_type the state
    carries (count, LAST value, jump counter, last-16 value window)
    across micro-batches. The jump counter |v - prev| > 150 crosses
    batch boundaries through the carried last value (the quantity a
    per-batch recompute cannot get right), and the EWMA is the
    alpha=1/2 fold over the bounded 16-value tail — O(1) state per key
    where a true recursive EWMA would need the full history to replay
    exactly.

    The feed is staged as 3 ts-TERTILE files (drained mtime-ordered,
    one per micro-batch), so each key's arrival order across batches
    equals its global (ts, event_id) order — what makes both the
    cross-batch jump test and the tail window well-defined and the
    batch oracle exact (the ``streaming_quota_admission`` slicing
    discipline).

    Float parity: halvings are exact; the fold runs in the identical
    oldest-to-newest order in the pandas op and the oracle's
    list_reduce; the emitted double is UNROUNDED until the JVM-side
    terminal round (python round is half-even).

    Scale: state is 19 scalars per key; each micro-batch shuffles only
    its own rows on the key; the final rollup is |event_types| rows."""
    ensure_utc(spark)
    from ..streaming.stateful import ewma_anomalies

    final = ewma_anomalies(spark, _ewma_feed(spark, sf_dir))
    return final.select(
        "event_type",
        "n_events",
        "n_jumps",
        F.round("ewma16", 6).alias("ewma16"),
    )


@query(
    "streaming_paragraph_ingest",
    contract_batches=4,
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               CAST(doc_id % 4 AS BIGINT) AS wave
        FROM documents
    ),
    ch AS ({duck_para_chunks("doc_id, wave")}),
    rn AS (
        SELECT wave, doc_id,
               CASE WHEN row_number() OVER (
                   PARTITION BY chunk ORDER BY wave, doc_id, chunk_no) = 1
                    THEN 1 ELSE 0 END AS keep
        FROM ch
    ),
    s AS (
        SELECT wave,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(1 - keep) AS BIGINT) AS n_dup_units,
               CAST(sum(keep) AS BIGINT) AS n_new_units
        FROM rn GROUP BY wave
    ),
    waves AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS wave)
    SELECT waves.wave,
           coalesce(s.n_docs, 0) AS n_docs,
           coalesce(s.n_units, 0) AS n_units,
           coalesce(s.n_dup_units, 0) AS n_dup_units,
           coalesce(s.n_new_units, 0) AS n_new_units
    FROM waves LEFT JOIN s USING (wave)
    """,
)
def streaming_paragraph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`paragraph_dedup_stats` as a CONTINUOUS ingest loop
    (streaming/paragraph_ingest.py) — the CCNet paragraph-hash scan is
    THE classic incremental dedup state: documents arrive in 4
    mtime-ordered waves (doc_id % 4, one file per micro-batch), each
    micro-batch counts how many of its 8-word-unit instances are
    boilerplate already seen (accumulated store OR earlier in the same
    batch — first occurrence wins globally) and lands only the
    genuinely NEW distinct unit hashes as the store extension for
    later waves.

    The oracle replays the whole drain analytically: a global
    first-occurrence row_number over (wave, doc_id, chunk_no) per
    chunk, aggregated per wave — so the hash pins the cross-batch
    first-occurrence semantics exactly (a batch double-counting its
    own within-batch repeats, or re-probing its own landings, would
    mismatch).

    Scale: per batch ONE arrivals-distinct-vs-store left join on
    8-byte hash keys and two 1-row aggregates — no verification stage
    exists (hash equality IS the verdict), so this is the cheapest
    member of the ingest family; the store grows by exactly the new
    distinct units (disjoint per-batch dirs, never re-distinct'd on
    read); replay invariants shared with streaming/lsh_ingest.py."""

    from ..streaming.paragraph_ingest import read_stats, run_paragraph_ingest

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_paraing")
    feed = _doc_wave_feed(spark, sf_dir, 4)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    run_paragraph_ingest(stream, state)
    return read_stats(spark, state).orderBy("wave")


@prestaged("streaming_ivf_assign_ingest")
def _ivf_ingest_feed(spark: SparkSession, sf_dir: str) -> str:
    """Stages BOTH ivf fixtures: the pinned codebook (one k-row parquet
    under the fixture root — marker-idempotent, the decontam base_idx
    pattern; deterministic per corpus, so re-deriving it per invocation
    was pure fixed cost) and the 4-wave embedding feed."""

    from ..streaming.ivf_ingest import write_codebook

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_ivfing")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    if not fs.landed(spark, f"{root}/codebook"):
        write_codebook(emb, root)
    return _stage_feed(
        spark, root,
        [(f"wave{i}", emb.where(F.col("vec_id") % 4 == i)) for i in range(4)],
    )


@query(
    "streaming_ivf_assign_ingest",
    contract_batches=4,
    oracle=f"""
    WITH {duck_label_cells("e.vec_id, e.label, CAST(e.vec_id % 4 AS BIGINT) AS wave")},
    occ AS (
        SELECT wave, cell, count(*) AS n FROM assigned GROUP BY wave, cell
    ),
    waves AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS wave),
    grid AS (
        SELECT w.wave, c.cell, coalesce(o.n, 0) AS nb
        FROM waves w CROSS JOIN (SELECT cell FROM cent) c
        LEFT JOIN occ o ON o.wave = w.wave AND o.cell = c.cell
    ),
    go AS (
        SELECT wave, cell, nb,
               coalesce(sum(nb) OVER (PARTITION BY cell ORDER BY wave
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS np
        FROM grid
    ),
    tot AS (
        SELECT wave, CAST(sum(nb) AS BIGINT) AS n_b,
               CAST(sum(np) AS BIGINT) AS n_p
        FROM go GROUP BY wave
    ),
    drift AS (
        SELECT g.wave,
               sum(abs(CAST(g.nb AS HUGEINT) * t.n_p
                       - CAST(g.np AS HUGEINT) * t.n_b)) AS numer,
               max(t.n_b) AS n_b, max(t.n_p) AS n_p
        FROM go g JOIN tot t USING (wave)
        GROUP BY g.wave
    ),
    ws AS (
        SELECT wave,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
               CAST(sum(CASE WHEN cell != label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_foreign,
               sum(CAST(round(dist * 1000000) AS BIGINT)) AS sum_e6,
               max(dist) AS max_dist
        FROM assigned GROUP BY wave
    ),
    mc AS (
        SELECT wave, CAST(max(n) AS BIGINT) AS max_cell_n
        FROM occ GROUP BY wave
    )
    SELECT ws.wave, ws.n_vecs, ws.n_cells, ws.n_foreign, mc.max_cell_n,
           CAST(ws.sum_e6 // ws.n_vecs AS BIGINT) AS avg_dist_e6,
           ws.max_dist,
           CASE WHEN d.n_b > 0 AND d.n_p > 0 THEN
               CAST(d.numer * 1000000
                    // (CAST(d.n_b AS HUGEINT) * d.n_p) AS BIGINT)
           END AS occ_drift_e6
    FROM ws JOIN mc USING (wave) JOIN drift d USING (wave)
    ORDER BY wave
    """,
)
def streaming_ivf_assign_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index freshness as a CONTINUOUS ingest loop
    (streaming/ivf_ingest.py): the codebook is PINNED before the drain
    (operators/similarity.py:label_centroids — the same label-seeded 3dp
    quantizer ``ann_ivf_learned`` searches with), embedded vectors
    arrive in 4 mtime-ordered waves (vec_id % 4, one file per
    micro-batch), and each micro-batch assigns its arrivals to their
    nearest centroid, lands the per-batch cell postings + k-row cell
    occupancy, and emits ONE stats row: assignment counts, drift vs
    the label layout the batch ``ann_ivf_topk`` probe assumes
    (n_foreign), exact-integer assignment-distance summaries
    (avg_dist_e6 floor-division over e6-grid distances, max_dist), and
    the L1 occupancy drift vs ALL prior waves in DECIMAL(38,0)
    arithmetic (occ_drift_e6; NULL on the first wave) — the
    re-train-the-codebook signal every 100-TB ANN deployment watches.

    The oracle replays the whole drain analytically: assignments are
    wave-independent (pinned codebook), so it assigns every vector
    once and reconstructs each wave's prior-occupancy totals with a
    cumulative window over the (wave x cell) grid — gap-filled on BOTH
    sides, so a cell present only in prior waves still carries its
    drift mass (the contingency-grid rule).

    Scale: per batch ONE k-row codebook broadcast, a map-side-
    combinable min(struct) argmin on vec_id (no sorted window — hot
    arrival shards split under AQE), a k-rows-per-prior-batch
    occupancy read (never the postings store), and three 1-row
    aggregates; replay invariants shared with streaming/lsh_ingest.py."""

    from ..streaming.ivf_ingest import read_stats, run_ivf_assign_ingest

    ensure_utc(spark)
    root = fs.store_root(spark, sf_dir, "bdip_ivfing")
    feed = _ivf_ingest_feed(spark, sf_dir)
    state = f"{root}/state"
    fs.delete(spark, state)
    stream = file_feed_stream(spark, feed)
    # the codebook is a pinned per-corpus fixture staged by the feed
    # builder (marker-idempotent, like decontam's base_idx) — the drain
    # reads it from the fixture root, outside the cleared state
    run_ivf_assign_ingest(stream, state, codebook_root=root)
    return read_stats(spark, state).orderBy("wave")
