"""Driver-visible END-TO-END pipeline query: the reference's full job
shape (binary corpus scan → file-id extraction → decode + stub inference
→ broadcast-dim stats → ``;``-CSV sink → CSV re-read) compressed into
one oracle-checked entry, so the S1/S2/K1/P1 operator rows get a hard
CORRECTNESS signal instead of pytest-only coverage.

Reference analogs: S1 binary glob scan (pyspark_yolox.py:123), P1
basename id extraction (pyspark_yolox.py:93), P6/P7 inference + count
(pyspark_yolox.py:62-111), stat-1 first-letter grouping with zero-guard
averages (pyspark_stats.py:73-99), K1 ``;``-CSV write
(pyspark_yolox.py:138-140), S2 ``;``-CSV schema'd read
(pyspark_stats.py:22-24).

Oracle strategy: the corpus is materialized from ``embeddings`` rows
(vec_id < 200) by the fixture pixel rule (``images/codec.py``
``fixture_pixels``; DuckDB twin ``fixture_pixel_sql``), labels come
from ``nation`` (vec_id % 25), and detections are the md5 stub read
through ``images/detect.py`` (``class_counts``; DuckDB twin
``detections_sql``) — every step is
recomputable in DuckDB from the same parquet tables, so hash-equality
covers the ENTIRE path including the binary file round trip and the
CSV sink/re-read (a formatting bug in either would break the hash).

Scale notes: corpus materialization is executor-side foreachPartition
(no driver collect; at 100 TB the corpus already exists in object
storage and this step disappears). The stats query itself is one
binaryFile scan, one Arrow decode stage, a broadcast dim join, and a
single grouped-agg shuffle on a 26-value key. Integer sums + one final
division keep the averages order-independent (exact parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import fs
from ..core.catalog import bucketed_table, table
from ..core.registry import prestaged, query
from ..images.codec import fixture_pixel_sql
from ..images.color import average_color_udf
from ..images.detect import (
    SCORE_THRESHOLD,
    class_count_rows,
    class_counts,
    detections_sql,
)
from ..sources.csv_io import read_semicolon_csv, write_semicolon_csv
from ..sources.fimg_source import materialize_corpus
from .images import _image_ids

_N_IMGS = 200  # bounded corpus slice — identical at every SF
_CLASS = 16  # class-of-interest, mirroring pyspark_stats.py:69 "dog"


@query(
    "stats_pipeline_e2e",
    oracle=f"""
    WITH imgs AS (
        SELECT vec_id, CAST(vec_id AS VARCHAR) AS img_id,
               vec_id % 25 AS nationkey,
               ({" + ".join(fixture_pixel_sql(i) for i in range(1, 13))}) AS pixsum
        FROM embeddings WHERE vec_id < {_N_IMGS}
    ),
    dets AS (
        SELECT img_id, count(*) AS cnt FROM (
            {detections_sql("imgs")}
        ) WHERE score > {SCORE_THRESHOLD} AND class_id = {_CLASS}
        GROUP BY img_id
    ),
    base AS (
        SELECT substr(r.r_name, 1, 1) AS letter, i.pixsum,
               coalesce(d.cnt, 0) AS cnt
        FROM imgs i JOIN nation n ON i.nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        LEFT JOIN dets d ON d.img_id = i.img_id
    )
    SELECT letter,
           count(*) AS files,
           round(CAST(sum(cnt) AS BIGINT) * 1.0 / count(*), 4) AS avg_dets,
           round(CAST(sum(pixsum) AS BIGINT) * 1.0 / (12.0 * count(*)), 4) AS avg_brightness
    FROM base GROUP BY letter
    """,
)
def stats_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: materialize FIMG files → binaryFile scan (S1) →
    regexp id extraction (P1) → Arrow decode for the pixel measure →
    stub detection (P6/P7, class-of-interest filter) → broadcast name
    dim join + first-letter grouped stats (J1/F1/A1-A3) → ``;``-CSV
    write (K1) → schema'd CSV re-read (S2). The RETURNED frame is the
    CSV re-read, so the sink format is inside the checked hash.

    The letter is the initial of the image's region (nation → region,
    both broadcast dims). AFRICA, AMERICA and ASIA share the A, so the
    key both splits the images (A, E and M) and merges names; nation
    names would not do, as every test nation is ``NATION_<k>``."""
    img_dir = materialize_corpus(
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _N_IMGS)
        .select("vec_id", "embedding"),
        fs.store_root(spark, sf_dir, "bdip_fimg_corpus"),
    )

    imgs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.fimg")
        .load(img_dir)
        .select(
            F.regexp_extract(F.col("path"), r"img(\d+)\.fimg$", 1)
            .cast("bigint")
            .alias("vec_id"),
            "content",
        )
    )
    # decode through the real binary path; channel means are .25-step
    # doubles so *4 recovers the exact integer pixel sum
    meta = imgs.select(
        F.col("vec_id").cast("string").alias("img_id"),
        (F.col("vec_id") % 25).alias("nationkey"),
        F.aggregate(
            average_color_udf("content"), F.lit(0.0), lambda a, x: a + x * 4
        )
        .cast("bigint")
        .alias("pixsum"),
    )
    # each image's class-of-interest count, row-local: no join back
    meta = class_counts(meta, "img_id").select(
        "nationkey",
        "pixsum",
        F.aggregate(
            F.filter("counts", lambda c: c.class_id == _CLASS),
            F.lit(0).cast("bigint"),
            lambda acc, c: acc + c.n,
        ).alias("cnt"),
    )

    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    names = (
        table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    base = meta.join(F.broadcast(names), meta.nationkey == names.n_nationkey).select(
        F.substring("r_name", 1, 1).alias("letter"), "pixsum", "cnt"
    )
    stat = base.groupBy("letter").agg(
        F.count("*").alias("files"),
        F.round(F.sum("cnt") / F.count("*"), 4).alias("avg_dets"),
        F.round(F.sum("pixsum") / (12.0 * F.count("*")), 4).alias("avg_brightness"),
    )

    out = fs.store_root(spark, sf_dir, "bdip_stats_out")
    write_semicolon_csv(stat, out)
    return read_semicolon_csv(
        spark,
        out,
        "letter string, files bigint, avg_dets double, avg_brightness double",
    )


@prestaged("bucketed_join_revenue")
def _revenue_facts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """orders and lineitem bucketed+sorted on their join keys, 16
    buckets each."""
    return (
        bucketed_table(spark, sf_dir, "orders", "o_orderkey", buckets=16),
        bucketed_table(spark, sf_dir, "lineitem", "l_orderkey", buckets=16),
    )


@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through the materialize-once bucketed catalog
    (core.catalog.bucketed_table): both facts bucketed+sorted on their
    join key with the same bucket count, so the recurring join needs NO
    join-side shuffle — the layout a 100 TB deployment bakes in instead
    of re-shuffling terabytes per query (zero-Exchange SMJ proven in
    tests/test_layout.py). At this SF Catalyst may still elect a
    broadcast join (correctly — orders fits); the point is the catalog
    path: write-once bucketed copies keyed by (sf, table, key, count),
    reused across queries and sessions."""
    o, l = _revenue_facts(spark, sf_dir)
    o = o.select("o_orderkey", "o_orderpriority")
    l = l.select("l_orderkey", "l_extendedprice", "l_discount")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@query(
    "jsonl_roundtrip_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest/egress round trip — the de-facto interchange
    format of text-corpus pipelines: write ``documents`` as partitioned
    JSONL, re-read with an explicit schema (no inferSchema scan), and
    aggregate the RE-READ frame. Hash-parity against the parquet-side
    oracle proves the JSON encode/decode is lossless including text
    escaping. Distributed write (one file per partition), schema'd read
    — both ends scale linearly; the aggregation is one low-cardinality
    shuffle."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    out = fs.store_root(spark, sf_dir, "bdip_docs_jsonl")
    d.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id bigint, lang string, source string, text string"
    ).json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


@query(
    "report_text_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def report_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 single-file text report in the checked path: aggregate, format
    each row as the reference's ';'-joined report line
    (pyspark_stats.py:40-52), coalesce(1)-write one text file, re-read
    and PARSE it back into typed columns. Hash-parity proves the report
    formatting is lossless. coalesce(1) only narrows the final
    already-aggregated stage (|priorities| rows) — the upstream agg
    keeps full parallelism."""
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )
    lines = agg.select(
        F.concat_ws(";", "priority", "n_orders", "sum_price").alias("value")
    )
    out = fs.store_root(spark, sf_dir, "bdip_report_text")
    from ..sources.csv_io import write_single_text

    write_single_text(lines, out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), ";")
    return back.select(
        parts.getItem(0).alias("priority"),
        parts.getItem(1).cast("bigint").alias("n_orders"),
        parts.getItem(2).cast("double").alias("sum_price"),
    )


@query(
    "salted_event_sum",
    oracle="""
    SELECT event_type, round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def salted_event_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation (operators/skew.py) in the checked
    path: each of the 5 heavy-hitter event_type keys spreads over 16
    deterministic row-hash salts, partially aggregates, then combines —
    the construction for aggregation keys too hot for one reducer at
    100 TB (AQE splits skewed JOINS but not skewed agg keys). Result
    must hash-equal the direct single-shuffle groupBy (oracle)."""
    from ..operators.skew import salted_agg_sum

    e = table(spark, sf_dir, "events").select("event_type", "value")
    salted = salted_agg_sum(e, "event_type", "value", n_salts=16)
    return salted.select(
        "event_type", F.round(F.col("sum_value"), 2).alias("sum_value")
    )


@query(
    "cached_predictions_stats",
    oracle=f"""
    WITH imgs AS (SELECT CAST(vec_id AS VARCHAR) AS img_id FROM embeddings),
    dets AS ({detections_sql("imgs")}),
    counted AS (
        SELECT img_id, class_id, count(*) AS cnt
        FROM dets WHERE score > {SCORE_THRESHOLD}
        GROUP BY img_id, class_id
    )
    SELECT class_id,
           CAST(sum(cnt) AS BIGINT) AS n_detections,
           count(*) AS n_images
    FROM counted GROUP BY class_id
    """,
)
def cached_predictions_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 cached-result source in the checked path (the reference's
    --cached-pred restart, pyspark_yolox.py:115-119): the per-image
    detection-count intermediate is computed once, materialized to
    parquet via sources/cached.read_or_compute, and the downstream
    aggregation reads the MATERIALIZED copy — so the hash verifies the
    checkpoint write/read, and a re-run skips inference entirely.
    Materialization cuts lineage like checkpoint() but survives
    sessions, exactly how a 100 TB pipeline restarts after its most
    expensive stage."""
    from ..sources.cached import read_or_compute

    def compute() -> DataFrame:
        return class_count_rows(_image_ids(spark, sf_dir), "img_id").withColumnRenamed(
            "n", "cnt"
        )

    path = fs.store_root(spark, sf_dir, "bdip_cached_predictions")
    counted = read_or_compute(spark, path, compute)
    return counted.groupBy("class_id").agg(
        F.sum("cnt").alias("n_detections"),
        F.count("*").alias("n_images"),
    )


@query(
    "bar_chart_data",
    oracle=f"""
    WITH imgs AS (
        SELECT CAST(vec_id AS VARCHAR) AS img_id,
               chr(65 + CAST(vec_id % 26 AS INTEGER)) AS letter
        FROM embeddings
    ),
    dets AS ({detections_sql("imgs", keep="letter")})
    SELECT class_id, letter, count(*) AS n_detections
    FROM dets WHERE score > {SCORE_THRESHOLD}
    GROUP BY class_id, letter
    """,
)
def bar_chart_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4's bar-chart data half — the reference's per-class
    ``px.bar(letter, count)`` frames (plots.py:14-24: one CSV → one bar
    chart PER class) produced as ONE long-form query: (class_id, letter,
    n_detections), where filtering to a class_id yields exactly that
    class's bar frame for ``sources.html_report.write_html_bar``. One
    Arrow-batched inference pass and one map-side-combined groupBy over
    all classes — versus the reference's loop of per-class jobs, the
    restructuring that matters at 100 TB (80 scans → 1).
    The letter axis derives deterministically from the image id (the
    reference's first-letter-of-landmark-name, P1)."""
    imgs = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("img_id"),
        F.char(F.lit(65) + F.col("vec_id") % 26).alias("letter"),
    )
    return (
        class_count_rows(imgs, "img_id")
        .groupBy("class_id", "letter")
        .agg(F.sum("n").alias("n_detections"))
    )


@query(
    "orc_roundtrip_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest/egress round trip — the second columnar interchange
    format after parquet (Hive-ecosystem handoff): write ``events`` as
    ORC, re-read, and aggregate the RE-READ frame, so the checked hash
    proves the ORC encode/decode is lossless for longs, doubles,
    strings, and (second-truncated) timestamps. Both ends are
    distributed columnar scans with predicate-pushdown support; the
    aggregation is one low-cardinality shuffle — same plan as reading
    parquet, which is the point: the engine is format-agnostic at the
    logical layer."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = fs.store_root(spark, sf_dir, "bdip_events_orc")
    e.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "xml_roundtrip_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           count(DISTINCT md5(text)) AS n_unique_texts
    FROM documents GROUP BY lang
    """,
)
def xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest/egress round trip (Spark 4 native XML source — the
    third interchange format after parquet/ORC, the one enterprise feeds
    still arrive in): write ``documents`` as XML, re-read with an
    explicit schema, and aggregate the RE-READ frame. The checked hash
    covers XML escaping/parsing of free text byte-for-byte (sum of
    lengths + distinct md5 of the parsed text), so an entity-encoding
    or whitespace-trim bug anywhere in the round trip breaks parity.
    Both sides are distributed (one XML part file per input partition;
    the reader splits by rowTag) — same logical plan as the parquet
    path, which is the format-agnosticism point."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = fs.store_root(spark, sf_dir, "bdip_docs_xml")
    d.write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
    back = spark.read.option("rowTag", "doc").schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).format("xml").load(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
    )


@query(
    "compaction_file_stats",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT md5(text)) AS n_unique_texts,
           true AS files_reduced
    FROM documents GROUP BY source
    """,
)
def compaction_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance operator every
    streaming-ingested 100 TB corpus needs (a micro-batch writer leaves
    thousands of KB-sized parquet files; scans then pay per-file open
    cost and tiny row groups kill columnar compression). Simulate the
    problem by writing ``documents`` across many small part files, then
    compact with ``repartitionByRange(doc_id).sortWithinPartitions``
    (range layout clusters doc_id so parquet min/max row-group stats
    prune id-range scans after compaction) and re-read. The returned
    stats aggregate the COMPACTED copy, so the hash proves compaction
    is content-lossless; ``files_reduced`` is measured from the actual
    file listings, not assumed. At scale the same two-line job runs
    per partition-of-the-corpus as a background table service."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    frag_dir = fs.store_root(spark, sf_dir, "bdip_docs_fragmented")
    compact_dir = fs.store_root(spark, sf_dir, "bdip_docs_compacted")
    d.repartition(64).write.mode("overwrite").parquet(frag_dir)

    def _n_parts(path: str) -> int:
        return len(fs.glob(spark, f"{path}/*.parquet"))

    frag = spark.read.parquet(frag_dir)
    (
        frag.repartitionByRange(2, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(compact_dir)
    )
    reduced = _n_parts(compact_dir) < _n_parts(frag_dir)
    back = spark.read.parquet(compact_dir)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.count_distinct(F.md5("text")).alias("n_unique_texts"),
        F.max(F.lit(reduced)).alias("files_reduced"),
    )


def _zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("ts_sec")
    )


@prestaged("zorder_pruned_scan")
def _events_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """The Morton-clustered copy of events (user_id × epoch seconds,
    16 files), written once per corpus version; returns its path."""
    from ..operators.zorder import write_zordered

    zdir = fs.store_root(spark, sf_dir, "bdip_events_zorder_v2")
    if not fs.landed(spark, zdir):
        write_zordered(_zorder_events(spark, sf_dir), zdir, "user_id", "ts_sec", n_files=16)
    return zdir


@query(
    "zorder_pruned_scan",
    oracle="""
    WITH b AS (
        SELECT min(user_id) + (max(user_id) - min(user_id)) // 8 AS u_hi,
               floor(epoch(min(ts)))::BIGINT + (floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT) // 2 AS t_hi,
               min(user_id) AS u_lo, floor(epoch(min(ts)))::BIGINT AS t_lo
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(floor(epoch(ts))::BIGINT % 1000) AS BIGINT) AS ts_checksum
    FROM events, b
    WHERE user_id BETWEEN b.u_lo AND b.u_hi
      AND floor(epoch(ts))::BIGINT BETWEEN b.t_lo AND b.t_hi
    GROUP BY event_type
    """,
)
def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order layout under the correctness gate: events are
    materialized ONCE per corpus version as a Morton-clustered parquet
    copy (``operators/zorder.write_zordered`` on user_id × epoch
    seconds), and a 2-D box filter (narrow user slice × wide time band —
    the workload the layout exists for) aggregates over the clustered
    copy. The oracle runs the same box over the RAW table: hash parity
    proves re-clustering is semantics-preserving, while the clustered
    scan is the one that prunes (measured 8/64 vs 33/64 files at sf0.1,
    SCALING.md). Write-once/read-many like bucketed_join_revenue; the
    cache key fingerprints the source parquet so regenerated testdata
    rebuilds the layout."""
    ev = _zorder_events(spark, sf_dir)
    z = spark.read.parquet(_events_zorder_layout(spark, sf_dir))
    b = ev.agg(
        F.min("user_id").alias("u_lo"),
        (F.min("user_id") + F.floor((F.max("user_id") - F.min("user_id")) / 8)).alias("u_hi"),
        F.min("ts_sec").alias("t_lo"),
        (F.min("ts_sec") + F.floor((F.max("ts_sec") - F.min("ts_sec")) / 2)).alias("t_hi"),
    )
    boxed = z.crossJoin(F.broadcast(b)).where(
        F.col("user_id").between(F.col("u_lo"), F.col("u_hi"))
        & F.col("ts_sec").between(F.col("t_lo"), F.col("t_hi"))
    )
    return boxed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("ts_sec") % 1000).cast("bigint").alias("ts_checksum"),
    )


@query(
    "jsonl_corrupt_handling",
    oracle="""
    SELECT lang,
           count(*) AS n_rows,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 13 != 0 GROUP BY lang
    UNION ALL
    SELECT NULL AS lang,
           count(*) AS n_rows,
           NULL::BIGINT AS total_chars
    FROM documents WHERE doc_id % 13 = 0
    """,
)
def jsonl_corrupt_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record tolerance on the JSONL ingest path: every 13th
    document's JSON line is TRUNCATED mid-object (a pure function of
    doc_id, reproduced by the oracle), the file is read back in
    PERMISSIVE mode with an explicit schema, and the aggregation groups
    corrupt rows into the NULL-lang bucket — real 100 TB ingest always
    budgets for malformed records, and PERMISSIVE + null-group
    accounting is the pattern that quarantines them without failing the
    job (DROPMALFORMED/FAILFAST being the other modes; columnNameOfCorruptRecord
    would retain the raw line for a quarantine sink)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    line = F.to_json(F.struct("doc_id", "lang", "text"))
    corrupted = F.when(
        F.col("doc_id") % 13 == 0, F.substring(line, 1, 10)
    ).otherwise(line)
    out = fs.store_root(spark, sf_dir, "bdip_docs_jsonl_corrupt")
    if not fs.landed(spark, out):
        d.select(corrupted.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.schema("doc_id bigint, lang string, text string").option(
        "mode", "PERMISSIVE"
    ).json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@query(
    "schema_evolution_union",
    oracle="""
    WITH merged AS (
        SELECT doc_id, lang, source, NULL::BIGINT AS n_tokens
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000, lang, NULL AS source,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents
    )
    SELECT lang,
           count(*) AS n_rows,
           count(source) AS n_with_source,
           count(n_tokens) AS n_with_tokens,
           CAST(sum(coalesce(n_tokens, 0)) AS BIGINT) AS total_tokens
    FROM merged GROUP BY lang
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across corpus generations: generation 1 carries
    a ``source`` column, generation 2 dropped it and added ``n_tokens``.
    ``unionByName(allowMissingColumns=True)`` aligns by NAME and
    null-fills the gaps in both directions — the operation every
    long-lived 100 TB corpus needs when upstream schemas drift, and the
    opposite of positional UNION (which would silently mis-align or
    fail). The accounting query proves which generation contributed
    which columns. Pure narrow ops + one rollup shuffle."""
    d = table(spark, sf_dir, "documents")
    gen1 = d.select("doc_id", "lang", "source")
    gen2 = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    merged = gen1.unionByName(gen2, allowMissingColumns=True)
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count("source").alias("n_with_source"),
        F.count("n_tokens").alias("n_with_tokens"),
        F.sum(F.coalesce("n_tokens", F.lit(0))).cast("bigint").alias("total_tokens"),
    )


@query(
    "user_erasure_apply",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 9 = 0)
    GROUP BY event_type
    """,
)
def user_erasure_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The erasure EXECUTED (the destructive half of
    ``user_erasure_audit``): rewrite the events table minus the victim
    users as a parquet copy — the delete-rewrite that engines without
    row-level deletes (plain parquet lakes) actually run — then
    aggregate the RE-READ erased copy, so the checked hash proves the
    rewrite dropped exactly the victim rows and nothing else. Anti-join
    against the broadcast victim set (never NOT IN's null-trap
    semantics on the distributed side), one partition-parallel write.
    At 100 TB the same job runs only on the partitions the audit showed
    contain victims; the rest of the lake is untouched."""
    c = table(spark, sf_dir, "customer")
    victims = c.where(F.col("c_custkey") % 9 == 0).select("c_custkey")
    e = table(spark, sf_dir, "events")
    erased = e.join(
        F.broadcast(victims), e.user_id == victims.c_custkey, "left_anti"
    ).select("event_id", "user_id", "event_type", "value")
    out = fs.store_root(spark, sf_dir, "bdip_events_erased")
    erased.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH pk AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT sum(c) AS total, count(*) AS n_keys,
               max(c) AS max_c,
               CAST(round(quantile_cont(c, 0.5), 0) AS BIGINT) AS p50
        FROM pk
    ),
    top AS (
        SELECT c FROM pk ORDER BY c DESC, user_id LIMIT 5
    )
    SELECT n_keys,
           CAST(total AS BIGINT) AS total_rows,
           max_c AS max_key_rows,
           round(max_c * 1.0 / total, 4) AS max_share,
           round(max_c * 1.0 / p50, 2) AS skew_ratio,
           CAST((SELECT sum(c) FROM top) AS BIGINT) AS top5_rows
    FROM stats
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew profiling — the measurement that decides
    between a plain shuffle, AQE skew-split, and explicit salting
    (``salted_event_sum``): per-key counts in one shuffle, then
    heavy-hitter share (max key / total), skew ratio (max / median key),
    and the top-5 key mass via a bounded take. The per-key frame is the
    only corpus-sized stage; everything downstream is O(|keys|) with the
    top-5 a TakeOrderedAndProject. At 100 TB this runs as the planning
    pass before any repartition decision — shuffle ONE integer per key,
    decide the strategy from a 1-row profile."""
    e = table(spark, sf_dir, "events")
    pk = e.groupBy("user_id").agg(F.count("*").alias("c"))
    top5 = pk.orderBy(F.col("c").desc(), "user_id").limit(5)
    top_sum = top5.agg(F.sum("c").alias("t5"))
    stats = pk.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.max("c").alias("max_key_rows"),
        F.expr("CAST(round(percentile(c, 0.5), 0) AS BIGINT)").alias("p50"),
    )
    return stats.crossJoin(F.broadcast(top_sum)).select(
        "n_keys",
        "total_rows",
        "max_key_rows",
        F.round(F.col("max_key_rows") / F.col("total_rows"), 4).alias("max_share"),
        F.round(F.col("max_key_rows") / F.col("p50"), 2).alias("skew_ratio"),
        F.col("t5").alias("top5_rows"),
    )


_BACKFILL_DAY = "2024-01-05"


@query(
    "backfill_partition_overwrite",
    oracle=f"""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
        FROM events
    )
    SELECT day, count(*) AS n_events,
           round(sum(CASE WHEN day = '{_BACKFILL_DAY}'
                          THEN value * 2 ELSE value END), 2) AS sum_value
    FROM d GROUP BY day
    """,
)
def backfill_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned lake write + DYNAMIC partition-overwrite
    backfill — the nightly warehouse correction: the events stream is
    laid out ``day=YYYY-MM-DD/`` (the layout every time-partitioned
    100 TB table uses), then ONE day is recomputed (values doubled
    here, standing in for a late-data or bugfix backfill) and written
    with ``partitionOverwriteMode=dynamic``, which atomically replaces
    only the partitions present in the incoming frame. The checked
    hash re-reads the WHOLE table and audits every day — proving the
    backfilled day changed and, just as important, that the other 29
    days were untouched (STATIC overwrite mode would have deleted
    them; the classic data-loss bug this mode exists to prevent).

    Idempotent: the backfill recomputes from the SOURCE table, not
    from the written copy, so re-runs converge to the same bytes.
    Scale: day partitions write in parallel (one task per partition
    per executor), the backfill touches one directory regardless of
    table size, and downstream day-filtered readers get partition
    pruning for free (asserted in tests/test_layout.py).

    Reference analog: pyspark_yolox.py:178-183 re-writes its full
    predictions CSV on every run — whole-table rewrite is exactly
    what partition overwrite replaces at scale."""
    from ..core.session import ensure_utc

    ensure_utc(spark)
    out = fs.store_root(spark, sf_dir, "bdip_events_by_day")
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    if not fs.landed(spark, out):
        e.write.partitionBy("day").mode("overwrite").parquet(out)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        corrected = e.where(F.col("day") == _BACKFILL_DAY).withColumn(
            "value", F.col("value") * 2
        )
        corrected.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    r = spark.read.parquet(out)
    return r.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "dpp_partition_join",
    oracle="""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, value
        FROM events
    ), sel AS (
        SELECT day FROM d WHERE event_type = 'error'
        GROUP BY day HAVING count(*) % 3 = 0
    )
    SELECT day, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM d JOIN sel USING (day) GROUP BY day
    """,
)
def dpp_partition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the day-partitioned lake layout:
    the fact side is the ``day=YYYY-MM-DD/`` partitioned copy of
    events, the dim side is a DATA-DEPENDENT day selection (days whose
    error count is divisible by 3 — deliberately not expressible as a
    static filter, so the optimizer cannot constant-fold it), and the
    join key is the partition column. Catalyst inserts a
    dynamicpruningexpression into the scan's PartitionFilters
    (plan-asserted in tests/test_plans.py): at execution the broadcast
    of the dim side feeds the fact scan, which then LISTS only the
    selected day directories — at a 100 TB day-partitioned table this
    is the difference between scanning ~1/3 of the partitions and
    scanning all of them and filtering after the fact. The layout is
    written fresh from the source (its own directory — NOT shared
    with `backfill_partition_overwrite`'s, whose backfill mutates a
    day), so the audit is order-independent.

    Scale: one broadcast of a days-sized dim; the fact side reads only
    matching partitions; the final rollup is day-keyed."""
    from ..core.session import ensure_utc

    ensure_utc(spark)
    out = fs.store_root(spark, sf_dir, "bdip_events_by_day_dpp")
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    )
    if not fs.landed(spark, out):
        e.write.partitionBy("day").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    sel = (
        e.where(F.col("event_type") == "error")
        .groupBy("day")
        .agg(F.count("*").alias("n_err"))
        .where(F.col("n_err") % 3 == 0)
        .select("day")
    )
    return (
        fact.join(F.broadcast(sel), "day")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
