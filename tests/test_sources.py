"""Sources/sinks: semicolon CSV round-trip with explicit schemas (S2/K1),
single-file text reports (K2), materialized intermediates (S5), and
streaming drain equals batch (stream-batch unification)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.sources import (
    materialize,
    read_or_compute,
    read_semicolon_csv,
    write_semicolon_csv,
    write_single_text,
)


def test_semicolon_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a;x", 2.5), (2, "b", 0.0)], "id bigint, name string, v double"
    )
    path = str(tmp_path / "csv_out")
    write_semicolon_csv(df, path)
    back = read_semicolon_csv(spark, path, "id bigint, name string, v double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # header + separator actually on disk
    part = glob.glob(os.path.join(path, "part-*.csv"))[0]
    first = open(part).readline().strip()
    assert first == "id;name;v"


def test_single_text_report(spark, tmp_path):
    df = spark.createDataFrame([("line one",), ("line two",)], "value string")
    path = str(tmp_path / "report")
    write_single_text(df, path)
    parts = glob.glob(os.path.join(path, "part-*"))
    assert len(parts) == 1  # coalesce(1) → exactly one file


def test_read_or_compute_caches(spark, tmp_path):
    path = str(tmp_path / "inter")
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumn("sq", F.col("id") * F.col("id"))

    a = read_or_compute(spark, path, compute)
    b = read_or_compute(spark, path, compute)
    assert len(calls) == 1  # second call served from the materialization
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_materialize_cuts_lineage(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") % 3)
    out = materialize(df, str(tmp_path / "mat"))
    # re-read is a plain parquet scan: no trace of the original lineage
    assert "Range" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 10


def test_streaming_equals_batch(spark, sf_dir):
    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.streaming.jobs import event_stream, run_to_memory

    stream_res = run_to_memory(
        event_stream(spark, sf_dir).groupBy("user_id").agg(F.count("*").alias("n"))
    )
    batch_res = table(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    assert sorted(map(tuple, stream_res.collect())) == sorted(map(tuple, batch_res.collect()))


def test_stateful_streaming_equals_batch(spark, sf_dir):
    """applyInPandasWithState running totals: final streamed state must
    equal the batch recomputation (stream-batch contract)."""
    import numpy as np

    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.streaming.stateful import (
        _THRESHOLD,
        running_user_totals,
    )

    streamed = {
        r.user_id: (r.n_events, r.total_value, r.n_large)
        for r in running_user_totals(spark, sf_dir).collect()
    }

    batch = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    expected = {}
    rows = sorted(batch.collect(), key=lambda r: (r.user_id, r.ts, r.event_id))
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0.0, 0])
    for r in rows:
        a = acc[r.user_id]
        a[0] += 1
        a[1] += r.value
        if a[1] > _THRESHOLD:
            a[2] += 1
    for u, a in acc.items():
        expected[u] = (a[0], round(a[1], 2), a[2])
    assert streamed == expected


def test_fimg_datasource(spark, tmp_path):
    """Custom Python DataSource: typed metadata columns parsed at scan
    time; metadata-only projections don't need the binary payload."""
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import encode_image
    from bigdata_imgprocessing_spark.sources.fimg_source import FimgDataSource

    d = tmp_path / "corpus"
    d.mkdir()
    for i, (h, w) in enumerate([(2, 2), (4, 6), (8, 3)]):
        img = np.full((h, w, 3), i * 10, dtype=np.uint8)
        (d / f"im{i}.fimg").write_bytes(encode_image(img))

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FimgDataSource)
    df = spark.read.format("fimg").option("path", str(d)).load()
    rows = {r.img_id: (r.height, r.width, r.channels) for r in df.collect()}
    assert rows == {"im0": (2, 2, 3), "im1": (4, 6, 3), "im2": (8, 3, 3)}

    # metadata predicate + decode of the selected payload
    from bigdata_imgprocessing_spark.images.color import average_color_udf

    wide = df.where(F.col("width") >= 6).select("img_id", average_color_udf("content").alias("avg"))
    out = wide.collect()
    assert len(out) == 1 and out[0].img_id == "im1" and out[0].avg == [10.0, 10.0, 10.0]


def test_foreachbatch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: custom per-microbatch sink logic (here: parquet
    append with a batch id column) — the escape hatch for sinks
    Structured Streaming lacks natively."""
    from bigdata_imgprocessing_spark.streaming.jobs import event_stream

    out = str(tmp_path / "fb_out")

    def handle(batch_df, batch_id: int):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        event_stream(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out)
    from bigdata_imgprocessing_spark.core.catalog import table

    assert written.count() == table(spark, sf_dir, "events").count()
    assert "batch_id" in written.columns


_UPSERT_SCHEMA = (
    "user_id bigint, ts_sec bigint, event_id bigint, "
    "event_type string, value double"
)


def test_upsert_sink_multibatch_and_restart(spark, tmp_path):
    """MERGE-style upsert sink (streaming/upsert.py): three micro-batches
    (maxFilesPerTrigger=1) exercising INSERT of new keys, UPDATE by newer
    events, late-arrival no-op (an older event in a later batch must NOT
    overwrite), then a RESTART drain over one appended file that must
    continue batch numbering from the checkpoint and merge with prior
    state rather than recompute from scratch."""
    from bigdata_imgprocessing_spark.streaming.upsert import (
        read_final_state,
        run_foreachbatch_upsert,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    out = str(tmp_path / "upsert_out")

    def write_slice(name, rows):
        spark.createDataFrame(rows, _UPSERT_SCHEMA).coalesce(1).write.parquet(
            str(src / name)
        )

    # file 1: initial inserts          file 2: updates + one new key
    # file 3: LATE event for u1 (older ts — must not win)
    write_slice("f1", [(1, 100, 10, "click", 1.0), (2, 100, 11, "view", 2.0)])
    write_slice("f2", [(1, 200, 12, "purchase", 3.0), (3, 150, 13, "click", 4.0)])
    write_slice("f3", [(1, 50, 14, "error", 9.0)])

    def drain():
        s = (
            spark.readStream.schema(_UPSERT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        run_foreachbatch_upsert(s, out, key="user_id")

    drain()
    state = {
        r.user_id: (r.ts_sec, r.event_id, r.event_type, r.value)
        for r in read_final_state(spark, out).collect()
    }
    assert state == {
        1: (200, 12, "purchase", 3.0),  # updated by f2, f3's late event lost
        2: (100, 11, "view", 2.0),
        3: (150, 13, "click", 4.0),
    }
    # ≥2 state versions exist: the cross-batch merge branch really ran
    from bigdata_imgprocessing_spark.streaming.ingest import batch_dirs

    assert len(batch_dirs(spark, out, "state")) >= 2

    # restart: new file appears; same checkpoint → continues numbering,
    # merges into existing state (tie on ts_sec for u2 → higher event_id)
    write_slice("f4", [(2, 100, 15, "signup", 5.0), (4, 300, 16, "view", 6.0)])
    drain()
    state2 = {
        r.user_id: (r.ts_sec, r.event_id, r.event_type, r.value)
        for r in read_final_state(spark, out).collect()
    }
    assert state2 == {
        1: (200, 12, "purchase", 3.0),
        2: (100, 15, "signup", 5.0),
        3: (150, 13, "click", 4.0),
        4: (300, 16, "view", 6.0),
    }


def test_fimg_pushdown_filters(spark, tmp_path):
    """Metadata filters push into the source: pruned files' payloads are
    never read (the reader skips after the header)."""
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import encode_image
    from bigdata_imgprocessing_spark.sources.fimg_source import FimgDataSource

    d = tmp_path / "pcorpus"
    d.mkdir()
    for i, w in enumerate([2, 6, 9]):
        img = np.full((2, w, 3), 5, dtype=np.uint8)
        (d / f"p{i}.fimg").write_bytes(encode_image(img))

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FimgDataSource)
    df = spark.read.format("fimg").option("path", str(d)).load()
    got = sorted(r.img_id for r in df.where(F.col("width") > 5).collect())
    assert got == ["p1", "p2"]
    # conjunction of pushed + unsupported-stays-with-spark filter
    got2 = [r.img_id for r in df.where((F.col("width") > 5) & F.col("img_id").contains("2")).collect()]
    assert got2 == ["p2"]


def test_fimg_manifest_prunes_at_planning(spark, tmp_path):
    """With a _manifest.tsv, pushed filters prune whole files during
    partition planning — a manifest-pruned file is never opened (proved
    by deleting its bytes from disk: the scan still succeeds because
    planning never schedules it)."""
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import encode_image
    from bigdata_imgprocessing_spark.sources.fimg_source import (
        FimgDataSource,
        FimgReader,
        write_manifest,
    )
    from pyspark.sql.datasource import GreaterThan

    d = tmp_path / "mcorpus"
    d.mkdir()
    for i, w in enumerate([2, 6, 9]):
        img = np.full((2, w, 3), 5, dtype=np.uint8)
        (d / f"m{i}.fimg").write_bytes(encode_image(img))
    assert write_manifest(str(d)) == 3

    # planning-level unit check: pushed filter shrinks the file list
    r = FimgReader({"path": str(d), "files_per_task": "64"})
    leftover = list(r.pushFilters([GreaterThan(("width",), 5)]))
    assert leftover == []
    planned = [p for chunk in r.partitions() for p in chunk.paths]
    assert sorted(os.path.basename(p) for p in planned) == ["m1.fimg", "m2.fimg"]

    # end-to-end: truncate the pruned file to zero bytes (still listed in
    # the dir; opening it would crash header unpack) — a manifest-pruned
    # scan never opens it and returns the surviving rows
    (d / "m0.fimg").write_bytes(b"")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FimgDataSource)
    df = spark.read.format("fimg").option("path", str(d)).load()
    got = sorted(r_.img_id for r_ in df.where(F.col("width") > 5).collect())
    assert got == ["m1", "m2"]


def test_replay_dedup_is_load_bearing(spark, sf_dir):
    """streaming_replay_dedup: the unioned replay leg really doubles the
    feed (so the green oracle row isn't vacuous), and
    dropDuplicatesWithinWatermark collapses it back to exactly the
    original event count despite the +10s timestamp skew on the
    duplicate copies."""
    from pyspark.sql import functions as F

    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.streaming.jobs import event_stream, run_to_memory

    n_events = table(spark, sf_dir, "events").count()

    s = event_stream(spark, sf_dir)
    replay = s.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 SECONDS"))
    both = s.unionByName(replay).withWatermark("ts", "1 hour")

    raw = run_to_memory(both.select("event_id"), mode="append")
    assert raw.count() == 2 * n_events

    deduped = run_to_memory(
        both.dropDuplicatesWithinWatermark(["event_id"]).select("event_id"),
        mode="append",
    )
    assert deduped.count() == n_events
    assert deduped.distinct().count() == n_events


def test_events_ts_encoding_drift(spark, tmp_path):
    """Regression for the round-3 testdata regeneration: events.ts moved
    from parquet TIMESTAMP(NANOS) (scans as long under nanosAsLong) to
    timestamp[us]. catalog.table and event_stream must be schema-driven
    and agree on epoch seconds under BOTH encodings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_imgprocessing_spark.core.catalog import table
    from bigdata_imgprocessing_spark.streaming.jobs import event_stream, run_to_memory

    base = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["a", "b", "a"], pa.string()),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"], pa.string()),
    }
    secs = [1704067200, 1704067211, 1704070000]  # 2024-01-01T00:00:00Z ...

    dirs = {}
    for enc, (unit, version) in {
        "ns": ("ns", "2.6"),  # TIMESTAMP(NANOS) → long under nanosAsLong
        "us": ("us", "2.6"),  # timestamp[us] → TimestampNTZ
    }.items():
        d = tmp_path / enc
        d.mkdir()
        ts = pa.array([s * 1_000_000_000 for s in secs], pa.int64()).cast(
            pa.timestamp(unit)
        ) if unit == "ns" else pa.array(
            [s * 1_000_000 for s in secs], pa.int64()
        ).cast(pa.timestamp("us"))
        tbl = pa.table({**base, "ts": ts})
        pq.write_table(tbl, str(d / "events.parquet"), version=version)
        dirs[enc] = str(d)

    # confirm the two files genuinely differ in physical encoding
    assert str(pq.read_schema(dirs["ns"] + "/events.parquet").field("ts").type) == "timestamp[ns]"
    assert str(pq.read_schema(dirs["us"] + "/events.parquet").field("ts").type) == "timestamp[us]"

    expected = sorted(zip([1, 2, 3], secs))
    for enc, d in dirs.items():
        batch = table(spark, d, "events").select(
            "event_id", F.unix_timestamp("ts").alias("sec")
        )
        assert sorted(map(tuple, batch.collect())) == expected, f"batch {enc}"

        stream = run_to_memory(
            event_stream(spark, d).select(
                "event_id", F.unix_timestamp("ts").alias("sec")
            ),
            mode="append",
        )
        assert sorted(map(tuple, stream.collect())) == expected, f"stream {enc}"


def test_html_heatmap_sink(spark, tmp_path):
    """K4 egress: a pivoted matrix renders to a standalone HTML heatmap
    with one header row, one row per index value, every cell value
    printed, and min/max mapped to the ends of the color ramp."""
    from bigdata_imgprocessing_spark.sources.html_report import write_html_heatmap

    df = spark.createDataFrame(
        [("join", 4, 0), ("spark", 10, 2)], "kw string, en bigint, de bigint"
    )
    path = str(tmp_path / "heatmap.html")
    write_html_heatmap(df, path, index_col="kw")
    doc = open(path).read()
    assert doc.count("<tr>") == 3  # header + 2 data rows
    for val in ("4", "0", "10", "2"):
        assert f">{val}</td>" in doc
    # global scale: min (0) is white, max (10) is the full accent color
    assert "background:rgb(255,255,255)" in doc
    assert "background:rgb(31,119,180)" in doc
    # deterministic row order: sorted by index column
    assert doc.index(">join</th>") < doc.index(">spark</th>")


def test_stats_to_chart_pipeline(spark, tmp_path):
    """The reference's full viz hand-off (pyspark_stats write_results →
    plots.py read_csv → heatmap write_html): K3 driver-local CSV out,
    S4 driver-local CSV back in (typed), K4 HTML heatmap rendered from
    the re-read matrix."""
    from bigdata_imgprocessing_spark.sources.csv_io import (
        read_local_csv,
        write_local_csv,
    )
    from bigdata_imgprocessing_spark.sources.html_report import write_html_heatmap

    matrix = spark.createDataFrame(
        [("A", 3, 1), ("B", 0, 7)], "letter string, cat bigint, dog bigint"
    )
    csv_path = str(tmp_path / "stats.csv")
    write_local_csv(matrix, csv_path)
    back = read_local_csv(spark, csv_path, "letter string, cat bigint, dog bigint")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, matrix.collect()))

    html_path = str(tmp_path / "heatmap.html")
    write_html_heatmap(back, html_path, index_col="letter")
    doc = open(html_path).read()
    assert doc.count("<tr>") == 3 and ">7</td>" in doc


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Watermark semantics made observable: run 1 drains a file whose
    max event time advances the watermark past an old window and
    CHECKPOINTS it; run 2 (same checkpoint, new file) delivers a row
    whose event time is older than the persisted watermark. In append
    mode the closed window was already emitted, and the late row must
    NOT resurrect it — the eviction contract that bounds streaming
    state at scale. A third assertion shows the same row IS counted
    when it arrives within the watermark."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "events_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    base = 1704067200  # 2024-01-01T00:00:00Z

    def write_file(name, rows):
        ts = pa.array(
            [(base + o) * 1_000_000 for o, _ in rows], pa.int64()
        ).cast(pa.timestamp("us"))
        uid = pa.array([u for _, u in rows], pa.int64())
        pq.write_table(pa.table({"ts": ts, "user_id": uid}), str(src / name))

    out_dir = str(tmp_path / "wm_out")

    def drain():
        # file sink: the one that actually supports checkpoint RECOVERY
        # (memory sink refuses to resume), which is the point of the test
        s = (
            spark.readStream.schema("ts timestamp, user_id bigint")
            .parquet(str(src))
            .withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "10 seconds").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.unix_timestamp("w.start").alias("ws"), "n")
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.ws: r.n for r in spark.read.parquet(out_dir).collect()}

    # run 1: two rows in window [0,10), one at +40s → watermark 40-10=30,
    # closing (and emitting) the first window
    write_file("a.parquet", [(1, 100), (2, 100), (40, 100)])
    out1 = drain()
    assert out1.get(base) == 2  # first window emitted with both rows

    # run 2: a LATE row for the already-closed window (+3s < watermark 30)
    # and a fresh row advancing time; the closed window must not re-emit
    write_file("b.parquet", [(3, 100), (80, 100)])
    out2 = drain()
    assert out2.get(base) == 2, "late row resurrected a closed window"
    # the +40s window now closes (watermark 80-10=70) WITHOUT the late row
    assert out2.get(base + 40) == 1

    # control: a row within the watermark for a still-open window counts
    write_file("c.parquet", [(81, 100), (120, 100)])
    out3 = drain()
    assert out3.get(base + 80) == 2  # 80 and 81 together


def test_html_bar_sink(spark, tmp_path):
    """K4 egress, bar half: an (x, y) frame renders to a standalone SVG
    bar chart — one rect per category, max bar spanning the full plot
    height, deterministic sorted-by-x order (plots.py:23 px.bar twin)."""
    from bigdata_imgprocessing_spark.sources.html_report import write_html_bar

    df = spark.createDataFrame(
        [("B", 10), ("A", 4), ("C", 0)], "letter string, count bigint"
    )
    path = str(tmp_path / "bar.html")
    write_html_bar(df, path, x="letter", y="count")
    doc = open(path).read()
    assert doc.count("<rect") == 3
    assert 'height="280.0"' in doc  # max bar = full 360 - 2*40 plot height
    assert 'height="0.0"' in doc  # zero stays zero, not min-clamped
    assert doc.index(">A</text>") < doc.index(">B</text>") < doc.index(">C</text>")
    assert 'fill="#1f77b4"' in doc  # default single-color px.bar accent


def test_html_bar_sink_palette(spark, tmp_path):
    """The go.Bar(marker_color=[...]) color-plot twin (plots.py:45-50):
    each bar takes its own palette entry in x-sorted order."""
    from bigdata_imgprocessing_spark.sources.html_report import write_html_bar

    df = spark.createDataFrame(
        [("blue", 5), ("green", 2), ("red", 8)],
        "primary_color string, n_images bigint",
    )
    path = str(tmp_path / "colors.html")
    write_html_bar(
        df, path, x="primary_color", y="n_images", colors=["cyan", "lime", "#f00"]
    )
    doc = open(path).read()
    for c in ('fill="cyan"', 'fill="lime"', 'fill="#f00"'):
        assert c in doc
    assert 'fill="#1f77b4"' not in doc


def test_chart_data_to_bar_pipeline(spark, sf_dir, tmp_path):
    """Reference hand-off for the bar layer (stats CSV → plots.py
    px.bar per class): filter ONE class out of bar_chart_data — exactly
    the per-class frame the reference reads from its per-class CSV —
    and render it; plus the color plot from color_chart_data with the
    reference's fixed 6-color palette."""
    from bigdata_imgprocessing_spark.queries import QUERIES
    from bigdata_imgprocessing_spark.sources.html_report import write_html_bar

    bars = QUERIES["bar_chart_data"](spark, sf_dir)
    one_class = bars.where(F.col("class_id") == bars.first().class_id).select(
        "letter", "n_detections"
    )
    p1 = str(tmp_path / "class_bar.html")
    write_html_bar(one_class, p1, x="letter", y="n_detections")
    assert open(p1).read().count("<rect") == one_class.count() > 0

    colors = QUERIES["color_chart_data"](spark, sf_dir)
    p2 = str(tmp_path / "color_bar.html")
    write_html_bar(
        colors, p2, x="primary_color", y="n_images",
        colors=["red", "green", "blue", "cyan", "yellow", "magenta"],
    )
    doc = open(p2).read()
    assert doc.count("<rect") == colors.count() > 0


def test_html_bar_sink_empty_frame(spark, tmp_path):
    """A filter that matches nothing must still produce a valid (axis
    only) chart, not a division-by-zero or a crash."""
    from bigdata_imgprocessing_spark.sources.html_report import write_html_bar

    df = spark.createDataFrame([], "letter string, count bigint")
    path = str(tmp_path / "empty.html")
    write_html_bar(df, path, x="letter", y="count")
    doc = open(path).read()
    assert "<svg" in doc and doc.count("<rect") == 0


def test_erasure_sink_multibatch_idempotent_and_restart(spark, tmp_path):
    """Streaming erasure sink (streaming/erasure.py): victims arriving
    over multiple micro-batches (with a REPEATED victim — deletion must
    be idempotent) shrink the state monotonically; a restart drain over
    an appended request file continues from the checkpoint and erases
    from the CURRENT state, not the initial one."""
    from bigdata_imgprocessing_spark.streaming.erasure import (
        init_state,
        read_final_state,
        run_foreachbatch_erasure,
    )

    state0 = spark.createDataFrame(
        [(i, i % 5, f"t{i % 3}", float(i)) for i in range(20)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    out = str(tmp_path / "erasure_out")
    init_state(state0, out)

    src = tmp_path / "requests"
    src.mkdir()

    def write_req(name, users):
        spark.createDataFrame(
            [(u,) for u in users], "user_id bigint"
        ).coalesce(1).write.parquet(str(src / name))

    write_req("r1", [0])
    write_req("r2", [1, 0])  # 0 repeated — idempotent no-op

    def drain():
        s = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        run_foreachbatch_erasure(s, out, key="user_id")

    drain()
    left = {r.user_id for r in read_final_state(spark, out).collect()}
    assert left == {2, 3, 4}
    assert read_final_state(spark, out).count() == 12  # 20 - 2*4

    # restart with a new request file: erases from CURRENT state
    write_req("r3", [2])
    drain()
    final = read_final_state(spark, out)
    assert {r.user_id for r in final.collect()} == {3, 4}
    assert final.count() == 8


def test_pystream_source_rowgroup_offsets(spark, sf_dir):
    """The streaming Python source's offset/partition protocol directly:
    initial offset 0, latest = row-group count, one partition per row
    group in a sub-range, and a partition read returns exactly that row
    group's rows."""
    import pyarrow.parquet as pq

    from bigdata_imgprocessing_spark.sources.pystream_source import (
        EventTailStreamReader,
    )

    path = f"{sf_dir}/events.parquet"
    r = EventTailStreamReader(path)
    n_rg = pq.ParquetFile(path).metadata.num_row_groups
    assert r.initialOffset() == {"rg": 0}
    assert r.latestOffset() == {"rg": n_rg}
    parts = r.partitions({"rg": 0}, {"rg": n_rg})
    assert len(parts) == n_rg
    batches = list(r.read(parts[0]))  # Arrow RecordBatches, not rows
    assert sum(b.num_rows for b in batches) == pq.ParquetFile(
        path
    ).metadata.row_group(0).num_rows
    assert batches[0].num_columns == 4  # event_id, user_id, event_type, value


def test_bpe_pair_counts_match_python_reference(spark):
    """BPE round-1 pair statistics vs a plain-Python reference on a tiny
    vocabulary, including the weighting by word frequency and the 1-char
    word guard."""
    from collections import Counter

    from pyspark.sql import functions as F

    words = [("hash", 3), ("sash", 2), ("a", 5), ("hh", 1)]
    ref = Counter()
    for w, c in words:
        for i in range(len(w) - 1):
            ref[w[i : i + 2]] += c

    wdf = spark.createDataFrame(words, "w string, c long")
    got = (
        wdf.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.length("w") - 2),
                    lambda i: F.col("w").substr(i + 1, F.lit(2)),
                )
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .collect()
    )
    assert {r.pair: r.n for r in got} == dict(ref)


def test_dashboard_index_embeds_charts(spark, tmp_path):
    """K4 index page (reference dash.html): charts written by the HTML
    sinks are embedded by relative src with captions, one .plot_row per
    layout row, and the file is self-contained HTML."""
    from bigdata_imgprocessing_spark.sources.html_report import (
        write_dashboard_index,
        write_html_bar,
    )

    plots = tmp_path / "plots"
    plots.mkdir()
    df = spark.createDataFrame([("a", 3), ("b", 5)], ["letter", "count"])
    write_html_bar(df, str(plots / "bar.html"), x="letter", y="count")
    write_dashboard_index(
        str(tmp_path / "dash.html"),
        [
            [("./plots/bar.html", "Counts per letter")],
            [
                ("./plots/bar.html", "Row two left"),
                ("./plots/bar.html", "Row two <right>"),
            ],
        ],
        title="Better dashboard",
    )
    out = (tmp_path / "dash.html").read_text()
    assert out.startswith("<!DOCTYPE html>")
    assert out.count('<div class="plot_row">') == 2
    assert out.count('<embed type="text/html" src="./plots/bar.html">') == 3
    assert "Row two &lt;right&gt;" in out  # captions are escaped
    assert "<title>Better dashboard</title>" in out
    # identical layout → identical bytes (deterministic egress)
    write_dashboard_index(
        str(tmp_path / "dash2.html"),
        [[("./plots/bar.html", "Counts per letter")],
         [("./plots/bar.html", "Row two left"),
          ("./plots/bar.html", "Row two <right>")]],
        title="Better dashboard",
    )
    assert (tmp_path / "dash2.html").read_text() == out


def test_streaming_lsh_ingest_discovers_once_and_restarts(spark, tmp_path):
    """Behavioral contract of the streaming LSH ingest state machine
    (streaming/lsh_ingest.py): every near-dup pair is discovered in
    EXACTLY the micro-batch where its later document arrives (probe =
    new docs only, so old×old is never rejoined and nothing is found
    twice), >=2 index versions prove the cross-batch probe really ran,
    and a RESTART with a new wave against the same checkpoint extends
    the index instead of rediscovering history."""
    import glob as _glob
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        n_state_versions,
        read_final_pairs,
        run_lsh_ingest,
    )

    a_text = "q w e r t y u i o p k j"
    b_text = "m n b v c x z l h g f d"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()

    def write_wave(i, rows):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    write_wave(0, [(0, a_text), (4, b_text)])
    write_wave(1, [(1, a_text), (5, b_text)])
    write_wave(2, [(2, a_text)])
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state)

    drain()
    got = {
        (r.doc_a, r.doc_b): r.wave
        for r in read_final_pairs(spark, state).collect()
    }
    assert got == {(0, 1): 1, (4, 5): 1, (0, 2): 2, (1, 2): 2}
    assert n_state_versions(state) >= 2
    # restart: wave3 carries a dup of the wave-0/1 B docs; same
    # checkpoint -> only the NEW pairs appear, tagged with batch 3
    write_wave(3, [(3, b_text)])
    drain()
    got2 = {
        (r.doc_a, r.doc_b): r.wave
        for r in read_final_pairs(spark, state).collect()
    }
    assert got2 == {**got, (3, 4): 3, (3, 5): 3}


def _doc_stream(spark, tmp_path, waves, cols="doc_id bigint, text string"):
    """A maxFilesPerTrigger=1 stream over one mtime-ordered parquet file
    per wave of (doc_id, text[, ...]) rows — one micro-batch per wave."""
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir(parents=True)
    for i, rows in enumerate(waves):
        stage = str(tmp_path / f"stage_w{i}")
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(stage)
        dst = str(feed / f"w{i}.parquet")
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], dst)
        os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    return (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )


_A_TEXT = "q w e r t y u i o p k j"
_B_TEXT = "m n b v c x z l h g f d"


def test_streaming_lsh_ingest_file_uri_state_root(spark, tmp_path):
    """The discovers-once contract with a scheme-qualified state root:
    a ``file://`` root must see the same prior state as a bare path
    (listing through the root's Hadoop FileSystem). A local-only lister
    finds nothing under a URI, so every batch would see empty prior
    state and no cross-batch pair would ever be discovered."""
    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        n_state_versions,
        read_final_pairs,
        run_lsh_ingest,
    )

    stream = _doc_stream(
        spark,
        tmp_path,
        [[(0, _A_TEXT), (4, _B_TEXT)], [(1, _A_TEXT), (5, _B_TEXT)], [(2, _A_TEXT)]],
    )
    state = f"file://{tmp_path}/state"
    run_lsh_ingest(stream, state)
    got = {
        (r.doc_a, r.doc_b): r.wave
        for r in read_final_pairs(spark, state).collect()
    }
    assert got == {(0, 1): 1, (4, 5): 1, (0, 2): 2, (1, 2): 2}
    assert n_state_versions(state) == 3


def test_ingest_readers_ignore_bak_sibling(spark, tmp_path):
    """An operator's ``b1.bak`` copy next to the batch dirs is not
    data: the store readers and version counters list batch dirs
    through the skeleton's numeric filter, so the copy neither
    duplicates pairs nor counts as an index version."""
    import shutil

    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        n_state_versions,
        read_final_pairs,
        run_lsh_ingest,
    )

    stream = _doc_stream(
        spark, tmp_path, [[(0, _A_TEXT)], [(1, _A_TEXT), (2, _A_TEXT)]]
    )
    state = str(tmp_path / "state")
    run_lsh_ingest(stream, state)
    for store in ("pairs", "bands"):
        shutil.copytree(f"{state}/{store}/b1", f"{state}/{store}/b1.bak")
    got = sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    )
    assert got == [(0, 1, 1), (0, 2, 1), (1, 2, 1)]
    assert n_state_versions(state) == 2


def test_ingest_drains_leave_no_job_without_group(spark, tmp_path):
    """Every job a simhash or decontam drain submits runs in a job
    group — the streaming batch's own, inherited by the concurrent
    store writes — so query.stop() cancellation and UI attribution
    reach all of them. The test thread sets its own group first, so
    any new ungrouped job came from a write thread that lost it."""
    from bigdata_imgprocessing_spark.operators.neardup import wordgram_5h
    from bigdata_imgprocessing_spark.streaming.decontam_ingest import (
        run_decontam_ingest,
    )
    from bigdata_imgprocessing_spark.streaming.simhash_ingest import (
        run_simhash_ingest,
    )

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup("ingest-job-group-test", "test thread")
    try:
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        run_simhash_ingest(
            _doc_stream(
                spark, tmp_path / "sh", [[(0, _A_TEXT)], [(1, _A_TEXT)]]
            ),
            str(tmp_path / "sh" / "state"),
        )
        base_idx = str(tmp_path / "base_idx")
        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
        )
        wordgram_5h(train).select("gram_h").distinct().write.parquet(base_idx)
        run_decontam_ingest(
            _doc_stream(
                spark,
                tmp_path / "dc",
                [[(10, "en", "zeta eta theta iota kappa")],
                 [(20, "de", "alpha beta gamma delta epsilon")]],
                cols="doc_id bigint, lang string, text string",
            ),
            str(tmp_path / "dc" / "state"),
            base_idx,
        )
        new = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
        assert new == set()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def test_run_to_memory_drops_stale_sinks_per_session(spark, tmp_path, monkeypatch):
    """Stale memory sinks are tracked per session: a drain in session B
    must not pop session A's sink name (B cannot drop A's temp view, so
    A's sink would leak), and A's next drain drops exactly its own
    stale sink — one dropTempView per stale sink."""
    from pyspark.sql.catalog import Catalog

    from bigdata_imgprocessing_spark.streaming.jobs import run_to_memory

    feed = str(tmp_path / "feed")
    spark.range(3).write.parquet(feed)
    a, b = spark, spark.newSession()

    def sinks(sess):
        return {
            t.name for t in sess.catalog.listTables() if t.name.startswith("sink_")
        }

    def drain(sess):
        before = sinks(sess)
        s = sess.readStream.schema("id bigint").parquet(feed)
        assert run_to_memory(s.groupBy().count()).collect()[0][0] == 3
        (name,) = sinks(sess) - before
        return name

    a1 = drain(a)
    b1 = drain(b)
    dropped = []
    real_drop = Catalog.dropTempView

    def counting_drop(self, name):
        dropped.append(name)
        return real_drop(self, name)

    monkeypatch.setattr(Catalog, "dropTempView", counting_drop)
    a2 = drain(a)
    assert dropped == [a1]
    assert sinks(a) >= {a2} and a1 not in sinks(a)
    assert b1 in sinks(b)


def test_streaming_lsh_ingest_capped_cuts_hot_bucket(spark, tmp_path):
    """max_bucket mode of the streaming LSH ingest: identical-text
    docs share every band bucket, so the bucket's accumulated depth
    crosses the cap on the third arrival — the pair
    against the newcomer is NOT enumerated (that residue is the
    representative pass' job), the per-batch accounting lands the cut
    (all 8 bands of the hot doc, depth 3 each), and a RESTART against
    the same checkpoint keeps both stores consistent."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.operators.neardup import BANDS
    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_acct,
        read_final_pairs,
        run_lsh_ingest,
    )

    a_text = "q w e r t y u i o p k j"
    b_text = "m n b v c x z l h g f d"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()

    def write_wave(i, rows):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    write_wave(0, [(0, a_text), (4, b_text)])
    write_wave(1, [(1, a_text), (5, b_text)])
    write_wave(2, [(2, a_text)])
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state, max_bucket=2)

    drain()
    got = {
        (r.doc_a, r.doc_b): r.wave
        for r in read_final_pairs(spark, state).collect()
    }
    # doc 2's buckets hold 3 docs at its arrival -> its pairs are cut
    assert got == {(0, 1): 1, (4, 5): 1}
    acct = {
        r.wave: (r.n_buckets_cut, r.n_band_rows_cut)
        for r in read_acct(spark, state).collect()
    }
    assert acct == {0: (0, 0), 1: (0, 0), 2: (BANDS, 3 * BANDS)}
    # restart: a third B doc arrives -> B buckets now depth 3, cut too
    write_wave(3, [(3, b_text)])
    drain()
    got2 = {
        (r.doc_a, r.doc_b): r.wave
        for r in read_final_pairs(spark, state).collect()
    }
    assert got2 == got
    acct2 = {
        r.wave: (r.n_buckets_cut, r.n_band_rows_cut)
        for r in read_acct(spark, state).collect()
    }
    assert acct2 == {**acct, 3: (BANDS, 3 * BANDS)}


def test_streaming_quota_restart_keeps_caps(spark, tmp_path):
    """Quota-admission state machine under REPLAY: each drain runs the
    whole feed through fresh state (run_to_memory uses a temp
    checkpoint), so re-draining after a new wave must CONVERGE — a
    capped user only bumps n_seen (admitted set unchanged: the first
    3 by (ts, event_id) are the same rows on every replay), an
    under-cap user admits from the new wave, and a brand-new user
    starts clean. Pins both the cross-batch counter carry within one
    drain and the deterministic-replay contract across drains."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.stateful import (
        quota_admissions,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()

    def write_wave(i, rows):
        vals = ", ".join(
            f"({u}, make_timestamp({1_700_000_000_000_000 + t * 1_000_000}),"
            f" {eid}, {v})"
            for u, t, eid, v in rows
        )
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals})"
            f" v(user_id, ts, event_id, value)) TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    # wave0: user 1 sees 2 events, user 2 sees 3 (cap filled)
    write_wave(0, [(1, 0, 10, 1.0), (1, 1, 11, 2.0),
                   (2, 0, 20, 5.0), (2, 1, 21, 6.0), (2, 2, 22, 7.0)])
    # wave1: user 1 fills cap (+1 admitted) then overflows (+1 seen)
    write_wave(1, [(1, 3, 12, 3.0), (1, 4, 13, 4.0), (2, 3, 23, 8.0)])

    def drain():
        return {
            r.user_id: (r.n_seen, r.n_admitted, r.admitted_value)
            for r in quota_admissions(spark, str(tmp_path), str(feed)).collect()
        }

    got = drain()
    assert got == {1: (4, 3, 6.0), 2: (4, 3, 18.0)}
    # restart: a third wave; same feed dir, fresh drain call — user 1
    # and 2 are both capped, user 3 is new
    write_wave(2, [(1, 5, 14, 9.0), (3, 5, 30, 2.5)])
    got2 = drain()
    assert got2[3] == (1, 1, 2.5)
    assert got2[1] == (5, 3, 6.0)
    assert got2[2] == (4, 3, 18.0)


def test_streaming_decontam_order_dependent_carry(spark, tmp_path):
    """The ingest loop's defining property: a CLEAN wave-0 document's
    grams must contaminate a matching wave-1 (and wave-2) arrival even
    though the gram is absent from the train corpus — a static-index
    implementation passes every other check but fails this one. Doc
    ids are searched so the md5 split and doc_id%3 wave land each
    planted document exactly where the scenario needs it."""
    import hashlib

    from bigdata_imgprocessing_spark.queries import QUERIES
    from bigdata_imgprocessing_spark.streaming.decontam_ingest import (
        n_index_versions,
    )

    def bucket(doc_id: int) -> int:
        h = hashlib.md5(f"{doc_id}_split".encode()).hexdigest()[:10]
        return int(h, 16) % 100

    def find(pred):
        for i in range(100_000):
            if pred(i):
                return i
        raise AssertionError("no doc_id found")

    t_id = find(lambda i: bucket(i) < 90)
    a_id = find(lambda i: bucket(i) >= 95 and i % 3 == 0)
    b_id = find(lambda i: bucket(i) >= 95 and i % 3 == 1 and i != a_id)
    c_id = find(
        lambda i: bucket(i) >= 95 and i % 3 == 1 and i not in (a_id, b_id)
    )
    d_id = find(lambda i: bucket(i) >= 95 and i % 3 == 2)
    train_text = "alpha beta gamma delta epsilon"
    novel_text = "zeta eta theta iota kappa"  # gram NOT in train
    rows = [
        (t_id, train_text, "en", "s", len(train_text)),  # train corpus
        (a_id, novel_text, "en", "s", len(novel_text)),  # w0: clean
        (b_id, novel_text, "de", "s", len(novel_text)),  # w1: via A only
        (c_id, train_text, "fr", "s", len(train_text)),  # w1: via train
        (d_id, novel_text, "es", "s", len(novel_text)),  # w2: via A
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.wave, r.lang): (r.n_docs, r.n_contaminated)
        for r in QUERIES["streaming_decontam_ingest"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        (0, "en"): (1, 0),  # A: clean, ingested
        (1, "de"): (1, 1),  # B: contaminated ONLY by A's ingested gram
        (1, "fr"): (1, 1),  # C: contaminated by the train corpus
        (2, "es"): (1, 1),  # D: A's gram still indexed two waves later
    }
    from bigdata_imgprocessing_spark.core.fs import store_root

    root = store_root(spark, str(tmp_path), "bdip_dci")
    assert n_index_versions(f"{root}/state") >= 2


def test_ingest_batch_dirs_strict_numeric_filtered(spark, tmp_path):
    """The skeleton's state listing (streaming/ingest.py): a batch's
    prior state is STRICTLY-earlier batches only, in numeric (not
    lexicographic) order — b10 sorts after b2, b{bid} itself is
    excluded so a crash-replay sees the pre-batch state — and
    non-numeric siblings (an operator's b3.bak copy) are never read as
    data. A file:// root lists the same dirs, in the caller's form."""
    from bigdata_imgprocessing_spark.streaming.ingest import (
        BatchState,
        batch_dirs,
        n_versions,
    )

    root = tmp_path / "state"
    for name in ("b0", "b2", "b10", "b11", "b3.bak", "bx", "b", "tmp"):
        (root / "idx" / name).mkdir(parents=True)

    def ids(dirs):
        return [d.rsplit("/b", 1)[1] for d in dirs]

    assert ids(batch_dirs(spark, str(root), "idx")) == ["0", "2", "10", "11"]
    assert ids(batch_dirs(spark, str(root), "idx", before=11)) == ["0", "2", "10"]
    assert batch_dirs(spark, str(root), "idx", before=2) == [
        str(root / "idx" / "b0")
    ]
    assert batch_dirs(spark, str(root), "idx", before=0) == []
    assert batch_dirs(spark, str(root), "missing") == []
    assert n_versions(str(root), "idx") == 4
    uri = f"file://{root}"
    assert BatchState(spark, uri, 10).dirs("idx") == [
        f"{uri}/idx/b0",
        f"{uri}/idx/b2",
    ]


def test_streaming_decontam_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: if the stream restarts after a batch's
    index extension landed but BEFORE its checkpoint committed, the
    replayed batch must reproduce identical verdicts. Without the
    strictly-before filter the replay probes the batch's own clean-doc
    grams and flips clean -> contaminated."""
    import os
    import shutil

    from bigdata_imgprocessing_spark.streaming.decontam_ingest import (
        read_results,
        run_decontam_ingest,
    )

    base_idx = tmp_path / "base_idx"
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    from bigdata_imgprocessing_spark.operators.neardup import wordgram_5h

    wordgram_5h(train).select("gram_h").distinct().coalesce(1).write.parquet(
        str(base_idx)
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    waves = [
        [(10, "en", "zeta eta theta iota kappa")],  # w0: clean novel gram
        [(20, "de", "lambda mu nu xi omicron")],  # w1: clean, DISTINCT gram
    ]
    import glob as _glob

    for i, rows in enumerate(waves):
        tmp = str(tmp_path / f"stage_w{i}")
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = str(feed / f"w{i}.parquet")
        shutil.copy(_glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        t = 1_700_000_000 + 60 * i
        os.utime(dst, (t, t))

    state = str(tmp_path / "state")

    def drain():
        stream = (
            spark.readStream.schema("doc_id bigint, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_decontam_ingest(stream, state, str(base_idx))

    drain()
    first = {
        r.doc_id: (r.contaminated, r.wave)
        for r in read_results(spark, state).collect()
    }
    assert first == {10: (False, 0), 20: (False, 1)}
    # simulate the crash: batch 1's results AND index extension landed,
    # but its checkpoint commit did not -> restart replays batch 1
    # against an idx/ glob that already contains idx/b1
    os.remove(f"{state}/ckpt/commits/1")
    # the local-fs checkpoint manager writes a sibling CRC; a leftover
    # one blocks the replayed commit's rename
    crc = f"{state}/ckpt/commits/.1.crc"
    if os.path.exists(crc):
        os.remove(crc)
    # availableNow restart also needs the offset re-planned, and the
    # result dir left in place exercises the overwrite path
    drain()
    replayed = {
        r.doc_id: (r.contaminated, r.wave)
        for r in read_results(spark, state).collect()
    }
    assert replayed == first
    # partial crash: the res write (the cache barrier) landed, but the
    # idx extension and the commit did not — the replay regenerates
    # idx/b1 from strictly-earlier state and converges
    shutil.rmtree(f"{state}/idx/b1")
    os.remove(f"{state}/ckpt/commits/1")
    if os.path.exists(crc):
        os.remove(crc)
    drain()
    partial = {
        r.doc_id: (r.contaminated, r.wave)
        for r in read_results(spark, state).collect()
    }
    assert partial == first
    assert os.path.isdir(f"{state}/idx/b1")
    shutil.rmtree(state, ignore_errors=True)


def test_streaming_lsh_ingest_crash_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract (the strictly-before state filter): if the
    stream restarts after a batch's bands/shingles landed but BEFORE
    its checkpoint committed, the replayed batch must reproduce
    identical pairs. Without the filter the replay probes its own
    bands and joins its own duplicated shingle rows — duplicating the
    batch's verified pairs."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_final_pairs,
        run_lsh_ingest,
    )

    a_text = "q w e r t y u i o p k j"
    b_text = "m n b v c x z l h g f d"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    for i, rows in enumerate(
        [[(0, a_text), (4, b_text)], [(1, a_text), (5, b_text)]]
    ):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state)

    drain()
    first = sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    )
    assert first == [(0, 1, 1), (4, 5, 1)]
    # simulate the crash: batch 1's three stores landed but its commit
    # did not -> restart replays batch 1 against a state tree that
    # already contains b1
    _os.remove(f"{state}/ckpt/commits/1")
    crc = f"{state}/ckpt/commits/.1.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    replayed = sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    )
    assert replayed == first
    # second crash window introduced by the r12 bands-first write
    # order: the bands write (the cache-materialization barrier)
    # landed but the overlapped pairs+shingles writes did NOT — on
    # replay the batch must regenerate both from strictly-earlier
    # state and converge to the identical pair set
    import shutil as _sh

    _sh.rmtree(f"{state}/pairs/b1")
    _sh.rmtree(f"{state}/shingles/b1")
    _os.remove(f"{state}/ckpt/commits/1")
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    partial_replayed = sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    )
    assert partial_replayed == first


def test_streaming_simhash_ingest_discovers_once_and_restarts(spark, tmp_path):
    """Behavioral contract of the streaming SimHash ingest machine
    (streaming/simhash_ingest.py): every pair within hamming distance
    <= 3 is discovered in EXACTLY the micro-batch where its later
    document arrives (new x old ∪ new x new — nothing found twice),
    distance 0 (exact-dup text) rides the same probe, >= 2 index
    versions prove the cross-batch probe ran, and a RESTART with a new
    wave extends the index instead of rediscovering history."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.simhash_ingest import (
        n_index_versions,
        read_pairs,
        run_simhash_ingest,
    )

    x_text = "q w e r t y u i o p k j"
    z_text = "m n b v c x z l h g f d"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()

    def write_wave(i, rows):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    # identical texts -> identical fingerprints -> distance 0 pairs
    write_wave(0, [(0, x_text), (4, z_text)])
    write_wave(1, [(1, x_text)])
    write_wave(2, [(2, x_text), (5, z_text)])
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_simhash_ingest(s, state)

    drain()
    got = {
        (r.doc_a, r.doc_b): (r.dist, r.wave)
        for r in read_pairs(spark, state).collect()
    }
    assert got[(0, 1)] == (0, 1)
    assert got[(0, 2)] == (0, 2)
    assert got[(1, 2)] == (0, 2)
    assert got[(4, 5)] == (0, 2)
    # x-family vs z-family must never pair (distant fingerprints)
    assert all({a, b} <= {0, 1, 2} or {a, b} <= {4, 5} for a, b in got)
    assert n_index_versions(state) >= 2
    # restart: a new wave with another exact dup of the x text — only
    # the NEW pairs appear, tagged with batch 3
    write_wave(3, [(3, x_text)])
    drain()
    got2 = {
        (r.doc_a, r.doc_b): (r.dist, r.wave)
        for r in read_pairs(spark, state).collect()
    }
    assert got2 == {
        **got,
        (0, 3): (0, 3),
        (1, 3): (0, 3),
        (2, 3): (0, 3),
    }


def test_streaming_simhash_ingest_crash_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract for the SimHash ingest loop (same
    invariants as the LSH and decontam loops): restart after a batch's
    pairs/fps landed but before its checkpoint committed must
    reproduce identical pairs — without the strictly-before state
    filter the replayed batch would probe its own fingerprints and
    re-emit its pairs against itself."""
    _simhash_crash_replay(spark, tmp_path, "")


def test_streaming_simhash_ingest_crash_replay_file_uri_state_root(spark, tmp_path):
    """The SimHash crash-replay contract with a ``file://`` state root:
    prior fingerprints and landed batches must be found through the
    root's Hadoop FileSystem, as with a bare path."""
    _simhash_crash_replay(spark, tmp_path, "file://")


def _simhash_crash_replay(spark, tmp_path, scheme: str) -> None:
    """Drain two waves into ``scheme`` + a local state dir, then replay
    batch 1 after each crash window; the pairs never change."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.simhash_ingest import (
        read_pairs,
        run_simhash_ingest,
    )

    x_text = "q w e r t y u i o p k j"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    for i, rows in enumerate([[(0, x_text)], [(1, x_text), (2, x_text)]]):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_simhash_ingest(s, scheme + state)

    drain()
    first = sorted(
        (r.doc_a, r.doc_b, r.dist, r.wave)
        for r in read_pairs(spark, scheme + state).collect()
    )
    assert first == [(0, 1, 0, 1), (0, 2, 0, 1), (1, 2, 0, 1)]
    _os.remove(f"{state}/ckpt/commits/1")
    crc = f"{state}/ckpt/commits/.1.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    replayed = sorted(
        (r.doc_a, r.doc_b, r.dist, r.wave)
        for r in read_pairs(spark, scheme + state).collect()
    )
    assert replayed == first
    # partial crash: the fps write (the cache barrier) landed, but the
    # pairs write and the commit did not — the replay must not probe
    # its own landed fingerprints
    import shutil as _sh

    _sh.rmtree(f"{state}/pairs/b1")
    _os.remove(f"{state}/ckpt/commits/1")
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    partial = sorted(
        (r.doc_a, r.doc_b, r.dist, r.wave)
        for r in read_pairs(spark, scheme + state).collect()
    )
    assert partial == first


def test_streaming_ewma_cross_batch_jumps_and_tail(spark, tmp_path):
    """EWMA/jump state machine: (a) a jump spanning the micro-batch
    boundary is counted (the carried last value — the quantity a
    per-batch recompute gets wrong), (b) the EWMA folds over at most
    the last 16 values in arrival order, matching a Python reference
    fold, (c) re-draining after a new wave CONVERGES (deterministic
    replay, fresh state per drain)."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.stateful import (
        ewma_anomalies,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()

    def write_wave(i, rows):
        vals = ", ".join(
            f"('{k}', make_timestamp({1_700_000_000_000_000 + t * 1_000_000}),"
            f" {eid}, CAST({v} AS DOUBLE))"
            for k, t, eid, v in rows
        )
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals})"
            f" v(event_type, ts, event_id, value)) TO '{dst}'"
            f" (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    # c floods 20 values in one wave: tail must hold only the last 16
    write_wave(0, [("a", 0, 1, 10.0), ("a", 1, 2, 20.0)]
               + [("c", t, 100 + t, float(t)) for t in range(20)])
    write_wave(1, [("a", 2, 3, 300.0), ("b", 2, 4, 5.0)])

    def fold(vals):
        e = vals[0]
        for v in vals[1:]:
            e = e / 2 + v / 2
        return e

    def drain():
        return {
            r.event_type: (r.n_events, r.n_jumps, r.ewma16)
            for r in ewma_anomalies(spark, str(feed)).collect()
        }

    got = drain()
    # a: |300-20| = 280 > 150 crosses the wave0/wave1 boundary
    assert got["a"] == (3, 1, fold([10.0, 20.0, 300.0]))
    assert got["b"] == (1, 0, 5.0)
    assert got["c"] == (20, 0, fold([float(t) for t in range(4, 20)]))
    # restart: new wave — a adds one non-jump then one jump; replay of
    # the whole feed through fresh state must converge
    write_wave(2, [("a", 3, 5, 310.0), ("a", 4, 6, 100.0),
                   ("b", 3, 7, 400.0)])
    got2 = drain()
    assert got2["a"] == (5, 2, fold([10.0, 20.0, 300.0, 310.0, 100.0]))
    assert got2["b"] == (2, 1, fold([5.0, 400.0]))
    assert got2["c"] == got["c"]


def test_streaming_lsh_ingest_capped_crash_replay(spark, tmp_path):
    """Crash-replay idempotence of the CAPPED drain's two extra
    artifacts: the acct store (landed between the bands barrier and
    the pairs/shingles pool — its own crash window) and the capped
    pair set. Batch 1's stores land but its commit does not; the
    replay must census against strictly-earlier state only and
    overwrite acct/b1 + pairs/b1 with identical content."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.operators.neardup import BANDS
    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_acct,
        read_final_pairs,
        run_lsh_ingest,
    )

    a_text = "q w e r t y u i o p k j"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    # wave0: two A docs (bucket depth 2 = cap -> pair found at w1? no:
    # found at wave 0, within-batch); wave1: a third A doc -> depth 3
    # exceeds cap=2 -> cut, accounted
    for i, rows in enumerate([[(0, a_text), (1, a_text)], [(2, a_text)]]):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state, max_bucket=2)

    drain()
    pairs0 = sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    )
    acct0 = sorted(
        (r.wave, r.n_buckets_cut, r.n_band_rows_cut)
        for r in read_acct(spark, state).collect()
    )
    assert pairs0 == [(0, 1, 0)]
    assert acct0 == [(0, 0, 0), (1, BANDS, 3 * BANDS)]
    # crash: batch 1's stores (incl. acct/b1) landed, commit missing
    _os.remove(f"{state}/ckpt/commits/1")
    crc = f"{state}/ckpt/commits/.1.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    assert sorted(
        (r.doc_a, r.doc_b, r.wave)
        for r in read_final_pairs(spark, state).collect()
    ) == pairs0
    assert sorted(
        (r.wave, r.n_buckets_cut, r.n_band_rows_cut)
        for r in read_acct(spark, state).collect()
    ) == acct0


def test_streaming_lsh_ingest_capped_randomized(spark, tmp_path):
    """Seeded randomized semantic pin for the capped drain: random
    small corpora with md5-planted duplicate clusters drain in 3
    waves, and the resulting pairs + per-batch accounting must match
    an INDEPENDENT pure-Python replay of the cap semantics (cumulative
    bucket depth, probe-iff-within-cap at the later doc's wave, cut =
    touched-and-over-cap) computed from the batch banding pipeline's
    own band rows — the fixed-fixture tests pin known shapes; this
    pins the drain against corpora nobody hand-picked."""
    import hashlib as _h
    import os as _os
    from collections import defaultdict

    import duckdb as _duck

    from bigdata_imgprocessing_spark.operators.neardup import (
        band_frame,
        minhash_signatures,
        shingle_sets,
    )
    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_acct,
        read_final_pairs,
        run_lsh_ingest,
    )

    CAP, WAVES = 2, 3
    for seed in range(3):
        # 24 docs in md5-deterministic clusters of size 1-4: cluster
        # members share the text, so they share every band bucket
        docs, i = [], 0
        cl = 0
        while i < 24:
            size = int(_h.md5(f"{seed}_{cl}".encode()).hexdigest(), 16) % 4 + 1
            words = [
                f"w{int(_h.md5(f'{seed}_{cl}_{j}'.encode()).hexdigest(), 16) % 50}"
                for j in range(12)
            ]
            for _ in range(min(size, 24 - i)):
                docs.append((i, " ".join(words)))
                i += 1
            cl += 1
        sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
        bands = [
            (r.doc_id, r.band, r.bkey)
            for r in band_frame(minhash_signatures(sdf)).collect()
        ]
        sets = {r.doc_id: set(r.ss) for r in shingle_sets(sdf).collect()}
        # pure-Python replay of the capped drain
        wave = {d: d % WAVES for d, _ in docs}
        by_key = defaultdict(list)  # (band,bkey) -> [(wave, doc)]
        for d, b, k in bands:
            by_key[(b, k)].append((wave[d], d))
        exp_pairs, exp_acct = set(), {
            w: [0, 0] for w in range(WAVES)
        }
        for key, members in by_key.items():
            members.sort()
            waves_present = sorted({w for w, _ in members})
            for w in waves_present:
                depth = sum(1 for mw, _ in members if mw <= w)
                if depth > CAP:
                    exp_acct[w][0] += 1
                    exp_acct[w][1] += depth
                else:
                    news = [d for mw, d in members if mw == w]
                    olds = [d for mw, d in members if mw <= w]
                    for dn in news:
                        for do in olds:
                            if do != dn:
                                a, b2 = min(dn, do), max(dn, do)
                                ss_a, ss_b = sets[a], sets[b2]
                                inter = len(ss_a & ss_b)
                                uni = len(ss_a | ss_b)
                                if inter / uni >= 0.5:
                                    exp_pairs.add((a, b2, w))
        # stage the feed and drain
        feed = tmp_path / f"feed{seed}"
        feed.mkdir()
        con = _duck.connect()
        for w in range(WAVES):
            rows = [(d, t) for d, t in docs if d % WAVES == w]
            vals = ", ".join(
                f"({d}, '{t}')" for d, t in rows
            )
            dst = str(feed / f"w{w}.parquet")
            con.execute(
                f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
            _os.utime(dst, (1_700_000_000 + 60 * w,) * 2)
        state = str(tmp_path / f"state{seed}")
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state, max_bucket=CAP)
        got_pairs = {
            (r.doc_a, r.doc_b, r.wave)
            for r in read_final_pairs(spark, state).collect()
        }
        got_acct = {
            r.wave: [r.n_buckets_cut, r.n_band_rows_cut]
            for r in read_acct(spark, state).collect()
        }
        assert got_pairs == exp_pairs, f"seed {seed}"
        assert got_acct == exp_acct, f"seed {seed}"


def test_streaming_capped_residue_rep_pass_closes_the_loop(spark, tmp_path):
    """End-to-end residue loop: the capped stream's docstring claims
    `hot_bucket_rep_dedup` run over the LANDED band state IS the residue consumer — bucket depth is
    monotone over the drain, so the final index's over-cap buckets are
    exactly the ever-cut set. Prove it on a planted hot-cohort corpus:
    drain capped, replay the representative pass over the landed
    bands/shingles state, and check that the duplicate-group PARTITION
    induced by (capped pairs ∪ rep-pass dups) equals the one induced
    by an UNCAPPED drain of the same feed — no document's group
    membership is lost to the cap."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.lsh_ingest import (
        read_acct,
        read_final_pairs,
        run_lsh_ingest,
    )

    # planted corpus: a 5-doc hot cohort (depth far past the cap), a
    # 3-doc cohort (crosses the cap on its last arrival), a clean
    # 2-doc pair (never hot), and a singleton
    t_a = "a b c d e f g h i j k l"
    t_d = "z y x w v u t s r q p o"
    t_b = "1 2 3 4 5 6 7 8 9 10 11 12"
    t_s = "n m l k j i h g f e d c"
    waves = [
        [(0, t_a), (10, t_b), (30, t_s)],
        [(1, t_a), (20, t_d), (21, t_d)],
        [(2, t_a), (3, t_a), (11, t_b)],
        [(4, t_a), (22, t_d)],
    ]
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    for i, rows in enumerate(waves):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    def drain(state, cap):
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_lsh_ingest(s, state, max_bucket=cap)

    capped_state = str(tmp_path / "capped")
    uncapped_state = str(tmp_path / "uncapped")
    drain(capped_state, 2)
    drain(uncapped_state, None)

    # the cap must BIND on this corpus (otherwise the test is a no-op)
    acct = read_acct(spark, capped_state).collect()
    assert sum(r.n_buckets_cut for r in acct) > 0
    capped = {
        (r.doc_a, r.doc_b) for r in read_final_pairs(spark, capped_state).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in read_final_pairs(spark, uncapped_state).collect()
    }
    assert capped < uncapped  # strictly fewer pairs discovered

    # representative pass over the LANDED capped state — the exact
    # hot_bucket_rep_dedup discipline: census the final band index,
    # elect min(doc_id) per over-cap bucket, members verify exact
    # Jaccard against the representative ONLY (O(k) per bucket)
    bands = spark.read.schema("doc_id bigint, band int, bkey string").parquet(
        f"{capped_state}/bands/b*"
    )
    sh = spark.read.schema("doc_id bigint, ss array<string>").parquet(
        f"{capped_state}/shingles/b*"
    )
    census = bands.groupBy("band", "bkey").agg(F.count("*").alias("k"))
    hot = census.where(F.col("k") > 2).select("band", "bkey")
    hb = bands.join(hot, ["band", "bkey"])
    rep = hb.groupBy("band", "bkey").agg(F.min("doc_id").alias("rep"))
    mem = (
        hb.join(rep, ["band", "bkey"])
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("m_id"), "rep")
        .distinct()
    )
    sm, sr = sh.alias("sm"), sh.alias("sr")
    inter = F.size(F.array_intersect(F.col("sm.ss"), F.col("sr.ss")))
    uni = F.size(F.col("sm.ss")) + F.size(F.col("sr.ss")) - inter
    rep_dups = {
        (min(r.m_id, r.rep), max(r.m_id, r.rep))
        for r in (
            mem.join(sm, F.col("m_id") == F.col("sm.doc_id"))
            .join(sr, F.col("rep") == F.col("sr.doc_id"))
            .where(inter * 1.0 / uni >= 0.5)
            .select("m_id", "rep")
            .collect()
        )
    }
    assert rep_dups  # the residue pass found the cut members

    # duplicate-group partitions must MATCH: union-find both edge sets
    def groups(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        out = {}
        for x in list(parent):
            out.setdefault(find(x), set()).add(x)
        return sorted(frozenset(g) for g in out.values())

    assert groups(capped | rep_dups) == groups(uncapped)
    # and the planted truth itself
    assert groups(uncapped) == sorted(
        [frozenset({0, 1, 2, 3, 4}), frozenset({10, 11}), frozenset({20, 21, 22})]
    )


def test_streaming_paragraph_ingest_planted_and_crash_replay(spark, tmp_path):
    """Planted drain for the paragraph-ingest state machine
    (streaming/paragraph_ingest.py): known unit-dup structure across
    waves (cross-batch repeat, within-batch repeat, sub-8-word doc),
    then the crash-replay contract — the stream restarts after a
    batch's units/stats landed but BEFORE its checkpoint committed and
    must converge to identical stats (a replay probing its OWN landed
    units would flip its new units to dups)."""
    _paragraph_crash_replay(spark, tmp_path, "")


def test_streaming_paragraph_ingest_crash_replay_file_uri_state_root(spark, tmp_path):
    """The paragraph-ingest planted drain and crash replay with a
    ``file://`` state root: a lister that only sees local paths would
    find no prior units, and wave 1's cross-batch dups would count as
    new."""
    _paragraph_crash_replay(spark, tmp_path, "file://")


def _paragraph_crash_replay(spark, tmp_path, scheme: str) -> None:
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.paragraph_ingest import (
        n_store_versions,
        read_stats,
        run_paragraph_ingest,
    )

    u1 = "w1 w2 w3 w4 w5 w6 w7 w8"
    u2 = "x1 x2 x3 x4 x5 x6 x7 x8"
    u3 = "y1 y2 y3 y4 y5 y6 y7 y8"
    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    waves = [
        # wave 0: u1 first + within-batch repeat of u2 (docs 0, 1)
        [(0, f"{u1} {u2}"), (1, f"{u2} tail")],
        # wave 1: cross-batch dups (u1, u2) + new u3; doc 12 too short
        [(10, f"{u1} {u3}"), (11, f"{u2} x"), (12, "short doc")],
    ]
    for i, rows in enumerate(waves):
        vals = ", ".join(f"({d}, '{t}')" for d, t in rows)
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text)) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    state = str(tmp_path / "state")

    def drain():
        s = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_paragraph_ingest(s, scheme + state)

    drain()
    assert n_store_versions(scheme + state) == 2
    got = {
        r.wave: (r.n_docs, r.n_units, r.n_dup_units, r.n_new_units)
        for r in read_stats(spark, scheme + state).collect()
    }
    # wave 0: docs 0,1 -> units u1,u2,u2 (doc 1's u2 repeats doc 0's
    #         within the batch): 3 instances, 1 dup, 2 new
    # wave 1: doc 10 -> u1(dup),u3(new); doc 11 -> u2(dup); doc 12 no
    #         units: 2 docs with units... doc 11 has 1 unit (u2 + 'x'
    #         tail < 8 ignored) -> 3 instances, 2 dups, 1 new
    assert got == {0: (2, 3, 1, 2), 1: (2, 3, 2, 1)}
    # crash window: batch 1's units+stats landed, commit missing
    _os.remove(f"{state}/ckpt/commits/1")
    crc = f"{state}/ckpt/commits/.1.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    replayed = {
        r.wave: (r.n_docs, r.n_units, r.n_dup_units, r.n_new_units)
        for r in read_stats(spark, scheme + state).collect()
    }
    assert replayed == got
    assert n_store_versions(scheme + state) == 2


def test_paragraph_batch_stream_totals_agree(spark, tmp_path):
    """Batch and streaming paragraph dedup cross-checked as a
    randomized gate: on a seeded corpus with planted unit repeats, the
    BATCH dedup (paragraph_dedup_stats) and the STREAMING ingest
    (streaming_paragraph_ingest) must agree on total unit instances
    and total duplicated instances — both count instances minus
    global first occurrences, so any drift in the unit expression,
    the wave assignment, or the first-occurrence semantics breaks
    this equality."""
    import random

    import duckdb

    from bigdata_imgprocessing_spark.queries import QUERIES

    rng = random.Random(1414)
    units = [
        " ".join(f"u{u}t{j}" for j in range(8)) for u in range(40)
    ]
    rows = []
    for i in range(120):
        # 1-3 units per doc, drawn WITH repetition from a small pool so
        # cross-doc, cross-wave, and within-doc dups all occur; some
        # docs get a short tail that must be ignored
        k = rng.randrange(1, 4)
        text = " ".join(rng.choice(units) for _ in range(k))
        if rng.random() < 0.3:
            text += " tail"
        lang = rng.choice(["en", "de"])
        rows.append((i, text, lang))
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, '{t}', '{lg}', 'src0', {len(t)})" for i, t, lg in rows
    )
    con.execute(
        f"COPY (SELECT * FROM (VALUES {vals}) "
        "v(doc_id, text, lang, source, n_chars)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    batch = QUERIES["paragraph_dedup_stats"](spark, str(tmp_path)).collect()
    stream = QUERIES["streaming_paragraph_ingest"](
        spark, str(tmp_path)
    ).collect()
    assert sum(r.n_chunks for r in batch) == sum(r.n_units for r in stream)
    assert sum(r.n_dup_chunks for r in batch) == sum(
        r.n_dup_units for r in stream
    )
    # the pool is small enough that dups are guaranteed present
    assert sum(r.n_dup_chunks for r in batch) > 0


def test_streaming_ivf_assign_ingest_planted_and_crash_replay(spark, tmp_path):
    """Planted drain for the IVF-assignment state machine
    (streaming/ivf_ingest.py): two well-separated label clusters plus
    one mislabeled vector sitting in the foreign cluster, so cell
    counts, n_foreign, and the wave-1 occupancy drift are all known in
    closed form; then the crash-replay contract — the stream restarts
    after a batch's postings/occ/stats landed but BEFORE its checkpoint
    committed and must converge to identical stats (a replay including
    its OWN landed occupancy in `prior` would corrupt occ_drift_e6)."""
    import os as _os

    import duckdb as _duck

    from bigdata_imgprocessing_spark.streaming.ivf_ingest import (
        n_store_versions,
        read_stats,
        run_ivf_assign_ingest,
        write_codebook,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    con = _duck.connect()
    # label 0 cluster near (0,0); label 1 cluster near (10,10);
    # vec 3 is LABELED 0 but sits at (10,10) -> assigned cell 1
    waves = [
        [(0, [0.0, 0.0], 0), (1, [10.0, 10.0], 1)],
        [(2, [0.2, 0.0], 0), (3, [10.0, 10.0], 0), (4, [9.8, 10.0], 1)],
    ]
    for i, rows in enumerate(waves):
        vals = ", ".join(
            f"({v}, {e}::FLOAT[], {lb})" for v, e, lb in rows
        )
        dst = str(feed / f"w{i}.parquet")
        con.execute(
            f"COPY (SELECT * FROM (VALUES {vals}) v(vec_id, embedding, label))"
            f" TO '{dst}' (FORMAT PARQUET)"
        )
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    state = str(tmp_path / "state")
    corpus = spark.read.parquet(str(feed))
    write_codebook(corpus, state)

    def drain():
        s = (
            spark.readStream.schema(
                "vec_id bigint, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        run_ivf_assign_ingest(s, state)

    drain()
    assert n_store_versions(state) == 2
    got = {
        r.wave: (r.n_vecs, r.n_cells, r.n_foreign, r.max_cell_n, r.occ_drift_e6)
        for r in read_stats(spark, state).collect()
    }
    # wave 0: one vec per cell, no foreign, no prior -> drift NULL
    # wave 1: occ {0:1, 1:2} (vec 3 foreign), prior {0:1, 1:1};
    #         drift = (|1*2-1*3| + |2*2-1*3|) * 1e6 // (3*2) = 333333
    assert got == {0: (2, 2, 0, 1, None), 1: (3, 2, 1, 2, 333333)}
    # crash window: batch 1's postings+occ+stats landed, commit missing
    _os.remove(f"{state}/ckpt/commits/1")
    crc = f"{state}/ckpt/commits/.1.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    drain()
    replayed = {
        r.wave: (r.n_vecs, r.n_cells, r.n_foreign, r.max_cell_n, r.occ_drift_e6)
        for r in read_stats(spark, state).collect()
    }
    assert replayed == got
    assert n_store_versions(state) == 2


def test_ivf_ingest_matches_numpy_reference(spark, tmp_path):
    """Randomized agreement gate for the IVF ingest against an
    INDEPENDENT pure-numpy replay of the pinned-codebook semantics
    (per-label positional means rounded 3dp, squared distance rounded
    6dp, argmin ties to the lowest cell): per-wave occupancy-derived
    stats and foreign counts must match exactly. Because the codebook
    is pinned, assignments are wave-independent — any batch leaking
    into its own prior, or a codebook recomputed mid-drain, breaks
    the per-wave split this asserts."""
    import numpy as np

    from bigdata_imgprocessing_spark.queries import QUERIES

    rng = np.random.default_rng(1515)
    n, dim, k = 160, 8, 4
    labels = rng.integers(0, k, n)
    centers = rng.normal(0, 10, (k, dim))
    emb = centers[labels] + rng.normal(0, 8.0, (n, dim))
    emb = emb.astype(np.float32)
    rows = [
        (int(i), [float(x) for x in emb[i]], int(labels[i]))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )

    got = {
        r.wave: (r.n_vecs, r.n_cells, r.n_foreign, r.max_cell_n)
        for r in QUERIES["streaming_ivf_assign_ingest"](
            spark, str(tmp_path)
        ).collect()
    }

    # numpy replay: label-mean codebook at 3dp, 6dp squared distances
    e64 = emb.astype(np.float64)
    cents = np.stack(
        [np.round(e64[labels == c].mean(axis=0), 3) for c in range(k)]
    )
    d2 = np.round(
        ((e64[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6
    )
    assigned = d2.argmin(axis=1)  # np.argmin ties -> first (lowest cell)
    want = {}
    for w in range(4):
        m = (np.arange(n) % 4) == w
        occ = np.bincount(assigned[m], minlength=k)
        want[w] = (
            int(m.sum()),
            int((occ > 0).sum()),
            int((assigned[m] != labels[m]).sum()),
            int(occ.max()),
        )
    assert got == want
    # the planted geometry guarantees some foreign assignments overall
    assert sum(v[2] for v in want.values()) > 0
