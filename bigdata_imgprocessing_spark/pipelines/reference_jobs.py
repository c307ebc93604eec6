"""End-to-end equivalents of the reference's three driver scripts, so a
user of ``gero0/bigdata_imgprocessing`` can switch: same inputs (an
image corpus + label CSVs), same output tables, a handful of Spark jobs
per script instead of ~170 driver-loop actions.

| reference script | here | outputs |
|---|---|---|
| pyspark_yolox.py | run_detection_pipeline | results_predictions, results_predictions_per_class |
| pyspark_dominant.py | run_color_pipeline | results_dominant, color_histogram, closest_primary |
| pyspark_stats.py | run_stats_pipeline | alphabet_count(+avg), per-keyword stats, people ratio, length buckets |

Each script computes one per-image (or per-landmark) table and writes
several CSV reports from it. Every CSV write is its own action, so
without materialization each sink re-runs the whole lineage: binary
scan, Python UDF and shuffles. Each entry point therefore materializes
its expensive frame once with an eager ``localCheckpoint()``, and every
sink reads that result (the reference's ``--cached-pred`` flag avoids
recomputing its predictions the same way, pyspark_yolox.py:115-119):

- detection: each image's class counts (``images/detect.py``
  ``class_counts``, row-local: no groupBy, no join back to the id
  list, the same derivation every detection query reads), read by the
  per-image table and the one labels join; and
  ``per_landmark``, which is then written and returned;
- colour: one fused UDF per image (one decode for both features),
  read by the three sinks;
- stats: one tagged aggregation, whatever lineage the caller's
  ``per_landmark`` has. Each name row is exploded into the groups it
  counts toward (its letter, its length bucket, all places, the
  'people' places, each keyword it contains) and grouped by
  (kind, key), and the five sinks filter that result without a
  further shuffle.

Each grouped report is written as one part file sorted by its key, so
its bytes do not depend on ``spark.sql.shuffle.partitions``.

Local checkpoints are not cached tables, so a harness-level
``clearCache()`` leaves them in place, and the frames returned to the
caller carry a short lineage. Jobs per call on six 120x160 JPEGs
(perfbench ``image_pipeline``, 4 cores): detection 6, stats 8, colour
6; the colour pipeline sends the corpus bytes to Python once.

Differences by design (SURVEY.md §2.12): typed schemas instead of
all-string CSV; real map/array columns serialized as sorted entry
strings / JSON only at the CSV boundary; one groupBy for all stats; no
collect-then-parallelize round trips; model inference is the
deterministic stub slotting into predict_batch_udf.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.session import local_frame
from ..functions import first_letter, length_bucket, zero_guard_div
from ..images.color import color_features_udf
from ..images.detect import _class_totals, _entries, class_counts
from ..operators.similarity import nearest_centroid
from ..sources.csv_io import write_semicolon_csv


def _image_ids(spark: SparkSession, images_dir: str, ext: str = "fimg") -> DataFrame:
    """S1 + P1: binary glob scan + file-id extraction
    (pyspark_yolox.py:123, :93)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{ext}")
        .load(images_dir)
        .select(
            F.regexp_extract(F.col("path"), rf"([^/]+)\.{ext}$", 1).alias("id"),
            "content",
        )
    )


def run_detection_pipeline(
    spark: SparkSession, images_dir: str, labels: DataFrame, out_dir: str
) -> tuple[DataFrame, DataFrame]:
    """pyspark_yolox.py end-to-end: detect → per-image counts table →
    per-landmark sums/averages. ``labels`` is the (id, landmark_id)
    dimension (train_labels.csv shape)."""
    # the one detector pass, reduced to each image's class counts;
    # both tables below read it
    counts = class_counts(_image_ids(spark, images_dir).select("id"), "id").localCheckpoint()
    # per-image predictions table (results_predictions,
    # pyspark_yolox.py:137-140); '' for no detections like the '{}' rows
    per_image = counts.select(
        "id", F.coalesce(_entries("counts", lambda s: s.n), F.lit("")).alias("predictions")
    )
    write_semicolon_csv(per_image, f"{out_dir}/results_predictions")

    # per-landmark aggregation (count_objects, pyspark_yolox.py:151-176):
    # image_count (distinct scanned images) + per-class sums over every
    # label row + zero-guarded per-class averages, for landmarks with at
    # least one detection above the threshold
    per_landmark = (
        counts.join(labels, "id")
        .groupBy("landmark_id")
        .agg(
            F.size(F.collect_set("id")).cast("bigint").alias("image_count"),
            _class_totals(F.flatten(F.collect_list("counts")), lambda s: s.n).alias("sums"),
        )
        .where(F.size("sums") > 0)
        .select(
            "landmark_id",
            "image_count",
            _entries("sums", lambda s: s.n).alias("predictions_sum"),
            _entries(
                "sums", lambda s: zero_guard_div(s.n, F.col("image_count"))
            ).alias("averages"),
        )
        .localCheckpoint()
    )
    write_semicolon_csv(
        per_landmark, f"{out_dir}/results_predictions_per_class", "landmark_id"
    )
    return per_image, per_landmark


def run_color_pipeline(
    spark: SparkSession, images_dir: str, out_dir: str, centroids: list[tuple[int, int, int]]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """pyspark_dominant.py end-to-end: avg+dominant color per image →
    dominant-color histogram → nearest-primary classification histogram.
    The reference's collect/np.unique/parallelize histogram
    (pyspark_dominant.py:74-92) and its 6 sequential filter().count()
    jobs (:122-124) are each one groupBy here."""
    # one decode per image for both features; the three sinks read it
    colors = (
        _image_ids(spark, images_dir)
        .select("id", color_features_udf("content").alias("color"))
        .localCheckpoint()
        .select("id", "color.avg", "color.dom")
    )
    colors_out = colors.select(
        "id", F.to_json("avg").alias("average_color"), F.to_json("dom").alias("dominant_color")
    )
    write_semicolon_csv(colors_out, f"{out_dir}/results_dominant")

    hist = colors.groupBy(F.to_json("dom").alias("dominant_color")).agg(
        F.count("*").alias("count")
    )
    write_semicolon_csv(hist, f"{out_dir}/color_histogram", "dominant_color")

    # nearest-primary (P10): Euclidean argmin over parameterized
    # centroids, ties → lowest index (pyspark_dominant.py:115-117)
    dom = [F.element_at("dom", k + 1) for k in range(3)]
    primary_hist = (
        nearest_centroid(colors, dom, centroids, alias="closest_primary")
        .groupBy("closest_primary")
        .agg(F.count("*").alias("count"))
    )
    write_semicolon_csv(primary_hist, f"{out_dir}/closest_primary", "closest_primary")
    return colors_out, hist, primary_hist


def run_stats_pipeline(
    spark: SparkSession,
    per_landmark: DataFrame,
    names: DataFrame,
    out_dir: str,
    keywords: list[str],
    class_of_interest: int = 16,
) -> dict[str, DataFrame]:
    """pyspark_stats.py's five stats as ONE grouped aggregation over the
    per-landmark table joined once to the broadcast name dim (J1).
    ``names`` is (landmark_id, name). The class measure is extracted
    from the sorted-entry predictions_sum string with .get(k, 0)
    default semantics (P2, pyspark_stats.py:56-59)."""
    # regexp_extract yields '' on no match; try_cast (not cast) because
    # ANSI mode — Spark 4's default — makes ''::bigint an error, and the
    # .get(k, 0) default semantics want 0 there
    cls = F.coalesce(
        F.regexp_extract(
            "predictions_sum", rf"(?:^|,){class_of_interest}:(\d+)", 1
        ).try_cast("bigint"),
        F.lit(0),
    )
    name = F.col("name")

    def tag(kind: str, key: Column, keep: Column | None = None) -> Column:
        keep = F.lit(True) if keep is None else keep
        return F.struct(F.lit(kind).alias("kind"), key.alias("key"), keep.alias("keep"))

    # each name row counts toward one group per stat it falls in: its
    # first letter (stat 1, pyspark_stats.py:73-99), every keyword its
    # name contains (stat 2, J5, :101-123), all places and the 'people'
    # places, matched case-insensitively (stat 3, :125-153), and its
    # name-length bucket (stat 4, :156-200). A NULL name has a NULL
    # letter, matches no keyword and no 'people', and buckets over_20.
    tags = F.filter(
        F.array(
            tag("letter", first_letter(name)),
            tag("bucket", length_bucket(name, 10, 20)),
            tag("people", F.lit("avg_all")),
            tag("people", F.lit("avg_people_places"), name.rlike("(?i)people")),
            *[tag("city", F.lit(k), name.contains(k)) for k in dict.fromkeys(keywords)],
        ),
        lambda t: t.keep,
    )
    # a NULL row per people measure: both are reported, NULL when no
    # place qualifies, as a global aggregate over no rows reports them
    seeds = local_frame(
        spark,
        [("people", "avg_all", None, None), ("people", "avg_people_places", None, None)],
        "kind string, key string, files bigint, class_cnt bigint",
    )
    # materialized here, whatever lineage the caller's per_landmark has:
    # the five sinks below all read this one small frame, and each is a
    # filter of its one (kind, key)-sorted partition, so no sink sorts
    groups = (
        per_landmark.join(F.broadcast(names), "landmark_id")
        .select(
            F.explode(tags).alias("t"),
            F.col("image_count").cast("bigint").alias("files"),
            cls.alias("class_cnt"),
        )
        .select("t.kind", "t.key", "files", "class_cnt")
        .unionByName(seeds)
        .groupBy("kind", "key")
        .agg(
            F.sum("files").alias("files"),
            zero_guard_div(F.sum("class_cnt"), F.sum("files")).alias("avg"),
        )
        .coalesce(1)
        .sortWithinPartitions("kind", "key")
        .localCheckpoint()
    )

    def stat(kind: str, key: str, *cols) -> DataFrame:
        return groups.where(F.col("kind") == kind).select(F.col("key").alias(key), *cols)

    # Sink schemas below are pinned BYTE-FOR-BYTE to the reference's
    # golden files (stats_bckp/ — asserted by tests/test_pipelines.py):
    # alphabet_count + alphabet_count_avg both use `letter;count`
    # (stats_bckp/stats/alphabet_count{,_avg}/0.csv:1), the keyword stat
    # uses `city;avg_detections` (stats_bckp/stats/avg_obj_per_city/
    # 0.csv:1), buckets use `length_of_landmark_name;avg_detections`
    # with `*_chars` bucket names (stats_bckp/dogs_by_name_length/
    # 16.csv:1-2), and the people stat is the long `files considered;
    # avg_detections` form (stats_bckp/people_in_places_with_people/
    # 0.csv:1-3). Returned DataFrames keep the richer combined schemas.
    alphabet = stat(
        "letter", "letter", F.col("files").alias("count"), F.col("avg").alias("avg_count")
    )
    write_semicolon_csv(alphabet.select("letter", "count"), f"{out_dir}/alphabet_count")
    write_semicolon_csv(
        alphabet.select("letter", F.col("avg_count").alias("count")),
        f"{out_dir}/alphabet_count_avg",
    )

    per_kw = stat("city", "kw", F.col("avg").alias("avg_detections"))
    write_semicolon_csv(
        per_kw.select(F.col("kw").alias("city"), "avg_detections"),
        f"{out_dir}/avg_obj_per_city",
    )

    people_long = stat("people", "files considered", F.col("avg").alias("avg_detections"))
    write_semicolon_csv(people_long, f"{out_dir}/people_in_places_with_people")
    people = people_long.agg(
        *(
            F.max(F.when(F.col("files considered") == k, F.col("avg_detections"))).alias(k)
            for k in ("avg_all", "avg_people_places")
        )
    )

    buckets = stat("bucket", "bucket", F.col("avg").alias("avg_count"))
    write_semicolon_csv(
        buckets.select(
            F.concat("bucket", F.lit("_chars")).alias("length_of_landmark_name"),
            F.col("avg_count").alias("avg_detections"),
        ),
        f"{out_dir}/dogs_by_name_length",
    )

    return {
        "alphabet": alphabet,
        "keywords": per_kw,
        "people": people,
        "buckets": buckets,
    }
