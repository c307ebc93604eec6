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

- detection: the detector output per image, read by the counts, the
  right join that keeps no-detection images and the label semi-join;
  and ``per_landmark``, which is then written and returned;
- colour: one fused UDF per image (one decode for both features),
  read by the three sinks;
- stats: ``base``, one row per landmark after the name join, read by
  the five sinks, whatever lineage the caller's ``per_landmark`` has.

Local checkpoints are not cached tables, so a harness-level
``clearCache()`` leaves them in place, and the frames returned to the
caller carry a short lineage. Jobs per call on six 120x160 JPEGs
(perfbench ``image_pipeline``, 4 cores): detection 15 (12-13 before),
stats 13 (55-56), colour 6 (5); the colour pipeline sends the corpus
bytes to Python once (3.1x before).

Differences by design (SURVEY.md §2.12): typed schemas instead of
all-string CSV; real map/array columns serialized as sorted entry
strings / JSON only at the CSV boundary; single groupBy per stat; no
collect-then-parallelize round trips; model inference is the
deterministic stub slotting into predict_batch_udf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import first_letter, length_bucket, zero_guard_div
from ..images.color import color_features_udf
from ..images.detect import SCORE_THRESHOLD, detect_udf
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
    (semi-join prune) → per-landmark sums/averages. ``labels`` is the
    (id, landmark_id) dimension (train_labels.csv shape)."""
    # the one detector pass; the counts, the id list of the right join
    # and the semi-join below all read it
    dets = (
        _image_ids(spark, images_dir)
        .select("id", detect_udf("id").alias("dets"))
        .localCheckpoint()
    )
    ids = dets.select("id")
    counted = (
        dets.select("id", F.explode("dets").alias("det"))
        .where(F.col("det.score") > SCORE_THRESHOLD)
        .groupBy("id", F.col("det.class_id").alias("class_id"))
        .agg(F.count("*").alias("cnt"))
    )
    # per-image predictions table (results_predictions,
    # pyspark_yolox.py:137-140); '' for no detections like the '{}' rows
    per_image = (
        counted.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("class_id", "cnt"))),
                    lambda s: F.concat_ws(":", s.class_id, s.cnt),
                ),
                ",",
            ).alias("predictions")
        )
        .join(ids, "id", "right")
        .select("id", F.coalesce("predictions", F.lit("")).alias("predictions"))
    )
    write_semicolon_csv(per_image, f"{out_dir}/results_predictions")

    # per-landmark aggregation (count_objects, pyspark_yolox.py:151-176):
    # image_count + per-class sums + zero-guarded per-class averages,
    # restricted to landmarks present in predictions (J3 semi-join prune)
    labeled = counted.join(labels, "id")
    image_counts = (
        labels.join(ids, "id", "left_semi")
        .groupBy("landmark_id")
        .agg(F.count_distinct("id").alias("image_count"))
    )
    sums = labeled.groupBy("landmark_id", "class_id").agg(F.sum("cnt").alias("class_sum"))
    per_landmark = (
        sums.join(image_counts, "landmark_id")
        .groupBy("landmark_id", "image_count")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("class_id", "class_sum"))),
                    lambda s: F.concat_ws(":", s.class_id, s.class_sum),
                ),
                ",",
            ).alias("predictions_sum"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "class_id",
                                zero_guard_div(
                                    F.col("class_sum"), F.col("image_count")
                                ).alias("avg"),
                            )
                        )
                    ),
                    lambda s: F.concat_ws(":", s.class_id, s.avg),
                ),
                ",",
            ).alias("averages"),
        )
        .select("landmark_id", "image_count", "predictions_sum", "averages")
        .localCheckpoint()
    )
    write_semicolon_csv(per_landmark, f"{out_dir}/results_predictions_per_class")
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
    write_semicolon_csv(hist, f"{out_dir}/color_histogram")

    # nearest-primary (P10): Euclidean argmin over parameterized
    # centroids, ties → lowest index (pyspark_dominant.py:115-117)
    dists = [
        sum((F.element_at("dom", k + 1) - F.lit(c[k])) ** 2 for k in range(3)).alias(f"d{i}")
        for i, c in enumerate(centroids)
    ]
    d = colors.select("id", *dists)
    idx = None
    names = [f"d{i}" for i in range(len(centroids))]
    for i in range(len(centroids) - 1):
        rest = [F.col(n) for n in names[i + 1 :]]
        floor_rest = rest[0] if len(rest) == 1 else F.least(*rest)
        cond = F.col(names[i]) <= floor_rest
        idx = F.when(cond, i) if idx is None else idx.when(cond, i)
    idx = idx.otherwise(len(centroids) - 1)
    primary_hist = d.select(idx.alias("closest_primary")).groupBy("closest_primary").agg(
        F.count("*").alias("count")
    )
    write_semicolon_csv(primary_hist, f"{out_dir}/closest_primary")
    return colors_out, hist, primary_hist


def run_stats_pipeline(
    spark: SparkSession,
    per_landmark: DataFrame,
    names: DataFrame,
    out_dir: str,
    keywords: list[str],
    class_of_interest: int = 16,
) -> dict[str, DataFrame]:
    """pyspark_stats.py's five stats, each as ONE query over the
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
    # materialized here, whatever lineage the caller's per_landmark has:
    # the five sinks below all read this one frame
    base = (
        per_landmark.join(F.broadcast(names), "landmark_id")
        .select(
            "landmark_id",
            "name",
            F.col("image_count").cast("bigint").alias("files"),
            cls.alias("class_cnt"),
        )
        .localCheckpoint()
    )

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

    # stat 1: per first letter (pyspark_stats.py:73-99) — was 156 jobs
    alphabet = base.groupBy(first_letter(F.col("name")).alias("letter")).agg(
        F.sum("files").alias("count"),
        zero_guard_div(F.sum("class_cnt"), F.sum("files")).alias("avg_count"),
    )
    write_semicolon_csv(alphabet.select("letter", "count"), f"{out_dir}/alphabet_count")
    write_semicolon_csv(
        alphabet.select("letter", F.col("avg_count").alias("count")),
        f"{out_dir}/alphabet_count_avg",
    )

    # stat 2: per keyword/"city" substring (J5, :101-123)
    kw_dim = F.broadcast(spark.createDataFrame([(k,) for k in keywords], "kw string"))
    per_kw = (
        base.crossJoin(kw_dim)
        .where(F.col("name").contains(F.col("kw")))
        .groupBy("kw")
        .agg(zero_guard_div(F.sum("class_cnt"), F.sum("files")).alias("avg_detections"))
    )
    write_semicolon_csv(
        per_kw.select(F.col("kw").alias("city"), "avg_detections"),
        f"{out_dir}/avg_obj_per_city",
    )

    # stat 3: global vs 'people'-subset ratios in ONE pass (:125-153)
    has = F.lower(F.col("name")).contains("people")
    people = base.agg(
        zero_guard_div(F.sum("class_cnt"), F.sum("files")).alias("avg_all"),
        zero_guard_div(
            F.sum(F.when(has, F.col("class_cnt"))), F.sum(F.when(has, F.col("files")))
        ).alias("avg_people_places"),
    )
    people_long = people.unpivot(
        [], ["avg_all", "avg_people_places"], "files considered", "avg_detections"
    )
    write_semicolon_csv(people_long, f"{out_dir}/people_in_places_with_people")

    # stat 4: name-length buckets (:156-200)
    buckets = base.groupBy(length_bucket(F.col("name"), 10, 20).alias("bucket")).agg(
        zero_guard_div(F.sum("class_cnt"), F.sum("files")).alias("avg_count")
    )
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
