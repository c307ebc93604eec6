"""Integration test of the reference-equivalent pipelines: build a tiny
deterministic image corpus + label dims on disk, run all three pipelines
end-to-end (binary scan → UDF stages → aggregations → CSV sinks), and
cross-check key values against direct computation."""

from __future__ import annotations

import glob
import json
import pstats
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.images.codec import encode_image
from bigdata_imgprocessing_spark.images.color import _avg_color, _kmeans_dominant
from bigdata_imgprocessing_spark.images.detect import SCORE_THRESHOLD, _detections_for_id
from bigdata_imgprocessing_spark.images.jpeg import encode_jpeg
from bigdata_imgprocessing_spark.pipelines import (
    run_color_pipeline,
    run_detection_pipeline,
    run_stats_pipeline,
)

CENTROIDS = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255), (128, 128, 128)]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    img_dir = root / "images"
    img_dir.mkdir()
    rng = np.random.default_rng(42)
    n = 12
    for i in range(n):
        img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        (img_dir / f"img{i}.fimg").write_bytes(encode_image(img))
    return root, n


@pytest.fixture(scope="module")
def dims(spark, corpus):
    _, n = corpus
    labels = spark.createDataFrame(
        [(f"img{i}", f"lm{i % 4}") for i in range(n)], "id string, landmark_id string"
    )
    names = spark.createDataFrame(
        [
            ("lm0", "Alpha people square"),
            ("lm1", "Beta spark plaza with a very long name"),
            ("lm2", "Gamma"),
            ("lm3", "Delta People park"),
        ],
        "landmark_id string, name string",
    )
    return labels, names


def test_detection_pipeline(spark, corpus, dims, tmp_path):
    (root, n), (labels, names) = corpus, dims
    out = str(tmp_path / "det_out")
    per_image, per_landmark = run_detection_pipeline(
        spark, str(root / "images"), labels, out
    )
    rows = {r.id: r.predictions for r in per_image.collect()}
    assert len(rows) == n  # every image present, including no-detection ones
    # cross-check one image against the stub detector directly
    some_id = "img3"
    expected = {}
    for d in _detections_for_id(some_id):
        if d["score"] > SCORE_THRESHOLD:
            expected[d["class_id"]] = expected.get(d["class_id"], 0) + 1
    expected_str = ",".join(f"{k}:{v}" for k, v in sorted(expected.items()))
    assert rows[some_id] == expected_str
    # per-landmark: image_count must be 3 per landmark (12 imgs / 4 lms)
    lm = {r.landmark_id: r.image_count for r in per_landmark.collect()}
    assert all(v == 3 for v in lm.values())
    assert glob.glob(f"{out}/results_predictions/part-*.csv")
    assert glob.glob(f"{out}/results_predictions_per_class/part-*.csv")


def test_color_pipeline(spark, corpus, tmp_path):
    root, n = corpus
    out = str(tmp_path / "color_out")
    colors, hist, primary = run_color_pipeline(spark, str(root / "images"), out, CENTROIDS)
    assert colors.count() == n
    assert hist.agg(F.sum("count")).collect()[0][0] == n
    prim = primary.collect()
    assert sum(r["count"] for r in prim) == n
    assert all(0 <= r.closest_primary < 6 for r in prim)
    assert glob.glob(f"{out}/results_dominant/part-*.csv")


def test_stats_pipeline(spark, corpus, dims, tmp_path):
    (root, n), (labels, names) = corpus, dims
    out = str(tmp_path / "stats_out")
    _, per_landmark = run_detection_pipeline(
        spark, str(root / "images"), labels, str(tmp_path / "det2")
    )
    stats = run_stats_pipeline(
        spark, per_landmark, names, out, keywords=["spark", "people", "park"]
    )
    letters = {r.letter: r for r in stats["alphabet"].collect()}
    assert set(letters) == {"A", "B", "G", "D"}
    assert all(r["count"] == 3 for r in letters.values())  # image_count sums
    people = stats["people"].collect()[0]
    assert people.avg_all is not None and people.avg_people_places is not None
    buckets = {r.bucket for r in stats["buckets"].collect()}
    assert buckets == {"under_10", "between_10_and_20", "over_20"}
    assert glob.glob(f"{out}/alphabet_count/part-*.csv")


def _csv_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    for p in sorted(glob.glob(f"{out_dir}/part-*.csv")):
        lines.extend(open(p).read().strip().splitlines())
    # every part file repeats the header; keep the first, drop the rest
    header = lines[0]
    return [header] + [l for l in lines[1:] if l != header]


def test_stats_golden_file_shapes(spark, corpus, dims, tmp_path):
    """Pin the K1 CSV sink schemas to the reference's golden files
    (stats_bckp/): header strings and value shapes must match what a
    reference user's downstream tooling (plots.py:21,33,45) parses."""
    (root, n), (labels, names) = corpus, dims
    out = str(tmp_path / "golden_out")
    _, per_landmark = run_detection_pipeline(
        spark, str(root / "images"), labels, str(tmp_path / "det3")
    )
    run_stats_pipeline(spark, per_landmark, names, out, keywords=["spark", "people"])

    # stats_bckp/stats/alphabet_count/0.csv:1 — letter;count, int counts
    ac = _csv_lines(f"{out}/alphabet_count")
    assert ac[0] == "letter;count"
    for line in ac[1:]:
        letter, cnt = line.split(";")
        assert len(letter) == 1 and cnt == str(int(cnt))

    # stats_bckp/stats/alphabet_count_avg/0.csv:1 — letter;count, floats
    aca = _csv_lines(f"{out}/alphabet_count_avg")
    assert aca[0] == "letter;count"
    assert all(float(l.split(";")[1]) >= 0 for l in aca[1:])

    # stats_bckp/stats/avg_obj_per_city/0.csv:1 — city;avg_detections
    city = _csv_lines(f"{out}/avg_obj_per_city")
    assert city[0] == "city;avg_detections"

    # stats_bckp/dogs_by_name_length/16.csv — *_chars bucket names
    dog = _csv_lines(f"{out}/dogs_by_name_length")
    assert dog[0] == "length_of_landmark_name;avg_detections"
    assert {l.split(";")[0] for l in dog[1:]} <= {
        "under_10_chars", "between_10_and_20_chars", "over_20_chars"
    }

    # stats_bckp/people_in_places_with_people/0.csv — long form
    ppl = _csv_lines(f"{out}/people_in_places_with_people")
    assert ppl[0] == "files considered;avg_detections"
    assert {l.split(";")[0] for l in ppl[1:]} == {"avg_all", "avg_people_places"}


def _job_count(spark, group: str, fn) -> int:
    """Spark jobs that ``fn`` started, run under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _decode_count(spark, dump_dir: str, fn) -> int:
    """``decode_image`` calls made inside Python UDFs while ``fn`` ran,
    summed over every Python worker (the perf UDF profiler's stats)."""
    spark.profile.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        fn()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear()
    return sum(
        ncalls
        for path in glob.glob(f"{dump_dir}/*.pstats")
        for (_, _, func), (_, ncalls, *_) in pstats.Stats(path).stats.items()
        if func == "decode_image"
    )


def test_detection_pipeline_job_count(spark, corpus, dims, tmp_path):
    """Per-image counts are row-local over the one detector pass, and
    per_landmark is one join to the labels plus one grouping."""
    (root, n), (labels, names) = corpus, dims
    jobs = _job_count(
        spark,
        "test_detection_pipeline_job_count",
        lambda: run_detection_pipeline(spark, str(root / "images"), labels, str(tmp_path / "det")),
    )
    assert jobs <= 8


def test_stats_pipeline_job_count(spark, corpus, dims, tmp_path):
    """The five stats are one grouped aggregation, materialized once,
    and the five sinks read it without a further shuffle."""
    (root, n), (labels, names) = corpus, dims
    _, per_landmark = run_detection_pipeline(
        spark, str(root / "images"), labels, str(tmp_path / "det")
    )
    jobs = _job_count(
        spark,
        "test_stats_pipeline_job_count",
        lambda: run_stats_pipeline(
            spark, per_landmark, names, str(tmp_path / "stats"), keywords=["spark", "people"]
        ),
    )
    assert jobs <= 10


def test_color_pipeline_decodes_each_image_once(spark, corpus, tmp_path):
    """One decode per image feeds both colour features and all three
    sinks (four per image when each sink re-ran both feature UDFs)."""
    root, n = corpus
    decodes = _decode_count(
        spark,
        str(tmp_path / "profile"),
        lambda: run_color_pipeline(spark, str(root / "images"), str(tmp_path / "out"), CENTROIDS),
    )
    assert decodes == n


def test_color_features_match_single_feature_helpers(spark, tmp_path):
    """results_dominant carries exactly the per-image helpers' values,
    for colour and grayscale (2-D decode) images alike."""
    img_dir = tmp_path / "images"
    img_dir.mkdir()
    rng = np.random.default_rng(7)
    bufs = {
        f"rgb{i}": encode_image(rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8))
        for i in range(4)
    }
    bufs["jpeg"] = encode_jpeg(rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8))
    gray = np.tile(np.arange(0, 256, 16, dtype=np.uint8), (16, 1))
    bufs["gray"] = encode_jpeg(gray)
    for name, buf in bufs.items():
        (img_dir / f"{name}.fimg").write_bytes(buf)
    out = str(tmp_path / "out")
    run_color_pipeline(spark, str(img_dir), out, CENTROIDS)
    rows = [line.split(";") for line in _csv_lines(f"{out}/results_dominant")]
    assert rows[0] == ["id", "average_color", "dominant_color"]
    got = {r[0]: (json.loads(r[1]), json.loads(r[2])) for r in rows[1:]}
    assert got == {k: (_avg_color(b), _kmeans_dominant(b)) for k, b in bufs.items()}


def test_returned_frames_survive_clear_cache(spark, corpus, dims, tmp_path):
    """The pipelines' returned frames read materialized results that a
    harness-level clearCache() + JVM GC between operations must not
    drop; stats runs on a per_landmark from a detect call made before."""
    (root, n), (labels, names) = corpus, dims
    images = str(root / "images")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def run_stats(per_landmark, out):
        stats = run_stats_pipeline(
            spark, per_landmark, names, str(tmp_path / out), keywords=["spark", "people"]
        )
        return {k: rows(v) for k, v in stats.items()}

    frames = [
        *run_detection_pipeline(spark, images, labels, str(tmp_path / "det")),
        *run_color_pipeline(spark, images, str(tmp_path / "color"), CENTROIDS),
    ]
    before = [rows(df) for df in frames]
    stats_before = run_stats(frames[1], "stats_before")

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    assert [rows(df) for df in frames] == before
    assert run_stats(frames[1], "stats_after") == stats_before


def _csv_files(out_dir) -> dict[str, list[bytes]]:
    """Each CSV output dir under ``out_dir``: its part files' bytes in
    part order."""
    got: dict[str, list[bytes]] = {}
    for p in sorted(out_dir.rglob("part-*.csv")):
        got.setdefault(p.parent.relative_to(out_dir).as_posix(), []).append(p.read_bytes())
    return got


def test_pipelines_write_identical_csvs_in_a_second_session(spark, corpus, dims, tmp_path):
    """Each reference pipeline (detect, stats, colour) writes
    byte-identical CSVs when it runs twice in one session and once more
    in ``spark.newSession()``, which has its own SQL conf, temp views and
    UDF registry: no localCheckpoint lineage or session-keyed state
    carries over between runs."""
    (root, n), (labels, names) = corpus, dims
    images = str(root / "images")

    def run_all(session, tag: str) -> dict[str, list[bytes]]:
        out = tmp_path / tag
        lab = session.createDataFrame(labels.collect(), labels.schema)
        nam = session.createDataFrame(names.collect(), names.schema)
        _, per_landmark = run_detection_pipeline(session, images, lab, str(out / "det"))
        run_stats_pipeline(
            session, per_landmark, nam, str(out / "stats"), keywords=["spark", "people"]
        )
        run_color_pipeline(session, images, str(out / "color"), CENTROIDS)
        return _csv_files(out)

    first = run_all(spark, "first")
    assert {d.split("/")[0] for d in first} == {"det", "stats", "color"}
    assert run_all(spark, "again") == first
    # the fixture narrows shuffle partitions at run time, which a new
    # session does not inherit: the grouped reports must not follow it
    assert run_all(spark.newSession(), "new_session") == first


def test_cache_root_tracks_every_table(spark, tmp_path):
    """The /tmp store root token must change when ANY source parquet changes
    (r4 advisor: the old token only fingerprinted embeddings, so a
    regenerated events table silently served a stale Z-order copy)."""
    import os
    import shutil

    from bigdata_imgprocessing_spark.core.fs import store_root

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in ("embeddings", "events", "documents"):
        (sf / f"{name}.parquet").write_bytes(b"x" * 10)
    t0 = store_root(spark, str(sf), "bdip_pipeline")
    # touch ONLY events (different mtime): token must move
    os.utime(sf / "events.parquet", (1, 1))
    t1 = store_root(spark, str(sf), "bdip_pipeline")
    assert t0 != t1
    # size change on documents: token must move again
    (sf / "documents.parquet").write_bytes(b"y" * 11)
    t2 = store_root(spark, str(sf), "bdip_pipeline")
    assert t2 not in (t0, t1)
    shutil.rmtree(sf)


# Edge cases pinned against a driver-side recompute of the reference
# semantics: duplicate label rows count once in image_count but add
# their detections once per row; landmarks with no detection above the
# threshold have no per-class row; names match "people" in any case.

EDGE_LABELS = [
    ("img1", "lmA"), ("img3", "lmA"), ("img3", "lmA"), ("img10", "lmA"),
    ("img0", "lmB"), ("img4", "lmB"), ("img6", "lmB"),
    ("img7", "lmC"), ("img11", "lmC"), ("img1", "lmC"),
    ("img8", "lmD"), ("ghost", "lmD"),
    ("img2", "lmE"), ("img5", "lmF"), ("img9", "lmG"),
]
EDGE_NAMES = [
    ("lmA", "Volkspark PEOPLE Friedrichshain"),
    ("lmB", "Bergen"),
    ("lmC", "Café People"),
    ("lmD", None),
    ("lmE", "Øresund Bridge"),
    ("lmF", "peoplesquare"),
    ("lmG", "Ṗeople"),
    ("lmX", "Unlabelled"),
]
PLAIN_NAMES = [("lmA", "Alpha"), ("lmC", "Charlie"), ("lmE", "Echo"), ("lmF", "Foxtrot")]


def _zg(num: int, den: int) -> float:
    """``zero_guard_div``: 0 on a zero denominator, else half-up at 4
    places of the quotient's shortest decimal form."""
    if den == 0:
        return 0.0
    return float(Decimal(repr(num / den)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _expected_detection(ids: list[str], labels: list[tuple]) -> tuple[dict, dict]:
    counts = {}
    for i in ids:
        c: dict[int, int] = {}
        for d in _detections_for_id(i):
            if d["score"] > SCORE_THRESHOLD:
                c[d["class_id"]] = c.get(d["class_id"], 0) + 1
        counts[i] = c
    members: dict[str, set] = {}
    sums: dict[str, dict[int, int]] = {}
    for img, lm in labels:
        if img in counts:
            members.setdefault(lm, set()).add(img)
            for k, v in counts[img].items():
                sums.setdefault(lm, {})[k] = sums.get(lm, {}).get(k, 0) + v
    per_class = {lm: (len(members[lm]), s) for lm, s in sums.items()}
    return counts, per_class


def _expected_stats(per_class: dict, names: list[tuple], keywords: list[str], cls: int) -> dict:
    base = [
        (name, n, s.get(cls, 0))
        for lm_n, name in names
        for lm, (n, s) in per_class.items()
        if lm == lm_n
    ]

    def avg(rows):
        return _zg(sum(r[2] for r in rows), sum(r[1] for r in rows)) if rows else None

    def bucket(name):
        if name is None or len(name) > 20:
            return "over_20"
        return "under_10" if len(name) < 10 else "between_10_and_20"

    def letter(name):
        return None if name is None else name[:1]

    letters = {letter(r[0]): [q for q in base if letter(q[0]) == letter(r[0])] for r in base}
    people = [r for r in base if r[0] is not None and "people" in r[0].lower()]
    return {
        "alphabet_count": {k: sum(r[1] for r in rows) for k, rows in letters.items()},
        "alphabet_count_avg": {k: avg(rows) for k, rows in letters.items()},
        "avg_obj_per_city": {
            k: avg([r for r in base if r[0] is not None and k in r[0]])
            for k in keywords
            if any(r[0] is not None and k in r[0] for r in base)
        },
        "people_in_places_with_people": {"avg_all": avg(base), "avg_people_places": avg(people)},
        "dogs_by_name_length": {
            f"{b}_chars": avg([r for r in base if bucket(r[0]) == b])
            for b in {bucket(r[0]) for r in base}
        },
    }


def _csv_table(out_dir: str) -> dict:
    """``key -> value`` of a two-column sink; NULL and '' read as None."""
    rows = [line.split(";") for line in _csv_lines(out_dir)[1:]]
    val = {k.strip('"') or None: (v or None) for k, v in rows}
    assert len(val) == len(rows), rows
    return val


@pytest.fixture(scope="module")
def edge_detection(spark, corpus, tmp_path_factory):
    root, n = corpus
    out = str(tmp_path_factory.mktemp("edge_det"))
    labels = spark.createDataFrame(EDGE_LABELS, "id string, landmark_id string")
    per_image, per_landmark = run_detection_pipeline(spark, str(root / "images"), labels, out)
    return out, per_image, per_landmark, _expected_detection([f"img{i}" for i in range(n)], EDGE_LABELS)


def test_detection_edge_cases_match_recompute(edge_detection):
    out, per_image, per_landmark, (counts, per_class) = edge_detection
    want_pred = {i: ",".join(f"{k}:{v}" for k, v in sorted(c.items())) for i, c in counts.items()}
    assert want_pred["img0"] == want_pred["img4"] == ""  # zero detections above threshold
    assert {r.id: r.predictions for r in per_image.collect()} == want_pred
    csv_pred = {r.split(";")[0]: r.split(";")[1] for r in _csv_lines(f"{out}/results_predictions")[1:]}
    assert {k: v.strip('"') for k, v in csv_pred.items()} == want_pred

    def entries(s):
        return {int(k): float(v) for k, v in (e.split(":") for e in s.split(","))}

    assert "lmB" not in per_class and per_class["lmA"][0] == 3
    want = {
        lm: (n, {k: float(v) for k, v in s.items()}, {k: _zg(v, n) for k, v in s.items()})
        for lm, (n, s) in per_class.items()
    }
    got = {
        r.landmark_id: (r.image_count, entries(r.predictions_sum), entries(r.averages))
        for r in per_landmark.collect()
    }
    assert got == want
    rows = [line.split(";") for line in _csv_lines(f"{out}/results_predictions_per_class")[1:]]
    assert {r[0]: (int(r[1]), entries(r[2]), entries(r[3])) for r in rows} == want


@pytest.mark.parametrize(
    "names, keywords",
    [
        (EDGE_NAMES, ["park", "Bridge", "Bridge", "People", "nomatch"]),
        (PLAIN_NAMES, []),
    ],
    ids=["people_nonascii_null_dupkw", "no_people_no_keywords"],
)
def test_stats_edge_cases_match_recompute(spark, edge_detection, tmp_path, names, keywords):
    _, _, per_landmark, (_, per_class) = edge_detection
    cls = 35
    out = str(tmp_path / "stats")
    stats = run_stats_pipeline(
        spark, per_landmark,
        spark.createDataFrame(names, "landmark_id string, name string"),
        out, keywords=keywords, class_of_interest=cls,
    )
    want = _expected_stats(per_class, names, keywords, cls)
    for sink, expected in want.items():
        got = _csv_table(f"{out}/{sink}")
        if sink == "alphabet_count":
            got = {k: int(v) for k, v in got.items()}
        else:
            got = {k: None if v is None else float(v) for k, v in got.items()}
        assert got == expected, sink
    people = stats["people"].collect()[0]
    assert (people.avg_all, people.avg_people_places) == tuple(
        want["people_in_places_with_people"].values()
    )
    if names is PLAIN_NAMES:
        assert want["people_in_places_with_people"]["avg_people_places"] is None
