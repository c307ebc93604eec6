"""Output checks. They run outside the timed region and count into the
run's ``failed`` total.

Registry queries are compared with their DuckDB ``ORACLES`` entry using
the normalisation of ``tests/test_oracle_parity.py``. The image pipeline
CSVs are compared with a driver-side recompute from ``decode_image``,
the colour k-means and ``_detections_for_id``.
"""

from __future__ import annotations

import glob
import json
import math
import sys
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    from tests.test_oracle_parity import _duck

    con = _duck(sf_dir)
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def same_result(scols, srows, dcols, drows) -> bool:
    """Column names, row count and normalised values all match."""
    from tests.test_oracle_parity import _normalize

    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return False
    return _normalize(srows, scols) == _normalize(drows, dcols)


def read_csv(out_dir: str) -> list[list[str]]:
    """Rows of a headered ``;`` CSV directory, header first (each part
    file repeats it)."""
    rows: list[list[str]] = []
    for path in sorted(glob.glob(f"{out_dir}/part-*.csv")):
        with open(path) as fh:
            lines = [[_unquote(f) for f in ln.split(";")] for ln in fh.read().splitlines()]
        if lines:
            rows = rows or lines[:1]
            rows += lines[1:]
    return rows


def _unquote(field: str) -> str:
    return field[1:-1] if len(field) >= 2 and field[0] == field[-1] == '"' else field


def _r4(x: float) -> float:
    """``zero_guard_div``'s rounding: half-up at 4 places of the
    shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _floats_close(a, b) -> bool:
    return len(a) == len(b) and all(_close(float(x), float(y)) for x, y in zip(a, b))


def expected_image_outputs(corpus: dict, centroids, keywords, class_id: int) -> dict:
    """Recompute every reference-pipeline output on the driver."""
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import decode_image
    from bigdata_imgprocessing_spark.images.color import _kmeans_dominant
    from bigdata_imgprocessing_spark.images.detect import (
        SCORE_THRESHOLD,
        _detections_for_id,
    )

    counts: dict[str, dict[int, int]] = {}
    colors: dict[str, tuple[list[float], list[int]]] = {}
    for img_id in corpus["ids"]:
        c: dict[int, int] = defaultdict(int)
        for d in _detections_for_id(img_id):
            if d["score"] > SCORE_THRESHOLD:
                c[d["class_id"]] += 1
        counts[img_id] = dict(c)
        with open(f"{corpus['images_dir']}/{img_id}.fimg", "rb") as fh:
            buf = fh.read()
        px = decode_image(buf).astype(np.float64)
        avg = [float(v) for v in px.reshape(-1, px.shape[2]).mean(axis=0)]
        colors[img_id] = (avg, _kmeans_dominant(buf))

    label = dict(corpus["labels"])
    image_count: dict[str, int] = defaultdict(int)
    sums: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for img_id, lm in label.items():
        image_count[lm] += 1
        for k, v in counts[img_id].items():
            sums[lm][k] += v
    per_class = {
        lm: (image_count[lm], dict(s)) for lm, s in sums.items() if s
    }

    names = dict(corpus["names"])
    base = [
        (names[lm], n, s.get(class_id, 0))
        for lm, (n, s) in per_class.items()
        if lm in names
    ]

    def avg(rows):
        f = sum(r[1] for r in rows)
        return _r4(sum(r[2] for r in rows) / f) if f else 0.0

    letters = defaultdict(list)
    buckets = defaultdict(list)
    for r in base:
        letters[r[0][0]].append(r)
        n = len(r[0])
        buckets["under_10" if n < 10 else "over_20" if n > 20 else "between_10_and_20"].append(r)
    people = [r for r in base if "people" in r[0].lower()]

    dominant = defaultdict(int)
    closest = defaultdict(int)
    for _, dom in colors.values():
        dominant[tuple(dom)] += 1
        d = [sum((dom[k] - c[k]) ** 2 for k in range(3)) for c in centroids]
        closest[d.index(min(d))] += 1
    return {
        "counts": counts,
        "per_class": per_class,
        "colors": colors,
        "dominant": dict(dominant),
        "closest": dict(closest),
        "alphabet": {k: (sum(r[1] for r in v), avg(v)) for k, v in letters.items()},
        "keywords": {k: avg([r for r in base if k in r[0]]) for k in keywords
                     if any(k in r[0] for r in base)},
        "people": (avg(base), avg(people) if people else None),
        "buckets": {k: avg(v) for k, v in buckets.items()},
    }


def _entries(s: str) -> dict[int, float]:
    return {int(k): float(v) for k, v in (e.split(":") for e in s.split(",") if e)}


def image_output_failures(out: str, exp: dict) -> list[str]:
    """Names of the pipeline output tables under ``out`` that differ
    from the recompute ``exp``."""
    bad = []

    def check(name, ok):
        try:
            if not ok():
                bad.append(name)
        except (KeyError, ValueError, IndexError, TypeError):
            bad.append(name)

    def predictions():
        rows = read_csv(f"{out}/det/results_predictions")[1:]
        got = {r[0]: _entries(r[1] if len(r) > 1 else "") for r in rows}
        return got == {k: {c: float(n) for c, n in v.items()} for k, v in exp["counts"].items()}

    def per_class():
        rows = read_csv(f"{out}/det/results_predictions_per_class")[1:]
        got = {r[0]: (int(r[1]), _entries(r[2]), _entries(r[3])) for r in rows}
        want = {
            lm: (n, {k: float(v) for k, v in s.items()}, {k: _r4(v / n) for k, v in s.items()})
            for lm, (n, s) in exp["per_class"].items()
        }
        return got.keys() == want.keys() and all(
            got[k][0] == want[k][0]
            and got[k][1] == want[k][1]
            and got[k][2].keys() == want[k][2].keys()
            and all(_close(got[k][2][c], want[k][2][c]) for c in want[k][2])
            for k in want
        )

    def dominant():
        rows = read_csv(f"{out}/color/results_dominant")[1:]
        got = {r[0]: (json.loads(r[1]), json.loads(r[2])) for r in rows}
        return got.keys() == exp["colors"].keys() and all(
            _floats_close(got[k][0], exp["colors"][k][0]) and got[k][1] == exp["colors"][k][1]
            for k in got
        )

    def histogram():
        rows = read_csv(f"{out}/color/color_histogram")[1:]
        return {tuple(json.loads(r[0])): int(r[1]) for r in rows} == exp["dominant"]

    def closest():
        rows = read_csv(f"{out}/color/closest_primary")[1:]
        return {int(r[0]): int(r[1]) for r in rows} == exp["closest"]

    def alphabet():
        cnt = {r[0]: int(r[1]) for r in read_csv(f"{out}/stats/alphabet_count")[1:]}
        av = {r[0]: float(r[1]) for r in read_csv(f"{out}/stats/alphabet_count_avg")[1:]}
        want = exp["alphabet"]
        return cnt == {k: v[0] for k, v in want.items()} and av.keys() == want.keys() and all(
            _close(av[k], want[k][1]) for k in want
        )

    def keywords():
        got = {r[0]: float(r[1]) for r in read_csv(f"{out}/stats/avg_obj_per_city")[1:]}
        want = exp["keywords"]
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)

    def people():
        got = {r[0]: r[1] for r in read_csv(f"{out}/stats/people_in_places_with_people")[1:]}
        all_, ppl = exp["people"]
        return _close(float(got["avg_all"]), all_) and (
            got.get("avg_people_places", "") in ("", "null") if ppl is None
            else _close(float(got["avg_people_places"]), ppl)
        )

    def buckets():
        rows = read_csv(f"{out}/stats/dogs_by_name_length")[1:]
        got = {r[0].removesuffix("_chars"): float(r[1]) for r in rows}
        want = exp["buckets"]
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)

    for name, fn in [
        ("results_predictions", predictions),
        ("results_predictions_per_class", per_class),
        ("results_dominant", dominant),
        ("color_histogram", histogram),
        ("closest_primary", closest),
        ("alphabet_count", alphabet),
        ("avg_obj_per_city", keywords),
        ("people_in_places_with_people", people),
        ("dogs_by_name_length", buckets),
    ]:
        check(name, fn)
    return bad


def report(op: str, problem) -> None:
    """One line on stderr per failed operation."""
    first = (str(problem).splitlines() or [repr(problem)])[0]
    print(f"perfbench: {op} failed: {first[:300]}", file=sys.stderr)
