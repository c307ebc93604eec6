"""The benchmark workloads. Each is one closed-loop client: it issues
its fixed list of operations in order, each after the previous one has
finished, and repeats the list ("a pass") until the run's time is up.

A workload provides:

- ``make_inputs()``: seeded input files and the expected outputs;
  untimed and not part of set-up.
- ``ops(spark)``: the timed operations of one pass.
- ``check()``: untimed check of what the last pass produced; returns
  the names of failed operations.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import checks
import inputs


@dataclass
class Op:
    name: str
    fn: Callable[[], None]


class ImagePipeline:
    """``run_detection_pipeline`` → ``run_stats_pipeline``, then
    ``run_color_pipeline``, over a seeded JPEG photo corpus."""

    name = "image_pipeline"
    n_images, height, width, quality = 6, 120, 160, 75
    centroids = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255),
                 (255, 255, 255), (128, 128, 128)]
    keywords = [*inputs.CITIES, "people"]
    class_of_interest = 16

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.out = f"{work}/out"

    def make_inputs(self) -> dict:
        self.corpus = inputs.make_images(
            f"{self.work}/corpus", self.seed, self.n_images, self.height, self.width, self.quality
        )
        self.expected = checks.expected_image_outputs(
            self.corpus, self.centroids, self.keywords, self.class_of_interest
        )
        return {
            "images": self.n_images,
            "height": self.height,
            "width": self.width,
            "jpeg_quality": self.quality,
            "corpus_bytes": self.corpus["bytes"],
            "landmarks": len(self.corpus["names"]),
        }

    @property
    def items(self) -> int:
        return self.n_images

    def ops(self, spark) -> list[Op]:
        from bigdata_imgprocessing_spark.pipelines import (
            run_color_pipeline,
            run_detection_pipeline,
            run_stats_pipeline,
        )

        corpus, state = self.corpus, {}

        def detect():
            labels = spark.createDataFrame(corpus["labels"], "id string, landmark_id string")
            state["per_landmark"] = run_detection_pipeline(
                spark, corpus["images_dir"], labels, f"{self.out}/det"
            )[1]

        def stats():
            names = spark.createDataFrame(corpus["names"], "landmark_id string, name string")
            run_stats_pipeline(
                spark, state["per_landmark"], names, f"{self.out}/stats",
                keywords=self.keywords, class_of_interest=self.class_of_interest,
            )

        def color():
            run_color_pipeline(spark, corpus["images_dir"], f"{self.out}/color", self.centroids)

        return [Op("detect", detect), Op("stats", stats), Op("color", color)]

    #: output table → the operation that writes it
    _writer = {
        "results_predictions": "detect",
        "results_predictions_per_class": "detect",
        "results_dominant": "color",
        "color_histogram": "color",
        "closest_primary": "color",
    }

    def check(self) -> list[str]:
        bad = checks.image_output_failures(self.out, self.expected)
        for table in bad:
            checks.report(table, "CSV output differs from the recompute")
        return sorted({self._writer.get(t, "stats") for t in bad})


class QueryMix:
    """A fixed list of registry queries at a small scale factor, each
    collected to the driver: a fixed-cost relational query, an open
    regression, a builder-heavy query (exact deciles), an ANN query and
    a state-store streaming drain."""

    name = "query_mix"
    sf = 0.01
    queries = [
        "pricing_summary",
        "priority_multiset_diff",
        "exact_deciles_no_sort",
        "ann_ivf_topk",
        "streaming_stateful_totals",
    ]

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def make_inputs(self) -> dict:
        from bigdata_imgprocessing_spark.queries import ORACLES

        self.sf_dir = inputs.make_tables(f"{self.work}/tables", self.seed, self.sf)
        self.expected = {q: checks.oracle_rows(self.sf_dir, ORACLES[q]) for q in self.queries}
        return {"sf": self.sf, "queries": len(self.queries), "table_rows": {
            t: _rows(f"{self.sf_dir}/{t}") for t in sorted(os.listdir(self.sf_dir))
        }}

    @property
    def items(self) -> int:
        return len(self.queries)

    def ops(self, spark) -> list[Op]:
        from bigdata_imgprocessing_spark.queries import QUERIES

        def op(q):
            def run():
                df = QUERIES[q](spark, self.sf_dir)
                self.results[q] = (df.columns, [tuple(r) for r in df.collect()])

            return Op(q, run)

        return [op(q) for q in self.queries]

    def check(self) -> list[str]:
        """Compare each collected result with its DuckDB oracle; a query
        that raised has no result and fails here too."""
        bad = []
        for q in self.queries:
            got = self.results.pop(q, None)
            if got is None or not checks.same_result(*got, *self.expected[q]):
                checks.report(q, "result differs from its oracle")
                bad.append(q)
        return bad


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {w.name: w for w in (ImagePipeline, QueryMix)}
