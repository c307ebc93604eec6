"""Tests of the benchmark harness itself.

    python -m pytest perfbench/tests -q

The first tests check BENCHMARK.json against the harness and the output
checks against hand-made outputs. The rest run the harness end to end,
in-process, on shortened workloads (under a minute each).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_every_metric_the_harness_emits(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_benchmark_json_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_same_result_uses_oracle_normalisation():
    cols, rows = ["b", "a"], [(1, 2.0), (3, None)]
    assert checks.same_result(cols, rows, ["a", "b"], [(None, 3), (2.0, 1)])
    assert not checks.same_result(cols, rows, ["a", "b"], [(None, 3), (2.5, 1)])
    assert not checks.same_result(cols, rows, ["a", "b"], [(None, 3), (2.0, 1.0)])


def test_parse_metric_reads_totals():
    assert tracing.parse_metric("12 ms") == pytest.approx(0.012)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0.5 s, 0.5 s, 0.5 s (stage 1.0: task 2))"
    ) == pytest.approx(1.5)
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))"
    ) == 2048


def test_unstolen_scales_wall_by_the_cpu_share_received():
    assert run.unstolen({"wall": 10.0, "busy": 30.0, "steal": 10.0}) == 7.5
    assert run.unstolen({"wall": 2.0, "busy": 3.0, "steal": 0.0}) == 2.0
    assert run.unstolen({"wall": 2.0, "busy": 0.0, "steal": 0.0}) == 2.0


def _main(capsys, monkeypatch, *argv):
    """Run the benchmark in-process from the repository root."""
    monkeypatch.chdir(ROOT)
    monkeypatch.setattr(run, "SETUP_REPEATS", 2)
    code = run.main([*argv])
    out = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(out[-1])


@pytest.fixture
def short_mix(monkeypatch):
    monkeypatch.setattr(workloads.QueryMix, "queries",
                        ["pricing_summary", "window_topk_orders", "streaming_stateful_totals"])


@pytest.fixture
def short_images(monkeypatch):
    monkeypatch.setattr(workloads.ImagePipeline, "n_images", 3)
    monkeypatch.setattr(workloads.ImagePipeline, "height", 32)
    monkeypatch.setattr(workloads.ImagePipeline, "width", 48)


@pytest.mark.parametrize("trace", [0, 1])
def test_emits_every_metric_with_its_unit(capsys, monkeypatch, short_mix, trace):
    code, res = _main(capsys, monkeypatch, "--workload", "query_mix",
                      "--seed", "5", "--seconds", "1", "--trace", str(trace))
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["queries.jobs"] > 0 and m["streaming.batches"] > 0
        assert m["queries.analysis_ms"] > 0 and m["queries.cpu_s"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_wrong_query_result_raises_error_rate(capsys, monkeypatch, short_mix):
    from bigdata_imgprocessing_spark.queries import QUERIES

    real = QUERIES["pricing_summary"]
    monkeypatch.setitem(QUERIES, "pricing_summary", lambda s, d: real(s, d).limit(1))
    code, res = _main(capsys, monkeypatch, "--workload", "query_mix",
                      "--seed", "5", "--seconds", "1", "--trace", "0")
    assert code == 1 and not res["correct"]
    assert res["failed"] / res["attempted"] > 0


def test_corrupted_csv_output_raises_error_rate(capsys, monkeypatch, short_images):
    real_ops = workloads.ImagePipeline.ops

    def corrupting_ops(self, spark):
        ops = real_ops(self, spark)
        color = ops[-1].fn

        def color_then_corrupt():
            color()
            out = f"{self.out}/color/closest_primary"
            part = next(f for f in sorted(os.listdir(out)) if f.startswith("part-"))
            with open(os.path.join(out, part), "a") as fh:
                fh.write("0;1\n")

        ops[-1] = workloads.Op("color", color_then_corrupt)
        return ops

    monkeypatch.setattr(workloads.ImagePipeline, "ops", corrupting_ops)
    code, res = _main(capsys, monkeypatch, "--workload", "image_pipeline",
                      "--seed", "5", "--seconds", "1", "--trace", "0")
    assert code == 1 and not res["correct"]
    assert res["failed"] >= 1 and res["failed"] / res["attempted"] > 0
