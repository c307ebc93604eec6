#!/usr/bin/env python3
"""Benchmark of the image pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

The run generates its inputs from the seed under ``.perfbench/``, sets
the engine up several times, then repeats timed passes for
``--seconds``; the outputs of every pass are checked, untimed. Times
are reported with the CPU time the hypervisor stole taken out (see
``unstolen``). The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A fuller record of the run
goes to ``.perfbench/results/<run id>.json``, and with ``--trace 1`` its
spans to ``<run id>.spans.jsonl``. The exit code is 0 when every
output was correct, 1 when one was not.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
from checks import report  # noqa: E402

SETUP_REPEATS = 3
MAX_CPUS = 4

#: name → unit; the same names and units as BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "items_per_s": "1/s",
    "op_geomean_s": "s",
    "op_max_s": "s",
    "peak_rss_mb": "MB",
}

#: operator functions the query mix calls (``operators.<fn>_s`` and
#: ``operators.<fn>_calls`` in the per-layer metrics)
OPERATOR_FNS = ["exact_rank_values", "dot", "norm"]

PER_LAYER = {
    "core.session_s": "s",
    "core.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.cpu_s": "s",
    "queries.run_s": "s",
    "queries.cpu_util": "ratio",
    "queries.shuffle_read_mb": "MB",
    "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB",
    **{f"operators.{fn}_{kind}": unit for fn in OPERATOR_FNS
       for kind, unit in (("s", "s"), ("calls", "count"))},
    "pipelines.detect_s": "s",
    "pipelines.stats_s": "s",
    "pipelines.color_s": "s",
    "pipelines.detect_jobs": "count",
    "pipelines.stats_jobs": "count",
    "pipelines.color_jobs": "count",
    "images.decode_ms_per_image": "ms",
    "images.decode_mpix_per_s": "Mpix/s",
    "images.kmeans_ms_per_image": "ms",
    "images.python_worker_s": "s",
    "images.python_bytes_ratio": "ratio",
    "sources.csv_write_s": "s",
    "sources.csv_writes": "count",
    "sources.written_mb": "MB",
    "sources.files_written": "count",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_mb": "MB",
    "trace.overhead_s": "s",
}

#: traced layers: span-name prefix → package modules whose public
#: functions get a span
TRACED_LAYERS = {
    "operators": ["operators"],
    "sources": ["sources.csv_io"],
}


def cpu_times() -> tuple[float, float]:
    """``(busy, steal)`` CPU seconds since boot, summed over CPUs, from
    /proc/stat: busy is user, nice, system, irq and softirq time; steal
    is time a vCPU was ready to run while the hypervisor ran another
    guest."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


class Clock:
    """Times an interval: its wall time, and the busy and stolen CPU
    time of the machine during it."""

    def __init__(self) -> None:
        self.c0 = cpu_times()
        self.t0 = time.perf_counter()

    def stop(self) -> dict:
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, cpu_times()))
        return {"wall": wall, "busy": busy, "steal": steal}


def unstolen(t: dict) -> float:
    """Wall time with the hypervisor's share taken out: the interval
    scaled by the share of wanted CPU time that the machine got."""
    wanted = t["busy"] + t["steal"]
    return t["wall"] * t["busy"] / wanted if wanted > 0 else t["wall"]


def _csv_sizes(span: dict, args: tuple) -> None:
    """Bytes and files a ``write_semicolon_csv(df, path)`` call left."""
    path = args[1]
    files = [f for f in os.listdir(path) if f.startswith("part-")] if os.path.isdir(path) else []
    span["files"] = len(files)
    span["bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in files)


class Run:
    def __init__(self, args, root: str) -> None:
        from workloads import WORKLOADS

        self.args, self.root = args, root
        self.nproc = len(os.sched_getaffinity(0))
        self.cpus = min(MAX_CPUS, self.nproc)
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench", "work", self.run_id)
        self.results = os.path.join(root, ".perfbench", "results")
        # one fixed root, emptied by every run: the rewrite of the
        # package's store paths is process-wide
        self.state = os.path.join(root, ".perfbench", "state")
        self.workload = WORKLOADS[args.workload](self.work, args.seed)
        self.tracer = None
        self.attempted = self.failed = 0
        self.setup: list[dict] = []
        self.passes: list[dict] = []
        self.op_times: list[list[dict]] = []
        self.traced_ops: list[dict] = []

    # set-up -----------------------------------------------------------

    def set_up(self):
        spark = None
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            clock = Clock()
            spark = engine.start_session(self.cpus)
            session = clock.stop()
            clock = Clock()
            engine.warm_up(spark)
            self.setup.append({"session": session, "warmup": clock.stop()})
        return spark

    def setup_s(self, part: str | None = None) -> float:
        """Median set-up time, or that of one part of set-up."""
        parts = [part] if part else ["session", "warmup"]
        return statistics.median(sum(unstolen(s[p]) for p in parts) for s in self.setup)

    # passes -----------------------------------------------------------

    def one_pass(self, spark, records=None) -> None:
        traced = records is not None
        if traced:
            records.sync()
            records.jobs_since_last()
            records.python_metrics_since_last()
            self.tracer.install(TRACED_LAYERS, {"sources.write_semicolon_csv": _csv_sizes})
            from bigdata_imgprocessing_spark.queries import QUERIES

            self.tracer.wrap_registry(QUERIES, "queries.build")
            records.listen()
        times, failed = [], set()
        try:
            for op in self.workload.ops(spark):
                self.attempted += 1
                span = None
                if traced:
                    span = self.tracer.begin_op(f"op.{op.name}", f"{len(self.passes)}.{op.name}")
                clock = Clock()
                try:
                    op.fn()
                except Exception as exc:  # counted, reported, not fatal
                    report(op.name, exc)
                    failed.add(op.name)
                times.append(clock.stop())
                # untimed: drop cached frames and collect garbage, so a
                # cache or GC pause left by one operation lands here and
                # not in the next one (as bench.py does between queries)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                if traced:
                    self.tracer.end_op(span)
                    records.sync()
                    self.traced_ops.append({
                        "name": op.name,
                        "span": span,
                        "jobs": records.jobs_since_last(),
                        "python": records.python_metrics_since_last(),
                        "phases": list(records.phases),
                        "progress": list(records.progress),
                    })
                    records.phases.clear()
                    records.progress.clear()
        finally:
            if traced:
                records.unlisten()
                self.tracer.uninstall()
        self.passes.append({
            "wall": sum(t["wall"] for t in times),
            "unstolen": sum(unstolen(t) for t in times),
            "traced": traced,
        })
        self.op_times.append(times)
        self.failed += len(failed | set(self.workload.check()))

    def measure(self, spark) -> None:
        from tracing import EngineRecords, Tracer

        records = None
        if self.args.trace:
            self.tracer = Tracer(self.run_id)
            records = EngineRecords(spark)
        # Timed work (operation time, housekeeping excluded) runs until
        # --seconds have passed; the first pass runs on a fresh engine.
        # A traced run then alternates traced and untraced passes and
        # ends on an untraced one; the first pass does not count in its
        # overhead. Passes still speed up slightly as the JVM warms, so
        # the overhead it reports errs high.
        while True:
            traced = self.args.trace and len(self.passes) % 2 == 1
            self.one_pass(spark, records if traced else None)
            timed = sum(p["wall"] for p in self.passes)
            enough = len(self.passes) >= 3 if self.args.trace else True
            if timed >= self.args.seconds and enough and not self.passes[-1]["traced"]:
                break

    # metrics ----------------------------------------------------------

    def end_to_end(self, rss_mb: float) -> dict:
        wall = statistics.median(p["unstolen"] for p in self.passes)
        return {
            "setup_s": self.setup_s(),
            "pass_wall_s": wall,
            "items_per_s": self.workload.items / wall,
            "op_geomean_s": statistics.geometric_mean(unstolen(t) for ts in self.op_times for t in ts),
            "op_max_s": statistics.median(max(map(unstolen, ts)) for ts in self.op_times),
            "peak_rss_mb": rss_mb,
        }

    def per_layer(self) -> dict:
        from tracing import summarize

        traced = [p["unstolen"] for p in self.passes if p["traced"]]
        plain = [p["unstolen"] for p in self.passes[1:] if not p["traced"]]
        out = dict.fromkeys(PER_LAYER, 0.0)
        found = summarize(self.tracer, self.traced_ops, len(traced))
        out.update({k: v for k, v in found.items() if k in out})
        self.unlisted = sorted(k for k in found if k not in out)
        for part in ("session", "warmup"):
            out[f"core.{part}_s"] = self.setup_s(part)
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        corpus = getattr(self.workload, "corpus", None)
        if corpus:
            out["images.python_bytes_ratio"] = found.get("images.python_sent_bytes", 0.0) / corpus["bytes"]
            out.update(decode_layer(corpus))
        return out

    # the whole run ----------------------------------------------------

    def execute(self) -> dict:
        load_start, run_clock = os.getloadavg(), Clock()
        engine.prepare_env(self.work, self.root)
        shutil.rmtree(self.state, ignore_errors=True)
        engine.reroot_tmp(self.state)
        t0 = time.perf_counter()
        sizes = self.workload.make_inputs()
        self.phase_s = {"inputs": time.perf_counter() - t0}
        spark = None
        try:
            spark = self.set_up()
            t0 = time.perf_counter()
            self.measure(spark)
            self.phase_s["passes"] = time.perf_counter() - t0
            rss = engine.peak_rss_mb()
            metrics = self.per_layer() if self.args.trace else self.end_to_end(rss)
        finally:
            if spark is not None:
                engine.shutdown(spark)
        units = PER_LAYER if self.args.trace else END_TO_END
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        self.write_detail(result, sizes, load_start, run_clock.stop(), rss)
        for d in (self.work, self.state):
            shutil.rmtree(d, ignore_errors=True)
        return result

    def write_detail(self, result: dict, sizes: dict, load_start, cpu: dict, rss: float) -> None:
        os.makedirs(self.results, exist_ok=True)
        detail = {
            "run_id": self.run_id,
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "master": f"local[{self.cpus}]",
            "nproc": self.nproc,
            "loadavg": {"start": list(load_start), "end": list(os.getloadavg())},
            "cpu": cpu,
            "loop": "closed, 1 client",
            "inputs": sizes,
            "error_rate": self.failed / self.attempted,
            "peak_rss_mb": rss,
            "setup": self.setup,
            "phase_s": self.phase_s,
            "passes": self.passes,
            "op_times": self.op_times,
            "unlisted_layer_metrics": getattr(self, "unlisted", []),
            **result,
        }
        with open(os.path.join(self.results, f"{self.run_id}.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
        if self.tracer is not None:
            self.tracer.write(os.path.join(self.results, f"{self.run_id}.spans.jsonl"))


def decode_layer(corpus: dict) -> dict:
    """Direct codec calls on the corpus: decode time per image, decode
    throughput, and k-means time per image (its decode subtracted)."""
    from bigdata_imgprocessing_spark.images.codec import decode_image
    from bigdata_imgprocessing_spark.images.color import _kmeans_dominant

    dec = km = 0.0
    for img_id in corpus["ids"]:
        with open(f"{corpus['images_dir']}/{img_id}.fimg", "rb") as fh:
            buf = fh.read()
        t0 = time.perf_counter()
        decode_image(buf)
        t1 = time.perf_counter()
        _kmeans_dominant(buf)
        t2 = time.perf_counter()
        dec += t1 - t0
        km += (t2 - t1) - (t1 - t0)
    n = len(corpus["ids"])
    return {
        "images.decode_ms_per_image": 1e3 * dec / n,
        "images.decode_mpix_per_s": corpus["pixels"] / dec / 1e6,
        "images.kmeans_ms_per_image": 1e3 * km / n,
    }


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, engine.PACKAGE)):
        print(f"perfbench: no {engine.PACKAGE} package in {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    result = Run(args, root).execute()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
