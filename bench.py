#!/usr/bin/env python
"""Benchmark harness: the repo's one measurement tool.

    python bench.py [q ...]             time the named queries, or the
                                        whole registry when none are named
    python bench.py --plans [q ...]     formatted plan of the frame bench
                                        times, plus operator and per-table
                                        scan counts; no names = every batch
                                        query
    python bench.py --ab REF q ...      interleaved same-session A/B of the
                                        working tree against git REF
    python bench.py --compare PREV [CUR]
                                        per-query drift table between two
                                        BENCH_DETAIL files

Queries read $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; $BENCH_REPEATS sets the runs per query (default
2, keeping the min) or the pairs per query under --ab (default 5).

A timed run prints ONE compact JSON summary line LAST on stdout. A
whole-registry run also writes the per-query map to BENCH_DETAIL.json
and BENCH_DETAIL_c{cores}.json next to this script; a run over named
queries writes no file and prints its detail to stdout instead. The
stdout summary stays small because a bounded tail capture must always
end with one complete JSON object.

Each query is timed end to end (logical plan → execution → full
materialization via the no-op sink, so sink I/O doesn't pollute the
number and nothing short-circuits to the driver), under a Spark job
group named after the query; the detail records the jobs each run
started.

--ab extracts REF's package with `git archive` into a temp dir under a
second top-level name. The package imports itself only relatively, so
both copies load side by side with separate registries, and the temp
dir goes on PYTHONPATH before the session starts so Python workers can
import REF's UDFs. Both sides share the marker-keyed /tmp fixtures: to
measure a change to a fixture builder, time two checkouts instead.
"""

from __future__ import annotations

import importlib
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bigdata_imgprocessing_spark.core.session import build_session
from bigdata_imgprocessing_spark.queries import CONTRACT_BATCHES, QUERIES, family

PACKAGE = "bigdata_imgprocessing_spark"
REF_PACKAGE = "graft_ref"
STREAMING = "streaming_queries"

# Physical operators counted per plan by --plans.
PLAN_OPS = [
    "Exchange",
    "Window",
    "Sort",
    "Generate",
    "Union",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
]


def compare(prev_path: str, cur_path: str | None = None) -> None:
    """Round-over-round drift-vs-regression adjudication (VERDICT r12
    item 6): ``python bench.py --compare BENCH_DETAIL.prev.json``
    compares the CURRENT BENCH_DETAIL.json (or an explicit second
    path) against a previous round's detail, using the recorded
    per-query MINS — the robust statistic the last three VERDICTs
    derived by hand. Prints the common-subset totals + ratio, the
    added/removed query sets, and every >1.5x mover in either
    direction with its sample spread (a large spread says busy box,
    a small spread with a moved min says the plan changed)."""
    cur_path = cur_path or os.path.join(HERE, "BENCH_DETAIL.json")
    with open(prev_path) as fh:
        prev = json.load(fh)
    with open(cur_path) as fh:
        cur = json.load(fh)
    pq, cq = prev["queries"], cur["queries"]
    # Host-load context first (VERDICT r14 item 2): a run whose loadavg
    # START is already high, or whose per-query loads sit far above the
    # other run's, is a busy-box artifact — say so before the ratios.
    for tag, d in (("prev", prev), ("cur", cur)):
        rl = d.get("run_loadavg")
        if rl:
            print(
                f"{tag} run loadavg: start {rl['start']} end {rl['end']}"
                f" (ncpus {d.get('ncpus', '?')})"
            )
    common = sorted(set(pq) & set(cq))
    pt = sum(pq[n] for n in common)
    ct = sum(cq[n] for n in common)
    print(f"common subset: {len(common)} queries")
    print(
        f"  prev {pt:8.1f} s   cur {ct:8.1f} s   ratio {ct / pt:.3f}x"
        if pt
        else "  (empty)"
    )
    added = sorted(set(cq) - set(pq))
    removed = sorted(set(pq) - set(cq))
    if added:
        print(
            f"added ({len(added)}): {sum(cq[n] for n in added):.1f} s — "
            + ", ".join(added)
        )
    if removed:
        print(f"removed ({len(removed)}): " + ", ".join(removed))
    movers = [
        (cq[n] / pq[n], n)
        for n in common
        if pq[n] > 0 and (cq[n] / pq[n] > 1.5 or cq[n] / pq[n] < 1 / 1.5)
        # sub-second movements are scheduling noise, not plan changes
        and abs(cq[n] - pq[n]) >= 0.5
    ]
    if movers:
        print(f">1.5x movers ({len(movers)}):")
        for r, n in sorted(movers, reverse=True):
            spread = cur.get("spread", {}).get(n)
            # Per-repeat [before, after] 1-min loadavg for the mover in
            # BOTH runs: a mover whose cur loads dwarf its prev loads is
            # host noise, not a plan change.
            pl = prev.get("loads", {}).get(n)
            cl = cur.get("loads", {}).get(n)
            print(
                f"  {n:40s} {pq[n]:7.2f} -> {cq[n]:7.2f} s "
                f"({r:5.2f}x, cur spread {spread}, "
                f"load prev {pl} -> cur {cl})"
            )
    else:
        print(">1.5x movers: none")


def select(names: list[str], registry=QUERIES) -> list[str]:
    """The queries a run covers: ``names`` in order, or the whole
    registry when none are given. An unknown name exits non-zero
    instead of silently shrinking the run."""
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"bench: unknown queries: {', '.join(unknown)}")
    return names or list(registry)


def parse_sf(sf_dir: str) -> float | None:
    """Scale factor from a ``.../sfN`` directory name; None otherwise."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def data_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def repeats(default: int) -> int:
    return max(1, int(os.environ.get("BENCH_REPEATS", str(default))))


def session():
    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def python_warmups(spark) -> list:
    """Frames whose evaluation starts a Python worker: an aggregate over
    a pandas UDF's output (a UDF whose output nothing reads is pruned,
    and the worker then starts inside the first timed Python query) and
    a list-built frame (a pickled RDD unpickled in a worker)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    ident = pandas_udf(lambda s: s, "long")
    return [
        spark.range(1000).select(ident("id").alias("v")).agg(F.sum("v")),
        spark.createDataFrame([(1,)], "v long"),
    ]


def warm_up(spark, sf_dir: str, packages: tuple[str, ...] = (PACKAGE,)) -> None:
    """Untimed engine warm-up, and staging of the write-once fixtures
    (streaming feeds, stores, layouts) of each package in
    ``packages``."""
    # One-time engine cost (JIT, codegen classloading, shuffle/broadcast
    # infra, the Python worker daemon) isn't charged to whichever query
    # runs first: a real cluster pays it once per executor lifetime.
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().collect()  # shuffle + codegen
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).count()  # broadcast
    for df in python_warmups(spark):
        df.collect()
    # The fixtures are keyed on the corpus fingerprint, so staging them
    # once here leaves each timed consumer cold only on its own work.
    spark.sparkContext.setJobDescription("warmup: prestage write-once fixtures")
    for pkg in packages:
        importlib.import_module(f"{pkg}.queries")  # registers the builders
        registry = importlib.import_module(f"{pkg}.core.registry")
        if hasattr(registry, "prestage"):
            registry.prestage(spark, sf_dir)
            continue
        # refs older than the one registry stage only their feeds
        mod = importlib.import_module(f"{pkg}.queries.{STREAMING}")
        if hasattr(mod, "prestage_feeds"):  # refs older than feed staging lack it
            mod.prestage_feeds(spark, sf_dir)
    spark.sparkContext.setJobDescription(None)


def run_once(spark, name: str, fn, sf_dir: str) -> tuple[float, int]:
    """Build and fully execute one query under a job group named after
    it; return its wall seconds and the number of jobs it started."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    seen = set(tracker.getJobIdsForGroup(name))
    sc.setJobGroup(name, name)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()
    # Untimed between runs: drop cached frames (queries that cache and
    # never unpersist otherwise leave storage blocks that surface as
    # erratic outliers in later queries) and force a GC so collection
    # pauses land in the harness gap, not mid-query.
    spark.catalog.clearCache()
    sc._jvm.System.gc()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return wall, len(set(tracker.getJobIdsForGroup(name)) - seen)


def time_queries(spark, sf_dir: str, names: list[str], runs: int) -> dict:
    """Run each query ``runs`` times back to back and keep the min: single
    samples on a shared box charge one-off GC/scheduling spikes to
    whichever query they land on. Records every wall, its job count and
    the 1-min loadavg around it, so an artifact carries its own
    busy-box evidence."""
    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    walls: dict[str, list[float]] = {}
    jobs: dict[str, list[int]] = {}
    loads: dict[str, list[list[float]]] = {}
    run_load_start = [round(v, 2) for v in os.getloadavg()]
    for name in names:
        samples: list[float] = []
        walls[name], jobs[name], loads[name] = [], [], []
        for _ in range(runs):
            l0 = os.getloadavg()[0]
            wall, n_jobs = run_once(spark, name, QUERIES[name], sf_dir)
            samples.append(wall)
            walls[name].append(round(wall, 3))
            jobs[name].append(n_jobs)
            loads[name].append([round(l0, 2), round(os.getloadavg()[0], 2)])
        times[name] = round(min(samples), 3)
        # A large spread says the box was busy; a small spread with a
        # larger min says the plan itself changed.
        spreads[name] = round(max(samples) - min(samples), 3)

    # Streaming drains are dominated by fixed micro-batch latency
    # (trigger polls, state-store commits), not data volume; the
    # contract drains are the ones whose batch count is fixed by their
    # correctness contract (registry ``contract_batches``).
    streaming = {n: t for n, t in times.items() if family(n) == STREAMING}
    batch = {n: t for n, t in times.items() if n not in streaming}
    by_contract = sorted(n for n in times if CONTRACT_BATCHES[n] > 1)
    return {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "spread": spreads,
        "walls": walls,
        "jobs": jobs,
        "batch_total": round(sum(batch.values()), 3),
        "batch_n": len(batch),
        "streaming_total": round(sum(streaming.values()), 3),
        "streaming_n": len(streaming),
        "streaming_queries": sorted(streaming),
        "by_contract_sec": round(sum(times[n] for n in by_contract), 3),
        "by_contract_queries": by_contract,
        "repeats": runs,
        "loads": loads,
        "run_loadavg": {
            "start": run_load_start,
            "end": [round(v, 2) for v in os.getloadavg()],
        },
    }


def bench(names: list[str]) -> None:
    selected = select(names)
    sf_dir = data_dir()
    sf = parse_sf(sf_dir)
    spark = session()
    warm_up(spark, sf_dir)
    detail = time_queries(spark, sf_dir, selected, repeats(2))
    detail["sf"] = sf
    detail["ncpus"] = spark.sparkContext.defaultParallelism
    spark.stop()

    path = None
    if names:
        print(json.dumps(detail))
    else:
        # The core-count-suffixed copy keeps a low-core run from
        # overwriting another host's baseline in the one mutable file.
        path = os.path.join(HERE, "BENCH_DETAIL.json")
        for p in (path, path.replace(".json", f"_c{detail['ncpus']}.json")):
            with open(p, "w") as fh:
                json.dump(detail, fh, indent=1)
                fh.write("\n")
        print(json.dumps(detail), file=sys.stderr)
    summary = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "unit": "sec",
        "n_queries": len(detail["queries"]),
        "batch_sec": detail["batch_total"],
        "streaming_sec": detail["streaming_total"],
        "sf": sf,
        "detail": path and os.path.basename(path),
    }
    line = json.dumps(summary)
    assert len(line) < 512, "summary line must stay tail-safe"
    print(line)


def plan_counts(plan: str) -> dict:
    """Operator counts, parquet scans per table and SinglePartition
    exchanges in a formatted physical plan."""
    rec = {
        op: len(re.findall(rf"^\(\d+\) {re.escape(op)}\b", plan, re.M))
        for op in PLAN_OPS
    }
    rec = {k: v for k, v in rec.items() if v}
    scans: dict[str, int] = {}
    for m in re.finditer(r"^Location: \S+ ?\[\w+:([^\]]+)\]", plan, re.M):
        t = os.path.basename(m.group(1)).replace(".parquet", "")
        scans[t] = scans.get(t, 0) + 1
    rec["scans"] = scans
    rec["single_partition"] = plan.count("SinglePartition")
    return rec


def plans(names: list[str]) -> None:
    """Print each query's formatted plan and its counts, then one JSON
    line with every query's counts. Nothing executes beyond what the
    builders run eagerly."""
    selected = select(names) if names else [
        n for n in QUERIES if family(n) != STREAMING
    ]
    sf_dir = data_dir()
    spark = session()
    sc = spark.sparkContext
    mode = sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    audit: dict[str, dict] = {}
    for name in selected:
        sc.setJobGroup(name, name)
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 - the audit covers the rest
            audit[name] = {"error": str(exc)[:200]}
            print(f"== {name}: error: {audit[name]['error']}", flush=True)
            continue
        finally:
            sc._jsc.clearJobGroup()
            spark.catalog.clearCache()
        audit[name] = plan_counts(plan)
        print(f"== {name}\n{plan}\ncounts: {json.dumps(audit[name])}", flush=True)
    spark.stop()
    print(json.dumps(audit, sort_keys=True))


def load_ref(ref: str, dest: str):
    """Extract ``ref``'s package into ``dest`` as REF_PACKAGE and
    return its query registry, loaded beside the working tree's."""
    tar = subprocess.run(
        ["git", "-C", HERE, "archive", ref, PACKAGE],
        check=True,
        capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    os.rename(os.path.join(dest, PACKAGE), os.path.join(dest, REF_PACKAGE))
    if dest not in sys.path:
        sys.path.insert(0, dest)
    return importlib.import_module(f"{REF_PACKAGE}.queries").QUERIES


def ab(ref: str, names: list[str]) -> None:
    """Alternate REF and the working tree per query, swapping which side
    goes first every pair, and print each side's walls, median, IQR and
    jobs per run."""
    if not names:
        sys.exit("bench: --ab needs a git ref and at least one query")
    select(names)
    dest = tempfile.mkdtemp(prefix="bench-ab-")
    try:
        ref_queries = load_ref(ref, dest)
        select(names, ref_queries)
        # Python workers inherit the JVM's environment, fixed at launch.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (dest, os.environ.get("PYTHONPATH")) if p
        )
        sides = {ref: ref_queries, "tree": QUERIES}
        sf_dir = data_dir()
        spark = session()
        warm_up(spark, sf_dir, (REF_PACKAGE, PACKAGE))
        pairs = max(2, repeats(5))
        for name in names:
            res = {side: ([], []) for side in sides}
            for i in range(pairs):
                order = list(sides) if i % 2 == 0 else list(sides)[::-1]
                for side in order:
                    wall, n_jobs = run_once(spark, name, sides[side][name], sf_dir)
                    res[side][0].append(wall)
                    res[side][1].append(n_jobs)
            print(f"{name}  ({pairs} pairs, load {os.getloadavg()[0]:.1f})")
            for side, (walls, jobs) in res.items():
                q1, med, q3 = statistics.quantiles(walls, n=4)
                print(
                    f"  {side:>8s} median {med:7.3f}"
                    f"  iqr {q3 - q1:6.3f}  walls "
                    + " ".join(f"{w:.3f}" for w in walls)
                    + "  jobs " + " ".join(map(str, jobs)),
                    flush=True,
                )
        spark.stop()
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def main(argv: list[str]) -> None:
    if argv[:1] in (["-h"], ["--help"]):
        print(__doc__)
    elif argv[:1] == ["--compare"] and len(argv) >= 2:
        compare(argv[1], argv[2] if len(argv) > 2 else None)
    elif argv[:1] == ["--plans"]:
        plans(argv[1:])
    elif argv[:1] == ["--ab"] and len(argv) >= 2:
        ab(argv[1], argv[2:])
    else:
        bench(argv)


if __name__ == "__main__":
    main(sys.argv[1:])
