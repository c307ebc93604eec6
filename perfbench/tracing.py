"""Tracing for the per-layer run: spans around calls into the package's
public functions, plus the engine's own job, stage, SQL, Catalyst and
streaming-progress records for each operation.

Spans are kept in memory and written once, when the run ends. A span
has a name, start and end (epoch seconds), the id of its parent span
and the run id; spans of one operation share the operation's id.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict

from engine import PACKAGE

#: ``python worker`` SQL metric names (PythonSQLMetrics)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
_SEP = "\x1f"
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op: dict | None = None
        self._originals: list[tuple[object, str, object]] = []

    # spans ------------------------------------------------------------

    def begin(self, name: str, op: str | None = None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        span = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent or {}).get("op"),
            "run": self.run_id,
        }
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin_op(self, name: str, op_id: str) -> dict:
        self._op = self.begin(name, op=op_id)
        return self._op

    def end_op(self, span: dict) -> None:
        self.end(span)
        self._op = None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # function wrapping -------------------------------------------------

    def _wrap(self, fn, name: str, after=None):
        """``after(span, args)`` may add counts to the span once the
        call has returned."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)
                if after is not None:
                    after(span, args)

        return traced

    def _replace_everywhere(self, fn, wrapper) -> None:
        """Rebind ``fn`` to ``wrapper`` in every package module that
        holds it (callers import functions by name)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._originals.append((mod, attr, fn))
                        setattr(mod, attr, wrapper)

    def install(self, layers: dict[str, list[str]], after: dict | None = None) -> None:
        """Wrap the public functions of each layer's modules; ``layers``
        maps a span prefix to module names under the package, ``after``
        maps a span name to its ``after`` hook."""
        after = after or {}
        for prefix, modules in layers.items():
            for fn in public_functions(modules):
                name = f"{prefix}.{fn.__name__}"
                self._replace_everywhere(fn, self._wrap(fn, name, after.get(name)))

    def wrap_registry(self, registry: dict, prefix: str) -> None:
        for key, fn in list(registry.items()):
            self._originals.append((registry, key, fn))
            registry[key] = self._wrap(fn, prefix)

    def uninstall(self) -> None:
        for holder, attr, fn in reversed(self._originals):
            if isinstance(holder, dict):
                holder[attr] = fn
            else:
                setattr(holder, attr, fn)
        self._originals.clear()


def public_functions(modules: list[str]) -> list:
    """Public functions defined in the named package modules (a package
    name stands for all of its submodules)."""
    out = []
    for name in modules:
        mod = importlib.import_module(f"{PACKAGE}.{name}")
        subs = [mod]
        if hasattr(mod, "__path__"):
            subs = [importlib.import_module(f"{mod.__name__}.{m.name}")
                    for m in pkgutil.iter_modules(mod.__path__)]
        for sub in subs:
            out += [
                f for n, f in vars(sub).items()
                if inspect.isfunction(f) and f.__module__ == sub.__name__
                and not n.startswith("_")
            ]
    return out


class EngineRecords:
    """Reads what the engine recorded about each operation: jobs and
    their stages from the status store, Python-worker SQL metrics from
    the SQL status store, Catalyst phase times from a
    QueryExecutionListener and micro-batch progress from a
    StreamingQueryListener. Both listeners are registered only while
    tracing."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.next_job = self._max_job() + 1
        self.next_exec = self._max_execution() + 1
        self.phases: list[dict] = []
        self.progress: list[dict] = []
        self._qe = None
        self._stream = None

    def _max_job(self) -> int:
        jobs = self.sc.statusStore().jobsList(None).iterator()
        last = -1
        while jobs.hasNext():
            last = max(last, jobs.next().jobId())
        return last

    def _max_execution(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().executionId())
        return last

    def sync(self) -> None:
        """Wait until every posted engine event has been processed."""
        self.sc.listenerBus().waitUntilEmpty()

    def listen(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        records = self

        class QEListener:
            def onSuccess(self, func, qe, duration_ns):
                ph = qe.tracker().phases()
                records.phases.append({
                    k: ph.get(k).get().durationMs()
                    for k in ("analysis", "optimization", "planning")
                    if ph.get(k).isDefined()
                })

            def onFailure(self, func, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                records.progress.append({
                    "durationMs": dict(p.durationMs),
                    "state": [(s.commitTimeMs, s.numRowsTotal, s.memoryUsedBytes)
                              for s in p.stateOperators],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        gateway = self.spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        self._qe = QEListener()
        self.spark._jsparkSession.listenerManager().register(self._qe)
        self._stream = Progress()
        self.spark.streams.addListener(self._stream)

    def unlisten(self) -> None:
        self.sync()
        if self._qe is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._qe)
            self.spark.streams.removeListener(self._stream)
            self._qe = self._stream = None

    def jobs_since_last(self) -> list[dict]:
        """Jobs submitted since the previous call, with their stages'
        task, CPU, shuffle and spill totals."""
        store = self.sc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        out = []
        j = self.next_job
        while (info := tracker.getJobInfo(j)) is not None:
            job = store.job(j)
            sub = job.submissionTime()
            stages = []
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage never attempted
                    continue
                stages.append({
                    "skipped": sd.status().toString() == "SKIPPED",
                    "tasks": sd.numCompleteTasks(),
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "run_s": sd.executorRunTime() / 1e3,
                    "shuffle_read": sd.shuffleReadBytes(),
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
            out.append({
                "id": j,
                "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "stages": stages,
            })
            j += 1
        self.next_job = j
        return out

    def python_metrics_since_last(self) -> dict:
        """Summed Python-worker run time (s) and bytes sent to Python
        workers over SQL executions since the previous call."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = {"python_s": 0.0, "python_sent": 0.0}
        it = store.executionsList().iterator()
        last = self.next_exec - 1
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid < self.next_exec:
                continue
            last = max(last, eid)
            # Each collection crosses the gateway as one string: walking
            # it element by element costs a round trip per field.
            wanted = {}
            for m in filter(None, ex.metrics().mkString(_SEP).split(_SEP)):
                # SQLPlanMetric(name,accumulatorId,metricType)
                name, acc, _type = m[m.index("(") + 1:-1].rsplit(",", 2)
                if name in (PY_TIME, PY_SENT):
                    wanted[acc] = name
            if not wanted:
                continue
            for kv in filter(None, store.executionMetrics(eid).mkString(_SEP).split(_SEP)):
                acc, _, value = kv.partition(" -> ")
                name = wanted.get(acc)
                if name is not None:
                    key = "python_s" if name == PY_TIME else "python_sent"
                    total[key] += parse_metric(value)
        self.next_exec = last + 1
        return total


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or bytes: either
    ``"12 ms"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def summarize(tracer: Tracer, ops: list[dict], passes: int) -> dict:
    """Per-pass layer totals from the traced operations.

    ``ops`` holds, per traced operation: its span, the jobs, Python
    metrics, Catalyst phases and streaming progress the engine recorded
    while it ran."""
    per = defaultdict(float)
    spans_by_op = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s["op"]].append(s)

    for rec in ops:
        name, span = rec["name"], rec["span"]
        op_spans = spans_by_op[span["op"]]
        builds = [s for s in op_spans if s["name"] == "queries.build"]
        wall = span["end"] - span["start"]
        jobs = rec["jobs"]
        stages = [st for j in jobs for st in j["stages"]]
        if name in ("detect", "stats", "color"):
            per[f"pipelines.{name}_s"] += wall
            per[f"pipelines.{name}_jobs"] += len(jobs)
        else:
            build = sum(s["end"] - s["start"] for s in builds)
            per["queries.build_s"] += build
            per["queries.exec_s"] += wall - build
            per["queries.build_jobs"] += sum(
                1 for j in jobs for s in builds
                if j["submitted"] is not None and s["start"] <= j["submitted"] <= s["end"]
            )
            per["queries.jobs"] += len(jobs)
            per["queries.stages"] += sum(not st["skipped"] for st in stages)
            per["queries.tasks"] += sum(st["tasks"] for st in stages)
            per["queries.cpu_s"] += sum(st["cpu_s"] for st in stages)
            per["queries.run_s"] += sum(st["run_s"] for st in stages)
            per["queries.shuffle_read_mb"] += sum(st["shuffle_read"] for st in stages) / 2**20
            per["queries.shuffle_write_mb"] += sum(st["shuffle_write"] for st in stages) / 2**20
            per["queries.spill_mb"] += sum(st["spill"] for st in stages) / 2**20
            for ph in rec["phases"]:
                for k, v in ph.items():
                    per[f"queries.{k}_ms"] += v
        per["images.python_worker_s"] += rec["python"]["python_s"]
        per["images.python_sent_bytes"] += rec["python"]["python_sent"]
        if rec["progress"]:
            per["streaming.batches"] += len(rec["progress"])
            per["streaming.jobs"] += len(jobs)
            for p in rec["progress"]:
                d = p["durationMs"]
                for key, metric in STREAM_PARTS.items():
                    per[f"streaming.{metric}_ms"] += d.get(key, 0)
                per["streaming.state_commit_ms"] += sum(s[0] for s in p["state"])
            last = rec["progress"][-1]["state"]
            per["streaming.state_rows_total"] += sum(s[1] for s in last)
            per["streaming.state_memory_mb"] += sum(s[2] for s in last) / 2**20
        for s in op_spans:
            if s["name"] == "sources.write_semicolon_csv":
                per["sources.csv_write_s"] += s["end"] - s["start"]
                per["sources.csv_writes"] += 1
                per["sources.written_mb"] += s.get("bytes", 0) / 2**20
                per["sources.files_written"] += s.get("files", 0)
            elif s["name"].startswith("operators."):
                fn = s["name"].split(".", 1)[1]
                per[f"operators.{fn}_s"] += s["end"] - s["start"]
                per[f"operators.{fn}_calls"] += 1
    out = {k: v / passes for k, v in per.items()}
    if out.get("queries.run_s"):
        out["queries.cpu_util"] = out["queries.cpu_s"] / out["queries.run_s"]
    if out.get("streaming.batches"):
        out["streaming.jobs_per_batch"] = out["streaming.jobs"] / out["streaming.batches"]
    return out


#: progress ``durationMs`` key → metric name part
STREAM_PARTS = {
    "addBatch": "add_batch",
    "walCommit": "wal_commit",
    "commitOffsets": "commit_offsets",
    "queryPlanning": "query_planning",
    "latestOffset": "latest_offset",
    "getBatch": "get_batch",
}
