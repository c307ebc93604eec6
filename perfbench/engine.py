"""Spark session lifecycle for one benchmark run.

Everything a run writes stays under its work directory: Spark's local
dirs, the JVM and Python temp dirs, the warehouse, and the package's own
fixture and state stores (see ``reroot_tmp``).
"""

from __future__ import annotations

import os
import shlex
import sys
import types

PACKAGE = "bigdata_imgprocessing_spark"


def prepare_env(work: str, root: str) -> None:
    """Point every temp and scratch location at ``work`` and make the
    package at ``root`` importable in Python workers; must run before
    the JVM starts."""
    paths = [root, *filter(None, [os.environ.get("PYTHONPATH")])]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM (the launcher too) would otherwise keep its perf-data
    # file under the system temp dir, whatever java.io.tmpdir says
    tool_opts = [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, tool_opts))
    # build_session defaults to an 8 GiB heap; the benchmark inputs need
    # a fraction of that. The heap is committed and touched when the JVM
    # starts, so peak RSS does not depend on when the collector chose
    # to grow it; what else the JVM and the driver hold still shows.
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        "pyspark-shell",
    ])


def _rewrite(code: types.CodeType, root: str) -> types.CodeType:
    consts = tuple(
        _rewrite(c, root)
        if isinstance(c, types.CodeType)
        else root + c[4:]
        if isinstance(c, str) and c.startswith("/tmp/")
        else c
        for c in code.co_consts
    )
    return code if consts == code.co_consts else code.replace(co_consts=consts)


def reroot_tmp(root: str) -> int:
    """Move the package's hard-coded ``/tmp/...`` store roots under
    ``root`` by rewriting those string constants in its functions.

    The fixture, state and landed-store paths are literal ``/tmp``
    f-strings (queries/dedup.py, queries/streaming_queries.py,
    queries/pipeline_queries.py), so without this a run would write
    outside its checkout and inherit stale state from earlier runs.
    Returns the number of functions rewritten."""
    import importlib

    importlib.import_module(f"{PACKAGE}.queries")
    os.makedirs(root, exist_ok=True)
    n = 0
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PACKAGE):
            continue
        for fn in list(vars(mod).values()):
            if isinstance(fn, types.FunctionType) and fn.__module__ == name:
                code = _rewrite(fn.__code__, root)
                if code is not fn.__code__:
                    fn.__code__ = code
                    n += 1
    return n


def start_session(cpus: int):
    from bigdata_imgprocessing_spark.core.session import build_session

    spark = build_session("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One-time engine machinery, as bench.py warms it: a shuffle,
    a broadcast join, and the Arrow Python worker pool."""
    from pyspark.sql import functions as F

    big = spark.range(200_000)
    big.groupBy((F.col("id") % 13).alias("k")).count().collect()
    small = spark.range(100).withColumnRenamed("id", "k")
    big.join(F.broadcast(small), big.id == small.k).count()
    ident = F.pandas_udf(lambda s: s, "long")
    spark.range(1000).select(ident("id")).count()


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM, which
    ``spark-submit`` execs in the gateway process it starts."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total / 1024
