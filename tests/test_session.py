"""The session factory and driver-side frames: what a session pays the
first time it runs Python code."""

from __future__ import annotations

import os
import subprocess
import sys

from bigdata_imgprocessing_spark.core.session import cached, local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DAEMONS = """
import os
from pyspark.sql import functions as F
from bigdata_imgprocessing_spark.core.session import build_session

spark = build_session("one-daemon", cpus=2)
spark.createDataFrame([(1, "a")], "x long, y string").collect()
plus_one = F.pandas_udf(lambda s: s + 1, "long")
spark.range(4).select(plus_one("id").alias("v")).agg(F.sum("v")).collect()
jvm = spark.sparkContext._gateway.proc.pid
daemons = 0
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        continue
    daemons += ppid == jvm and b"pyspark.daemon" in cmd
print("daemons", daemons)
spark.stop()
"""


def test_one_python_daemon_per_session(tmp_path):
    """RDD Python code (a list-built frame) and SQL Python code (a
    pandas UDF) share one worker daemon: Spark keeps one per distinct
    worker environment, and build_session gives both the same one."""
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_DRIVER_MEM": "512m",
    }
    run = subprocess.run(
        [sys.executable, "-c", _DAEMONS],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-2:] == ["daemons", "1"]


def test_local_frame_is_a_local_relation(spark):
    """Rows, NULLs, empty inputs and struct schemas round-trip, and the
    frame is a local relation, which no Python worker evaluates."""
    rows = [(1, None, "a", True, 0.5), (2, 3, None, False, 1.0)]
    ddl = "i int, n bigint, s string, b boolean, d double"
    df = local_frame(spark, rows, ddl)
    assert df.schema.simpleString() == "struct<i:int,n:bigint,s:string,b:boolean,d:double>"
    assert [tuple(r) for r in df.collect()] == rows
    assert df._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation")
    empty = local_frame(spark, [], df.schema)
    assert empty.schema == df.schema and empty.collect() == []


def test_cached_frame_is_cached_at_most_core_width(spark):
    """``cached`` caches its frame at min(input partitions, cores): a wide
    frame narrows to defaultParallelism, a narrow one keeps its width."""
    cores = spark.sparkContext.defaultParallelism
    for parts in (1, 3 * cores):
        df = cached(spark.range(0, 1000, 1, parts))
        try:
            assert df.is_cached
            assert df.rdd.getNumPartitions() == min(parts, cores)
            assert df.count() == 1000
        finally:
            df.unpersist()
