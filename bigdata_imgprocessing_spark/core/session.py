"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM, but every setting here is
chosen for the 1000-executor / 100 TB target: AQE handles runtime
coalescing and skew-join splitting, broadcast threshold keeps dimension
joins shuffle-free, and Arrow makes the unavoidable Python stages batched
instead of row-at-a-time (the reference pays JVM<->Python socket serde per
row — SURVEY.md §3.1).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def build_session(app_name: str = "bigdata_imgprocessing_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Sized for local test SFs; a real cluster would set this to
        # ~2-3x total cores (or rely on AQE initialPartitionNum).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        # Arrow for pandas_udf / toPandas — the fast Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark keeps one Python worker daemon per distinct worker
        # environment, and its SQL runners (pandas/Arrow UDFs, grouped
        # state) add this one variable to theirs. Setting it for every
        # worker lets RDD Python code (each list-built createDataFrame)
        # and SQL Python code share one daemon per session: each extra
        # daemon recompiles pyspark.zip on start-up, ~1.1 s.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # Python DataSource filter pushdown (required once a reader
        # implements pushFilters — see sources/fimg_source.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized
        # reader rejects; always-on for this corpus (set here once, not
        # toggled per-read — a mid-session flip would change how other
        # concurrent parquet reads interpret nanos columns)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Deterministic wall-clock semantics for timestamp queries: the
        # DuckDB oracle treats naive parquet timestamps as tz-free, so we
        # pin the session to UTC (container default, made explicit).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A driver-side table of ``rows`` with ``schema`` (a DDL string or
    a struct), shipped to the JVM as one Arrow table.

    ``createDataFrame(<list>)`` pickles the rows into an RDD that a
    Python worker unpickles on every evaluation: 0.53 s per collect of
    80 rows on 4 cores once the worker daemon is up, plus the daemon's
    start when it is not. The Arrow table lands as a local relation the
    JVM reads itself (0.05 s), whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    import pyarrow as pa

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table([pa.array(c) for c in cols], names=struct.names)
    return spark.createDataFrame(table, struct)


def cache_parallelism(spark: SparkSession) -> int:
    """The session's core count (defaultParallelism = total cores on any
    deployment): the width of a materialized frame, locally AND on a
    cluster."""
    return spark.sparkContext.defaultParallelism


def cached(frame: DataFrame) -> DataFrame:
    """``frame`` coalesced to ``cache_parallelism`` and cached.

    A cached frame FREEZES its partitioning: AQE never re-coalesces it
    (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning defaults
    false), so a frame cached under a default-conf session keeps 200
    partitions and every downstream stage pays 200 tasks — measured
    14.5s vs ~2s for the ngram posting-list query at sf0.01. coalesce()
    is a no-op when the frame is already narrower."""
    return frame.coalesce(cache_parallelism(frame.sparkSession)).cache()


def scaled_width(spark: SparkSession, floor: int = 4) -> int:
    """Partition width for CORPUS-PROPORTIONAL intermediate and store
    frames (LSH candidate/member/shingle-set frames, landed stores).

    A fixed ``coalesce(4)`` is right at driver sf — these frames hold
    dozens of rows and task overhead dominates — but candidate volume
    grows with the corpus (98,793 pairs at 10M docs per SCALING.md), so
    a fixed width serializes the exact-Jaccard verify join and the
    store write onto 4-8 tasks at 100x. Scale with the deployment's
    core count instead (defaultParallelism = total cores on any
    cluster); ``floor`` keeps artificially narrow local sessions at
    least as wide as the old fixed values (VERDICT r12 item 1)."""
    return max(floor, cache_parallelism(spark))


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC (idempotent, runtime-mutable conf).

    Called by time-bucketing queries so wall-clock extraction
    (``date_format`` etc.) matches the tz-free DuckDB oracle even when the
    caller-provided session was built with other defaults."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
