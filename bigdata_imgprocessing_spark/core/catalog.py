"""Table catalog over the driver-generated parquet star schema.

Parquet is the native storage format (columnar, statistics, predicate
pushdown, partition pruning); the reference's ``;``-CSV and binary-file
ingest live in ``sources``/``images`` as ingest formats, not storage.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Schema-driven normalization of an event-time column to a µs
    timestamp, tolerant of how the source parquet encodes it:

    - already a (NTZ) timestamp (parquet ``timestamp[us]``/``[ms]``) →
      pass through untouched;
    - integral (parquet TIMESTAMP(NANOS) surfaced as ``long`` via
      ``spark.sql.legacy.parquet.nanosAsLong``) → nanos ÷ 1000 → µs
      timestamp (sub-µs truncation; time queries compare at ≥second
      granularity).

    Branching on the SCANNED dtype instead of hardcoding one encoding is
    what makes the catalog survive upstream regeneration of the data —
    the exact drift that broke round 3. Shared by ``table`` (batch) and
    ``streaming.jobs.event_stream``.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampType):
        return df
    if isinstance(dt, T.TimestampNTZType):
        # parquet isAdjustedToUTC=false scans as TIMESTAMP_NTZ; cast to
        # the session-TZ TIMESTAMP type (session is pinned to UTC, so
        # wall-clock values are unchanged). Watermarks/windows require
        # TIMESTAMP, and it keeps one dtype across both encodings.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return df.withColumn(
            col, F.timestamp_micros(F.floor(F.col(col) / 1000).cast("long"))
        )
    raise TypeError(f"unsupported {col!r} dtype for events: {dt.simpleString()}")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Column pruning + filter pushdown reach the
    scan because callers express plans declaratively on the returned DF."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if name == "events":
        # nanosAsLong lets a legacy TIMESTAMP(NANOS) encoding scan as
        # long instead of erroring; it does not affect µs/ms encodings.
        # normalize_event_ts then branches on whichever dtype actually
        # came off the footer. Idempotent, corpus-wide, never unset.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str, buckets: int = 32
) -> DataFrame:
    """Materialize-once bucketed+sorted copy of a catalog table and return
    it as a metastore table.

    Two facts bucketed on their join keys with the same bucket count
    sort-merge join with ZERO Exchange (proof: tests/test_layout.py) —
    the layout a 100 TB deployment bakes in for its recurring fact-fact
    joins instead of re-shuffling terabytes per query. The copy is keyed
    by (sf_dir, table, key, buckets) so distinct scale factors coexist;
    repeat calls reuse the existing table (write-once, read-many).
    """
    # the fs.store_root token fingerprints the source tables, so a
    # regenerated testdata dir maps to a NEW table name instead of
    # reattaching stale bucketed data
    token = re.sub(r"\W+", "_", sf_dir).strip("_")
    prefix = f"bkt_{token}_{name}_by_{key}_{buckets}b"
    tbl = fs.store_root(spark, sf_dir, prefix).rsplit("/", 1)[1]
    if not spark.catalog.tableExists(tbl):
        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = f"{wh}/{tbl}"
        if fs.landed(spark, loc):
            # complete bucketed data from a previous session: the default
            # in-memory catalog forgot the table, but the files + bucket
            # layout are valid — REATTACH via an external table with the
            # identical bucket spec instead of rewriting the data (the
            # bucket id is encoded in the filenames Spark wrote)
            src_df = table(spark, sf_dir, name)
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in src_df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
                f"LOCATION '{loc}'"
            )
        else:
            # incomplete/absent data: clear and rewrite (bkt_ namespace is
            # ours). The table is written EXTERNAL (explicit path) so its
            # files survive metadata-only drops and future reattaches.
            # Also garbage-collect superseded versions of the same table
            # (older source fingerprints) so the warehouse doesn't grow
            # one copy per testdata regeneration.
            for old in fs.glob(spark, f"{wh}/{prefix}_*"):
                old_tbl = old.rsplit("/", 1)[1]
                if old_tbl != tbl:
                    # drop the catalog entry FIRST so a registered table
                    # never points at files we are about to delete
                    spark.sql(f"DROP TABLE IF EXISTS `{old_tbl}`")
                    fs.delete(spark, old)
            fs.delete(spark, loc)
            table(spark, sf_dir, name).write.bucketBy(buckets, key).sortBy(
                key
            ).option("path", loc).saveAsTable(tbl)
    return spark.table(tbl)
