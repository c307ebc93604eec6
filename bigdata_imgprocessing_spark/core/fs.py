"""The storage layer: the only module that touches storage.

Every fixture, store and state path goes through the Hadoop FileSystem
of the path, so an ``hdfs://``, ``s3a://`` or ``file://`` corpus or
store root behaves like a bare local path. The derived stores of a
corpus live under ``store_root``; a store is complete once Spark's
``_SUCCESS`` marker is in it (``landed``), and a missing marker means
clear and rewrite.

The FIMG image files are the one exception: Python workers read and
write them with ``open()``, so ``sources/fimg_source.py`` keeps them on
a local path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), p


def store_root(spark: SparkSession, sf_dir: str, name: str) -> str:
    """``/tmp/{name}_{token}``, the root of store ``name`` derived from
    the corpus in ``sf_dir``. The token fingerprints the qualified
    ``sf_dir`` and the length and modification time of every table
    file in it (one ``listStatus``), so a regenerated table gets a fresh
    root, and a bare and a ``file://`` form of one dir share it."""
    fs, p = _fs(spark, sf_dir)
    parts = [fs.makeQualified(p).toString()] + sorted(
        f"{s.getPath().getName()}|{s.getLen()}|{s.getModificationTime()}"
        for s in fs.listStatus(p)
        if s.getPath().getName().endswith(".parquet")
    )
    token = hashlib.md5("||".join(parts).encode()).hexdigest()[:12]
    return f"/tmp/{name}_{token}"


def landed(spark: SparkSession, path: str) -> bool:
    """True once a write into ``path`` completed (its ``_SUCCESS``)."""
    fs, p = _fs(spark, f"{path}/_SUCCESS")
    return fs.exists(p)


def mark_landed(spark: SparkSession, path: str) -> None:
    """Write ``path``'s ``_SUCCESS`` for a dir not written by Spark."""
    fs, p = _fs(spark, f"{path}/_SUCCESS")
    fs.create(p, True).close()


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and everything under it; a missing path is a
    no-op."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """Qualified paths matching ``pattern``, sorted."""
    fs, p = _fs(spark, pattern)
    return sorted(s.getPath().toString() for s in fs.globStatus(p) or [])


def move(spark: SparkSession, src: str, dst: str, mtime_ms: int) -> None:
    """Rename ``src`` to ``dst`` (parent dirs created) and set its
    modification time."""
    fs, s = _fs(spark, src)
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(d.getParent())
    if not fs.rename(s, d):
        raise OSError(f"rename {src} -> {dst} failed")
    fs.setTimes(d, mtime_ms, -1)
