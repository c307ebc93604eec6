"""Custom connector: a Spark 4 Python DataSource for FIMG image corpora.

``spark.read.format("binaryFile")`` gives (path, bytes); this source
goes further the way a production image connector would: it parses the
container header AT SCAN TIME and exposes typed metadata columns
(height/width/channels) alongside the raw payload, so metadata
predicates (e.g. ``WHERE width >= 64``) never ship pixel bytes to the
query — the multimodal-column model (opaque binary + typed metadata)
as a first-class source.

Partitioning: one input partition per file group (``files_per_task``),
so a 10⁸-file corpus fans out across executors instead of listing on
one task. Registration: ``spark.dataSource.register(FimgDataSource)``
then ``spark.read.format("fimg").option("path", dir).load()``.

Manifest pruning: if the corpus dir holds ``_manifest.tsv``
(``write_manifest`` builds it), planning applies the pushed metadata
filters against the manifest and only schedules surviving files —
pruned files are never opened, the Iceberg/Delta file-skipping model.
Without a manifest the same filters still skip payloads per-file at
read time, so the manifest is purely an optimization, never required
for correctness.

SCOPE — demo/reference connector, not the default ingest path: rows
materialize through a Python worker (the Python DataSource API), so a
bulk scan here pays serialization the JVM ``binaryFile`` reader doesn't.
The default image ingest at scale stays
``spark.read.format("binaryFile")`` (JVM-side, whole-stage codegen
downstream) + metadata extraction in the first Arrow UDF stage
(images/codec.py); use THIS source when scan-time typed-metadata
pushdown/manifest pruning is worth a Python scan — small/medium corpora
or highly selective metadata predicates.

Storage: FIMG files are read and written by Python workers with
``open()``, so this module (with ``materialize_corpus``, which writes a
corpus) works on local paths only; every other store goes through
``core/fs.py``.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from ..images.codec import encode_image, fixture_pixels

_HEADER = struct.Struct(">4sHHB")

_SCHEMA = (
    "img_id string, height int, width int, channels int, "
    "length long, content binary"
)


class _FileChunk(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


_MANIFEST = "_manifest.tsv"


def materialize_corpus(rows: DataFrame, img_dir: str) -> str:
    """Write one 2x2x3 FIMG file per ``(vec_id, embedding)`` row into the
    local dir ``img_dir`` executor-side, its pixels the fixture rule
    (``images/codec.py`` ``fixture_pixels``) of the first 12 dims;
    returns ``img_dir``. Write-once:
    file bytes are a pure function of the row, so a dir already holding
    one file per row is kept, and each file lands by atomic rename."""
    os.makedirs(img_dir, exist_ok=True)
    expected = rows.count()
    if len([f for f in os.listdir(img_dir) if f.endswith(".fimg")]) == expected:
        return img_dir

    def write_part(part):
        for r in part:
            px = fixture_pixels(r.embedding, 12).reshape(2, 2, 3)
            path = os.path.join(img_dir, f"img{r.vec_id}.fimg")
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                f.write(encode_image(px))
            os.replace(tmp, path)

    rows.foreachPartition(write_part)
    return img_dir


def write_manifest(corpus_dir: str) -> int:
    """Scan a corpus dir once and write ``_manifest.tsv`` (file, height,
    width, channels, length) — the planning-time pruning index. Returns
    the number of files indexed. Rebuild after adding files; readers
    fall back to per-file header checks for any file missing from it."""
    rows = []
    for f in sorted(os.listdir(corpus_dir)):
        if not f.endswith(".fimg"):
            continue
        p = os.path.join(corpus_dir, f)
        with open(p, "rb") as fh:
            _, h, w, c = _HEADER.unpack_from(fh.read(_HEADER.size))
        rows.append(f"{f}\t{h}\t{w}\t{c}\t{os.path.getsize(p)}")
    with open(os.path.join(corpus_dir, _MANIFEST), "w") as out:
        out.write("file\theight\twidth\tchannels\tlength\n")
        out.write("\n".join(rows) + ("\n" if rows else ""))
    return len(rows)


def _read_manifest(corpus_dir: str) -> dict[str, dict[str, int]] | None:
    p = os.path.join(corpus_dir, _MANIFEST)
    if not os.path.exists(p):
        return None
    out: dict[str, dict[str, int]] = {}
    with open(p) as fh:
        header = fh.readline().rstrip("\n").split("\t")
        for line in fh:
            vals = line.rstrip("\n").split("\t")
            rec = dict(zip(header, vals))
            out[rec["file"]] = {k: int(rec[k]) for k in header[1:]}
    return out


_META_COLS = {"height", "width", "channels", "length"}
_OPS = {
    EqualTo: lambda a, b: a == b,
    GreaterThan: lambda a, b: a > b,
    GreaterThanOrEqual: lambda a, b: a >= b,
    LessThan: lambda a, b: a < b,
    LessThanOrEqual: lambda a, b: a <= b,
}


class FimgReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("fimg source requires option 'path'")
        self.files_per_task = int(options.get("files_per_task", "64"))
        self._pushed = []

    def pushFilters(self, filters):
        """Accept comparison filters on the metadata columns — evaluated
        against the parsed header, so filtered-out files never surface
        their payload; everything else stays with Spark."""
        for f in filters:
            if (
                type(f) in _OPS
                and len(f.attribute) == 1
                and f.attribute[0] in _META_COLS
                and isinstance(f.value, int)
            ):
                self._pushed.append((f.attribute[0], _OPS[type(f)], f.value))
            else:
                yield f

    def partitions(self):
        names = sorted(
            f for f in os.listdir(self.path) if f.endswith(".fimg")
        )
        manifest = _read_manifest(self.path)
        if manifest is not None and self._pushed:
            names = [
                f
                for f in names
                if f not in manifest
                or all(op(manifest[f][col], val) for col, op, val in self._pushed)
            ]
        full = [os.path.join(self.path, f) for f in names]
        n = self.files_per_task
        chunks = [full[i : i + n] for i in range(0, len(full), n)] or [[]]
        return [_FileChunk(c) for c in chunks]

    def read(self, partition: _FileChunk):
        for p in partition.paths:
            with open(p, "rb") as fh:
                header = fh.read(_HEADER.size)
                magic, h, w, c = _HEADER.unpack_from(header)
                meta = {
                    "height": h,
                    "width": w,
                    "channels": c,
                    "length": os.path.getsize(p),
                }
                if any(not op(meta[col], val) for col, op, val in self._pushed):
                    continue  # pushed filter pruned this file — payload unread
                buf = header + fh.read()
            img_id = os.path.basename(p)[: -len(".fimg")]
            yield (img_id, h, w, c, meta["length"], buf)


class FimgDataSource(DataSource):
    @classmethod
    def name(cls):
        return "fimg"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return FimgReader(self.options)
