"""Rendezvous (highest-random-weight) shard assignment — the stable
sharding primitive a 100 TB pipeline uses so that RESIZING the shard
count does not reshuffle history.

For shards ``0..n-1`` each record scores every shard with a keyed hash
and lands on the argmax. The defining property (Thaler & Ravishankar,
HRW 1998): when a shard is ADDED, the per-record argmax can only change
to the NEW shard — exactly the records the new shard wins move
(~1/(n+1) of them in expectation), and no record moves between two old
shards. A modulo layout (``hash % n``) reassigns ~n/(n+1) of all
records on the same resize; consistent-hash rings need virtual-node
state — HRW is stateless and needs only the shard count.

Spark shape: the score array is built JVM-side (one md5 per
(record, shard), ``array_max`` over ``struct(hash, shard)`` — struct
ordering compares the hash first, and md5 over distinct strings makes
ties impossible), so assignment is a pure projection: no shuffle, no
state, no UDF. The hash is the 40-bit md5 key (``h40``,
functions/helpers.py), and the DuckDB oracles replay it with its twin
``duck_h40``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.helpers import h40


def shard_scores(key: Column, n_shards: int, salt: str = "_shard_") -> Column:
    """Array of ``struct(h, s)`` scores for shards ``0..n_shards-1`` —
    exposed separately so a resize audit can score once and argmax two
    prefixes of the same array."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return F.array(
        *[
            F.struct(
                h40(F.concat(key.cast("string"), F.lit(f"{salt}{s}"))).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )


def rendezvous_assign(key: Column, n_shards: int, salt: str = "_shard_") -> Column:
    """The record's shard id under HRW with ``n_shards`` shards."""
    return F.array_max(shard_scores(key, n_shards, salt))["s"]
