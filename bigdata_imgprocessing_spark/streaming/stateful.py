"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the arbitrary-state surface the built-in windowed aggregations can't
express (running per-key state with custom transition logic).

Demonstrated op: per-user running totals with a "large purchase" counter
(count of purchases whose running cumulative value crossed a threshold
at arrival — an inherently order-and-state-dependent quantity). The
drain test checks the stream's final state equals the batch
recomputation, the stream-batch contract for stateful ops.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .jobs import event_stream, run_to_memory

_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, n_large bigint"
_STATE_SCHEMA = "n bigint, total double, n_large bigint"
#: running-total threshold for the "large" counter (public: the oracle
#: SQL in queries/streaming_queries.py embeds the same constant)
THRESHOLD = 500.0
_THRESHOLD = THRESHOLD


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n, total, n_large = state.get if state.exists else (0, 0.0, 0)
    # Concat ALL Arrow chunks for the group, then sort ONCE: a group
    # larger than arrow.maxRecordsPerBatch arrives as multiple chunks,
    # and chunk-local sorts would fold values out of global (ts,
    # event_id) order (ADVICE r2). Residual assumption (documented): a
    # group split ACROSS micro-batches still folds in micro-batch order;
    # the order-dependent n_large contract holds because the file source
    # delivers each key's rows within one micro-batch per file-chunk and
    # ts ordering across batches follows file order in this corpus.
    # Single-chunk fast path (r16): skip the concat when the group
    # arrived whole — the common case across thousands of keys.
    chunks = [p for p in pdfs if len(p)]
    batch = (
        chunks[0]
        if len(chunks) == 1
        else pd.concat(chunks, ignore_index=True)
        if chunks
        else pd.DataFrame()
    )
    if len(batch):
        batch = batch.sort_values(["ts", "event_id"])
        for v in batch["value"]:
            n += 1
            total += float(v)
            if total > _THRESHOLD:
                n_large += 1
    state.update((n, total, n_large))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "n_large": [n_large],
        }
    )


def running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the event stream through the stateful operator; returns the
    final per-user state materialized from the memory sink (last update
    per user wins across micro-batches)."""
    s = event_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    updated = s.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(updated, mode="update")
    # multiple micro-batches emit multiple updates per user → keep the
    # last (max n_events) per user
    from .jobs import last_state_per_key

    return last_state_per_key(drained, "user_id", "n_events")


_Q_OUT = (
    "user_id bigint, n_seen bigint, n_admitted bigint, admitted_value double"
)
_Q_STATE = "n_seen bigint, n_admitted bigint, admitted_value double"
#: per-user admission cap (public: the oracle SQL embeds the same value)
QUOTA = 3


def _quota_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key quota admission: admit the first QUOTA events per user
    in (ts, event_id) order, carry (n_seen, n_admitted, admitted_value)
    as state across micro-batches. Same chunk-concat-then-sort rule as
    ``_update`` (ADVICE r2); cross-batch order holds because the feed
    is staged as ts-contiguous quartile files."""
    n_seen, n_adm, val = state.get if state.exists else (0, 0, 0.0)
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        # single-chunk fast path (r16, guide §4 per-group work): most
        # groups arrive as one Arrow chunk; pd.concat per group is
        # measurable overhead across thousands of keys per batch
        batch = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        n_seen += len(batch)
        if n_adm < QUOTA:
            # the (ts, event_id) sort only matters while the quota can
            # still admit — once full, later batches only bump n_seen
            # (r16: skips the sort for the majority of groups in every
            # batch after the first; admitted values are unchanged)
            batch = batch.sort_values(["ts", "event_id"])
            take = batch.head(QUOTA - n_adm)
            n_adm += len(take)
            val += float(take["value"].sum())
    state.update((n_seen, n_adm, val))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_seen": [n_seen],
            "n_admitted": [n_adm],
            "admitted_value": [round(val, 2)],
        }
    )


def quota_admissions(spark: SparkSession, sf_dir: str, feed: str) -> DataFrame:
    """Drain a ts-quartile-staged event feed through the quota
    operator; returns the FINAL per-user admission state (last update
    per user across micro-batches)."""
    from .jobs import file_feed_stream, last_state_per_key

    updated = file_feed_stream(spark, feed).groupBy(
        "user_id"
    ).applyInPandasWithState(
        _quota_update,
        outputStructType=_Q_OUT,
        stateStructType=_Q_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(updated, mode="update")
    return last_state_per_key(drained, "user_id", "n_seen")


_E_OUT = "event_type string, n_events bigint, n_jumps bigint, ewma16 double"
_E_STATE = "n bigint, last double, njumps bigint, tail array<double>"
#: jump threshold (public: the oracle SQL embeds the same constant) —
#: ~p95 of consecutive |value| deltas on this corpus, so the counter is
#: exercised without firing on every row
JUMP_THRESHOLD = 150.0
_EWMA_TAIL = 16


def _ewma_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key bounded-window EWMA + jump counter: state carries
    (n, last_value, n_jumps, last-16 values). The jump test |v - prev|
    spans micro-batch boundaries through ``last``; the EWMA is the
    alpha=1/2 fold over the LAST 16 values (seeded at the oldest), so
    state stays O(1) per key while the metric is exactly recomputable
    by the batch oracle. Same chunk-concat-then-sort rule as
    ``_update`` (ADVICE r2). Emits the UNROUNDED fold — terminal
    rounding happens JVM-side in the query so both engines round the
    identical double with the same half-up rule (python round is
    half-even)."""
    n, last, njumps, tail = (
        state.get if state.exists else (0, 0.0, 0, [])
    )
    tail = list(tail or [])
    chunks = [p for p in pdfs if len(p)]
    batch = (
        chunks[0]
        if len(chunks) == 1
        else pd.concat(chunks, ignore_index=True)
        if chunks
        else pd.DataFrame()
    )
    if len(batch):
        batch = batch.sort_values(["ts", "event_id"])
        for v in batch["value"]:
            v = float(v)
            if n > 0 and abs(v - last) > JUMP_THRESHOLD:
                njumps += 1
            last = v
            n += 1
            tail.append(v)
            if len(tail) > _EWMA_TAIL:
                tail.pop(0)
    state.update((n, last, njumps, tail))
    e = tail[0]
    for v in tail[1:]:
        e = e / 2 + v / 2  # exact halvings; same op order as the oracle
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "n_jumps": [njumps],
            "ewma16": [e],
        }
    )


def ewma_anomalies(spark: SparkSession, feed: str) -> DataFrame:
    """Drain a ts-tertile-staged event feed through the EWMA/jump
    operator; returns the FINAL per-event-type state (last update per
    key across micro-batches)."""
    from .jobs import file_feed_stream, last_state_per_key

    updated = file_feed_stream(spark, feed).groupBy(
        "event_type"
    ).applyInPandasWithState(
        _ewma_update,
        outputStructType=_E_OUT,
        stateStructType=_E_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = run_to_memory(updated, mode="update")
    return last_state_per_key(drained, "event_type", "n_events")
