"""Regeneration-drift net: re-run the documents-family oracle parity on
a VARIANT corpus containing the edge shapes a regenerated testdata set
could legally contain — 1-to-4-word documents (below the 5-gram
window), an all-identical-words document (distinct ratio 1/n), and a
document from a brand-new source present in only one drift cohort
(exercises the Laplace guard in source_mixture_drift).

Round 3 died to exactly this class (generator drift the fixed corpus
never exercised); the short-doc crash in dup_ngram_coverage was found
by review, not by data. This test keeps such shapes permanently in the
gate. Parity is data-independent by construction — if a query only
matches its oracle on the shapes the current generator happens to emit,
that is a bug this file exists to catch.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from bigdata_imgprocessing_spark.core.catalog import TABLES
from bigdata_imgprocessing_spark.queries import ORACLES, QUERIES

from conftest import SF_DIR

_VARIANT = "/tmp/bdip_variant_corpus"

_EXTRA_DOCS = [
    # (doc_id_offset, text, lang, source)
    (1, "hello", "en", "src0"),                     # 1 word
    (2, "spark scale join", "en", "src1"),          # 3 words < 5-gram
    (3, "a b c d", "de", "src2"),                   # 4 words, boundary
    (4, " ".join(["dup"] * 30), "fr", "src3"),      # zero distinct variety
    (5, "wholly novel source cohort document row", "es", "srcNEW"),  # odd id
]


@pytest.fixture(scope="module")
def variant_dir(spark):
    if os.path.exists(_VARIANT):
        shutil.rmtree(_VARIANT)
    os.makedirs(_VARIANT)
    for t in TABLES:
        if t not in ("documents", "embeddings", "events", "orders"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", f"{_VARIANT}/{t}.parquet")
    con = duckdb.connect()
    # orders variant (round 6): the edge shapes the orders-family
    # analytics must survive — an exact duplicate of the maximum
    # totalprice with an EARLIER date (skyline dominance tie) and one
    # with a LATER date (per-price group collapse), two same-day orders
    # for one customer (interval-merge duplicate starts, ntile ties), a
    # brand-new orderpriority value (listagg/mode grow a group), and a
    # far-future order (+90 days: calendar/pareto right edge).
    con.execute(
        f"""
        COPY (
            WITH base AS (SELECT * FROM '{SF_DIR}/orders.parquet'),
            mx AS (SELECT max(o_orderkey) AS mk, max(o_totalprice) AS mp,
                          min(o_orderdate) AS mind, max(o_orderdate) AS maxd
                   FROM base)
            SELECT * FROM base
            UNION ALL SELECT mk + 1, 1, 'F', mp, mind, '1-URGENT' FROM mx
            UNION ALL SELECT mk + 2, 2, 'O', mp, maxd + INTERVAL 1 DAY,
                             '5-LOW' FROM mx
            UNION ALL SELECT mk + 3, 1, 'O', 12.34, maxd, '2-HIGH' FROM mx
            UNION ALL SELECT mk + 4, 1, 'P', 12.34, maxd, '2-HIGH' FROM mx
            UNION ALL SELECT mk + 5, 2, 'O', 55.00, maxd,
                             'X-EXPERIMENTAL' FROM mx
            UNION ALL SELECT mk + 6, 2, 'O', 0.01,
                             maxd + INTERVAL 90 DAY, 'X-EXPERIMENTAL' FROM mx
        ) TO '{_VARIANT}/orders.parquet' (FORMAT PARQUET)
        """
    )
    mx = con.execute(
        f"SELECT max(doc_id) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    # force genuinely ODD ids regardless of mx parity (srcNEW must land
    # in the doc_id%2==1 drift cohort so the other cohort has it absent)
    start = mx + 1 + (mx % 2)
    values = ", ".join(
        f"({start + off * 2}, '{text}', '{lang}', '{src}', {len(text)})"
        for off, text, lang, src in _EXTRA_DOCS
    )
    con.execute(
        f"""
        COPY (
            SELECT * FROM '{SF_DIR}/documents.parquet'
            UNION ALL
            SELECT * FROM (VALUES {values})
                v(doc_id, text, lang, source, n_chars)
        ) TO '{_VARIANT}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings variant: a zero vector (cosine 0-division hazard), an
    # exact duplicate of query vector 0 (rank-tie hazard), and a
    # constant vector — ids past the max, dim preserved
    con.execute(
        f"""
        COPY (
            WITH base AS (
                SELECT * FROM '{SF_DIR}/embeddings.parquet'
            ), mx AS (SELECT max(vec_id) AS m FROM base)
            SELECT * FROM base
            UNION ALL
            SELECT m + 1,
                   CAST(list_transform(range(64), i -> 0.0) AS FLOAT[]),
                   3
            FROM mx
            UNION ALL
            SELECT m + 2, (SELECT embedding FROM base WHERE vec_id = 0), 4
            FROM mx
            UNION ALL
            SELECT m + 3,
                   CAST(list_transform(range(64), i -> 0.25) AS FLOAT[]),
                   5
            FROM mx
        ) TO '{_VARIANT}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # events variant: a brand-new event_type, negative values, a user id
    # beyond the customer range, and timestamps
    # extending past the current max day (re-tests every dynamic-bounds
    # window/gap-fill query; ts re-encodes as TIMESTAMP(US), the OTHER
    # leg of the dual-encoding contract)
    con.execute(
        f"""
        COPY (
            WITH base AS (
                SELECT * FROM '{SF_DIR}/events.parquet'
            ), mx AS (
                SELECT max(event_id) AS mid, max(ts) AS mts FROM base
            )
            SELECT * FROM base
            UNION ALL
            SELECT mid + 1, mts + INTERVAL 1 DAY, 999999, 'refund',
                   -42.5, '{{"k": 0}}'
            FROM mx
            UNION ALL
            SELECT mid + 2, mts + INTERVAL 2 DAY + INTERVAL 3 HOUR,
                   1, 'refund', -0.01, '{{"k": 7}}'
            FROM mx
            UNION ALL
            SELECT mid + 3, mts + INTERVAL 3 DAY, 2, 'click', 0.0,
                   '{{"k": 99}}'
            FROM mx
            -- planted funnel mass (round 7): 110 users each with a
            -- complete view→click→purchase session (5-min steps, one
            -- session per user at 2h spacing) so the strict-sequential
            -- funnel count is O(100) instead of the organic corpus's
            -- 0-1 (one ordering bug = one row difference is
            -- statistically thin evidence); plus 15 REVERSED
            -- purchase→click→view sessions that must count as view-only
            -- sessions (an out-of-order click may not advance a strict
            -- funnel — the exact bug class the mass is planted to catch)
            UNION ALL
            SELECT mid + 100 + t.j * 3 + s.k,
                   mts + INTERVAL 5 DAY + t.j * (INTERVAL 2 HOUR)
                       + s.k * (INTERVAL 5 MINUTE),
                   500000 + t.j,
                   CASE s.k WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                            ELSE 'purchase' END,
                   1.0, '{{"k": 1}}'
            FROM mx, UNNEST(range(110)) t(j), UNNEST(range(3)) s(k)
            UNION ALL
            SELECT mid + 1000 + t.j * 3 + s.k,
                   mts + INTERVAL 40 DAY + t.j * (INTERVAL 2 HOUR)
                       + s.k * (INTERVAL 5 MINUTE),
                   600000 + t.j,
                   CASE s.k WHEN 0 THEN 'purchase' WHEN 1 THEN 'click'
                            ELSE 'view' END,
                   1.0, '{{"k": 2}}'
            FROM mx, UNNEST(range(15)) t(j), UNNEST(range(3)) s(k)
        ) TO '{_VARIANT}/events.parquet' (FORMAT PARQUET)
        """
    )
    return _VARIANT


def _doc_family():
    return sorted(
        n for n, sql in ORACLES.items()
        if ("documents" in sql or "embeddings" in sql or "events" in sql
            or "orders" in sql)
        and not n.startswith("streaming_")
    )


# canonicalization shared with the primary gate — one source of truth
# for the driver-hash-compatible cell normalization (round-1 lesson:
# int/float type tags), so the two parity gates cannot drift apart
from test_oracle_parity import _normalize as _canon  # noqa: E402


def test_variant_funnel_mass(spark, variant_dir):
    """The planted sessions give the strict-sequential funnel two-digit
    statistical mass: all 110 complete sessions convert, and the 15
    reversed sessions contribute views but may NOT advance past stage 1
    (their click precedes the session's first view)."""
    row = QUERIES["session_funnel_stats"](spark, variant_dir).collect()[0]
    assert row.n_full_funnel >= 110
    assert row.n_view >= 125  # planted 110 + 15 reversed + organic
    # reversed sessions are the gap between view-sessions and
    # click-after-view sessions — at least those 15 must NOT convert
    assert row.n_view - row.n_view_click >= 15


@pytest.mark.parametrize("name", _doc_family())
def test_variant_parity(spark, variant_dir, name):
    sdf = QUERIES[name](spark, variant_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{variant_dir}/{t}.parquet'"
        )
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), name
    assert _canon(srows, scols) == _canon(drows, dcols), name
