"""Local replica of the driver's correctness gate.

For every registered query with an oracle, run the Spark plan and the
DuckDB SQL on the same parquet tables and compare row count, column
names, and (column-name-sorted, row-sorted) values exactly — stricter
than the driver's hash so mismatches are debuggable here first.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from bigdata_imgprocessing_spark.core.catalog import TABLES
from bigdata_imgprocessing_spark.queries import ORACLES, QUERIES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    """Canonicalize a cell the way the driver's string-hash sees it.

    The driver stringifies values before hashing, so an int 99111 from
    Spark and a float 99111.0 from DuckDB (HUGEINT sum widened) MUST
    mismatch here too.  Type-tagging ints vs floats makes the local gate
    at least as strict as the driver for that class (round 1 failed 7
    driver hashes that Python `==` masked because int == float is True).
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return f"i:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / representation noise at far-below-rounding scale
        return f"f:{round(v, 9)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sn, dn = _normalize(srows, scols), _normalize(drows, dcols)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


# BOOLEAN: tolerance-bound columns (approx_* queries) — Python bool on
# both engines, repr-stable through the driver's value hash.
_ORACLE_TYPE_ALLOWLIST = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN",
}


def test_oracle_output_types_are_plain_scalars(sf_dir):
    """Every oracle column must be a plain scalar type the driver's
    comparator represents identically to Spark's. DuckDB widens integer
    sum() to HUGEINT, which the pandas/Arrow path converts to float64
    ('99111.0' vs Spark's '99111' → hash fail, 7 queries in round 1);
    DECIMAL, TIMESTAMP, and nested types have the same representation
    hazard. CAST to BIGINT/DOUBLE/VARCHAR at the oracle's output edge."""
    con = _duck(sf_dir)
    flagged = {}
    for name, sql in ORACLES.items():
        rel = con.sql(sql)
        bad = [
            (c, str(ty).upper())
            for c, ty in zip(rel.columns, rel.types)
            if str(ty).upper() not in _ORACLE_TYPE_ALLOWLIST
        ]
        if bad:
            flagged[name] = bad
    con.close()
    assert not flagged, f"oracles with non-scalar/widened output columns: {flagged}"


def test_all_queries_have_entries():
    assert QUERIES, "no queries registered"
    missing_oracle = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops are allowed to omit oracles, but must be
    # consciously listed here as they are added (r3: the approx sketch
    # queries graduated to hash-checked tolerance bounds — none left)
    allowed_weak: set[str] = set()
    assert missing_oracle <= allowed_weak, f"queries missing oracles: {missing_oracle}"
