"""Local replica of the driver's correctness gate: every registered
query runs in Spark AND its oracle SQL runs in DuckDB over the same
parquet tables; results must match on row count, column names, and
order-insensitive values (floats already rounded to 6dp by convention).
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from bigdata_invoice_stream_analysis_spark.cache import release_caches
from bigdata_invoice_stream_analysis_spark.plans.queries import ORACLES, QUERIES
from bigdata_invoice_stream_analysis_spark.schemas import TESTDATA_TABLES


@pytest.fixture(autouse=True)
def _scoped_cache_hygiene():
    """Mirror the bench/driver loop: scoped caches are released after
    every query so the parity sweep (len(ORACLES) oracle-gated queries
    plus the rows-only tail, one session) doesn't accumulate executor
    storage — and so a leak shows up here first."""
    yield
    release_caches()


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm(row[i]) for i in order) for row in rows
    )


ORACLE_QUERIES = sorted(ORACLES.keys())
ROWS_ONLY_QUERIES = sorted(set(QUERIES) - set(ORACLES))


def assert_matches_oracle(name, sdf, con, sql):
    """The driver's compare: same column names, same row count, same
    order-insensitive normalized values."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"{name}: column mismatch spark={scols} duck={dcols}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duck={len(drows)}"
    )
    sn = _normalize_rows([c.lower() for c in scols], srows)
    dn = _normalize_rows([c.lower() for c in dcols], drows)
    mismatches = [
        (a, b) for a, b in zip(sn, dn) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    assert_matches_oracle(
        name, QUERIES[name](spark, sf_dir), _duck_con(sf_dir), ORACLES[name])


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    assert sdf.count() >= 0
