"""Simulate the driver's correctness gate: every queries() entry vs its
DuckDB oracle at sf0.001 (row count + column names + order-insensitive
values)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 4)
    return v


def _rows(rows):
    return sorted(tuple(_norm(v) for v in r) for r in rows)


QUERIES = sorted(entry_mod.queries())
ORACLES = entry_mod.oracle_sql()


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = _rows(tuple(r) for r in sdf.collect())

    res = duck.sql(ORACLES[name])
    dcols = res.columns
    drows = _rows(res.fetchall())

    assert scols == dcols, f"{name}: columns {scols} != {dcols}"
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)} rows"
    mism = [(a, b) for a, b in zip(srows, drows) if a != b]
    assert not mism, f"{name}: first mismatches {mism[:3]}"
