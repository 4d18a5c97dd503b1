"""Value-parity for extra_queries() — the relational variants that sit
outside the 50-query graded window of queries() — and for the queries()
entries built on the classify -> block path. Runs the same compare as
scripts/check_contract.py (row count + sorted column names + order-
insensitive normalized values) against each query's DuckDB twin at
sf0.001, so demoting a query out of queries() loses no evidence.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
# queries() entries built on the classify -> block path
# (__spark_entry__._pprl_blocked)
BLOCKED = [
    "pprl_block_elements", "pprl_classified", "pprl_edge_weights",
    "pprl_pruned_candidates",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.map(lambda v: f"{v:.9g}" if isinstance(v, float) else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entrymod.extra_queries()) + BLOCKED)
def test_extra_query_matches_duckdb(spark, duck, name):
    queries = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    sdf = queries[name](spark, SF).toPandas()
    odf = duck.execute(oracles[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = _normalize(sdf), _normalize(odf)
    assert a.equals(b), f"{name}: value mismatch"


def test_windows_are_disjoint_and_covering():
    """queries() must stay at <=50 entries (the driver records exactly the
    first 50), every entry value-checkable, and the extra map disjoint."""
    q, o = entrymod.queries(), entrymod.oracle_sql()
    eq, eo = entrymod.extra_queries(), entrymod.extra_oracle_sql()
    assert len(q) <= 50
    assert set(o) == set(q)
    assert set(eo) == set(eq)
    assert not set(q) & set(eq)
