"""Every queries() entry hash-matches its DuckDB oracle at sf0.01 —
a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.compare import compare_query, duckdb_connect
from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def con():
    con = duckdb_connect(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    df = entry_mod.queries()[name](spark, SF_ORACLE)
    compare_query(df, con, entry_mod.oracle_sql()[name])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2


def test_registry_shape():
    """queries() and oracle_sql() share one key order, window first, and a
    name cannot be registered twice."""
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert list(q) == list(o)
    assert list(q)[:50] == entry_mod._WINDOW
    with pytest.raises(ValueError, match="registered twice"):
        entry_mod._register("q1_pricing_summary", entry_mod.entry, "SELECT 1")
    assert entry_mod.oracle_sql() == o


def test_events_runs_test_matches_oracle_at_sf_small(spark):
    """At sf0.001 every event type has no hour below its median, so the
    runs-test variance is zero: z must be NULL, not a DIVIDE_BY_ZERO."""
    con = duckdb_connect(SF_SMALL)
    try:
        df = entry_mod.queries()["events_runs_test"](spark, SF_SMALL)
        compare_query(df, con, entry_mod.oracle_sql()["events_runs_test"])
    finally:
        con.close()
