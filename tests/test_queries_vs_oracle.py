"""Every registered query with an oracle must hash-match DuckDB at sf0.001.

This is a local pre-run of the driver's t2 correctness gate (which runs at
sf0.01); sf0.001 keeps the suite fast while exercising identical logic.
"""

from __future__ import annotations

import pytest

from bigdata_20251_steam_spark.plans import QUERIES

from .conftest import SF_SMOKE
from .oracle_harness import compare, duckdb_run

_WITH_ORACLE = [q.name for q in QUERIES.values() if q.oracle is not None]
_ROWS_ONLY = [q.name for q in QUERIES.values() if q.oracle is None]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, name):
    q = QUERIES[name]
    got = q.fn(spark, SF_SMOKE)
    exp = duckdb_run(q.oracle, SF_SMOKE)
    compare(got, exp, name)


def test_no_rows_only_queries():
    # Since the r5 continuation every registered query carries an oracle:
    # engine-specific outputs (sketches, stateful streaming, mapInPandas
    # decode) register invariant-audit oracles instead of going rows-only.
    # A new rows-only registration is a deliberate decision — make it
    # loudly visible here.
    assert _ROWS_ONLY == [], (
        f"rows-only queries reappeared: {_ROWS_ONLY} — give them an "
        "invariant-audit oracle or document why that is impossible"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # every queries() key with an oracle_sql() entry matches the registry
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    # the contract lists queries in registration order
    assert list(qs) == list(QUERIES)
    assert list(os_) == [n for n, q in QUERIES.items() if q.oracle is not None]
