"""The differential oracle gate: every registered query against its
DuckDB oracle at sf0.001.

One case per registry entry, compared by ``scripts/check_oracle.py``'s
``query_problems`` (row count, column names, dtype kinds, canonicalized
value multiset).  A query without an oracle must still collect.

A case that returns no rows at sf0.001 compares nothing, so it is
re-run at the sibling sf0.01 testdata and must return rows there (and
match its oracle, when it has one).  Which cases are empty is found at
run time; a missing sf0.01 dir fails the case."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from beehive_spark.queries import all_oracles, all_queries  # noqa: E402
from check_oracle import oracle_connection, query_problems  # noqa: E402

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    n_rows, problems = query_problems(
        spark, con, sf_dir, QUERIES[name], ORACLES.get(name))
    spark.catalog.clearCache()
    assert not problems, "\n".join(problems)
    if n_rows:
        return
    wider = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    assert os.path.isdir(wider), (
        f"{name} is empty at {sf_dir} and {wider} is missing")
    wide_con = oracle_connection(wider)
    try:
        n_rows, problems = query_problems(
            spark, wide_con, wider, QUERIES[name], ORACLES.get(name))
    finally:
        wide_con.close()
        spark.catalog.clearCache()
    assert not problems, f"at {wider}:\n" + "\n".join(problems)
    assert n_rows, f"{name} returns no rows at {sf_dir} or {wider}"
