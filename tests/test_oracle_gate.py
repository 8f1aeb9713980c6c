"""The differential oracle gate: every registered query against its
DuckDB oracle at sf0.001.

One case per registry entry, compared by ``scripts/check_oracle.py``'s
``query_problems`` (row count, column names, dtype kinds, canonicalized
value multiset).  A query without an oracle must still collect."""

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
    _, problems = query_problems(
        spark, con, sf_dir, QUERIES[name], ORACLES.get(name))
    spark.catalog.clearCache()
    assert not problems, "\n".join(problems)
