"""Query registry — the engine's user-facing query surface.

Every operator class from SURVEY.md §2 (plus the generalized
LLM-data-pipeline operators) is exposed here as a named query:
``(spark, sf_dir) -> DataFrame`` with, where SQL-expressible, a
DuckDB-equivalent oracle SQL string for differential testing.

Contract (driver harness): column names AND types must match between
the Spark result and the oracle result; computed columns are aliased
identically on both sides; doubles are rounded identically on both
sides so order-insensitive value hashes agree.

The registry is the one list of queries: ``all_queries`` and
``all_oracles`` iterate in registration order (the order
``_ensure_loaded`` imports the query modules, then the order each
module defines its queries).  ``tests/test_oracle_gate.py`` checks
every entry against its oracle at sf0.001 and ``bench.py`` derives its
extra tier from it.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# name -> (query_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, oracle: str | None = None):
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes the events time column.

    The events ``ts`` column has shipped as INT64 TIMESTAMP(NANOS) in
    some testdata vintages (readable only via nanosAsLong) and plain
    TIMESTAMP(MICROS)/NTZ in others; ``normalize_ts`` folds both into
    TimestampType so downstream queries are encoding-agnostic.  The
    conf is set at runtime (it is a dynamic SQL conf) so this also
    works under the driver harness's own SparkSession.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may be locked; reads may still work
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from beehive_spark.sources.readers import normalize_ts

        df = normalize_ts(df)
    return df


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


_loaded = False


def _ensure_loaded() -> None:
    global _loaded
    if not _loaded:
        # import for registration side effects
        from beehive_spark.queries import core  # noqa: F401
        from beehive_spark.queries import curation  # noqa: F401
        from beehive_spark.queries import llm  # noqa: F401
        from beehive_spark.queries import media  # noqa: F401
        from beehive_spark.queries import ml  # noqa: F401
        from beehive_spark.queries import relational  # noqa: F401
        from beehive_spark.queries import tpch  # noqa: F401

        _loaded = True
