"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where present, its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, sorted column names, dtypes and an order-insensitive
canonicalized value multiset (``query_problems``, which
``tests/test_oracle_gate.py`` also runs on every query at sf0.001).
Usage, from the repo root (default sf_dir: the sf0.01 testdata):

    PYTHONPATH=. python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a value for order-insensitive comparison."""
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _spark_kind(dt) -> str:
    """Collapse a Spark type to a comparison kind: i/f/b/M/dec/other."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, T.DecimalType):
        return "dec"
    if isinstance(dt, T.BooleanType):
        return "b"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "M"
    return "other"


def _duck_kind(dtype) -> str:
    """Collapse a pandas dtype (as DuckDB .df() renders it) to a kind."""
    k = dtype.kind
    if k in "iu":
        return "i"
    if k == "f":
        return "f"
    if k == "b":
        return "b"
    if k == "M":
        return "M"
    return "other"


def dtype_drift(sdf, duck_df) -> list[str]:
    """The local-green/driver-red divergence class (VERDICT r4 #1).

    The driver canonicalizes the DuckDB side through PANDAS: an oracle
    whose result type drifts — DuckDB widening SUM(BIGINT) to HUGEINT
    (rendered float64/object by pandas), or one side float where the
    other is integer — hashes ``"123.0"`` against Spark's ``"123"`` and
    goes red even when every value is numerically identical.  The
    fetchall-based value compare below stringifies Python ints and
    can't see it, so this check compares collapsed dtype kinds the way
    the driver's canonicalizer would observe them.  Flags:
      * integer-vs-float cross where the float column holds NO nulls
        (HUGEINT widening, genuine float upcast).  A float column WITH
        nulls is pandas's nullable-int artifact: the driver floats the
        SPARK side of those columns identically (empirically — the four
        nullable-int-output queries self_fk_remap / asof_join_purchases
        / window_rank_suite / dedup_incremental are driver-green), so
        only the null-free cross diverges.
      * Spark DECIMAL output (canonicalizes differently from both int
        and float on pandas — cast to DOUBLE or BIGINT in the query)
      * numeric-vs-object cross (HUGEINT→object path, decimal leakage)
    """
    probs = []
    duck_kinds = {c: _duck_kind(duck_df[c].dtype) for c in duck_df.columns}
    for field in sdf.schema.fields:
        s = _spark_kind(field.dataType)
        d = duck_kinds.get(field.name)
        if d is None:
            continue  # column-name mismatch reported elsewhere
        if s == "dec":
            probs.append(f"dtype {field.name}: spark DECIMAL (cast it)")
        elif s == "i" and d == "f":
            if not bool(duck_df[field.name].isna().any()):
                probs.append(
                    f"dtype {field.name}: spark=i duck=f with no NULLs "
                    "(HUGEINT/upcast drift)"
                )
        elif s == "f" and d == "i":
            probs.append(f"dtype {field.name}: spark=f duck=i")
        elif s in ("i", "f") and d == "other":
            probs.append(f"dtype {field.name}: spark={s} duck=object")
        elif s == "b" and d != "b" or d == "b" and s != "b":
            probs.append(f"dtype {field.name}: spark={s} duck={d}")
    return probs


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def query_problems(spark, con, sf_dir, fn, oracle_sql):
    """Run one query on Spark and, when ``oracle_sql`` is given, on
    DuckDB; return (Spark row count, problems).

    A query without an oracle only has to collect.  With one, the two
    results must agree on row count, sorted column names, dtype kinds
    (``dtype_drift``) and the canonicalized value multiset.  An error on
    either side is reported as a problem, not raised."""
    try:
        sdf = fn(spark, sf_dir)
        spark_rows = sdf.collect()
        spark_cols = sorted(sdf.columns)
    except Exception as exc:  # noqa: BLE001
        return None, [f"spark error: {exc}"]
    if oracle_sql is None:
        return len(spark_rows), []
    try:
        cur = con.execute(oracle_sql)
        duck_cols_raw = [d[0] for d in cur.description]
        duck_rows = cur.fetchall()
        # second fetch through pandas for the dtype-drift lint —
        # this is the representation the driver's canonicalizer sees
        duck_df = con.execute(oracle_sql).df()
    except Exception as exc:  # noqa: BLE001
        return len(spark_rows), [f"duckdb error: {exc}"]
    duck_cols = sorted(duck_cols_raw)
    problems = dtype_drift(sdf, duck_df)
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    if spark_cols != duck_cols:
        problems.append(f"cols spark={spark_cols} duck={duck_cols}")
    if not problems:
        sset = sorted(
            tuple(canon(row[c]) for c in spark_cols) for row in spark_rows
        )
        didx = [duck_cols_raw.index(c) for c in duck_cols]
        dset = sorted(
            tuple(canon(row[i]) for i in didx) for row in duck_rows
        )
        if sset != dset:
            n_bad = sum(1 for a, b in zip(sset, dset) if a != b)
            problems.append(f"values differ ({n_bad} rows); first diff:")
            for a, b in zip(sset, dset):
                if a != b:
                    problems.append(f"  spark={a}")
                    problems.append(f"  duck ={b}")
                    break
    return len(spark_rows), problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from beehive_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="check_oracle")
    con = oracle_connection(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        n_rows, problems = query_problems(spark, con, sf_dir, fn, oracles.get(name))
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(problems[:3]))
        elif name not in oracles:
            print(f"ok   {name}: rows-only ({n_rows} rows, "
                  f"{time.time()-t0:.1f}s)")
        else:
            print(f"ok   {name}: {n_rows} rows match "
                  f"({time.time()-t0:.1f}s)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
