"""Output checks, run outside the timed window.

Merge outputs are checked on DuckDB relations: every spec-derived
foreign key closes and every uuid column stays unique.  Query outputs
are compared with their DuckDB oracle through ``scripts/check_oracle.py``'s
canonicalization.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from beehive_spark.pipeline.specs import SPEC_BY_NAME, fk_pairs


def closure_problems(con: duckdb.DuckDBPyConnection, tables: list[str]) -> list[str]:
    """FK orphans and duplicate uuids among ``tables`` (DuckDB views)."""
    problems = []
    for child, fk, parent, ref in fk_pairs(set(tables)):
        n = con.execute(
            f'SELECT count(*) FROM "{child}" WHERE "{fk}" > 0 AND "{fk}" NOT IN '
            f'(SELECT "{ref}" FROM "{parent}" WHERE "{ref}" IS NOT NULL)'
        ).fetchone()[0]
        if n:
            problems.append(f"{child}.{fk}->{parent}.{ref}: {n} orphans")
    for t in tables:
        if not SPEC_BY_NAME[t].has_uuid:
            continue
        rows, uniq = con.execute(
            f'SELECT count(*), count(DISTINCT uuid) FROM "{t}"').fetchone()
        if rows != uniq:
            problems.append(f"{t}: {rows - uniq} duplicate uuids")
    return problems


def published_rows(table_dir: str) -> int:
    """Row count of a Spark parquet output directory, from the footers."""
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(table_dir, "*.parquet")))


def report_problems(report: dict, moved_want: dict[str, int]) -> list[str]:
    """Reconciliations must all be ok and moved counts as generated."""
    problems = [f"reconcile {r['table']}: {r}" for r in report["reconciliations"]
                if not r["ok"]]
    if report["moved"] != moved_want:
        bad = {t: (report["moved"].get(t), n) for t, n in moved_want.items()
               if report["moved"].get(t) != n}
        problems.append(f"moved (got, want): {bad}")
    return problems


def oracle_rows(con, oracle_sql: str | None):
    """(sorted column names, sorted canonical rows) of a query's DuckDB
    oracle, canonicalized as ``scripts/check_oracle.py`` does; None for
    a query without an oracle."""
    import check_oracle as co

    if oracle_sql is None:
        return None
    cur = con.execute(oracle_sql)
    names = [d[0] for d in cur.description]
    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    return cols, sorted(tuple(co.canon(r[i]) for i in idx) for r in cur.fetchall())


def oracle_problems(name: str, columns: list[str], spark_rows, want) -> list[str]:
    """Compare one query's collected Spark rows with ``oracle_rows``;
    a query without an oracle must return rows."""
    import check_oracle as co

    if want is None:
        return [] if spark_rows else [f"{name}: no rows"]
    cols, rows = want
    if sorted(columns) != cols:
        return [f"{name}: cols spark={sorted(columns)} duck={cols}"]
    if len(spark_rows) != len(rows):
        return [f"{name}: rows spark={len(spark_rows)} duck={len(rows)}"]
    got = sorted(tuple(co.canon(r[c]) for c in cols) for r in spark_rows)
    return [] if got == rows else [f"{name}: values differ"]
