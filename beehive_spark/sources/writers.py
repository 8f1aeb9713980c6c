"""Table sinks: append, upsert, and staged publish.

Parity targets:
- S5 multi-row INSERT batches (utils.js:187-197): Spark's JDBC writer
  already batches (`batchsize` option) — `append_table`.
- S6 `INSERT ... ON DUPLICATE KEY UPDATE` upserts (person-users.js:
  46-68,307-329,772-797; location.js:57-75; obs.js:73-91): Spark has
  no native JDBC upsert, so `upsert_jdbc` runs the statement per
  partition through a DB-API connection factory (executemany), fully
  parallel across executors, never through the driver.
- S8 CASE-UPDATE uuid corrections (uuid-checks.js:84-118): same sink,
  the corrected rows are just a DataFrame.

The SQL builder and partition-writer are pure functions so they are
unit-testable without a MySQL server (tests inject a fake DB-API
connection).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

from beehive_spark.sources.layout import promote_staging, recover_swap, staging_path


def append_table(
    df: DataFrame,
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    batchsize: int = 16000,
    mode: str = "append",
    driver: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Batched JDBC append (reference recommended batch 16,000,
    README.md:103-108)."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batchsize))
    )
    if driver:
        w = w.option("driver", driver)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.mode(mode).save()


def build_upsert_sql(
    table: str,
    columns: list[str],
    update_columns: list[str],
    dialect: str = "mysql",
    key_columns: list[str] | None = None,
) -> str:
    """Parameterized upsert statement.

    dialect="mysql": `INSERT ... ON DUPLICATE KEY UPDATE` with %s
    params (the reference's statement, person-users.js:46-68).
    dialect="sqlite": ANSI-ish `INSERT ... ON CONFLICT(keys) DO UPDATE`
    with ? params — requires ``key_columns`` (the conflict target);
    used by the live DB-API integration test and any SQLite deployment.
    dialect="postgres": same ON CONFLICT form with %s (psycopg-style)
    params.

    Dialect coverage note (the matrix lives in
    ``tests/test_jdbc_live.py``): the mysql text is what the reference
    executes but no MySQL server or driver ships in this container, so
    its SEMANTICS are exercised through SQLite's ON CONFLICT twin
    (same conflict-update contract; the live suite proves
    executemany-from-executors + conflict updates for real) while the
    mysql/postgres TEXTS are pinned by unit test.

    update_columns: the subset rewritten on conflict (the reference
    updates only audit/self-FK columns, e.g. person-users.js:56-66).
    """
    if not update_columns:
        raise ValueError("update_columns must be non-empty for an upsert")
    collist = ", ".join(columns)
    if dialect == "mysql":
        params = ", ".join(["%s"] * len(columns))
        updates = ", ".join(f"{c} = VALUES({c})" for c in update_columns)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({params}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect in ("sqlite", "postgres"):
        if not key_columns:
            raise ValueError(f"{dialect} upsert needs key_columns (conflict target)")
        params = ", ".join(["?" if dialect == "sqlite" else "%s"] * len(columns))
        keys = ", ".join(key_columns)
        updates = ", ".join(f"{c} = excluded.{c}" for c in update_columns)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({params}) "
            f"ON CONFLICT({keys}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown upsert dialect: {dialect}")


def upsert_partition(
    rows: Iterator,
    sql: str,
    columns: list[str],
    connect: Callable[[], object],
    batch_size: int = 16000,
) -> int:
    """Executemany the upsert for one partition; returns rows written.

    `connect` returns a DB-API connection (mysql-connector, pymysql,
    ...); injected so tests can observe the statements without a
    server."""
    conn = connect()
    try:
        cur = conn.cursor()
        batch, n = [], 0
        for row in rows:
            batch.append(tuple(row[c] for c in columns))
            if len(batch) >= batch_size:
                cur.executemany(sql, batch)
                n += len(batch)
                batch = []
        if batch:
            cur.executemany(sql, batch)
            n += len(batch)
        conn.commit()
        return n
    finally:
        conn.close()


def upsert_jdbc(
    df: DataFrame,
    table: str,
    update_columns: list[str],
    connect: Callable[[], object],
    batch_size: int = 16000,
    dialect: str = "mysql",
    key_columns: list[str] | None = None,
) -> None:
    """Distributed upsert: one DB connection per partition, executemany
    batches, no driver round-trip for data."""
    columns = df.columns
    sql = build_upsert_sql(table, columns, update_columns, dialect, key_columns)

    def run(partition):
        upsert_partition(partition, sql, columns, connect, batch_size)

    df.foreachPartition(run)


def _stage_and_swap(df: DataFrame, path: str) -> int:
    """Write ``df`` to ``path``'s staging sibling, count the rows from
    its parquet footers, then promote it over ``path``
    (``layout.promote_staging``).  Returns the row count written —
    shared tail of :func:`upsert_parquet`, :func:`apply_cdc_parquet`
    and :func:`delete_where`, which each call ``layout.recover_swap``
    before reading the table.  These tables carry no marker: without
    recovery, a crash between the swap's two renames would make the
    next call read the table as empty and publish only its own rows."""
    import shutil

    from beehive_spark.operators.checks import footer_rows

    staging = staging_path(path)
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    total = footer_rows(staging)
    promote_staging(staging, path)
    return total


def upsert_parquet(
    spark,
    df: DataFrame,
    path: str,
    keys: list[str] | str,
) -> dict:
    """Keyed upsert into a parquet table: rows in ``df`` replace
    existing rows with the same key; all other existing rows survive —
    the file-based counterpart of `upsert_jdbc` (S6 ON DUPLICATE KEY
    semantics) for lakehouse-style targets without a table format.

    Plan: anti-join the EXISTING table against the incoming keys (one
    shuffle bounded by the smaller key set — the incoming side, which
    broadcasts while small), union the incoming rows, write to a
    staging dir, then swap it in with the shared backup-then-replace
    promotion, so a crash at any point leaves a complete table on
    disk.  Plain parquet: no log, so concurrent writers need external
    locking — a real table format (Delta/Iceberg) is the answer when
    that matters; this covers the single-writer/many-reader pipeline
    case.

    Returns {"existing", "updated", "inserted", "total"} row counts.
    """
    import os

    recover_swap(path)
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    incoming = df
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        n_existing = existing.count()
        survivors = existing.join(
            incoming.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        n_survivors = survivors.count()
        merged = survivors.select(*incoming.columns).unionByName(incoming)
        updated = n_existing - n_survivors
    else:
        n_existing, updated = 0, 0
        merged = incoming
    total = _stage_and_swap(merged, path)
    n_incoming = incoming.count()
    return {
        "existing": n_existing,
        "updated": updated,
        "inserted": n_incoming - updated,
        "total": total,
    }


def apply_cdc_parquet(
    spark,
    path: str,
    changes: DataFrame,
    keys: list[str] | str,
    type_col: str = "change_type",
) -> dict:
    """Apply a CDC change feed (insert/update/delete rows, as produced
    by the ``snapshot_diff`` query) to a keyed parquet table — the
    apply half of the diff->apply pipeline that replaces re-merging a
    full source dump (reference orchestrator.js:22-121 re-reads
    everything per run; a consumer of the diff touches only the delta).

    Semantics: rows tagged delete remove the matching key; insert and
    update rows replace/add their key with the payload columns (all
    ``changes`` columns except ``type_col``).  Same plan shape as
    :func:`upsert_parquet`, with deletes folded into the one rewrite:
    the survivors anti-join excludes BOTH upserted and deleted keys,
    so one staging write and one backup-then-replace swap apply the
    whole feed — crash-safe at every step, and the full table never
    reshuffles (the touched-key side broadcasts).

    Returns {"deleted", "upserted", "total"}.
    """
    import os

    from pyspark.sql import functions as F

    recover_swap(path)
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in changes.columns if c != type_col]
    upserts = changes.filter(F.col(type_col) != "delete").select(*payload)
    deletes = changes.filter(F.col(type_col) == "delete").select(*key_cols).distinct()
    n_del = deletes.count()
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        # one anti-join against ALL touched keys (upserted + deleted):
        # the touched-key side is the delta, which broadcasts while
        # small — the full table never reshuffles
        touched = upserts.select(*key_cols).unionByName(deletes).distinct()
        survivors = existing.join(F.broadcast(touched), key_cols, "left_anti")
        merged = survivors.select(*upserts.columns).unionByName(upserts)
    else:
        merged = upserts
    total = _stage_and_swap(merged, path)
    return {"deleted": n_del, "upserted": upserts.count(), "total": total}


def delete_where(spark, path: str, predicate) -> dict:
    """Retention / right-to-be-forgotten delete: rewrite the keyed
    parquet table at ``path`` WITHOUT the rows matching ``predicate``
    (a Column or SQL string), using the same staged-write +
    backup-then-replace swap as :func:`upsert_parquet` — readers never
    observe a partial table and a crash at any step leaves either the
    old or the new complete version on disk.

    The reference's only delete is row-by-row SQL against MySQL; at
    lakehouse scale deletion is a REWRITE, and the cost lever is how
    much survives untouched: the predicate is pushed to the scan
    (Catalyst prunes row groups via footer stats), and with the table
    partitioned on a predicate column whole partitions skip.  Pair
    with ``layout.compact_parquet`` when deletes shrink files below
    target size.

    Returns {"deleted", "remaining"}.
    """
    from pyspark.sql import functions as F

    recover_swap(path)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    existing = spark.read.parquet(path)
    survivors = existing.filter(~cond | cond.isNull())
    n_before = existing.count()
    remaining = _stage_and_swap(survivors, path)
    return {"deleted": n_before - remaining, "remaining": remaining}
