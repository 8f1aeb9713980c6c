"""Physical table layout for scale: partitioned and bucketed writes.

The reference has no layout concept — every scan is a full MySQL
table read (SURVEY.md §2.1 S2).  At 100 TB, layout IS the query plan:

- **Hive-style partitioning** (`write_partitioned`) turns equality /
  range predicates on the partition column into directory pruning —
  the scan never opens non-matching files (shows as PartitionFilters
  in the plan, bytes read drop proportionally).  Choose low-moderate
  cardinality columns (date, region); never a high-cardinality key
  (millions of tiny dirs kill the metastore and the filesystem).
- **Bucketing** (`write_bucketed`) pre-shuffles rows into a fixed
  number of hash buckets on the join/agg key AT WRITE TIME.  Two
  tables bucketed the same way join with ZERO runtime exchange —
  the single biggest lever for repeated large-fact joins (e.g. the
  merge pipeline's fact-to-mapping joins, run once per source
  instance).  Bucket count should approximate target parallelism;
  it is fixed at write time, so pick for the cluster, not the laptop.

Both are plain Spark writers — no custom file format — so Catalyst,
AQE, and any reader interoperate.

**Staged commits.**  Every on-disk artifact the engine rewrites in
place (parquet tables, IVM views, ANN indexes) commits through one
protocol, replacing the reference's MySQL transaction
(orchestrator.js:66,98-109) with stage-then-swap:

1. The writer builds the new version in :func:`staging_path`
   (``<path>.staging``).  An artifact with a *marker* (the IVM batch
   meta, the ANN meta) writes it last, through :func:`write_durable`,
   so a staging dir holding its marker is complete.
2. :func:`promote_staging` demotes the live dir to ``<path>.old``,
   renames the staging dir into place and drops the backup, all under
   :func:`dir_swap_lock`.  The demote happens only after the staging
   write has finished.
3. A crash between the two renames leaves no live dir.  Every reader
   and writer of the artifact first calls :func:`recover_swap`, which
   rolls the swap forward under the same lock:

   | live dir | ``.staging`` | ``.old``  | action                       |
   |----------|--------------|-----------|------------------------------|
   | exists   | any          | any       | nothing                      |
   | missing  | complete     | any       | promote it; drop a complete  |
   |          |              |           | ``.old``                     |
   | missing  | absent or    | complete  | restore ``.old``; leave the  |
   |          | incomplete   |           | staging (a live writer's     |
   |          |              |           | build, possibly)             |
   | missing  | otherwise    | absent    | nothing (a first write       |
   |          |              |           | crashed; its writer clears   |
   |          |              |           | the staging)                 |

   "Complete" means the dir holds the marker.  Without a marker a
   ``.staging`` is complete only beside a ``.old`` (step 2's order)
   and a ``.old`` always is.  "Live" means the directory exists, not
   that it holds the marker: a table seeded by a batch backfill has no
   marker and is still the live version.

Plain directories carry no log, so each artifact has one writer at a
time (single-writer contract); the lock only serializes the renames of
that writer with concurrent recoveries.  Stale siblings left by a
crash are collected by :func:`vacuum_artifacts`.
"""

from __future__ import annotations

import fcntl
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def dir_swap_lock(path: str):
    """Exclusive advisory lock serializing staged-directory swaps and
    crash recovery on one artifact path.

    Without it, a reader's roll-forward recovery racing a writer's
    swap (or a second reader's recovery) can promote `.staging`
    mid-swap and strand — or with two interleaved recoveries even
    delete — the artifact.  ``flock`` is held only around the renames
    (microseconds), is released by the kernel if the holder dies (no
    stale-lock deadlock, unlike O_EXCL sentinel files), and works
    across processes on one host — matching the local-rename
    atomicity these protocols already assume; on a shared filesystem
    the single-maintainer contract stands."""
    lockfile = path.rstrip("/") + ".lock"
    while True:
        fd = os.open(lockfile, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
        except BaseException:
            os.close(fd)
            raise
        # unlink-safe acquisition (r5 review): vacuum_artifacts may
        # unlink a dangling lockfile between our open() and flock().
        # Holding a lock on an ORPHANED inode is no lock at all (a new
        # acquirer creates a fresh file and locks that), so verify the
        # path still resolves to the inode we locked and retry if not.
        try:
            st_fd = os.fstat(fd)
            st_path = os.stat(lockfile)
            same = (
                st_fd.st_ino == st_path.st_ino
                and st_fd.st_dev == st_path.st_dev
            )
        except FileNotFoundError:
            same = False
        if same:
            break
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    try:
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def staging_path(path: str) -> str:
    """The one staging sibling, ``<path>.staging``, that a staged
    writer builds the next version of ``path`` in."""
    return path.rstrip("/") + ".staging"


def _backup_path(path: str) -> str:
    return path.rstrip("/") + ".old"


def write_durable(path: str, text: str) -> None:
    """Replace the small file ``path`` with ``text`` atomically and
    durably: write a fsynced ``<path>.tmp``, then ``os.replace`` it over
    ``path``.  A reader sees the old content or the new, never a torn
    file, and the new content is on disk before the rename publishes
    it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def recover_swap(path: str, marker: str | None = None) -> None:
    """Roll forward a staged swap of ``path`` that a crash interrupted
    between its two renames, per the decision table in the module
    docstring.  ``marker`` is the file whose presence makes a sibling
    dir complete.  The already-live check runs unlocked (the hot read
    path takes no lock) and is repeated under :func:`dir_swap_lock`,
    which serializes the recovery with writers' promotions and other
    recoveries."""
    staging, backup = staging_path(path), _backup_path(path)

    def pending() -> bool:
        return not os.path.exists(path) and (
            os.path.exists(staging) or os.path.exists(backup)
        )

    if not pending():
        return
    with dir_swap_lock(path):
        if not pending():
            return
        has_old = os.path.isdir(backup)
        if marker is None:
            staged, old = os.path.isdir(staging) and has_old, has_old
        else:
            staged = os.path.exists(os.path.join(staging, marker))
            old = os.path.exists(os.path.join(backup, marker))
        if staged:
            os.replace(staging, path)
            if old:
                shutil.rmtree(backup, ignore_errors=True)
        elif old:
            os.replace(backup, path)


def promote_staging(
    staging: str, path: str, marker: str | None = None, assume_locked: bool = False
) -> bool:
    """THE locked rename-with-backup promotion: demote the live
    directory to ``.old``, promote ``staging``, drop the backup (step 2
    of the staged-commit protocol in the module docstring).

    ``marker`` is the relative filename whose presence makes a
    directory "complete" (always written last by builders).  When
    given, a missing staging next to a complete live path means a
    concurrent reader's roll-forward already promoted OUR staging
    (legal: recovery cannot distinguish a crash from a slow writer
    while no live directory exists) — that is a no-op success, not an
    error.  An EXISTING staging without its marker is never swapped
    in either (r5): after a recoverer promotes a writer's complete
    staging, a NEW rebuild may already have begun writing a fresh
    ``.staging`` — the retried writer must not demote the good live
    directory in favor of that foreign, incomplete build.  With a
    complete live dir that is the same recoverer-already-promoted
    no-op; with no complete live dir it is a hard error (promoting an
    incomplete build would publish a partial table).  Returns True
    when this call performed the promotion, False for the
    no-op cases.

    ``assume_locked=True`` runs the promotion WITHOUT re-acquiring
    ``dir_swap_lock`` — for callers that must hold the lock across a
    larger critical section (e.g. ``ann_index.compact_ivf_index``'s
    conflict check + promote; flock is per-fd, so re-acquiring from
    the same process would self-deadlock).  The caller asserts it
    already holds the lock for ``path``."""
    if assume_locked:
        return _promote_locked(staging, path, marker)
    with dir_swap_lock(path):
        return _promote_locked(staging, path, marker)


def _promote_locked(staging: str, path: str, marker: str | None) -> bool:
    backup = _backup_path(path)
    if marker is not None:
        live_complete = os.path.exists(os.path.join(path, marker))
        if not os.path.exists(staging):
            if live_complete:
                return False
            # nothing to promote and nothing complete to keep:
            # erroring here (r5 review) beats the old fall-through,
            # which demoted the live dir to .old and THEN crashed
            # on the missing staging rename — stranding the data
            raise RuntimeError(
                f"staging {staging!r} is missing and the live dir "
                f"has no {marker!r} — nothing safe to publish"
            )
        elif not os.path.exists(os.path.join(staging, marker)):
            if live_complete:
                return False
            raise RuntimeError(
                f"refusing to promote incomplete staging {staging!r} "
                f"(no {marker!r}) over a live dir that is also "
                "incomplete — nothing safe to publish"
            )
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, backup)
    os.replace(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
    return True


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | str,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet: one directory per partition value;
    predicates on ``partition_by`` columns prune at planning time."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str] | str,
    n_buckets: int = 32,
    sort_by: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table.

    Equi-joins and aggregations on ``bucket_by`` between tables with
    the same bucket spec run without any Exchange; adding ``sort_by``
    lets sort-merge joins skip the sort as well.
    """
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).bucketBy(n_buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sorts)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog;
    a plain path read would lose it)."""
    return spark.table(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str] | str,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet: rows range-partitioned AND sorted on
    ``cluster_by``, so every output file covers a disjoint value range.

    Parquet footers then carry tight min/max per file and row group;
    any reader (Spark, DuckDB, Trino) skips files whose range misses
    the predicate — the poor man's Z-order, and the right layout for
    the one column most queries filter on (e.g. event time).  Unlike
    Hive partitioning it handles high-cardinality/continuous columns
    without directory explosion."""
    cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key over ``cols`` as a pure JVM expression.

    Each column is min/max-quantized to ``bits`` levels and the bit
    planes are interleaved (bit ``j`` of column ``i`` lands at position
    ``j*m + i``), so sorting by the result clusters rows that are close
    in EVERY dimension — the multi-column generalization of
    :func:`write_clustered`'s single-column range layout, and the same
    scheme Delta Lake's OPTIMIZE ZORDER BY applies.  Rows with a NULL
    in any z-column sort last (their key is 2^(bits*m), past every
    real key).

    Min/max come from one tiny 1-row aggregate (driver-held literals
    thereafter); at 100 TB that is a single column-pruned scan of the
    stats columns, amortized over every future pruned read.  Min/max
    quantization is distribution-agnostic only for roughly uniform
    columns — for heavy-tailed ones, pre-transform (log, clamp) before
    z-ordering, same advice as Delta.

    The bit interleave is the shared :func:`functions.zorder.z_value_n`
    (r6); quantization here is double-based and NULL-aware because a
    layout key tolerates boundary ulps, where the driver-hash-checked
    ``zorder_layout`` query uses the exact-BIGINT
    :func:`functions.zorder.grid_scale` instead.
    """
    from pyspark.sql import functions as F

    from beehive_spark.functions.zorder import z_value_n

    m = len(cols)
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    levels = (1 << bits) - 1
    quant = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(levels),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * levels),
        ).cast("long")
        quant.append(q)
    z = z_value_n(quant, bits)
    null_any = None
    for c in cols:
        cond = F.col(c).isNull()
        null_any = cond if null_any is None else (null_any | cond)
    return F.when(null_any, F.lit(1 << (bits * m)).cast("long")).otherwise(z)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: rows range-partitioned AND sorted on
    the Morton key of ``zorder_by``, then written WITHOUT the key.

    Every file (and row group) then covers a small hyper-rectangle of
    the z-space, so footer min/max stats on EACH z-column are tight and
    a conjunctive box predicate (x BETWEEN .. AND y BETWEEN ..) skips
    most files — where a single-column sort gives tight stats on one
    column and full-range stats on the rest.  Any parquet reader
    (Spark, DuckDB, Trino) benefits; no custom format.
    """
    z = zorder_value(df, zorder_by, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 16,
    sort_within: list[str] | str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Final-stage training-data export: deterministic content-hash
    sharding with a row/byte manifest.  Returns the manifest DataFrame
    (shard, n_rows) after writing ``path/shard=K/`` parquet dirs and
    ``path/_manifest`` alongside.

    Shard assignment is ``xxhash64(key) mod n_shards`` — a pure
    function of the data, so the SAME rows land in the SAME shard on
    any cluster, any partitioning, any retry (dataloader resume and
    ablation reproducibility depend on this; Spark's default
    round-robin file split does not provide it).  Rows are
    repartitioned BY the shard column so each shard is written by one
    task (sequential reads per shard downstream), optionally sorted
    within the shard for curriculum or locality.  At 100 TB pick
    n_shards ~ total_bytes / desired_shard_bytes; the write itself is
    the only full-data pass, and the manifest aggregation reuses the
    same shuffle since it groups by the partition key.
    """
    from pyspark.sql import functions as F

    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    sharded = df.withColumn("shard", shard).repartition(n_shards, "shard")
    if sort_within:
        sorts = [sort_within] if isinstance(sort_within, str) else list(sort_within)
        sharded = sharded.sortWithinPartitions("shard", *sorts)
    sharded.write.mode(mode).partitionBy("shard").parquet(path)
    spark = df.sparkSession
    out = spark.read.parquet(path)
    manifest = out.groupBy("shard").agg(F.count(F.lit(1)).alias("n_rows"))
    manifest.coalesce(1).write.mode(mode).parquet(path + "/_manifest")
    return spark.read.parquet(path + "/_manifest")


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partition_by: list[str] | str | None = None,
) -> dict:
    """Compact a small-file-ridden parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (per partition when
    ``partition_by`` is given), as a staged commit (module docstring):
    readers never observe a partial table, and a crash leaves a
    complete version that the next call recovers before it reads.

    Small files are the silent killer of 100 TB scans: every streaming
    micro-batch, upsert rewrite and over-parallel job leaves behind
    files far below the ~128-512 MB sweet spot, and each one costs a
    task launch, a footer read and a metadata entry.  The reference
    never faces this (one MySQL server, no files); any lakehouse
    pipeline does — this is the OPTIMIZE/rewrite-data-files maintenance
    action expressed with plain Spark + atomic directory swap.

    Sizing uses the actual on-disk byte count (not row counts) so
    compression ratio changes don't skew file sizes.  Unpartitioned
    tables use ``coalesce`` (no shuffle — merging files needs no
    repartition).  Partitioned tables are salted PER PARTITION VALUE:
    each Hive partition gets ``ceil(partition_bytes / target)`` salt
    buckets (partition bytes estimated from its row share of the
    table's measured bytes — exact under uniform compression, the
    documented approximation), and rows repartition on
    ``(partition_cols, salt)`` so a 10 GB partition splits into ~40
    target-sized files instead of one 10 GB file, while small
    partitions stay single-file.

    Returns {"files_before", "files_after", "bytes"}.
    """
    import math

    from pyspark.sql import functions as F

    def _walk(d: str):
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet") and not f.startswith("_"):
                    yield os.path.join(root, f)

    recover_swap(path)
    files_before = list(_walk(path))
    total_bytes = sum(os.path.getsize(f) for f in files_before)
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    staging = staging_path(path)
    shutil.rmtree(staging, ignore_errors=True)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        # per-partition bucket counts from row shares of the measured
        # bytes — a calendar/region-sized aggregate, broadcast back
        sizes = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__rows"))
        total_rows = df.count() or 1
        bpr = total_bytes / total_rows
        buckets = sizes.select(
            *cols,
            F.greatest(
                F.lit(1),
                F.ceil(F.col("__rows") * F.lit(bpr) / F.lit(target_file_bytes)),
            )
            .cast("int")
            .alias("__buckets"),
        )
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__buckets")
        ).alias("__salt")
        (
            df.join(F.broadcast(buckets), cols)
            .withColumn("__salt", salt)
            .repartition(max(n_files, 1), *cols, F.col("__salt"))
            .drop("__buckets", "__salt")
            .write.mode("overwrite")
            .partitionBy(*cols)
            .parquet(staging)
        )
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(staging)
    promote_staging(staging, path)
    return {
        "files_before": len(files_before),
        "files_after": len(list(_walk(path))),
        "bytes": total_bytes,
    }


def vacuum_artifacts(root: str, min_age_sec: float = 24 * 3600) -> list[str]:
    """Remove stale transactional leftovers under ``root``: the
    ``.staging`` / ``.old`` sibling directories that an interrupted
    staged commit (see the module docstring) can leave behind,
    including the ``merged.old`` backup of ``MergePipeline.publish``
    (its ``<out>/_staging_<tag>`` directory matches no suffix and is
    cleared by the next publish of that tag).  Returns the paths
    removed.

    Two guards make this safe to run while writers are active (the
    naive "delete anything ending in .staging/.old" is NOT — it can
    race an in-flight swap between its two renames and delete the only
    complete copy):

    - **Liveness**: a suffix dir is only removed when its base path
      (the name with the suffix stripped) exists as a live directory.
      If the base is MISSING, the artifact may be the sole surviving
      version of a swap that crashed between renames (e.g. a staged
      IVM table carrying its committed batch meta) — left alone for
      :func:`recover_swap`.  This also stops the vacuum from touching
      unrelated user directories that merely end in ``.old``.
    - **Age**: only artifacts whose mtime is older than
      ``min_age_sec`` (default 24 h) are removed, so a freshly-written
      staging dir of an in-flight swap is never collected.  Pass ``0``
      only when no writer can be running.

    ``.lock`` sentinel FILES (created by :func:`dir_swap_lock`, even
    by pure readers probing a nonexistent artifact) are collected too
    (r5), under inverted liveness: a lock whose base artifact EXISTS
    is plausibly in active use and costs nothing to keep, so only
    locks for MISSING artifacts are candidates — and each is unlinked
    while holding a non-blocking exclusive flock on it, so no process
    inside its critical section can lose the lock.  The complementary
    half lives in :func:`dir_swap_lock`: an acquirer that flocks an
    inode the vacuum just orphaned detects the path/inode mismatch and
    retries on the fresh file, so exclusion holds under arbitrary
    interleaving (hammer-pinned in ``tests/test_layout.py``).
    """
    import time

    # the middle suffix is the staging name older compact_parquet
    # versions used; their leftovers are still collected
    suffixes = (".staging", ".compact_staging", ".old")
    now = time.time()
    removed = []
    for dirpath, dirnames, files in os.walk(root):
        for d in list(dirnames):
            full = os.path.join(dirpath, d)
            suffix = next((s for s in suffixes if d.endswith(s)), None)
            if suffix is None:
                continue
            dirnames.remove(d)  # never descend into artifacts
            base = full[: -len(suffix)]
            if not os.path.isdir(base):
                continue  # possible sole-copy of an interrupted swap
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age < min_age_sec:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
        for f in files:
            if not f.endswith(".lock"):
                continue
            full = os.path.join(dirpath, f)
            base = full[: -len(".lock")]
            if os.path.exists(base):
                continue  # artifact alive: lock may be in active use
            try:
                if now - os.path.getmtime(full) < min_age_sec:
                    continue
                fd = os.open(full, os.O_RDWR)
            except OSError:
                continue
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                os.close(fd)
                continue  # held right now: leave it
            try:
                os.unlink(full)
                removed.append(full)
            except OSError:
                pass
            finally:
                os.close(fd)
    return removed
