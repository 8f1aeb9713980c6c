"""Hash-bucketed persistent shingle store — incremental state for the
streaming novelty maintainer.

Round 9's ``run_novelty_stream`` kept the first-seen-shingle table as
ONE parquet directory and ``_commit_swap``-ed the whole thing every
micro-batch: correct, but O(|all shingles ever seen|) I/O per batch —
the single corpus-sized state in the streaming family, a genuine
scale-killer on a 100 TB crawl (r9 verdict, What's wrong #3).  This
module gives the store the layout the docstring had only promised:

- rows ``(s string, fd bigint)`` are hash-partitioned into ``B``
  buckets by ``pmod(xxhash64(s), B)``;
- each bucket lives in its own immutable, VERSIONED parquet directory
  ``b<bucket>-v<batch_id>``;
- a single JSON manifest (``_store_manifest.json``) maps bucket ->
  current directory and records the last applied batch id.

A micro-batch therefore reads and rewrites ONLY the buckets its
shingles hash into (<= min(batch distinct shingles, B) of them); the
rest of the store is untouched bytes on disk.  Batch cost is
proportional to the touched fraction, not to history — the property
``tests/test_streaming_stores.py`` pins by bucket-directory version
names and by untouched-file mtimes.

Atomicity WITHOUT multi-directory renames: version directories are
written under deterministic batch-derived names BESIDE the live ones,
so the store state readers see is defined entirely by the manifest,
and the commit point is one ``os.replace`` of the manifest file.  A
crash anywhere before that leaves the old manifest pointing at the
old directories (the batch simply never happened — foreachBatch
replays it and the stale half-written version dirs are rewritten
under the same names); a crash after it leaves a fully committed
batch whose replay short-circuits on the recorded id.  Superseded and
orphaned version directories are garbage-collected best-effort at the
START of the next fold, never on the read path.  Single-writer
contract as the rest of the maintainer family (one streaming query
owns one store).

At cluster scale the layout maps 1:1 onto a bucketed lake table
(Hive/Iceberg bucket transform on ``xxhash64(s)``): the batch->bucket
merge join is co-located by construction, and the manifest plays the
role of the table-format snapshot pointer.

Reference scope: net-new (the reference's closest analog — its
persisted id-map tables, preparation.js:81-89 — is incremental by
construction; this recovers that property for corpus-sized streaming
state).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beehive_spark.sources.layout import write_durable

MANIFEST = "_store_manifest.json"
STORE_SCHEMA = "s string, fd long"
# bucket index is %05d-formatted but NOT capped at 5 digits (the %d
# formatter grows past 99999 naturally), so the GC pattern must accept
# any width; split versions carry an s<n_buckets> suffix so a split
# can never collide with a batch version of the same id
_BUCKET_DIR = re.compile(r"^b\d+-v(\d+|init)(s\d+)?$")


def bucket_of(col, n_buckets: int):
    """The bucket expression — ONE definition shared by the writer
    (partitionBy column) and any co-located reader, so the
    row-to-bucket invariant cannot drift."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _manifest_file(path: str) -> str:
    return os.path.join(path, MANIFEST)


def read_manifest(path: str) -> dict:
    with open(_manifest_file(path)) as f:
        return json.load(f)


def store_batch_id(path: str) -> int:
    """Last applied batch id, -1 for a fresh store."""
    return read_manifest(path)["batch_id"]


def init_shingle_store(
    spark: SparkSession,
    path: str,
    n_buckets: int = 64,
    backfill: DataFrame | None = None,
) -> None:
    """Create an empty (or batch-backfilled) bucketed store."""
    if os.path.exists(_manifest_file(path)):
        raise ValueError(f"shingle store already initialized: {path}")
    os.makedirs(path, exist_ok=True)
    manifest = {"batch_id": -1, "n_buckets": n_buckets, "buckets": {}}
    if backfill is not None:
        stage = os.path.join(path, "_stage-init")
        shutil.rmtree(stage, ignore_errors=True)
        (
            backfill.select(
                F.col("s").cast("string").alias("s"),
                F.col("fd").cast("long").alias("fd"),
                bucket_of(F.col("s"), n_buckets).alias("bk"),
            )
            .write.mode("overwrite")
            .partitionBy("bk")
            .parquet(stage)
        )
        for sub in os.listdir(stage):
            if not sub.startswith("bk="):
                continue
            b = int(sub.split("=", 1)[1])
            # "vinit", NOT v0: the first stream batch is id 0, and a
            # version-name collision would let commit_buckets rmtree
            # the LIVE backfill dir before the manifest commits
            name = f"b{b:05d}-vinit"
            os.replace(os.path.join(stage, sub), os.path.join(path, name))
            manifest["buckets"][str(b)] = name
        shutil.rmtree(stage, ignore_errors=True)
    write_durable(_manifest_file(path), json.dumps(manifest))


def _version_name(bucket: int, batch_id: int) -> str:
    # deterministic per (bucket, batch): a replayed batch rewrites the
    # SAME directory names, which is what makes the pre-manifest crash
    # window recoverable by simple re-execution
    return f"b{bucket:05d}-v{batch_id}"


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """The full store as one ``(s, fd)`` frame."""
    manifest = read_manifest(path)
    dirs = [os.path.join(path, d) for d in manifest["buckets"].values()]
    if not dirs:
        return spark.createDataFrame([], STORE_SCHEMA)
    return spark.read.parquet(*dirs).select("s", "fd")


def read_buckets(
    spark: SparkSession, path: str, manifest: dict, buckets: list[int]
) -> DataFrame:
    """Only the named buckets' rows — the incremental read path."""
    dirs = [
        os.path.join(path, manifest["buckets"][str(b)])
        for b in buckets
        if str(b) in manifest["buckets"]
    ]
    if not dirs:
        return spark.createDataFrame([], STORE_SCHEMA)
    return spark.read.parquet(*dirs).select("s", "fd")


def gc_store(path: str, manifest: dict) -> None:
    """Drop version dirs the manifest no longer references plus any
    leftover staging — crash debris and superseded versions.  Runs at
    the start of a fold (writer-side only), never during reads."""
    live = set(manifest["buckets"].values())
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("_stage-") or (
            _BUCKET_DIR.match(d) and d not in live
        ):
            shutil.rmtree(full, ignore_errors=True)


def store_live_bytes(path: str, manifest: dict) -> int:
    """Total on-disk bytes of the LIVE bucket directories (superseded
    versions excluded) — the writer-side size signal for
    :func:`maybe_split_store`.  A directory listing, never a scan."""
    total = 0
    for d in manifest["buckets"].values():
        full = os.path.join(path, d)
        for root, _dirs, files in os.walk(full):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:  # pragma: no cover - racing GC
                    pass
    return total


def split_store(spark: SparkSession, path: str, manifest: dict) -> dict:
    """Double ``n_buckets`` by re-hashing every live row into
    ``2 * B`` fresh bucket directories and committing the new layout
    with ONE atomic manifest rename (``batch_id`` unchanged — a split
    is maintenance between folds, not a batch).

    Crash contract (same discipline as :func:`commit_buckets`): the
    new directories are written under deterministic names
    ``b<bucket>-v<batch_id>s<new_B>`` beside the live ones; the s
    suffix keeps them disjoint from every batch-version name of the
    SAME batch id, so a crash anywhere before the manifest rename
    leaves the old layout fully live (debris is swept by the next
    fold's :func:`gc_store`) and a replayed split rewrites the same
    names.  Because ``bucket_of`` is recomputed under the new modulus
    for every row, no key can land in a stale bucket — readers only
    ever see (manifest, layout) pairs that agree.

    Cost: one read + one bucketed rewrite of the FULL store —
    O(store), but triggered only when the store has doubled since the
    last split, so the amortized cost per fold stays proportional to
    the data that arrived (the dynamic-array argument; linear-hashing
    per-bucket splits would smooth the spike at the price of a
    two-level routing function, a trade this layout does not need
    until a single rewrite stops fitting a maintenance window)."""
    new_b = manifest["n_buckets"] * 2
    batch_id = manifest["batch_id"]
    # a fresh/backfill-only store sits at batch_id -1; reuse the init
    # label ("-1" would escape the GC pattern and leak forever)
    label = "init" if batch_id < 0 else str(batch_id)
    stage = os.path.join(path, f"_stage-split{label}s{new_b}")
    shutil.rmtree(stage, ignore_errors=True)
    (
        read_store(spark, path)
        .withColumn("bk", bucket_of(F.col("s"), new_b))
        .write.mode("overwrite")
        .partitionBy("bk")
        .parquet(stage)
    )
    new_buckets: dict[str, str] = {}
    for sub in os.listdir(stage):
        if not sub.startswith("bk="):
            continue
        b = int(sub.split("=", 1)[1])
        name = f"b{b:05d}-v{label}s{new_b}"
        target = os.path.join(path, name)
        shutil.rmtree(target, ignore_errors=True)  # crashed prior attempt
        os.replace(os.path.join(stage, sub), target)
        new_buckets[str(b)] = name
    shutil.rmtree(stage, ignore_errors=True)
    new_manifest = {
        "batch_id": batch_id,
        "n_buckets": new_b,
        "buckets": new_buckets,
    }
    write_durable(_manifest_file(path), json.dumps(new_manifest))
    return new_manifest


def maybe_split_store(
    spark: SparkSession,
    path: str,
    manifest: dict,
    threshold_bytes: int,
) -> dict:
    """Writer-side growth policy: double the bucket count while the
    average LIVE bucket size exceeds ``threshold_bytes``.  Called by
    the store maintainers at fold start (after GC, before the batch
    fold) so per-bucket I/O stays bounded as the store grows; returns
    the (possibly new) manifest the fold should use.  At most ONE
    doubling per fold (the linear-hashing pacing): per-file format
    overhead puts a floor under avg-bucket-bytes, so looping until
    under-threshold could never terminate for a threshold below that
    floor, and one doubling per fold already tracks any sane feed's
    growth rate.  Idempotent under replay: a re-entered fold
    re-measures the already-split layout and (normally) finds it
    under threshold; at worst it doubles once more, which changes no
    row, only the layout."""
    if (
        manifest["buckets"]
        and store_live_bytes(path, manifest) / manifest["n_buckets"]
        > threshold_bytes
    ):
        manifest = split_store(spark, path, manifest)
    return manifest


def commit_buckets(
    fresh: DataFrame, path: str, manifest: dict, batch_id: int
) -> None:
    """Publish new versions of the buckets present in ``fresh`` (a
    ``(s, fd, bk)`` frame holding the COMPLETE new content of every
    touched bucket) and advance the manifest in one atomic rename.

    Untouched buckets keep their current directories byte-for-byte;
    the old versions of touched buckets stay on disk (still referenced
    by the pre-commit manifest for crash consistency) until the next
    fold's GC sweep.
    """
    stage = os.path.join(path, f"_stage-v{batch_id}")
    shutil.rmtree(stage, ignore_errors=True)
    fresh.write.mode("overwrite").partitionBy("bk").parquet(stage)
    new_buckets = dict(manifest["buckets"])
    for sub in os.listdir(stage):
        if not sub.startswith("bk="):
            continue
        b = int(sub.split("=", 1)[1])
        name = _version_name(b, batch_id)
        target = os.path.join(path, name)
        shutil.rmtree(target, ignore_errors=True)  # crashed prior attempt
        os.replace(os.path.join(stage, sub), target)
        new_buckets[str(b)] = name
    shutil.rmtree(stage, ignore_errors=True)
    write_durable(
        _manifest_file(path),
        json.dumps(
            {
                "batch_id": batch_id,
                "n_buckets": manifest["n_buckets"],
                "buckets": new_buckets,
            }
        ),
    )


# the two store merges: nulls-safe MIN (first sighting) and SUM (counts)
_COMBINE = {
    "min": lambda fd, v: F.least(F.coalesce(fd, v), F.coalesce(v, fd)),
    "sum": lambda fd, v: (
        F.coalesce(fd, F.lit(0)) + F.coalesce(v, F.lit(0))
    ).cast("long"),
}


def store_fold(
    spark: SparkSession,
    path: str,
    out_dir: str,
    keyed,
    combine: str,
    logs,
    split_threshold_bytes: int | None = None,
):
    """The exactly-once micro-batch fold every bucketed maintainer
    shares, as a ``foreachBatch`` sink.  Per batch:

    1. read the manifest; a replayed batch id is skipped (its logs and
       buckets already landed);
    2. ``gc_store``, then ``maybe_split_store`` when
       ``split_threshold_bytes`` is set;
    3. ``keyed(batch_df)`` gives the batch's ``(s, value)`` rows, one
       per key; they get their bucket ``bk`` and are localCheckpointed
       (every step below reads them);
    4. read the TOUCHED buckets only;
    5. write the per-batch log partitions FIRST:
       ``logs(batch_df, keyed_batch, store)`` returns ``{name: frame}``,
       each overwritten at ``<out_dir>/<name>/batch=<id>`` (an
       idempotent rewrite on replay);
    6. full-outer combine the batch into the touched buckets
       (``combine`` is ``"min"`` or ``"sum"``) and ``commit_buckets``
       SECOND — the manifest rename carrying the batch id is the
       commit point.

    A crash between 5 and 6 replays the batch against the pre-batch
    manifest: the logs rewrite to identical content, then the buckets
    fold once."""
    merge = _COMBINE[combine]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        manifest = read_manifest(path)
        if batch_id <= manifest["batch_id"]:
            return  # replayed micro-batch: already folded (logs exist)
        gc_store(path, manifest)  # prior batch's superseded dirs
        if split_threshold_bytes is not None:
            manifest = maybe_split_store(
                spark, path, manifest, split_threshold_bytes
            )
        n_buckets = manifest["n_buckets"]
        batch = (
            keyed(batch_df)
            .withColumn("bk", bucket_of(F.col("s"), n_buckets))
            .localCheckpoint(eager=True)
        )
        touched = sorted(
            r["bk"] for r in batch.select("bk").distinct().collect()
        )  # bounded by n_buckets
        store = read_buckets(spark, path, manifest, touched)
        for name, frame in logs(batch_df, batch, store).items():
            frame.write.mode("overwrite").parquet(
                os.path.join(out_dir, name, f"batch={batch_id}")
            )
        fresh = (
            store.join(batch.drop("bk"), "s", "full_outer")
            .select("s", merge(F.col("fd"), F.col("value")).alias("fd"))
            .withColumn("bk", bucket_of(F.col("s"), n_buckets))
        )
        commit_buckets(fresh, path, manifest, batch_id)

    return sink
