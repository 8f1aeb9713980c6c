"""Streaming ANN index maintenance — embeddings stream in, the
persisted IVF index stays fresh.

The batch lifecycle (``operators.ann_index``: build once / probe many /
append increments) composes with Structured Streaming through
``foreachBatch``: every micro-batch of new vectors is folded into the
persisted index with :func:`append_ivf_index` under the FROZEN
codebook — the same one-code-path, two-latencies seam as
``streaming.materialize`` (one implementation serves the nightly bulk
append and the minutes-latency stream).

Delivery semantics, stated precisely: appends are AT-LEAST-ONCE (a
crash between the file append and the batch-id record lets the replayed
batch append its list entries again — parquet file appends cannot be
made atomic with a sidecar write), but probe RESULTS are exactly-once
regardless, because ``probe_ivf_index`` already deduplicates candidates
per (query, vector) — IVF multi-assignment requires that dedupe anyway,
so replay-duplicated list entries are absorbed by construction.  The
recorded batch id makes the common replay (restart without a crash
mid-append) a no-op; ``meta['n_vectors']`` is exact except across a
crash-mid-append replay, where it may overcount (the index CONTENT
stays correct — recount from the assignments table if the number must
be exact).

At 100 TB this is the standard freshness architecture for vector
search: rebuild the codebook on a schedule (distribution drift),
stream appends between rebuilds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from beehive_spark.operators.ann_index import append_ivf_index, read_meta, write_meta
from beehive_spark.sources.layout import write_durable
from beehive_spark.streaming.events import drain


def _last_stream_batch(index_dir: str, lineage: str) -> int:
    """Replay watermark, scoped to one checkpoint lineage.

    foreachBatch batch ids are only monotonic WITHIN a checkpoint: a
    new/lost checkpoint restarts them at 0, so a watermark recorded
    under an old lineage would silently skip the new stream's batches
    0..N of genuinely new vectors.  The meta therefore records which
    checkpoint lineage the watermark belongs to; a different lineage
    resets the watermark (replays from the old lineage cannot arrive
    any more, so nothing is double-applied by resetting).  The lineage
    key is a marker that LIVES INSIDE the checkpoint directory (see
    :func:`_lineage_id`), not the directory path: a checkpoint wiped
    and recreated at the same path is a new lineage — its batch ids
    restart at 0 — and a path-keyed watermark would silently skip
    those batches (review finding)."""
    try:
        meta = read_meta(index_dir)
    except OSError:
        return -1
    if meta.get("stream_lineage") != lineage:
        return -1
    return meta.get("last_stream_batch", -1)


def _lineage_id(checkpoint: str) -> str:
    """Identity of THIS checkpoint lineage: a uuid marker stored inside
    the checkpoint directory, created on first use.  It shares the
    checkpoint's fate — wiping the directory destroys the marker, so a
    recreated checkpoint (whose batch ids restart at 0) presents a new
    lineage and the watermark resets; a surviving checkpoint keeps its
    marker across restarts and the watermark stays in force."""
    import uuid

    os.makedirs(checkpoint, exist_ok=True)
    marker = os.path.join(checkpoint, "lineage.id")
    if not os.path.exists(marker):
        write_durable(marker, uuid.uuid4().hex)  # atomic vs a concurrent creator
    with open(marker) as fh:
        return fh.read().strip()


def run_ann_index_append_stream(
    spark: SparkSession,
    vectors: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Fold a stream of (vec_id, embedding) rows into the persisted IVF
    index at ``index_dir`` (which must exist — run
    ``build_ivf_index`` once from the batch backfill first).

    Each micro-batch appends under the frozen codebook at increment
    cost; the applied batch id rides in the index meta so a replayed
    batch (restart, checkpoint recovery) is skipped.  See the module
    docstring for the precise delivery semantics."""

    checkpoint = os.path.abspath(os.path.join(checkpoint_dir, "ann_append"))
    lineage = _lineage_id(checkpoint)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id <= _last_stream_batch(index_dir, lineage):
            return  # replayed micro-batch (same checkpoint): already appended
        meta = append_ivf_index(spark, index_dir, batch_df)
        meta["last_stream_batch"] = batch_id
        meta["stream_lineage"] = lineage
        write_meta(index_dir, meta)

    drain(
        vectors.writeStream.foreachBatch(sink),
        checkpoint,
        timeout_sec,
    )
