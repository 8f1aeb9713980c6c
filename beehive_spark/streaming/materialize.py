"""Streaming materialized-view maintenance.

``run_ivm_agg_stream`` keeps a grouped-aggregate parquet table fresh
from a STREAM of CDC change records, reusing the exact batch algebra of
``operators.ivm`` inside ``foreachBatch`` — the same one-code-path,
two-latencies seam as ``streaming.events.run_cdc_apply_stream`` (which
maintains the row-level table; this maintains its aggregates).

Why the retraction algebra is the right streaming primitive: signed
deltas are ADDITIVE, so within-micro-batch ordering is irrelevant —
an entity updated five times in one batch contributes a telescoping
sum in which intermediate states cancel exactly (no last-change-per-key
compaction pass needed, unlike the row-level apply).

The exactly-once protocol, stated once for every maintainer here.
foreachBatch batch ids are deterministic, so each artifact records the
last id it applied and a replayed batch is skipped:

- **Drain.** Every stream runs through ``events.drain``:
  ``Trigger.AvailableNow`` to completion, ``TimeoutError`` (after
  stopping the query) if it runs past ``timeout_sec``.
- **Table fold** (``_table_sink``: ivm_agg, checksum, ohlc, hll).  A
  single parquet table; the maintainer supplies only its fold
  ``(batch_df, base, persisted) -> fresh``.  Empty and replayed batches
  (``_last_applied``) are skipped; ``_commit_swap`` writes the fresh
  table with its batch id in ``_ivm_meta.json`` INSIDE the staged
  directory, so data and replay marker commit in one rename (no crash
  window where the fold is live but unrecorded); then exactly the
  frames this batch's fold persisted are unpersisted (``_releasing``).
  The mg summary keeps its own sink body (its row count doubles as the
  emptiness check) on the same ``_last_applied`` / ``_commit_swap``
  pair.
- **Store fold** (``shingle_store.store_fold``: novelty, dedup, vocab,
  countmin).  A bucketed store; per-batch log partitions are
  idempotent overwrites written FIRST, the store's manifest rename
  carrying the batch id commits SECOND.
- **Multi-artifact sinks** (ivm_distinct, cdc_materialize, ivm_join)
  own their commit ordering and crash repair, documented per function,
  and release their per-batch persists through the same ``_releasing``
  sink wrapper.

Batch ids are scoped to ONE checkpoint lineage (Spark's foreachBatch
contract): rebuilding a lost checkpoint and re-ingesting the feed with
DIFFERENT batching can renumber already-applied changes past the
recorded id and double-fold them — recover a lost checkpoint by
re-backfilling the table from the source of truth, never by replaying
the feed under a fresh checkpoint with a stale table.

At scale this is the materialized-view answer to the reference's
recompute-everything loop (orchestrator.js:22-121): the aggregate table
is rewritten once per micro-batch with broadcast-only maintenance joins
(see operators/ivm.py — the base never shuffles), cost proportional to
the stream, not to history.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from beehive_spark.operators.ivm import cdc_to_retractions, incremental_agg
from beehive_spark.sources.layout import (
    promote_staging,
    recover_swap,
    staging_path,
    write_durable,
)
from beehive_spark.streaming.events import compact_changes, drain
from beehive_spark.streaming.shingle_store import store_fold


META_NAME = "_ivm_meta.json"


def _meta_file(table_path: str) -> str:
    # INSIDE the table directory: leading "_" makes Spark's file index
    # skip it, and it rides along in the directory rename, so "data
    # swapped" and "batch id recorded" are one atomic os.replace.
    return os.path.join(table_path, META_NAME)


def _legacy_meta_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".ivm_meta.json"


def _last_applied(table_path: str) -> int:
    recover_swap(table_path, META_NAME)
    for path in (_meta_file(table_path), _legacy_meta_path(table_path)):
        try:
            with open(path) as f:
                return json.load(f)["batch_id"]
        except (OSError, ValueError, KeyError):
            continue
    return -1


def _stage(fresh: DataFrame, table_path: str, batch_id: int) -> str:
    """Write ``fresh`` plus its batch-id meta into the table's staging
    directory (NOT yet promoted) and return the staging path.  The
    meta is the table's marker, written durably INTO the staging
    directory last, so a staging directory WITH meta is a complete,
    promotable state."""
    staging = staging_path(table_path)
    shutil.rmtree(staging, ignore_errors=True)
    fresh.write.mode("overwrite").parquet(staging)
    write_durable(_meta_file(staging), json.dumps({"batch_id": batch_id}))
    return staging


def _staged_batch_id(table_path: str) -> int:
    """Batch id of a COMPLETE staging for this table, else -1 (no
    staging, or one that crashed before its meta was written)."""
    staging = staging_path(table_path)
    try:
        with open(_meta_file(staging)) as f:
            return json.load(f)["batch_id"]
    except (OSError, ValueError, KeyError):
        return -1


def _promote(staging: str, table_path: str) -> None:
    # commit point: the shared locked promotion (no-op if a recoverer
    # already promoted this staging); the pre-swap table had its meta
    # inside it, so nothing stale lingers
    promote_staging(staging, table_path, marker=META_NAME)
    try:  # drop a legacy external sidecar if this table predates in-dir meta
        os.remove(_legacy_meta_path(table_path))
    except OSError:
        pass


def _commit_swap(fresh: DataFrame, table_path: str, batch_id: int) -> None:
    """Atomically publish ``fresh`` as ``table_path`` with its batch id.

    The batch-id meta is written durably INTO the staging
    directory BEFORE the swap, so the final os.replace commits data and
    replay marker together: a replayed micro-batch after any crash
    either sees the old table with the old id (recomputes — the batch
    never committed) or the new table with the new id (skips).  The
    double-fold window ADVICE.md flagged (meta written after the swap)
    is gone — there is no state in which the new data is live without
    its id."""
    _promote(_stage(fresh, table_path, batch_id), table_path)


def _releasing(body):
    """A foreachBatch sink running ``body(batch_df, batch_id,
    persisted)`` with a fresh ``persisted`` list per micro-batch, and
    unpersisting exactly the frames the body appended to it once the
    body returns (after its commits) or raises."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        persisted: list[DataFrame] = []
        try:
            body(batch_df, batch_id, persisted)
        finally:
            for df in persisted:
                df.unpersist()

    return sink


def _table_sink(spark: SparkSession, table_path: str, fold):
    """The foreachBatch sink of a single-table maintainer: skip an
    empty or replayed batch, fold it into the live table with
    ``fold(batch_df, base, persisted) -> fresh``, commit through
    ``_commit_swap``, then release the fold's persists."""

    def body(batch_df: DataFrame, batch_id: int, persisted) -> None:
        if batch_df.isEmpty() or batch_id <= _last_applied(table_path):
            return  # nothing to fold, or a replay already folded in
        fresh = fold(batch_df, spark.read.parquet(table_path), persisted)
        _commit_swap(fresh, table_path, batch_id)

    return _releasing(body)


def run_ivm_agg_stream(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    sums: dict[str, str],
    values: list[str] | None = None,
    count_col: str = "n_rows",
    timeout_sec: int = 120,
) -> None:
    """Maintain the aggregate table at ``table_path`` (in the
    ``operators.ivm.build_agg`` shape: ``keys + [count_col]`` plus each
    sum and its ``_nn`` companion) from a streaming CDC feed
    shaped like ``operators.ivm.cdc_to_retractions`` expects
    (``change_type`` + ``<col>_old`` / ``<col>_new`` payloads).

    The table must exist (write the initial aggregate once from a
    batch backfill); each micro-batch is one table fold (module
    docstring).
    """
    value_cols = list(sums.values()) if values is None else list(values)

    def fold(batch_df: DataFrame, base: DataFrame, persisted) -> DataFrame:
        retr = cdc_to_retractions(batch_df, keys=keys, values=value_cols)
        return incremental_agg(
            base, retr, keys, sums, count_col=count_col, persisted=persisted
        )

    drain(
        changes.writeStream.foreachBatch(_table_sink(spark, table_path, fold)),
        os.path.join(checkpoint_dir, "ivm_agg"),
        timeout_sec,
    )


def run_ivm_distinct_stream(
    spark: SparkSession,
    changes: DataFrame,
    mult_path: str,
    counts_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    mult_col: str = "m",
    count_col: str = "n_distinct",
    timeout_sec: int = 120,
) -> None:
    """Maintain a per-group COUNT(DISTINCT ``value_col``) VIEW and its
    multiplicity auxiliary table from a streaming CDC feed — the
    streaming twin of ``incremental_distinct_orders``, completing the
    batch/streaming symmetry for the one aggregate class the plain
    retraction algebra cannot maintain alone (see
    ``operators.ivm.incremental_distinct``).

    Both artifacts must exist (write them once from a batch backfill:
    ``build_multiplicity`` + its group count).  Exactly-once across
    the TWO artifacts on an at-least-once source:

    - the fresh counts view is computed from the PRE-batch
      multiplicity table and eagerly materialized (localCheckpoint)
      BEFORE the multiplicity swap invalidates the files its lazy
      plan would re-read;
    - the multiplicity table swaps FIRST, the view second, each
      recording the batch id inside its own staged dir — so the only
      crash window leaves (mult at N, counts at N-1);
    - replays resolve per artifact: a batch already folded into BOTH
      is skipped; the mult-at-N/counts-behind window is repaired by
      REBUILDING the view from the post-batch multiplicity table
      (the view is a pure function of the aux table — one grouped
      count over |distinct values| rows, the recovery-only slow path).

    Same single-checkpoint-lineage caveat as every maintainer here
    (module docstring).
    """
    from pyspark.sql import functions as F

    from beehive_spark.operators.ivm import incremental_distinct

    def sink(batch_df: DataFrame, batch_id: int, persisted) -> None:
        if batch_df.isEmpty():
            return
        m_last = _last_applied(mult_path)
        c_last = _last_applied(counts_path)
        if batch_id <= min(m_last, c_last):
            return  # replayed micro-batch: already folded into both
        if batch_id <= m_last:
            # crash window: mult holds this batch, the view does not —
            # rebuild the view from the aux table it is a function of
            mult = spark.read.parquet(mult_path)
            fresh_counts = mult.groupBy(*keys).agg(
                F.count(F.lit(1)).cast("long").alias(count_col)
            )
            _commit_swap(fresh_counts, counts_path, batch_id)
            return
        retr = cdc_to_retractions(batch_df, keys=keys, values=[value_col])
        mult = spark.read.parquet(mult_path)
        counts = spark.read.parquet(counts_path)
        new_mult, new_counts = incremental_distinct(
            mult, counts, retr, keys, value_col,
            mult_col=mult_col, count_col=count_col, persisted=persisted,
        )
        # the view's lazy plan reads the PRE-batch mult files; pin its
        # rows before the mult swap replaces them
        new_counts = new_counts.localCheckpoint(eager=True)
        _commit_swap(new_mult, mult_path, batch_id)
        _commit_swap(new_counts, counts_path, batch_id)

    drain(
        changes.writeStream.foreachBatch(_releasing(sink)),
        os.path.join(checkpoint_dir, "ivm_distinct"),
        timeout_sec,
    )


def run_cdc_materialize_stream(
    spark: SparkSession,
    changes: DataFrame,
    row_path: str,
    agg_path: str,
    row_keys: list[str],
    agg_keys: list[str],
    sums: dict[str, str],
    minmax: dict[str, str] | None = None,
    count_col: str = "n_rows",
    seq_col: str = "seq",
    checkpoint_dir: str | None = None,
    timeout_sec: int = 120,
) -> None:
    """One CDC feed, two maintained artifacts per micro-batch: the
    row-level table at ``row_path`` (the bronze copy, via the same
    crash-safe ``apply_cdc_parquet`` rewrite as
    ``events.run_cdc_apply_stream``) and its aggregate at ``agg_path``
    (the silver copy, via the ``operators.ivm`` retraction algebra) —
    the standard lakehouse medallion step collapsed into one
    exactly-once sink.

    The ordering inside each batch is what makes the composition
    correct: the aggregate folds its retractions FIRST (they reference
    pre-batch old values), then the row table applies — except when
    ``minmax`` extremes are maintained, whose evict-rescan must consult
    the POST-batch row table, so rows apply first and extremes rescan
    against the fresh table.  Replays skip via the recorded batch id
    on the aggregate sidecar (the row apply is idempotent by
    construction: last-change-per-key compaction + keyed rewrite).

    ``changes`` rows: ``change_type`` + ``seq_col`` + ``<col>_old`` /
    ``<col>_new`` payloads for every key/value column.  ``minmax``
    maps extra aggregate columns to source value columns maintained as
    MAX.
    """
    from beehive_spark.operators.ivm import incremental_minmax
    from beehive_spark.sources.writers import apply_cdc_parquet

    value_cols = sorted({*sums.values(), *(minmax or {}).values()})

    def sink(batch_df: DataFrame, batch_id: int, persisted) -> None:
        if batch_df.isEmpty():
            return
        if batch_id <= _last_applied(agg_path):
            return
        retr = cdc_to_retractions(batch_df, keys=agg_keys, values=value_cols)
        base = spark.read.parquet(agg_path)
        sum_state = [count_col] + [x for o in sums for x in (o, f"{o}_nn")]
        fresh = incremental_agg(
            base.select(*agg_keys, *sum_state), retr, agg_keys, sums,
            count_col=count_col, persisted=persisted,
        )
        # row table next: compact to last change per key, then apply —
        # so the minmax rescan below sees the post-batch rows
        compacted = compact_changes(
            batch_df, row_keys, [*row_keys, *agg_keys, *value_cols], seq_col
        )
        apply_cdc_parquet(spark, row_path, compacted, keys=row_keys)
        if minmax:
            fact = spark.read.parquet(row_path)
            for out, src in minmax.items():
                mm = incremental_minmax(
                    base.select(*agg_keys, count_col, out),
                    retr,
                    fact,
                    agg_keys,
                    src,
                    agg="max",
                    count_col=count_col,
                    out_col=out,
                    persisted=persisted,
                )
                fresh = fresh.drop(out).join(
                    mm.select(*agg_keys, out), agg_keys, "left"
                )
        _commit_swap(fresh, agg_path, batch_id)

    drain(
        changes.writeStream.foreachBatch(_releasing(sink)),
        os.path.join(checkpoint_dir or agg_path + "_ckpt", "m"),
        timeout_sec,
    )


def run_ivm_join_agg_stream(
    spark: SparkSession,
    changes: DataFrame,
    a_path: str,
    b_path: str,
    view_path: str,
    checkpoint_dir: str,
    join_key: str,
    a_keys: list[str],
    a_values: list[str],
    b_values: list[str],
    agg_keys: list[str],
    sums: dict[str, str],
    table_col: str = "src_table",
    seq_col: str = "seq",
    count_col: str = "n_rows",
    timeout_sec: int = 120,
) -> None:
    """Maintain an AGGREGATE OVER A JOIN from one CDC stream carrying
    changes to BOTH sides — the composition of the two batch
    primitives: ``operators.ivm.delta_join`` turns the per-batch signed
    deltas of fact table A and dimension table B into the signed delta
    of the join view (dV = dA><B + A><dB + dA><dB, computed against
    the PRE-batch row snapshots), and ``incremental_agg`` folds that
    straight into the materialized aggregate.  This is the case plain
    aggregate IVM cannot touch: when the GROUPING column lives on the
    dimension, one dimension-row change re-buckets every joined fact
    row — handled here by algebra, at |delta| x match-rate cost, with
    no recompute and no re-join of history.

    Star-schema contract: A rows are ``a_keys + [join_key] + a_values``
    (facts, keyed by ``a_keys``, carrying the FK), B rows are
    ``[join_key] + b_values`` (dimension keyed by the join key);
    ``changes`` rows carry ``table_col`` ('a'/'b'), ``change_type``,
    ``seq_col``, and ``<col>_old`` / ``<col>_new`` payloads.

    Exactly-once across the THREE artifacts (A rows, B rows, view) on
    an at-least-once source, without multi-directory transactions:
    the view delta — the only non-idempotent piece, because it must
    read pre-batch snapshots — is computed and STAGED (data + batch id,
    unpromoted) before either row table mutates; the keyed row rewrites
    are idempotent; the staged view promotes last.  A replay therefore
    either finds no complete staging (nothing mutated — recompute), or
    a complete staging for THIS batch (snapshots may already be
    post-batch — skip the recompute, redo the idempotent row applies,
    promote), or a recorded batch id (fully committed — no-op).  The
    view's recovery (``_last_applied``) therefore never replaces an
    existing view dir, marker or not: a view seeded by a batch
    backfill has no meta, and promoting the staged view over it
    before the row tables are applied would make the replay skip
    their rewrites.

    Scale shape: both delta terms broadcast the delta side (see
    ``delta_join``), the row applies broadcast their touched keys, and
    the aggregate fold broadcasts the touched groups — none of the
    three base artifacts ever repartitions."""
    from pyspark.sql import functions as F

    from beehive_spark.operators.ivm import delta_join
    from beehive_spark.sources.writers import apply_cdc_parquet

    def sink(batch_df: DataFrame, batch_id: int, persisted) -> None:
        if batch_df.isEmpty():
            return
        if batch_id <= _last_applied(view_path):
            return  # fully committed: replay no-op
        fa = batch_df.filter(F.col(table_col) == "a")
        fb = batch_df.filter(F.col(table_col) == "b")
        staging = staging_path(view_path)
        if _staged_batch_id(view_path) != batch_id:
            # pre-batch snapshots are intact (row applies happen only
            # after a complete staging exists): fold the join delta
            a_old = spark.read.parquet(a_path)
            b_old = spark.read.parquet(b_path)
            da = cdc_to_retractions(
                fa, keys=a_keys, values=[join_key] + a_values
            )
            db = cdc_to_retractions(fb, keys=[join_key], values=b_values)
            dv = delta_join(
                a_old, da, b_old, db, on=join_key, persisted=persisted
            )
            fresh = incremental_agg(
                spark.read.parquet(view_path), dv, agg_keys, sums,
                count_col=count_col, persisted=persisted,
            )
            _stage(fresh, view_path, batch_id)
        # idempotent keyed rewrites (safe to redo on replay); a
        # one-sided batch skips the untouched table's full rewrite
        # (an empty feed is a semantic no-op, so skipping is equally
        # replay-safe)
        if not fa.isEmpty():
            apply_cdc_parquet(
                spark, a_path,
                compact_changes(
                    fa, a_keys, a_keys + [join_key] + a_values, seq_col
                ),
                keys=a_keys,
            )
        if not fb.isEmpty():
            apply_cdc_parquet(
                spark, b_path,
                compact_changes(fb, [join_key], [join_key] + b_values, seq_col),
                keys=[join_key],
            )
        _promote(staging, view_path)

    drain(
        changes.writeStream.foreachBatch(_releasing(sink)),
        os.path.join(checkpoint_dir, "ivm_join"),
        timeout_sec,
    )


def run_ivm_checksum_stream(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    hash_col: str = "rh",
    sign_col: str = "_sign",
    n_buckets: int = 256,
    mod: int = 1_000_000_007,
    timeout_sec: int = 120,
) -> None:
    """Maintain the per-bucket content-fingerprint table
    (``operators.ivm.build_checksum`` shape: bucket, n_rows, xor_fp,
    sum_fp) from a streaming feed of SIGNED ROW-HASH VERSIONS — the
    writer emits each applied row version's canonical hash with +1
    (inserted version) or -1 (retracted version); an update is two
    rows.  Fold is ``operators.ivm.incremental_checksum``: every
    component is a group under its own operation, so a micro-batch
    costs one <=n_buckets-row broadcast merge regardless of history.

    The view is fully self-maintaining (no auxiliary artifact), so it
    is one table fold.  The table must exist (write the initial
    ``build_checksum`` once from the batch backfill).

    This closes the merge reconciliation loop in streaming form: the
    destination's fingerprints stay current with the write feed in
    O(|delta|), and comparing 256 rows against a source-side
    ``table_checksum_buckets`` recompute proves the copies identical
    without ever diffing full tables."""
    from beehive_spark.operators.ivm import incremental_checksum

    def fold(batch_df: DataFrame, base: DataFrame, persisted) -> DataFrame:
        # mod plumbs through like n_buckets: a table backfilled with a
        # non-default modulus maintained under the default would fold
        # wrong residues into sum_fp with no error (r8 review)
        return incremental_checksum(
            base,
            batch_df,
            hash_col=hash_col,
            sign_col=sign_col,
            n_buckets=n_buckets,
            mod=mod,
        )

    drain(
        changes.writeStream.foreachBatch(_table_sink(spark, table_path, fold)),
        os.path.join(checkpoint_dir, "ivm_checksum"),
        timeout_sec,
    )


def run_ohlc_stream(
    spark: SparkSession,
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Maintain OHLC bars per (event_type, hour bucket) from a raw
    event stream — the streaming twin of
    ``queries.core.events_ohlc_bars``.  Bars are a MERGEABLE MONOID:
    open/close are min/max by the total (ts, event_id) order, high/low
    are extrema, n_events a count — so each micro-batch folds to one
    partial bar per touched bucket and merges into the table with a
    <=|buckets|-row full-outer join; raw events are never kept.

    The table carries the merge state (open_ts/open_id and
    close_ts/close_id ride along so later, earlier-timestamped data —
    late arrivals included — can still win the open or lose the
    close); project the standard (event_type, bucket, open, high,
    low, close, n_events) off it for consumers.  Each micro-batch is
    one table fold.  The table must exist (write an empty frame or a
    batch backfill first).

    Crash window: SINGLE-ARTIFACT — one ``_commit_swap`` per batch, so
    the only window is "table swap landed, checkpoint commit marker
    did not"; on restart Spark replays the same batch and the
    ``_last_applied`` guard skips the re-fold
    (tests/test_streaming.py::
    test_ohlc_stream_survives_commit_vs_checkpoint_crash)."""
    from pyspark.sql import functions as F

    state_cols = [
        "event_type", "bucket",
        "open_ts", "open_id", "open",
        "close_ts", "close_id", "close",
        "high", "low", "n_events",
    ]

    def partial(df: DataFrame) -> DataFrame:
        b = df.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "ts", "event_id", "value",
        )
        o = F.struct("ts", "event_id", "value")
        return b.groupBy("event_type", "bucket").agg(
            F.min(o).alias("_o"),
            F.max(o).alias("_c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        ).select(
            "event_type", "bucket",
            F.col("_o.ts").alias("open_ts"),
            F.col("_o.event_id").alias("open_id"),
            F.col("_o.value").alias("open"),
            F.col("_c.ts").alias("close_ts"),
            F.col("_c.event_id").alias("close_id"),
            F.col("_c.value").alias("close"),
            "high", "low", "n_events",
        )

    def fold(batch_df: DataFrame, t: DataFrame, persisted) -> DataFrame:
        d = partial(batch_df)
        tt, dd = t.alias("t"), d.alias("d")
        on = ["event_type", "bucket"]
        j = tt.join(dd, on, "full_outer")
        # struct comparison gives the lexicographic (ts, id) order
        t_open = F.struct(F.col("t.open_ts"), F.col("t.open_id"))
        d_open = F.struct(F.col("d.open_ts"), F.col("d.open_id"))
        t_close = F.struct(F.col("t.close_ts"), F.col("t.close_id"))
        d_close = F.struct(F.col("d.close_ts"), F.col("d.close_id"))
        open_from_t = F.col("d.open_ts").isNull() | (
            F.col("t.open_ts").isNotNull() & (t_open <= d_open)
        )
        close_from_t = F.col("d.close_ts").isNull() | (
            F.col("t.close_ts").isNotNull() & (t_close >= d_close)
        )
        return j.select(
            *on,
            F.when(open_from_t, F.col("t.open_ts")).otherwise(F.col("d.open_ts")).alias("open_ts"),
            F.when(open_from_t, F.col("t.open_id")).otherwise(F.col("d.open_id")).alias("open_id"),
            F.when(open_from_t, F.col("t.open")).otherwise(F.col("d.open")).alias("open"),
            F.when(close_from_t, F.col("t.close_ts")).otherwise(F.col("d.close_ts")).alias("close_ts"),
            F.when(close_from_t, F.col("t.close_id")).otherwise(F.col("d.close_id")).alias("close_id"),
            F.when(close_from_t, F.col("t.close")).otherwise(F.col("d.close")).alias("close"),
            F.greatest(F.col("t.high"), F.col("d.high")).alias("high"),
            F.least(F.col("t.low"), F.col("d.low")).alias("low"),
            (
                F.coalesce(F.col("t.n_events"), F.lit(0).cast("long"))
                + F.coalesce(F.col("d.n_events"), F.lit(0).cast("long"))
            ).alias("n_events"),
        ).select(*state_cols)

    drain(
        events.writeStream.foreachBatch(_table_sink(spark, table_path, fold)),
        os.path.join(checkpoint_dir, "ohlc"),
        timeout_sec,
    )


def run_mg_summary_stream(
    spark: SparkSession,
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    item_col: str = "event_type",
    phi: float = 0.125,
    timeout_sec: int = 120,
) -> None:
    """Maintain a Misra-Gries heavy-hitter SUMMARY from a raw event
    stream — the streaming half of ``operators.freq.frequent_items``
    (whose batch candidate pass uses the same mergeable rule, Agarwal
    et al. PODS'12).  Each micro-batch's exact item counts are added
    into the stored summary (full-outer merge on item), and when the
    summary outgrows ``cap = 4k`` counters (k = ceil(1/phi), the
    batch operator's amortized-prune setting) the (k+1)-th largest
    count is subtracted from all and non-positives drop — every prune
    removes >= (k+1) x threshold of mass, so the per-item undercount
    stays <= N/(k+1) over ANY batching and every item with true count
    > phi*N is guaranteed present.  The summary is bounded state:
    never more than ``cap`` rows live regardless of stream
    cardinality — the reason to sketch at all; exact streaming counts
    (``run_ivm_agg_stream``) would hold vocabulary-sized state.

    Table schema: ``(item string, cnt long, n_total long)`` where
    ``cnt`` is the MG lower bound and ``n_total`` (replicated, also on
    the always-present NULL-item sentinel row that keeps the artifact
    non-empty) is the total events folded.  Items must be non-null.
    Consumers report candidates with ``cnt + n_total/(k+1)`` as the
    upper bound, or re-count candidates exactly as the batch
    operator's second pass does.

    Its sink keeps its own body (the batch row count it needs anyway
    doubles as the emptiness check, so the table fold's ``isEmpty``
    would add a job) on the table fold's ``_last_applied`` /
    ``_commit_swap`` pair.  The table must exist (write the
    sentinel-only frame first).
    Crash window: single-artifact like the ohlc maintainer — the only
    window (swap landed, checkpoint marker lost) repairs by the id
    guard on replay (tests/test_streaming.py::
    test_mg_summary_stream_survives_commit_vs_checkpoint_crash).

    Scale shape per micro-batch: one map-side-combined batch count,
    one <= (cap + batch-vocab)-row merge join, and a k+1-row driver
    ``limit`` to find the prune threshold — never a vocabulary-sized
    window or shuffle of the base."""
    import math

    from pyspark.sql import functions as F

    k = math.ceil(1.0 / phi)
    cap = 4 * k
    schema = "item string, cnt long, n_total long"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # unlike the sibling sinks this one needs the row count anyway,
        # so the count doubles as the emptiness check (one action)
        batch_n = batch_df.count()
        if batch_n == 0:
            return
        if batch_id <= _last_applied(table_path):
            return  # replayed micro-batch: already folded in
        bc = (
            batch_df.select(F.col(item_col).cast("string").alias("item"))
            .filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.count(F.lit(1)).cast("long").alias("b_cnt"))
        )
        t = spark.read.parquet(table_path)
        n_total = (t.agg(F.max("n_total")).collect()[0][0] or 0) + batch_n
        stored = t.filter(F.col("item").isNotNull()).select("item", "cnt")
        merged = (
            stored.join(bc, "item", "full_outer")
            .select(
                "item",
                (
                    F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("b_cnt"), F.lit(0).cast("long"))
                ).alias("cnt"),
            )
            .localCheckpoint(eager=True)  # consumed by count, limit, filter
        )
        if merged.count() > cap:
            top = merged.orderBy(F.col("cnt").desc(), "item").limit(k + 1).collect()
            thr = top[-1]["cnt"] if len(top) == k + 1 else 0
            merged = merged.select(
                "item", (F.col("cnt") - F.lit(thr)).alias("cnt")
            ).filter(F.col("cnt") > 0)
        sentinel = spark.createDataFrame([(None, 0, n_total)], schema)
        fresh = sentinel.unionByName(
            merged.withColumn("n_total", F.lit(n_total).cast("long"))
        )
        _commit_swap(fresh, table_path, batch_id)

    drain(
        events.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "mg"),
        timeout_sec,
    )


def run_novelty_stream(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    split_threshold_bytes: int | None = None,
) -> None:
    """Maintain the first-seen shingle STORE and an append-structured
    per-document novelty log from a streaming document feed — the
    streaming twin of ``queries.llm.text_ngram_novelty`` (the crawl
    diminishing-returns metric), and the one maintainer in the family
    whose state is corpus-sized rather than key-bounded — which is
    exactly why it is the one whose state is BUCKETED.

    Artifacts:

    - ``store_path``: a hash-bucketed ``(s string, fd bigint)`` store
      (``streaming.shingle_store``) — min doc_id ever seen per 3-gram
      shingle.  Must be created with ``init_shingle_store`` first.  A
      micro-batch reads and rewrites ONLY the buckets its shingles
      hash into (<= min(batch distinct shingles, n_buckets)); the rest
      of the corpus-sized state is untouched bytes — per-batch I/O is
      proportional to the batch, not to history (r9 verdict: the
      whole-store ``_commit_swap`` this replaces was the streaming
      family's one O(store)-per-batch scale-killer).  The store is
      maintained with a nulls-safe MIN merge, so it is exact under
      ANY arrival order.
    - ``out_dir/batch=<id>/``: per-document ``(doc_id, n_shingles,
      n_new, novelty_micro)`` rows for the docs of that micro-batch.
    - ``out_dir/corrections/batch=<id>/``: ``(doc_id, n_new_delta)``
      RETRACTION rows (the ``operators.ivm`` signed-delta idiom) for
      previously-emitted documents whose credit an out-of-order batch
      transferred away: when a late document with a SMALLER doc_id
      claims a shingle, the prior first-seen holder is debited -1 per
      lost shingle here, and the late document is credited through
      the normal per-doc path.  A consumer folding
      ``n_new + sum(n_new_delta)`` per doc therefore converges to the
      batch query's answer under ANY feed order (pinned in
      tests/test_streaming_stores.py); in-order feeds produce empty
      correction partitions and the log alone is already exact.

      Backfilled-store caveat: when the store was created with
      ``init_shingle_store(backfill=...)``, correction records can
      debit doc_ids that exist ONLY in the backfill and therefore
      have no base row in this stream log.  Convergence then means
      folding the backfill-era BATCH results alongside the stream
      log: ``batch_n_new + stream corrections`` for backfill docs,
      ``n_new + sum(n_new_delta)`` for streamed docs.  A consumer
      reading the stream log alone sees correct rows for every
      streamed doc but negative-only correction rows for backfill
      holders — by design, not data loss.

    Growth: pass ``split_threshold_bytes`` to let the fold double the
    store's bucket count whenever the average live bucket exceeds it
    (``shingle_store.maybe_split_store`` — O(store) per doubling,
    amortized O(1) per fold); ``None`` keeps the fixed-B contract, in
    which case size n_buckets at init for the expected corpus (the
    STRESS novelty_store_fold row holds fold cost flat by scaling
    n_buckets with the store).

    Each micro-batch is one store fold (``shingle_store.store_fold``,
    MIN): the out and corrections partitions write FIRST, the store's
    manifest rename SECOND; a crash between them replays the batch
    against the pre-batch store, so both partitions rewrite to
    identical content before the buckets fold once
    (kill-between-artifacts test: tests/test_streaming_stores.py).

    Scale shape per micro-batch: shingles shuffle once for the
    in-batch MIN (xxhash64 keys, the jaccard idiom), equi-join the
    TOUCHED buckets only (both sides slim: key + one long), one
    doc-keyed count; the bucket rewrite is a partitionBy write of the
    touched fraction.  On a cluster the same layout is a bucketed
    lake table, making the merge join co-located by construction."""
    from pyspark.sql import functions as F

    from beehive_spark.queries.llm import _shingles, _tokens

    def shingles(batch_df: DataFrame) -> DataFrame:
        # token array materializes first (the text_ngram_novelty /
        # jaccard idiom: inlining the regex into the shingle lambda
        # re-evaluates it per n-gram slot)
        return batch_df.select(
            "doc_id", _tokens(F.col("text")).alias("w")
        ).select("doc_id", F.explode(_shingles(F.col("w"))).alias("s"))

    def keyed(batch_df: DataFrame) -> DataFrame:
        return shingles(batch_df).groupBy("s").agg(
            F.min("doc_id").alias("value")
        )

    def logs(batch_df, batch, store) -> dict:
        merged = batch.join(store, "s", "left")
        # a shingle is new for doc d iff d is its global first sighting
        gfirst = F.least(F.coalesce("fd", "value"), F.col("value"))
        per_doc = (
            shingles(batch_df).join(
                merged.select("s", gfirst.alias("gf")), "s"
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum(
                    F.when(F.col("gf") == F.col("doc_id"), 1).otherwise(0)
                ).cast("long").alias("n_new"),
            )
            .select(
                "doc_id",
                "n_shingles",
                "n_new",
                F.call_function(
                    "div",
                    F.lit(1_000_000).cast("long") * F.col("n_new"),
                    F.col("n_shingles"),
                ).alias("novelty_micro"),
            )
        )
        # retractions for credit an out-of-order batch transferred away
        # from already-emitted docs (value < fd: the stored holder
        # loses the shingle to the earlier-id newcomer)
        corrections = (
            merged.filter(
                F.col("fd").isNotNull() & (F.col("value") < F.col("fd"))
            )
            .groupBy(F.col("fd").alias("doc_id"))
            .agg((-F.count(F.lit(1))).cast("long").alias("n_new_delta"))
        )
        return {"": per_doc, "corrections": corrections}

    sink = store_fold(
        spark, store_path, out_dir, keyed, "min", logs, split_threshold_bytes
    )
    drain(
        docs.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "novelty"),
        timeout_sec,
    )


def run_hll_stream(
    spark: SparkSession,
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "user_id",
    timeout_sec: int = 120,
) -> None:
    """Maintain per-key mergeable HLL distinct-count sketches from a
    raw event stream — the streaming half of ``sketch_uniques_rollup``
    (Apache DataSketches via Spark's hll_* family), completing the
    sketch story: the batch query proves persist-and-rollup, this
    maintainer proves the same kilobyte state absorbs an unbounded
    stream with bounded work per batch.

    Table schema: ``(<key>, sk binary, n_events bigint)``.  Each
    micro-batch folds to one sketch per touched key
    (``hll_sketch_agg``) and merges into the stored binary with
    ``hll_union`` (a full-outer join over |keys| rows); raw values are
    never kept — state per key is a ~KB register array no matter how
    many distinct values passed, THE reason a 100 TB pipeline sketches
    instead of COUNT(DISTINCT)ing (whose exact-IVM twin,
    ``run_ivm_distinct_stream``, must carry the full multiset).

    Each micro-batch is one table fold (and sketch union is idempotent
    over a replayed batch anyway — belt and suspenders).  The table
    must exist (write an empty frame first).  The union register state
    is a deterministic function of the input value SET, so the
    streamed estimate equals the one-shot batch estimate exactly
    (pinned in tests/test_streaming_hll.py)."""
    from pyspark.sql import functions as F

    def fold(batch_df: DataFrame, t: DataFrame, persisted) -> DataFrame:
        b = (
            batch_df.filter(F.col(value_col).isNotNull())
            .groupBy(F.col(key_col).alias("k"))
            .agg(
                F.hll_sketch_agg(value_col).alias("b_sk"),
                F.count(F.lit(1)).cast("long").alias("b_n"),
            )
        )
        return (
            t.join(b, t[key_col] == b["k"], "full_outer")
            .select(
                F.coalesce(t[key_col], b["k"]).alias(key_col),
                F.when(t["sk"].isNull(), b["b_sk"])
                .when(b["b_sk"].isNull(), t["sk"])
                .otherwise(F.hll_union(t["sk"], b["b_sk"]))
                .alias("sk"),
                (
                    F.coalesce(t["n_events"], F.lit(0).cast("long"))
                    + F.coalesce(b["b_n"], F.lit(0).cast("long"))
                ).alias("n_events"),
            )
        )

    drain(
        events.writeStream.foreachBatch(_table_sink(spark, table_path, fold)),
        os.path.join(checkpoint_dir, "hll"),
        timeout_sec,
    )


def run_dedup_stream(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    split_threshold_bytes: int | None = None,
) -> None:
    """Maintain the corpus FINGERPRINT store (normalized-text md5 ->
    canonical first doc_id) and an idempotent per-batch dedup-verdict
    log from a streaming document feed — the streaming twin of
    ``queries.curation.dedup_incremental``, whose docstring promises
    exactly this layout for the steady state ("that fingerprint store
    ... lives as its own bucketed table, bucketed BY fp"); and the
    SECOND maintainer riding ``streaming.shingle_store``, which is a
    generic bucketed (key -> MIN long) primitive, not a
    novelty-specific one.

    Artifacts:

    - ``store_path``: bucketed shingle_store with key = the SAME
      normalization-fingerprint ``dedup_incremental``/``dedup_exact``
      use (md5 of whitespace-collapsed trimmed lowercase), value =
      min doc_id ever seen — exact under ANY arrival order.  Create
      with ``init_shingle_store`` (optionally backfilled from the
      batch corpus scan).
    - ``out_dir/batch=<id>/``: ``(doc_id, is_new, dup_of)`` — the
      min-canonical convention: a doc is new iff it is the earliest
      sighting of its fingerprint so far (within-batch duplicates
      point at the batch minimum, matching the batch queries' global
      MIN(doc_id) canonical when the feed is id-ordered).
    - ``out_dir/corrections/batch=<id>/``: ``(old_canonical,
      new_canonical)`` rows when an out-of-order batch delivers a
      SMALLER doc_id for a known fingerprint — the prior canonical is
      retroactively a duplicate of the newcomer, and consumers remap
      their dup_of pointers through these records (the CDC-correction
      idiom; in-order feeds emit none, pinned in
      tests/test_streaming_stores.py).

      Backfilled-store caveat (same as ``run_novelty_stream``): with
      a backfilled store, corrections can name an ``old_canonical``
      that exists only in the backfill and has no verdict row in this
      log — converging on the full corpus means folding the
      backfill-era batch answer alongside the stream log.

    NULL text gets the sentinel fingerprint ``"null"`` (6 chars —
    disjoint from every 32-hex md5), so every input doc receives a
    verdict row and all NULL-text docs dedup into one group, matching
    the batch queries' GROUP BY NULL semantics (md5(NULL) is NULL and
    the fp equi-join would otherwise silently drop those docs from
    the log).

    Growth: ``split_threshold_bytes`` as in ``run_novelty_stream`` —
    average-live-bucket-size-triggered bucket doubling, or the
    documented fixed-B sizing contract when ``None``.

    Each micro-batch is one store fold (MIN), the novelty maintainer's
    code path: verdict + correction partitions FIRST, the store's
    manifest rename SECOND.

    Scale shape per micro-batch: one md5 projection, one fp-keyed MIN
    (16-byte keys), an equi-join against the TOUCHED buckets only,
    one bucketed partitionBy rewrite of those buckets.  Per-batch I/O
    tracks the batch, not corpus history — the property that makes
    continuous crawl dedup viable at 100 TB."""
    from pyspark.sql import functions as F

    fp_expr = F.coalesce(
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ),
        F.lit("null"),
    )

    def keyed(batch_df: DataFrame) -> DataFrame:
        return batch_df.select("doc_id", fp_expr.alias("s")).groupBy("s").agg(
            F.min("doc_id").alias("value")
        )

    def logs(batch_df, batch, store) -> dict:
        merged = batch.join(store, "s", "left")
        gfirst = F.least(F.coalesce("fd", "value"), F.col("value"))
        verdicts = (
            batch_df.select("doc_id", fp_expr.alias("s"))
            .join(merged.select("s", gfirst.alias("gf")), "s")
            .select(
                "doc_id",
                (F.col("gf") == F.col("doc_id")).alias("is_new"),
                F.when(
                    F.col("gf") == F.col("doc_id"), F.lit(None).cast("long")
                )
                .otherwise(F.col("gf"))
                .alias("dup_of"),
            )
        )
        corrections = (
            merged.filter(
                F.col("fd").isNotNull() & (F.col("value") < F.col("fd"))
            )
            .select(
                F.col("fd").alias("old_canonical"),
                F.col("value").alias("new_canonical"),
            )
        )
        return {"": verdicts, "corrections": corrections}

    sink = store_fold(
        spark, store_path, out_dir, keyed, "min", logs, split_threshold_bytes
    )
    drain(
        docs.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "dedup"),
        timeout_sec,
    )


def run_vocab_stream(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    split_threshold_bytes: int | None = None,
) -> None:
    """Maintain EXACT corpus token counts in the bucketed store and a
    per-batch vocabulary-growth log from a streaming document feed —
    the THIRD maintainer riding ``streaming.shingle_store``, and the
    one that proves the primitive is merge-agnostic: novelty and dedup
    fold with MIN, this folds with SUM (the store is just a bucketed
    ``(key string, value long)`` table; the maintainer owns the merge
    algebra).  The batch-side counterpart is ``text_token_stats``'
    vocabulary; the growth log is the Heaps'-law curve a crawl team
    trends to decide when additional data stops buying new vocabulary.

    Artifacts:

    - ``store_path``: bucketed ``(token, count)`` — the exact
      streaming word count.  SUM is commutative and associative, so
      the STORE converges to the batch answer under ANY feed order
      (no correction records needed — the retraction machinery of the
      MIN maintainers exists precisely because MIN attribution is
      order-sensitive; counts are not).  Create with
      ``init_shingle_store``.
    - ``out_dir/batch=<id>/``: ONE row ``(n_tokens, n_types_batch,
      n_new_types)`` — batch token mass, distinct types in the batch,
      and types never seen in any PRIOR batch.  Type-novelty
      attribution is inherently feed-order-defined (the first batch
      to carry a type gets the credit); consumers fold
      ``cumsum(n_new_types)`` for the vocabulary-size curve.

    Each micro-batch is one store fold (SUM): the out partition
    FIRST, the store's manifest rename SECOND.  ``split_threshold_bytes``
    enables the size-triggered bucket doubling exactly as in
    ``run_novelty_stream``.

    Scale shape per micro-batch: one token explode + token-keyed
    combinable count (xxhash-distributed), an equi-join against the
    TOUCHED buckets only (both sides slim: token + one long), a
    1-row stats aggregate, one bucketed rewrite of the touched
    fraction.  Per-batch I/O tracks the batch, not vocabulary
    history."""
    from pyspark.sql import functions as F

    from beehive_spark.queries.llm import _tokens

    def keyed(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.explode(_tokens(F.col("text"))).alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).cast("long").alias("value"))
        )

    def logs(batch_df, batch, store) -> dict:
        stats = batch.join(store, "s", "left").agg(
            F.sum("value").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types_batch"),
            F.sum(F.when(F.col("fd").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new_types"),
        )
        return {"": stats}

    sink = store_fold(
        spark, store_path, out_dir, keyed, "sum", logs, split_threshold_bytes
    )
    drain(
        docs.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "vocab"),
        timeout_sec,
    )


def run_countmin_stream(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
) -> None:
    """Maintain a Count-Min token-frequency sketch (Cormode &
    Muthukrishnan 2005) from a streaming document feed — the FOURTH
    maintainer riding ``streaming.shingle_store`` and the streaming
    twin of ``queries.core.countmin_heavy_keys`` (same ``_CM_D`` x
    ``_CM_W`` grid, same md5 "d:key" cell hash, so a batch-built and
    a stream-built sketch over the same corpus are cell-identical).

    This is the maintainer for when even ``run_vocab_stream``'s exact
    (token, count) store outgrows its budget: the state here is the
    CONSTANT-cardinality cell grid — at most ``_CM_D * _CM_W`` store
    keys ``"d:bucket"`` regardless of corpus or vocabulary size, the
    first rider whose store cannot grow.  (Consequently there is no
    ``split_threshold_bytes``: bucket doubling exists for corpus-sized
    stores; this one is bounded by construction.)  Point queries read
    the tiny store and take ``min`` over the d probed cells:
    estimate >= true count always, overshoot <= e*N/w with
    probability 1 - e^-d.

    Artifacts:

    - ``store_path``: bucketed ``(cell "d:bucket", count)``.  Cell
      increments fold with SUM — commutative, so the store converges
      to the batch sketch under ANY feed order with no correction
      records (the vocab-maintainer argument verbatim).  Create with
      ``init_shingle_store`` (a handful of buckets suffices for
      <= _CM_D*_CM_W keys).
    - ``out_dir/batch=<id>/``: ONE row ``(n_tokens, n_cells_touched)``
      — batch token mass and how many grid cells it incremented
      (saturation of the touched-cell fraction is the operational
      signal that w is undersized for the stream's key diversity).

    Each micro-batch is one store fold (SUM): the out partition
    FIRST, the store's manifest rename SECOND.

    Scale shape per micro-batch: one token explode into a token-keyed
    combinable count, a _CM_D-fold explode of that AGGREGATE into
    cell increments (<= _CM_D * _CM_W rows after the cell re-agg, no
    matter the batch), a join against the touched store buckets, one
    bucketed rewrite.  Fold cost is bounded by the GRID, not the
    corpus — the defining property of a sketch maintainer."""
    from pyspark.sql import functions as F

    from beehive_spark.queries.core import _CM_D, _CM_W
    from beehive_spark.queries.llm import _tokens

    def keyed(batch_df: DataFrame) -> DataFrame:
        tc = (
            batch_df.select(F.explode(_tokens(F.col("text"))).alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).cast("long").alias("bc"))
        )
        cm_cell = F.concat(
            F.col("d").cast("string"),
            F.lit(":"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("d").cast("string"),
                                F.lit(":"),
                                F.col("t"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _CM_W
            ).cast("string"),
        )
        return (
            tc.select(
                "t",
                "bc",
                F.explode(F.sequence(F.lit(0), F.lit(_CM_D - 1))).alias("d"),
            )
            .select(cm_cell.alias("s"), F.col("bc"))
            .groupBy("s")
            .agg(F.sum("bc").cast("long").alias("value"))
        )

    def logs(batch_df, cells, store) -> dict:
        stats = cells.agg(
            (F.sum("value") / F.lit(_CM_D)).cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_cells_touched"),
        )
        return {"": stats}

    sink = store_fold(spark, store_path, out_dir, keyed, "sum", logs)
    drain(
        docs.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "countmin"),
        timeout_sec,
    )
