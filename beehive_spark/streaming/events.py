"""Structured Streaming over the events table.

The reference is purely batch (SURVEY.md §2.8) — streaming is a
net-new capability of this engine.  The same logical aggregations the
batch layer exposes (events_windowed_agg / events_sessionize in
beehive_spark.queries.core) are offered here as incremental,
watermarked streaming plans:

- tumbling-window counts with late-data tolerance (watermark);
- gap-based session windows (F.session_window), Spark's native
  stateful sessionization — the streaming twin of the batch
  gaps-and-islands formulation.

Design for scale: state is keyed by (window x event_type) /
(user_id), so state size is bounded by key cardinality, not event
volume; watermarks bound retained state in time.  File-source
streaming here doubles as the test harness (Trigger.AvailableNow);
on a cluster the source would be Kafka/Kinesis with identical plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def drain(writer: DataStreamWriter, checkpoint: str, timeout_sec: int = 120) -> None:
    """Run a stream writer to completion: checkpoint at ``checkpoint``,
    process everything available (``Trigger.AvailableNow``), return once
    the query has stopped itself.  Every library stream runs through
    here.

    A query still running after ``timeout_sec`` is stopped and
    ``TimeoutError`` raised: returning normally would report a stream
    whose table silently misses batches as fully applied.  A failed
    batch surfaces as the query's own exception.

    ``timeout_sec`` cannot interrupt a ``foreachBatch`` call that is
    already running: ``q.stop()`` waits for the Python sink to return,
    so ``TimeoutError`` is raised only after that batch finishes, and a
    sink that never returns hangs the drain.  The sink is not made to
    skip work instead, because Spark commits any batch whose sink
    returned as applied."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream at {checkpoint} did not drain within {timeout_sec}s"
        )


def compact_changes(
    feed: DataFrame, keys: list[str], cols: list[str], seq_col: str = "seq"
) -> DataFrame:
    """Last change per key of a CDC feed (standard compaction), as
    ``change_type`` plus ``cols``.  A column carried as ``<c>_new`` /
    ``<c>_old`` payloads resolves to ``coalesce(new, old)`` (deletes
    carry their key only on the ``_old`` side), a plain column as-is.
    Keys are IMMUTABLE in the feed (standard CDC contract: a
    key-changing update arrives as delete+insert); the highest
    ``seq_col`` wins."""

    def col_of(c):
        new_c, old_c = f"{c}_new", f"{c}_old"
        if new_c in feed.columns:
            return F.coalesce(F.col(new_c), F.col(old_c)).alias(c)
        return F.col(c)

    w = Window.partitionBy(
        *[col_of(k).alias(f"__k_{k}") for k in keys]
    ).orderBy(F.col(seq_col).desc())
    return (
        feed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("change_type", *[col_of(c) for c in dict.fromkeys(cols)])
    )


def event_schema(spark: SparkSession, path: str) -> T.StructType:
    """Probe the on-disk schema of an events parquet (footer-only read).

    readStream requires an explicit schema; hard-coding one breaks
    whenever the testdata's ts encoding changes (nanos-as-bigint vs
    TIMESTAMP_NTZ — see sources.readers.normalize_ts), so derive it
    from the actual file and normalize after.
    """
    return spark.read.parquet(path).schema


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalized to TimestampType."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover
        pass
    from beehive_spark.sources.readers import normalize_ts

    schema = event_schema(spark, os.path.join(sf_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(stream)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type aggregation with a watermark.

    Streaming twin of queries.core.events_windowed_agg: same grouping
    keys, same aggregates; late events beyond the watermark are
    dropped instead of reshuffling history.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native stateful sessionization via session_window (gap-merge
    semantics identical to the batch gaps-and-islands query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def dedup_event_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: keep the first occurrence of each
    key, with the watermark bounding how long seen-keys state is
    retained (dropDuplicatesWithinWatermark).

    This is the streaming twin of the batch dedup_exact query — the
    ingest-time guard of a training-data pipeline (at-least-once
    sources re-deliver; this makes the downstream exactly-once per
    key).  State size is bounded by keys-per-watermark-window, not
    stream length — without the watermark the seen-set would grow
    forever."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def correlate_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join: match each purchase event to click
    events by the same user within the preceding ``max_gap`` — the
    attribution/funnel join every event pipeline runs.

    Both sides carry watermarks AND the join predicate bounds event
    time (purchase between click and click + gap); together these let
    Spark evict buffered rows deterministically — an unbounded
    stream-stream join would buffer both streams forever.  State is
    bounded by rows-per-(watermark + gap) window, independent of
    stream length; at cluster scale both sides hash-shuffle on user_id
    once and the range predicate prunes within each key group."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts",
        "purchase_value",
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals that survive across micro-batches.

    This is the escape hatch for stateful semantics Spark's built-in
    windowed/session aggregations cannot express (cross-batch running
    counters, custom eviction, model state...).  State is one slim row
    per user_id — bounded by key cardinality, not event volume — and
    lives in the state store (RocksDB on a real cluster), so a
    1000-executor job shards it by the same user_id hash as the
    shuffle.  Each micro-batch emits (user_id, batch_events,
    cum_events, cum_value): the per-batch delta plus the running
    totals from state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("batch_events", T.LongType()),
            T.StructField("cum_events", T.LongType()),
            T.StructField("cum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("cum_events", T.LongType()),
            T.StructField("cum_value", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        (user_id,) = key
        cum_events, cum_value = state.get if state.exists else (0, 0.0)
        batch_events, batch_value = 0, 0.0
        for pdf in pdfs:
            batch_events += len(pdf)
            batch_value += float(pdf["value"].fillna(0.0).sum())
        cum_events += batch_events
        cum_value += batch_value
        state.update((cum_events, cum_value))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "batch_events": batch_events,
                    "cum_events": cum_events,
                    "cum_value": round(cum_value, 2),
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream by key, the standard fact-stream x dim-table lookup of every
    ingest pipeline.

    Stream-static joins are STATELESS on the stream side — each
    micro-batch joins against the (re-read) static relation, so no
    state store grows and no watermark is needed.  The static side is
    explicitly broadcast: at 100 TB/day of events the dim table is the
    small side by construction, and broadcasting keeps the stream from
    repartitioning on the join key every micro-batch."""
    return events.join(
        F.broadcast(dim.withColumnRenamed("c_custkey", "user_id")),
        "user_id",
        "left",
    )


def top_event_types(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Global per-type counts (complete mode) — the aggregation half of
    a streaming top-k; pair with :func:`run_topk_foreachbatch`, which
    sorts/limits each emitted snapshot.  State is one row per
    event_type, bounded by key cardinality."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def run_topk_foreachbatch(
    counts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    timeout_sec: int = 120,
) -> None:
    """Materialize a streaming top-k via foreachBatch: each complete
    snapshot of the per-key counts is sorted, limited to k rows, and
    atomically overwritten as the result table.

    Sort-limit is not supported inside a streaming plan (it would need
    total order over unbounded input); foreachBatch is the idiomatic
    Spark answer — the snapshot is a bounded batch DataFrame, so any
    batch operator (orderBy, limit, MERGE into a lakehouse table...)
    applies.  The k-row write is trivially small however large the
    stream."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.orderBy(F.col("n_events").desc(), "event_type")
            .limit(k)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    drain(
        counts.writeStream.outputMode("complete").foreachBatch(sink),
        os.path.join(checkpoint_dir, "topk"),
        timeout_sec,
    )


def user_value_extremes(events: DataFrame) -> DataFrame:
    """Per-user running min/max/count via transformWithStateInPandas —
    Spark 4's StatefulProcessor API, the successor to
    applyInPandasWithState (see running_user_stats for the legacy
    twin).  The processor owns typed, individually-updatable state
    handles (here one ValueState row) instead of a single opaque
    tuple; the same handle model scales to ListState/MapState and
    per-key timers for TTL eviction.  State remains one slim row per
    user_id in the state store, sharded by the groupBy key exactly
    like the legacy operator.

    Runtime note: the StatefulProcessor Python worker requires the
    protobuf runtime (`google.protobuf`); environments without it can
    use running_user_stats (applyInPandasWithState) for identical
    cross-batch semantics — the e2e test gates on the import."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("min_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    class Extremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "extremes", "mn double, mx double, cnt bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            mn, mx, cnt = (
                self._state.get() if self._state.exists() else (None, None, 0)
            )
            for pdf in rows:
                vals = pdf["value"].dropna()
                if len(vals):
                    bmn, bmx = float(vals.min()), float(vals.max())
                    mn = bmn if mn is None else min(mn, bmn)
                    mx = bmx if mx is None else max(mx, bmx)
                cnt += len(pdf)
            self._state.update((mn, mx, cnt))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "min_value": mn,
                        "max_value": mx,
                        "n_events": cnt,
                    }
                ]
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Extremes(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def run_stream_to_memory(
    df: DataFrame,
    name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> None:
    """Execute a streaming plan to a memory sink with AvailableNow
    (process-everything-then-stop), the batch-verifiable harness."""
    drain(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode),
        os.path.join(checkpoint_dir, name),
        timeout_sec,
    )


def hourly_type_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked per-(hour, event_type) streaming counts — the
    aggregate state the anomaly detector scores over.  State is one
    row per (window, type): bounded by key cardinality x retained
    windows, and the watermark lets Spark evict windows older than the
    late-data horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("event_type", F.col("win.start").alias("h"), "cnt")
    )


def run_anomaly_foreachbatch(
    counts: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    frame: int = 24,
    threshold: float = 2.0,
    timeout_sec: int = 120,
) -> None:
    """Streaming anomaly detection via foreachBatch: each snapshot of
    the hourly (type, hour, cnt) aggregate is z-scored with the SAME
    trailing-window expression as the batch ``events_anomaly`` query
    (``queries.core.score_hourly_anomalies``) and atomically
    overwritten as the anomaly table.

    A trailing ROWS window cannot run inside a streaming plan (it
    needs ordered history, not incremental state); foreachBatch is the
    idiomatic seam — the scored input is the AGGREGATE table (rows =
    types x hours), orders of magnitude smaller than the event stream,
    so per-batch rescoring is cheap at any event volume.  The batch
    and streaming layers share one scoring function, so an alert fires
    identically whichever layer computes it."""
    from beehive_spark.queries.core import score_hourly_anomalies

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            score_hourly_anomalies(batch_df, frame=frame, threshold=threshold)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    drain(
        counts.writeStream.outputMode("complete").foreachBatch(sink),
        os.path.join(checkpoint_dir, "anomaly"),
        timeout_sec,
    )


def run_cdc_apply_stream(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str] | str,
    timeout_sec: int = 120,
) -> None:
    """Streaming CDC ingestion: apply a stream of change records
    (insert/update/delete rows, Debezium-feed shaped) to a keyed
    parquet table, one transactional batch per micro-batch — the
    stream-to-lakehouse apply loop, built on the same crash-safe
    `sources.writers.apply_cdc_parquet` rewrite the batch path uses.

    foreachBatch is the idiomatic seam: the micro-batch is a bounded
    DataFrame, so the identical merge/delete logic serves batch
    backfills and streaming tail-follows — one code path, two
    latencies.  Ordering within a micro-batch collapses to the last
    change per key (standard CDC compaction) before applying, so
    replays of an upstream at-least-once feed stay idempotent."""
    from beehive_spark.sources.writers import apply_cdc_parquet

    key_cols = [keys] if isinstance(keys, str) else list(keys)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # last change per key wins within the batch (CDC compaction);
        # a monotonic per-record sequence column is required
        payload = [c for c in batch_df.columns if c not in ("change_type", "seq")]
        compacted = compact_changes(batch_df, key_cols, payload)
        apply_cdc_parquet(spark, table_path, compacted, keys=key_cols)

    drain(
        changes.writeStream.foreachBatch(sink),
        os.path.join(checkpoint_dir, "cdc_apply"),
        timeout_sec,
    )


def holt_forecast_stream(events: DataFrame) -> DataFrame:
    """Streaming Holt double-exponential forecaster — the stateful
    twin of ``queries/core.py::events_holt``: per user the state is
    exactly the (level, trend) BIGINT-milli pair that query's batch
    fold produces, advanced per event by the identical integer
    recurrence ``l' = (3*v + 7*(l+b)) div 10``,
    ``b' = (2*(l'-l) + 8*b) div 10`` (alpha=0.3, beta=0.2, per-step
    truncating division toward zero), seeded (v1, 0).

    Because the recurrence is order-dependent, each micro-batch's
    rows are folded in (event-time, value) order — the same total
    per-key order the batch query uses — so on a time-ordered source
    (files arriving in event-time order, the normal ingest layout)
    the final state per user is BIT-IDENTICAL to the batch fold,
    which the equivalence test pins.  Out-of-order arrival WITHIN a
    micro-batch is absorbed by the in-batch sort; late data across
    batches would need the same reprocessing any incremental
    forecaster needs (state is not invertible) — documented, not
    hidden.

    Emits one row per (user, micro-batch): the running point count,
    the current (level, trend), and the one-step forecast
    ``level + trend``.  State is two BIGINTs + a count per user —
    bounded by key cardinality, sharded by the state store exactly
    like ``running_user_stats``.

    Crash window: the state store commits atomically with each
    micro-batch's offset in the streaming checkpoint, so recovered
    state CONTINUES the fold bit-identically (pinned by
    tests/test_streaming_holt.py::
    test_holt_stream_resumes_state_across_restart).  Emitted rows are
    at-least-once on non-transactional sinks (a replayed batch
    re-emits); pair with the family's staged-swap foreachBatch sinks
    for end-to-end exactly-once."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("batch_points", T.LongType()),
            T.StructField("n_points", T.LongType()),
            T.StructField("level_milli", T.LongType()),
            T.StructField("trend_milli", T.LongType()),
            T.StructField("forecast_milli", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_points", T.LongType()),
            T.StructField("level_milli", T.LongType()),
            T.StructField("trend_milli", T.LongType()),
        ]
    )

    def _tdiv(a: int, b: int) -> int:
        # truncate toward zero (Spark div / DuckDB //); python // floors
        q = abs(a) // b
        return q if a >= 0 else -q

    def update(key, pdfs, state):
        import math

        (user_id,) = key
        n, level, trend = state.get if state.exists else (0, 0, 0)
        frames = [pdf for pdf in pdfs if len(pdf)]
        batch = 0
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            t_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            v = pdf["value"].astype(float)
            milli = [
                int(math.copysign(math.floor(abs(x * 1000) + 0.5), x))
                for x in v
            ]
            for _, vm in sorted(zip(t_us, milli)):
                if n == 0:
                    level, trend = vm, 0
                else:
                    nl = _tdiv(3 * vm + 7 * (level + trend), 10)
                    trend = _tdiv(2 * (nl - level) + 8 * trend, 10)
                    level = nl
                n += 1
                batch += 1
        state.update((n, level, trend))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "batch_points": batch,
                    "n_points": n,
                    "level_milli": level,
                    "trend_milli": trend,
                    "forecast_milli": level + trend,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def cusum_monitor_stream(
    events: DataFrame,
    reference_milli: int,
    slack_milli: int = 25000,
    threshold_milli: int = 150000,
) -> DataFrame:
    """Streaming one-sided CUSUM drift monitor — the stateful twin of
    ``queries/core.py::events_cusum_changepoint`` with one honest
    difference: the batch query self-calibrates its reference level
    from the full series (a two-pass statistic no single-pass monitor
    can know), so the streaming form takes the reference as an
    explicit parameter — exactly how production CUSUM is deployed
    (reference fixed from a calibration window, monitor runs
    forward).  With the same reference the per-event recurrence
    ``S = max(0, S + v - reference - slack)`` and the alarm/peak/
    first-index bookkeeping are the identical integer fold, which the
    equivalence test pins against a python replay.

    State per user is five BIGINTs ``(n, S, maxS, n_alarms,
    first_alarm_idx)`` — bounded by key cardinality; each micro-batch
    folds its rows in (event-time, value) order (the batch query's
    total per-key order), emitting one monitoring row per (user,
    batch).

    Crash window: same contract as ``holt_forecast_stream`` — state
    commits atomically with the batch offset and restart continues
    the integer fold (tests/test_streaming_cusum.py::
    test_cusum_stream_resumes_state_across_restart); emitted rows are
    at-least-once on non-transactional sinks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("batch_points", T.LongType()),
            T.StructField("n_points", T.LongType()),
            T.StructField("cusum_milli", T.LongType()),
            T.StructField("max_cusum_milli", T.LongType()),
            T.StructField("n_alarms", T.LongType()),
            T.StructField("first_alarm_idx", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_points", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("max_s", T.LongType()),
            T.StructField("n_alarms", T.LongType()),
            T.StructField("first_alarm_idx", T.LongType()),
        ]
    )

    def update(key, pdfs, state):
        import math

        (user_id,) = key
        n, s, max_s, alarms, first = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        batch = 0
        if frames:
            pdf = pd.concat(frames, ignore_index=True)
            t_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            milli = [
                int(math.copysign(math.floor(abs(x * 1000) + 0.5), x))
                for x in pdf["value"].astype(float)
            ]
            for _, vm in sorted(zip(t_us, milli)):
                n += 1
                batch += 1
                s = max(0, s + vm - reference_milli - slack_milli)
                max_s = max(max_s, s)
                if s > threshold_milli:
                    alarms += 1
                    if first == 0:
                        first = n
        state.update((n, s, max_s, alarms, first))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "batch_points": batch,
                    "n_points": n,
                    "cusum_milli": s,
                    "max_cusum_milli": max_s,
                    "n_alarms": alarms,
                    "first_alarm_idx": first,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
