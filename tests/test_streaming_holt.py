"""Streaming Holt forecaster must be bit-identical to the batch fold
(queries/core.py::events_holt) on a time-ordered source."""

import os
import time

from pyspark.sql import functions as F

from beehive_spark.sources.readers import normalize_ts
from beehive_spark.streaming import holt_forecast_stream, run_stream_to_memory
from beehive_spark.streaming.events import drain


def _time_split_source(spark, sf_dir, out_dir, n_files=3):
    """Write the events table as n contiguous event-time slices, one
    file each, with ascending mtimes so the file stream replays them
    in event-time order (equal timestamps never straddle files)."""
    raw = normalize_ts(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    bounds = list(
        raw.select(
            F.percentile_approx(
                "ts", [i / n_files for i in range(1, n_files)], 10000
            )
        ).first()[0]
    )
    lo = None
    paths = []
    for i, hi in enumerate(list(bounds) + [None]):
        part = raw
        if lo is not None:
            part = part.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            part = part.filter(F.col("ts") <= F.lit(hi))
        p = os.path.join(out_dir, f"slice_{i}")
        part.coalesce(1).write.parquet(p)
        paths.append(p)
        lo = hi
    # guarantee strictly ascending mtimes for the file-stream ordering
    base = time.time() - 3600
    for i, p in enumerate(paths):
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))
    return raw


def test_holt_stream_final_state_matches_batch_fold(spark, sf_dir, tmp_path):
    src = str(tmp_path / "holt_src")
    raw = _time_split_source(spark, sf_dir, src)

    stream = normalize_ts(
        spark.readStream.schema(
            spark.read.option("recursiveFileLookup", "true").parquet(src).schema
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_stream_to_memory(
        holt_forecast_stream(stream), "holt_stream", str(tmp_path), "append"
    )
    rows = spark.sql("SELECT * FROM holt_stream").collect()

    # final state per user = the row with the largest n_points
    final = {}
    batches_seen = {}
    for r in rows:
        u = r["user_id"]
        batches_seen[u] = batches_seen.get(u, 0) + (r["batch_points"] > 0)
        if u not in final or r["n_points"] > final[u]["n_points"]:
            final[u] = r

    from beehive_spark.queries.core import events_holt

    want = {
        r["user_id"]: (
            r["n_points"],
            r["level_milli"],
            r["trend_milli"],
            r["forecast_milli"],
        )
        for r in events_holt(spark, sf_dir).collect()
    }
    got = {
        u: (
            r["n_points"],
            r["level_milli"],
            r["trend_milli"],
            r["forecast_milli"],
        )
        for u, r in final.items()
    }
    assert got == want
    # the state must genuinely have crossed micro-batches
    multi = sum(1 for v in batches_seen.values() if v > 1)
    assert multi > len(batches_seen) * 0.5


def test_holt_stream_resumes_state_across_restart(spark, sf_dir, tmp_path):
    """Crash/restart window for the applyInPandasWithState family: the
    (level, trend) state lives in Spark's state store, committed
    atomically with each micro-batch's offset.  Kill after the first
    slices commit, restart from the SAME checkpoint over a source that
    grew — the recovered state must CONTINUE the fold (final per-user
    state bit-identical to the batch fold over everything), never
    re-fold committed slices or reseed from scratch.  Output rows are
    at-least-once on non-transactional sinks (documented in the
    docstring); state correctness is what this pins."""
    import shutil

    staging = str(tmp_path / "staging")
    raw = _time_split_source(spark, sf_dir, staging)
    src = str(tmp_path / "src")
    os.makedirs(src)
    # phase 1: only the first event-time slice is visible
    shutil.copytree(os.path.join(staging, "slice_0"), os.path.join(src, "slice_0"))

    def run(out):
        # memory sinks cannot recover from a checkpoint; a foreachBatch
        # parquet append is the recoverable harness
        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        stream = normalize_ts(
            spark.readStream.schema(
                spark.read.option("recursiveFileLookup", "true")
                .parquet(staging).schema
            )
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        drain(
            holt_forecast_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("append"),
            os.path.join(str(tmp_path), "ck", "holt"),
            120,
        )

    out1 = str(tmp_path / "phase1_out")
    run(out1)
    phase1 = {
        r["user_id"]: r for r in spark.read.parquet(out1).collect()
    }
    assert phase1  # slice 0 really produced state

    # the "crash": the query is gone; the rest of the data arrives
    for s in ("slice_1", "slice_2"):
        shutil.copytree(os.path.join(staging, s), os.path.join(src, s))

    out2 = str(tmp_path / "phase2_out")
    run(out2)  # restart from the same checkpoint
    rows2 = spark.read.parquet(out2).collect()
    final = {}
    for r in rows2:
        u = r["user_id"]
        if u not in final or r["n_points"] > final[u]["n_points"]:
            final[u] = r

    from beehive_spark.queries.core import events_holt

    want = {
        r["user_id"]: (
            r["n_points"], r["level_milli"], r["trend_milli"],
            r["forecast_milli"],
        )
        for r in events_holt(spark, sf_dir).collect()
    }
    # every user emitting after the restart must carry the full-series
    # state: n_points counts slice-0 points too (recovered, not
    # re-read — phase 2's memory sink only saw the new slices)
    assert final
    for u, r in final.items():
        assert (
            r["n_points"], r["level_milli"], r["trend_milli"],
            r["forecast_milli"],
        ) == want[u], f"user {u} state diverged after restart"
    # and the restart genuinely continued rather than restarted: some
    # phase-2 user must have more total points than its batch count
    assert any(
        r["n_points"] > r["batch_points"] and phase1.get(u)
        for u, r in final.items()
    )
