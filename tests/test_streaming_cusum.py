"""Streaming CUSUM monitor must replay the exact integer fold across
micro-batches (python-replay equivalence on a time-ordered source)."""

import math
import os

import duckdb

from beehive_spark.sources.readers import normalize_ts
from beehive_spark.streaming import cusum_monitor_stream, run_stream_to_memory
from beehive_spark.streaming.events import drain
from tests.test_streaming_holt import _time_split_source

REF = 49000  # fixed calibration reference (milli), ~the corpus mean


def test_cusum_stream_matches_python_replay(spark, sf_dir, tmp_path):
    src = str(tmp_path / "cusum_src")
    _time_split_source(spark, sf_dir, src)

    stream = normalize_ts(
        spark.readStream.schema(
            spark.read.option("recursiveFileLookup", "true").parquet(src).schema
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    run_stream_to_memory(
        cusum_monitor_stream(stream, reference_milli=REF),
        "cusum_stream",
        str(tmp_path),
        "append",
    )
    rows = spark.sql("SELECT * FROM cusum_stream").collect()
    final = {}
    for r in rows:
        u = r["user_id"]
        if u not in final or r["n_points"] > final[u]["n_points"]:
            final[u] = r

    raw = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), value "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    series = {}
    for u, t, v in raw:
        series.setdefault(u, []).append(
            (t, int(math.copysign(math.floor(abs(v * 1000) + 0.5), v)))
        )
    want = {}
    for u, pts in series.items():
        pts.sort()
        n = s = max_s = alarms = first = 0
        for _, vm in pts:
            n += 1
            s = max(0, s + vm - REF - 25000)
            max_s = max(max_s, s)
            if s > 150000:
                alarms += 1
                if first == 0:
                    first = n
        want[u] = (n, s, max_s, alarms, first)
    got = {
        u: (
            r["n_points"],
            r["cusum_milli"],
            r["max_cusum_milli"],
            r["n_alarms"],
            r["first_alarm_idx"],
        )
        for u, r in final.items()
    }
    assert got == want
    assert any(v[3] > 0 for v in got.values())  # the monitor really fires


def test_cusum_stream_resumes_state_across_restart(spark, sf_dir, tmp_path):
    """Restart window, cusum flavor (see the holt twin for the
    mechanics): state recovered from the checkpoint must continue the
    integer fold so the final per-user monitor state equals the
    python replay over the FULL series — a re-fold would double-count
    drift mass, a reseed would zero it."""
    import shutil

    staging = str(tmp_path / "staging")
    _time_split_source(spark, sf_dir, staging)
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copytree(
        os.path.join(staging, "slice_0"), os.path.join(src, "slice_0")
    )

    def run(out):
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
            cusum_monitor_stream(stream, reference_milli=REF)
            .writeStream.foreachBatch(sink)
            .outputMode("append"),
            os.path.join(str(tmp_path), "ck", "cusum"),
            120,
        )

    out1 = str(tmp_path / "phase1_out")
    run(out1)
    assert spark.read.parquet(out1).count() > 0

    for s in ("slice_1", "slice_2"):
        shutil.copytree(os.path.join(staging, s), os.path.join(src, s))
    out2 = str(tmp_path / "phase2_out")
    run(out2)

    final = {}
    for r in spark.read.parquet(out2).collect():
        u = r["user_id"]
        if u not in final or r["n_points"] > final[u]["n_points"]:
            final[u] = r
    assert final

    raw = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), value "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    series = {}
    for u, t, v in raw:
        series.setdefault(u, []).append(
            (t, int(math.copysign(math.floor(abs(v * 1000) + 0.5), v)))
        )
    for u, r in final.items():
        pts = sorted(series[u])
        n = s_ = max_s = alarms = first = 0
        for _, vm in pts:
            n += 1
            s_ = max(0, s_ + vm - REF - 25000)
            max_s = max(max_s, s_)
            if s_ > 150000:
                alarms += 1
                if first == 0:
                    first = n
        assert (
            r["n_points"], r["cusum_milli"], r["max_cusum_milli"],
            r["n_alarms"], r["first_alarm_idx"],
        ) == (n, s_, max_s, alarms, first), f"user {u} diverged"
    assert any(
        r["n_points"] > r["batch_points"] for r in final.values()
    )
