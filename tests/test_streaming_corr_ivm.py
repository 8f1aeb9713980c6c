"""The correlation-IVM recipe composes with the streaming sink
UNCHANGED: a CDC feed carrying each row's moment contributions
(p, d, p^2, d^2, p*d as _old/_new payloads) maintains the moment
table through run_ivm_agg_stream, and Pearson corr is a projection of
the final state — zero new streaming code, the incremental_corr_orders
argument made end-to-end.  Also pins the table fold's per-batch release
of the maintainer's persists and the drain's timeout."""

import math


def _moment_row(change, g, old, new):
    def side(t):
        if t is None:
            return (None,) * 5
        p, d = t
        return (p, d, p * p, d * d, p * d)

    return (change, g if change != "insert" else None,
            g if change != "delete" else None, *side(old), *side(new))


SCHEMA = (
    "change_type string, g_old string, g_new string, "
    "p_old bigint, d_old bigint, pp_old bigint, dd_old bigint, pd_old bigint, "
    "p_new bigint, d_new bigint, pp_new bigint, dd_new bigint, pd_new bigint"
)


def test_corr_moments_stream_through_ivm_agg(spark, tmp_path):
    from pyspark.sql import functions as F

    from beehive_spark.operators.ivm import build_agg
    from beehive_spark.streaming.materialize import run_ivm_agg_stream

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    # batch 1: five inserts across two groups
    b1 = [
        _moment_row("insert", "a", None, (10, 1)),
        _moment_row("insert", "a", None, (20, 2)),
        _moment_row("insert", "a", None, (30, 3)),
        _moment_row("insert", "b", None, (5, 9)),
        _moment_row("insert", "b", None, (7, 4)),
    ]
    # batch 2: an update, a delete, a cross-group move
    b2 = [
        _moment_row("update", "a", (20, 2), (25, 2)),
        _moment_row("delete", "b", (5, 9), None),
        ("update", "a", "b", 30, 3, 900, 9, 90, 30, 3, 900, 9, 90),
    ]
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(
        str(feed_dir / "f1.parquet")
    )
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.parquet(
        str(feed_dir / "f2.parquet")
    )

    sums = {"sp": "p", "sd": "d", "spp": "pp", "sdd": "dd", "spd": "pd"}
    table = str(tmp_path / "moments")
    empty_cols = "g string, n_rows bigint, " + ", ".join(
        f"{o} bigint, {o}_nn bigint" for o in sums
    )
    spark.createDataFrame([], empty_cols).write.parquet(table)

    changes = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed_dir) + "/*/")
    )
    run_ivm_agg_stream(
        spark, changes, table, str(tmp_path / "ckpt"), keys=["g"], sums=sums
    )

    # final row state: a={(10,1),(25,2)}, b={(7,4),(30,3)}
    final_rows = [("a", 10, 1), ("a", 25, 2), ("b", 7, 4), ("b", 30, 3)]
    fact = spark.createDataFrame(final_rows, "g string, p bigint, d bigint")
    fact = (
        fact.withColumn("pp", F.col("p") * F.col("p"))
        .withColumn("dd", F.col("d") * F.col("d"))
        .withColumn("pd", F.col("p") * F.col("d"))
    )
    want = {
        r["g"]: tuple(r)[1:]
        for r in build_agg(fact, ["g"], sums, "n_rows").collect()
    }
    got = {r["g"]: tuple(r)[1:] for r in spark.read.parquet(table).collect()}
    assert got == want

    # the view projection: corr from the maintained moments == python
    for g, rows in (("a", [(10, 1), (25, 2)]), ("b", [(7, 4), (30, 3)])):
        n = len(rows)
        sp = sum(p for p, _ in rows)
        sd = sum(d for _, d in rows)
        spp = sum(p * p for p, _ in rows)
        sdd = sum(d * d for _, d in rows)
        spd = sum(p * d for p, d in rows)
        num = float(n) * spd - float(sp) * sd
        den = math.sqrt(float(n) * spp - float(sp) * sp) * math.sqrt(
            float(n) * sdd - float(sd) * sd
        )
        state = dict(zip(
            ["n_rows", "sp", "sp_nn", "sd", "sd_nn", "spp", "spp_nn",
             "sdd", "sdd_nn", "spd", "spd_nn"],
            got[g],
        ))
        got_num = float(state["n_rows"]) * state["spd"] - float(state["sp"]) * state["sd"]
        got_den = math.sqrt(
            float(state["n_rows"]) * state["spp"] - float(state["sp"]) * state["sp"]
        ) * math.sqrt(
            float(state["n_rows"]) * state["sdd"] - float(state["sd"]) * state["sd"]
        )
        assert got_num / got_den == num / den


def test_ivm_agg_stream_releases_each_batch_persists(spark, tmp_path, monkeypatch):
    """Every frame the maintainer persists for a micro-batch is
    unpersisted once that batch commits: after 5 batches none is still
    cached (``DataFrame.storageLevel`` asks the JVM cache manager)."""
    from pyspark import StorageLevel

    from beehive_spark.streaming import materialize

    feed_dir = tmp_path / "feed"
    for i in range(5):
        spark.createDataFrame(
            [_moment_row("insert", "a" if i % 2 else "b", None, (i, i + 1))],
            SCHEMA,
        ).coalesce(1).write.parquet(str(feed_dir / f"f{i}.parquet"))
    sums = {"sp": "p"}
    table = str(tmp_path / "moments")
    spark.createDataFrame(
        [], "g string, n_rows bigint, sp bigint, sp_nn bigint"
    ).write.parquet(table)

    lists = []
    maintainer = materialize.incremental_agg

    def recording(*args, persisted=None, **kwargs):
        lists.append(persisted)
        return maintainer(*args, persisted=persisted, **kwargs)

    monkeypatch.setattr(materialize, "incremental_agg", recording)
    changes = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed_dir) + "/*/")
    )
    materialize.run_ivm_agg_stream(
        spark, changes, table, str(tmp_path / "ckpt"), keys=["g"], sums=sums
    )

    assert len(lists) == 5 and all(lists)
    assert all(
        df.storageLevel == StorageLevel.NONE for held in lists for df in held
    )
    got = {
        r["g"]: (r["n_rows"], r["sp"])
        for r in spark.read.parquet(table).collect()
    }
    assert got == {"a": (2, 1 + 3), "b": (3, 0 + 2 + 4)}


def test_drain_raises_and_stops_a_stream_past_its_timeout(spark, tmp_path):
    """A stream still running at ``timeout_sec`` must not look applied:
    the drain stops it and raises."""
    import time

    import pytest

    from beehive_spark.streaming.events import drain

    src = tmp_path / "src"
    spark.createDataFrame([(1,)], "x int").coalesce(1).write.parquet(
        str(src / "f0.parquet")
    )

    def slow_sink(batch_df, batch_id):
        time.sleep(4)

    stream = spark.readStream.schema("x int").parquet(str(src) + "/*/")
    with pytest.raises(TimeoutError):
        drain(
            stream.writeStream.foreachBatch(slow_sink),
            str(tmp_path / "ckpt"),
            timeout_sec=1,
        )
    assert spark.streams.active == []
