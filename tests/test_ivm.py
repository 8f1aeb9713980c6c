"""Incremental view maintenance (`operators.ivm`).

Pins the retraction-stream algebra against a from-scratch recompute on
synthetic data engineered to hit every edge: group vanishes entirely,
brand-new group appears, update moves a row BETWEEN groups, NULL
measure values, and multiple changes landing on one group.  Also pins
the scale contract: the base aggregate is never shuffled (its side of
the plan contains no shuffle Exchange).
"""

from pyspark.sql import functions as F

from beehive_spark.operators.ivm import (
    SIGN,
    build_agg,
    cdc_to_retractions,
    incremental_agg,
)


def _agg(df):
    return build_agg(df, ["g"], {"sv": "v"}, count_col="n_rows")


def _rows(df):
    return {tuple(r) for r in df.select("g", "n_rows", "sv").collect()}


def test_incremental_equals_recompute(spark):
    old = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 4, None), ("c", 5, 50)],
        "g string, id int, v int",
    )
    # b vanishes; d is new; one 'a' row moves to c; one c value changes
    new = spark.createDataFrame(
        [("a", 1, 10), ("c", 2, 20), ("c", 4, None), ("c", 5, 99), ("d", 6, 60)],
        "g string, id int, v int",
    )
    retr = spark.createDataFrame(
        [
            (-1, "a", 20),          # delete of (a,2,20) from group a ...
            (1, "c", 20),           # ... reinserted under c (group move)
            (-1, "b", 30),          # group b vanishes
            (-1, "c", 50), (1, "c", 99),  # value update in place
            (1, "d", 60),           # brand-new group
        ],
        f"{SIGN} int, g string, v int",
    )
    got = incremental_agg(_agg(old), retr, ["g"], {"sv": "v"}, count_col="n_rows")
    want = _agg(new)
    assert _rows(got) == _rows(want)
    assert "b" not in {r[0] for r in got.collect()}


def test_cdc_feed_with_key_change_and_nulls(spark):
    old = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, None), ("b", 3, 30)], "g string, id int, v int"
    )
    feed = spark.createDataFrame(
        [
            ("update", "a", "b", 10, 15),      # moves groups AND changes value
            ("update", "a", "a", None, 7),     # NULL -> value
            ("delete", "b", None, 30, None),
            ("insert", None, "e", None, 5),
        ],
        "change_type string, g_old string, g_new string, v_old int, v_new int",
    )
    retr = cdc_to_retractions(feed, keys=["g"], values=["v"])
    got = incremental_agg(_agg(old), retr, ["g"], {"sv": "v"}, count_col="n_rows")
    new = spark.createDataFrame(
        [("b", 1, 15), ("a", 2, 7), ("e", 4, 5)], "g string, id int, v int"
    )
    assert _rows(got) == _rows(_agg(new))


def test_base_side_never_shuffles(spark):
    base = _agg(
        spark.range(0, 10_000).select(
            (F.col("id") % 100).cast("string").alias("g"),
            F.col("id").cast("int").alias("id"),
            F.col("id").cast("int").alias("v"),
        )
    )
    retr = spark.createDataFrame(
        [(1, "7", 5), (-1, "9", 3)], f"{SIGN} int, g string, v int"
    )
    got = incremental_agg(base, retr, ["g"], {"sv": "v"}, count_col="n_rows")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the ONLY shuffle exchanges allowed are for the base aggregate
    # itself (computed here from raw rows; a stored aggregate table has
    # none) — the maintenance joins add zero: they are broadcast-only.
    import re

    n_exchanges = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    n_base = len(re.findall(r"Exchange (?:hash|range)partitioning", base_plan))
    # base's own aggregation appears twice (untouched + touched
    # branches); every OTHER exchange partitions only the retraction
    # delta (it appears three times: anti keys, semi keys, merge), so
    # shuffle volume beyond computing base is delta-sized.
    assert n_exchanges <= 2 * n_base + 3
    assert "BroadcastExchange" in plan


def _mm_base(df):
    return df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.max("v").alias("mx")
    )


def test_minmax_evict_and_cheap_paths(spark):
    from beehive_spark.operators.ivm import incremental_minmax

    old = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 7), ("b", 3, 5), ("c", 4, None)],
        "g string, id int, v int",
    )
    # a: evict the max (10) -> rescan must find runner-up 7
    # b: insert a larger value -> cheap greatest() path
    # c: all-NULL group gains a value after NULL extreme -> rescan path
    # d: brand-new group
    retr = spark.createDataFrame(
        [(-1, "a", 10), (1, "b", 9), (1, "c", 3), (1, "d", 1)],
        f"{SIGN} int, g string, v int",
    )
    fact = spark.createDataFrame(
        [("a", 7), ("b", 5), ("b", 9), ("c", None), ("c", 3), ("d", 1)],
        "g string, v int",
    )
    got = {
        r["g"]: (r["n_rows"], r["mx"])
        for r in incremental_minmax(
            _mm_base(old), retr, fact, ["g"], "v", agg="max", out_col="mx"
        ).collect()
    }
    assert got == {"a": (1, 7), "b": (2, 9), "c": (2, 3), "d": (1, 1)}


def test_minmax_group_vanishes_and_min_mode(spark):
    from beehive_spark.operators.ivm import incremental_minmax

    old = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 3), ("b", 3, 5)], "g string, id int, v int"
    )
    base = old.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.min("v").alias("mn")
    )
    # b vanishes entirely; a loses its min -> rescan finds 10
    retr = spark.createDataFrame(
        [(-1, "b", 5), (-1, "a", 3)], f"{SIGN} int, g string, v int"
    )
    fact = spark.createDataFrame([("a", 10)], "g string, v int")
    got = {
        r["g"]: (r["n_rows"], r["mn"])
        for r in incremental_minmax(
            base, retr, fact, ["g"], "v", agg="min", out_col="mn"
        ).collect()
    }
    assert got == {"a": (1, 10)}


def test_ivm_maintains_histogram_bins(spark):
    """Composition: histogram bins are grouped counts, so
    incremental_agg maintains DISTRIBUTION sketches (and with them
    p95-style estimates) under CDC — no special operator needed."""
    from beehive_spark.operators.ivm import build_agg, incremental_agg

    def bins(df):
        return df.select(
            "t", F.least(F.lit(7), F.expr("v div 8")).alias("bin")
        )

    old = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("t"),
        (F.col("id") % 60).cast("int").alias("v"),
    )
    base = build_agg(bins(old), ["t", "bin"], {}, count_col="cnt")
    # delta: delete every v>=48 row of type 0, insert 100 rows of v=1 type 2
    dels = old.filter((F.col("t") == "0") & (F.col("v") >= 48))
    ins = spark.range(0, 100).select(
        F.lit("2").alias("t"), F.lit(1).cast("int").alias("v")
    )
    retr = (
        bins(dels).select(F.lit(-1).alias("_sign"), "t", "bin")
        .unionByName(bins(ins).select(F.lit(1).alias("_sign"), "t", "bin"))
    )
    got = incremental_agg(base, retr, ["t", "bin"], {}, count_col="cnt")
    new = old.join(dels, ["t", "v"], "left_anti").unionByName(ins)
    want = build_agg(bins(new), ["t", "bin"], {}, count_col="cnt")
    as_set = lambda df: {tuple(r) for r in df.select("t", "bin", "cnt").collect()}  # noqa: E731
    assert as_set(got) == as_set(want)


def test_incremental_agg_persists_into_its_callers_list_only(spark):
    """Each call puts the frames it persists into its caller's own
    ``persisted`` list: unpersisting one call's list leaves the other
    call's frames cached.  ``DataFrame.storageLevel`` asks the JVM cache
    manager, so this reads what is really cached."""
    from pyspark import StorageLevel

    def call(g):
        old = spark.createDataFrame([(g, 1, 10)], "g string, id int, v int")
        base = _agg(old)
        retr = spark.createDataFrame(
            [(1, g, 5)], f"{SIGN} int, g string, v int"
        )
        held = []
        incremental_agg(base, retr, ["g"], {"sv": "v"}, persisted=held)
        return held

    first, second = call("a"), call("b")
    assert first and second
    assert all(df.storageLevel != StorageLevel.NONE for df in first + second)
    for df in first:
        df.unpersist()
    assert all(df.storageLevel == StorageLevel.NONE for df in first)
    assert all(df.storageLevel != StorageLevel.NONE for df in second)
    for df in second:
        df.unpersist()
