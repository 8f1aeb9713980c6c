"""Layout tests: partition pruning and bucketed shuffle-free joins
must be visible in the physical plan, not just assumed; z-order
file skipping and null ordering; and the staged swap's guards
(marker checks, lock vacuum, lock re-acquisition after an
unlink)."""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from beehive_spark.queries import load
from beehive_spark.sources.layout import (
    promote_staging,
    read_bucketed,
    vacuum_artifacts,
    write_bucketed,
    write_clustered,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _drop_table(spark, name: str) -> None:
    """Drop both the catalog entry and the physical location — a fresh
    session's in-memory metastore does not know tables written by a
    previous test session, but their warehouse directories persist."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load(spark, sf_dir, "orders")
    write_partitioned(orders, path, "o_orderstatus")

    # one directory per status value
    dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
    assert dirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}

    filtered = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    # count matches the unpartitioned source...
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert filtered.count() == want
    # ...and the scan's partition filter actually prunes directories
    scan_line = next(
        ln for ln in _plan(filtered).splitlines() if "FileScan" in ln
    )
    assert "PartitionFilters" in scan_line and "o_orderstatus" in scan_line


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    _drop_table(spark, "li_b")
    _drop_table(spark, "ord_b")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", n_buckets=8, sort_by="l_orderkey")
    write_bucketed(o, "ord_b", "o_orderkey", n_buckets=8, sort_by="o_orderkey")

    lb = read_bucketed(spark, "li_b")
    ob = read_bucketed(spark, "ord_b")
    # disable broadcast so the join would otherwise require a shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # bucketed co-location: no shuffle anywhere in the join plan
        assert "Exchange" not in plan
        # sorted buckets: the join needs no extra Sort nodes either
        want = (
            load(spark, sf_dir, "lineitem")
            .join(
                load(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_aggregation_has_no_exchange(spark, sf_dir, tmp_path):
    _drop_table(spark, "li_agg_b")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(li, "li_agg_b", "l_orderkey", n_buckets=8)
    agg = (
        read_bucketed(spark, "li_agg_b")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert "Exchange" not in _plan(agg)
    assert agg.count() == load(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()


def test_clustered_write_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders_clustered")
    orders = load(spark, sf_dir, "orders")
    write_clustered(orders, path, "o_orderkey", n_files=8)

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(files) >= 4  # range partitioner may merge tiny ranges
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            mins.append(stats.min)
            maxs.append(stats.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # footer min/max ranges must be disjoint -> readers can skip files
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    # and the clustered copy is lossless
    assert spark.read.parquet(path).count() == orders.count()


def test_export_training_shards_deterministic_and_complete(spark, sf_dir, tmp_path):
    """Shard export must be a partition of the input (no loss, no dup),
    assign rows by content hash (identical across runs/partitionings),
    and produce a manifest matching the shard dirs."""
    from beehive_spark.sources.layout import export_training_shards

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    p1, p2 = str(tmp_path / "sh1"), str(tmp_path / "sh2")
    m1 = export_training_shards(d, p1, key_col="doc_id", n_shards=8)
    m2 = export_training_shards(
        d.repartition(13), p2, key_col="doc_id", n_shards=8, sort_within="doc_id"
    )
    back1 = spark.read.parquet(p1)
    assert back1.count() == d.count()
    assert back1.select("doc_id").distinct().count() == d.count()
    # content-hash assignment: same (doc_id -> shard) map regardless of
    # input partitioning or sorting
    a1 = {r["doc_id"]: r["shard"] for r in back1.select("doc_id", "shard").collect()}
    a2 = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(p2).select("doc_id", "shard").collect()
    }
    assert a1 == a2
    man = {r["shard"]: r["n_rows"] for r in m1.collect()}
    assert sum(man.values()) == d.count() and len(man) <= 8
    import collections

    want = collections.Counter(a1.values())
    assert man == dict(want)


def test_upsert_parquet_replaces_by_key_and_survives(spark, sf_dir, tmp_path):
    """Upsert must replace matching keys, keep the rest, insert new
    rows, and leave a complete table after the staged swap."""
    from beehive_spark.sources.writers import upsert_parquet

    target = str(tmp_path / "tbl")
    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    stats0 = upsert_parquet(spark, base, target, keys="c_custkey")
    assert stats0["existing"] == 0 and stats0["total"] == base.count()

    # update 10 known keys + insert 5 new ones
    upd = (
        base.limit(10)
        .withColumn("c_acctbal", F.lit(-1.0))
    )
    new = spark.createDataFrame(
        [(10_000_000 + i, f"new{i}", 0.0) for i in range(5)],
        "c_custkey long, c_name string, c_acctbal double",
    )
    stats1 = upsert_parquet(spark, upd.unionByName(new), target, keys="c_custkey")
    assert stats1["updated"] == 10 and stats1["inserted"] == 5
    assert stats1["total"] == base.count() + 5

    back = spark.read.parquet(target)
    assert back.count() == base.count() + 5
    assert back.filter(F.col("c_acctbal") == -1.0).count() == 10
    assert back.filter(F.col("c_custkey") >= 10_000_000).count() == 5
    # staging/backup dirs cleaned up
    import os
    assert not os.path.isdir(target + ".staging")
    assert not os.path.isdir(target + ".old")


def _file_ranges(path, col):
    """Per-file (min, max) footer stats for ``col``."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == col
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            mins.append(stats.min)
            maxs.append(stats.max)
        out.append((min(mins), max(maxs)))
    return out


def _files_hit(path, box):
    """How many files a conjunctive box predicate must open, going by
    footer min/max alone (what any parquet reader's skipping does)."""
    cols = list(box)
    ranges = {c: _file_ranges(path, c) for c in cols}
    n_files = len(ranges[cols[0]])
    hit = 0
    for i in range(n_files):
        ok = True
        for c, (lo, hi) in box.items():
            mn, mx = ranges[c][i]
            if mx < lo or mn > hi:
                ok = False
                break
        if ok:
            hit += 1
    return hit, n_files


@pytest.mark.slow  # heavy member of an otherwise-fast suite
def test_zorder_write_skips_files_on_secondary_dim(spark, sf_dir, tmp_path):
    """A box predicate on the NON-primary dimension must skip z-ordered
    files while a single-column clustered layout opens every file."""
    from beehive_spark.sources.layout import write_zordered

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    lin_path = str(tmp_path / "li_linear")
    z_path = str(tmp_path / "li_zorder")
    write_clustered(li, lin_path, "l_partkey", n_files=16)
    write_zordered(li, z_path, ["l_partkey", "l_suppkey"], n_files=16)

    # lossless copy
    assert spark.read.parquet(z_path).count() == li.count()
    box = {"l_suppkey": (2, 3)}
    lin_hit, lin_n = _files_hit(lin_path, box)
    z_hit, z_n = _files_hit(z_path, box)
    assert lin_hit == lin_n  # linear layout cannot skip on l_suppkey
    assert z_hit < lin_hit  # z-order can
    assert z_hit <= z_n // 2

    # and a 2-D box prunes at least as well as either single dim
    box2 = {"l_partkey": (90, 110), "l_suppkey": (2, 3)}
    z2_hit, _ = _files_hit(z_path, box2)
    assert z2_hit <= z_hit

    # filtered counts agree with the source (skipping is never lossy)
    want = li.filter(
        (F.col("l_suppkey") >= 2) & (F.col("l_suppkey") <= 3)
        & (F.col("l_partkey") >= 90) & (F.col("l_partkey") <= 110)
    ).count()
    got = (
        spark.read.parquet(z_path)
        .filter(
            (F.col("l_suppkey") >= 2) & (F.col("l_suppkey") <= 3)
            & (F.col("l_partkey") >= 90) & (F.col("l_partkey") <= 110)
        )
        .count()
    )
    assert got == want


def test_zorder_value_nulls_sort_last(spark):
    from beehive_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 9.0)], "a int, b double"
    )
    z = df.select("a", zorder_value(df, ["a", "b"], bits=8).alias("z"))
    rows = {r["a"]: r["z"] for r in z.collect()}
    assert rows[2] == 1 << 16  # null key past every real key
    assert rows[1] < rows[2] and rows[3] < rows[2]


def test_dynamic_partition_pruning_from_join(spark, sf_dir, tmp_path):
    """Runtime partition pruning: when the partition-column filter is
    only discoverable by FILTERING A DIMENSION (not a literal), Spark
    must inject a dynamicpruning subquery into the fact scan's
    PartitionFilters — at 100 TB this is the difference between
    scanning 2 date partitions and scanning all of them.  Static
    pruning (literal filters) is pinned by
    test_partitioned_write_prunes; this pins the join-driven case."""
    fact_path = str(tmp_path / "orders_by_priority")
    write_partitioned(
        load(spark, sf_dir, "orders"), fact_path, partition_by=["o_orderpriority"]
    )
    fact = spark.read.parquet(fact_path)
    dim = (
        load(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .withColumn("tier", F.substring("o_orderpriority", 1, 1).cast("int"))
    )
    joined = fact.join(dim.filter(F.col("tier") <= 2), "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruned plan still computes the right answer
    expected = (
        load(spark, sf_dir, "orders")
        .filter(F.substring("o_orderpriority", 1, 1).cast("int") <= 2)
        .count()
    )
    assert joined.first()["n"] == expected


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "shattered")
    load(spark, sf_dir, "orders").repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    n_rows, checksum = before.count(), before.agg(
        F.sum("o_orderkey").alias("s")
    ).first()["s"]
    from beehive_spark.sources.layout import compact_parquet

    stats = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("o_orderkey").alias("s")).first()["s"] == checksum
    assert not os.path.isdir(path + ".compact_staging")
    assert not os.path.isdir(path + ".old")


def test_compact_parquet_partitioned_keeps_pruning(spark, sf_dir, tmp_path):
    path = str(tmp_path / "parts")
    load(spark, sf_dir, "orders").repartition(20).write.partitionBy(
        "o_orderstatus"
    ).parquet(path)
    from beehive_spark.sources.layout import compact_parquet

    stats = compact_parquet(
        spark, path, target_file_bytes=64 * 1024 * 1024, partition_by="o_orderstatus"
    )
    assert stats["files_after"] < stats["files_before"]
    pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    scan_line = next(
        ln for ln in _plan(pruned).splitlines() if "PartitionFilters" in ln
    )
    assert "o_orderstatus" in scan_line


def test_compact_recovers_from_interrupted_run(spark, sf_dir, tmp_path):
    """A crash that left a half-written staging dir must not affect a
    later compaction, and vacuum must clear stale artifacts without
    touching live tables."""
    from beehive_spark.sources.layout import compact_parquet, vacuum_artifacts

    path = str(tmp_path / "t")
    load(spark, sf_dir, "orders").repartition(8).write.parquet(path)
    checksum = spark.read.parquet(path).agg(F.sum("o_orderkey").alias("s")).first()["s"]
    # simulate an interrupted previous compaction: garbage staging + old
    os.makedirs(path + ".compact_staging")
    open(path + ".compact_staging/part-junk.parquet", "w").write("not parquet")
    os.makedirs(path + ".old")
    stats = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    assert (
        spark.read.parquet(path).agg(F.sum("o_orderkey").alias("s")).first()["s"]
        == checksum
    )
    # fresh garbage, then vacuum: under the default age gate a
    # just-written artifact is NOT collected (it could belong to an
    # in-flight swap); with the gate waived it is
    os.makedirs(path + ".staging")
    assert vacuum_artifacts(str(tmp_path)) == []
    assert os.path.isdir(path + ".staging")
    removed = vacuum_artifacts(str(tmp_path), min_age_sec=0)
    assert path + ".staging" in removed
    assert not os.path.isdir(path + ".staging")
    assert (
        spark.read.parquet(path).agg(F.sum("o_orderkey").alias("s")).first()["s"]
        == checksum
    )


def test_vacuum_never_touches_orphan_staging_or_lookalike_dirs(tmp_path):
    """An artifact whose base table is MISSING may be the sole complete
    copy of a swap that crashed between renames — vacuum must leave it
    for the owner's roll-forward.  A user directory that merely ends in
    .old but has no base sibling is equally off-limits."""
    from beehive_spark.sources.layout import vacuum_artifacts

    orphan = tmp_path / "ivm_table.staging"
    orphan.mkdir()
    (orphan / "_ivm_meta.json").write_text('{"batch_id": 7}')
    lookalike = tmp_path / "photos.old"
    lookalike.mkdir()
    (lookalike / "keep.txt").write_text("precious")
    assert vacuum_artifacts(str(tmp_path), min_age_sec=0) == []
    assert orphan.is_dir() and lookalike.is_dir()
    assert (lookalike / "keep.txt").read_text() == "precious"


def test_compact_rolls_forward_an_interrupted_swap(spark, tmp_path):
    """A crash between promote_staging's demote and its rename leaves
    no live table, the previous version in .old and the complete new
    one in .staging: compaction must recover the staged version before
    it reads, compact it, and leave neither sibling behind."""
    from beehive_spark.sources.layout import compact_parquet

    path = str(tmp_path / "t")
    spark.range(0, 40, numPartitions=4).withColumn("v", F.lit("old")).write.parquet(
        path
    )
    spark.range(0, 60, numPartitions=6).withColumn("v", F.lit("new")).write.parquet(
        path + ".staging"
    )
    os.replace(path, path + ".old")
    stats = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_before"] == 6 and stats["files_after"] == 1
    got = spark.read.parquet(path)
    assert sorted(r["id"] for r in got.select("id").collect()) == list(range(60))
    assert {r["v"] for r in got.select("v").distinct().collect()} == {"new"}
    assert not os.path.exists(path + ".staging")
    assert not os.path.exists(path + ".old")


# recover_swap's decision table: (marker, live, staging, old) -> which
# dir ends up live and which siblings stay.  A dir is absent (None),
# holds the marker ("full"), or has data only ("part"); without a
# marker "part" is just a present dir.
_RECOVERY = [
    # the live dir exists (even without its marker): nothing moves
    ("_meta", "part", "full", "full", "live", {"staging", "old"}),
    (None, "part", "part", "part", "live", {"staging", "old"}),
    # complete staging: promote it; drop .old only if complete
    ("_meta", None, "full", None, "staging", set()),
    ("_meta", None, "full", "full", "staging", set()),
    ("_meta", None, "full", "part", "staging", {"old"}),
    (None, None, "part", "part", "staging", set()),
    # no complete staging, complete .old: restore it, keep the staging
    ("_meta", None, None, "full", "old", set()),
    ("_meta", None, "part", "full", "old", {"staging"}),
    (None, None, None, "part", "old", set()),
    # nothing complete, or a first write that crashed: nothing
    ("_meta", None, "part", None, None, {"staging"}),
    ("_meta", None, None, "part", None, {"old"}),
    ("_meta", None, "part", "part", None, {"staging", "old"}),
    ("_meta", None, None, None, None, set()),
    (None, None, "part", None, None, {"staging"}),
    (None, None, None, None, None, set()),
]


def _tree(d: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


@pytest.mark.parametrize(
    "marker,live,staged,old,want_live,want_left",
    _RECOVERY,
    ids=[
        f"{m or 'nomarker'}-live={lv}-staging={st}-old={od}"
        for m, lv, st, od, _, _ in _RECOVERY
    ],
)
def test_recover_swap_decision_table(
    tmp_path, marker, live, staged, old, want_live, want_left
):
    from beehive_spark.sources.layout import recover_swap

    path = str(tmp_path / "art")
    dirs = {"live": path, "staging": path + ".staging", "old": path + ".old"}
    for name, state in (("live", live), ("staging", staged), ("old", old)):
        if state is None:
            continue
        os.makedirs(os.path.join(dirs[name], "sub"))
        with open(os.path.join(dirs[name], "sub", "part-0.parquet"), "w") as fh:
            fh.write(name)
        if state == "full":
            with open(os.path.join(dirs[name], marker), "w") as fh:
                fh.write('{"batch_id": 3}')
    before = {n: _tree(d) for n, d in dirs.items() if os.path.isdir(d)}
    recover_swap(path, marker)
    if want_live is None:
        assert not os.path.exists(path)
    else:
        assert _tree(path) == before[want_live]
    left = {n for n in ("staging", "old") if os.path.exists(dirs[n])}
    assert left == want_left
    for n in left:
        assert _tree(dirs[n]) == before[n]


def test_compact_partitioned_splits_oversized_partitions(spark, sf_dir, tmp_path):
    """Per-partition salting: a partition whose bytes exceed the target
    must come out as MULTIPLE files, not one monolith (the round-2
    ADVICE finding: repartition on partition cols alone wrote exactly
    one file per Hive partition regardless of size)."""
    from beehive_spark.sources.layout import compact_parquet

    path = str(tmp_path / "skewed")
    load(spark, sf_dir, "orders").repartition(10).write.partitionBy(
        "o_orderstatus"
    ).parquet(path)
    # tiny target so the dominant status partitions are "oversized"
    compact_parquet(
        spark, path, target_file_bytes=8 * 1024, partition_by="o_orderstatus"
    )
    per_part = {}
    for d in os.listdir(path):
        if d.startswith("o_orderstatus="):
            per_part[d] = [
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
    # the dominant partitions (O/F) must have split into several files
    assert max(len(v) for v in per_part.values()) > 1
    # and the data survives intact
    assert spark.read.parquet(path).count() == load(
        spark, sf_dir, "orders"
    ).count()


def _mkdir_with(path, *files):
    os.makedirs(path, exist_ok=True)
    for f in files:
        with open(os.path.join(path, f), "w") as fh:
            fh.write("x")


@pytest.mark.slow
def test_promote_refuses_foreign_incomplete_staging(tmp_path):
    """After a recoverer promotes a writer's complete staging, the
    writer's RETRIED promotion must not demote the (now good) live dir
    in favor of a newly-started rebuild's incomplete staging: with a
    complete live dir that is the recoverer-already-did-it
    no-op."""
    live = str(tmp_path / "idx")
    staging = live + ".staging"
    _mkdir_with(live, "MARKER", "data.parquet")
    _mkdir_with(staging, "part-0.parquet")  # mid-write rebuild: no marker
    assert promote_staging(staging, live, marker="MARKER") is False
    # live untouched, foreign staging untouched
    assert os.path.exists(os.path.join(live, "MARKER"))
    assert os.path.exists(os.path.join(staging, "part-0.parquet"))


@pytest.mark.slow
def test_promote_incomplete_staging_no_live_raises(tmp_path):
    """With NO complete live dir, promoting an incomplete staging would
    publish a partial table — hard error, nothing deleted."""
    live = str(tmp_path / "idx")
    staging = live + ".staging"
    _mkdir_with(staging, "part-0.parquet")  # no marker
    with pytest.raises(RuntimeError, match="incomplete staging"):
        promote_staging(staging, live, marker="MARKER")
    assert os.path.exists(staging)
    assert not os.path.exists(live)


@pytest.mark.slow
def test_promote_complete_staging_still_swaps(tmp_path):
    live = str(tmp_path / "idx")
    staging = live + ".staging"
    _mkdir_with(live, "MARKER", "old.parquet")
    _mkdir_with(staging, "MARKER", "new.parquet")
    assert promote_staging(staging, live, marker="MARKER") is True
    assert os.path.exists(os.path.join(live, "new.parquet"))
    assert not os.path.exists(staging)


@pytest.mark.slow
def test_vacuum_collects_dangling_locks_only(tmp_path):
    """.lock sentinels are collected only when old AND their base
    artifact is missing; a lock whose artifact exists stays (read_meta
    on a nonexistent index leaves a lock behind)."""
    root = str(tmp_path)
    live = os.path.join(root, "idx")
    _mkdir_with(live, "meta.json")
    old = time.time() - 100_000
    for name in ("idx.lock", "ghost.lock", "fresh_ghost.lock"):
        p = os.path.join(root, name)
        with open(p, "w"):
            pass
    os.utime(os.path.join(root, "idx.lock"), (old, old))
    os.utime(os.path.join(root, "ghost.lock"), (old, old))
    # fresh_ghost.lock keeps its current mtime (too young to collect)
    removed = vacuum_artifacts(root)
    assert removed == [os.path.join(root, "ghost.lock")]
    assert os.path.exists(os.path.join(root, "idx.lock"))  # artifact alive
    assert os.path.exists(os.path.join(root, "fresh_ghost.lock"))  # young


@pytest.mark.slow
def test_promote_missing_staging_incomplete_live_raises_before_demoting(tmp_path):
    """With marker set, staging MISSING and an incomplete
    live dir, promote must error out WITHOUT demoting the live dir
    (the old fall-through moved live to .old and then crashed on the
    staging rename, stranding the data)."""
    live = str(tmp_path / "idx")
    _mkdir_with(live, "data.parquet")  # no marker
    with pytest.raises(RuntimeError, match="missing"):
        promote_staging(live + ".staging", live, marker="MARKER")
    assert os.path.exists(os.path.join(live, "data.parquet"))
    assert not os.path.exists(live + ".old")


@pytest.mark.slow
def test_dir_swap_lock_reacquires_after_unlink(tmp_path):
    """If the lockfile is unlinked between open() and
    flock() (vacuum collecting a dangling lock), the acquirer must
    detect the orphaned inode and retry on the fresh file — holding a
    lock on an unlinked inode is no lock at all."""
    from beehive_spark.sources.layout import dir_swap_lock

    path = str(tmp_path / "idx")
    lockfile = path + ".lock"
    with dir_swap_lock(path):
        # lock held: the path must resolve to the inode we locked
        assert os.path.exists(lockfile)
    # simulate the race: stale lockfile vanishes, then a new acquire
    # must create a fresh file and still succeed
    os.unlink(lockfile)
    with dir_swap_lock(path):
        assert os.path.exists(lockfile)


@pytest.mark.slow
def test_dir_swap_lock_mutual_exclusion_survives_vacuum_hammer(tmp_path):
    """N workers repeatedly enter the critical
    section while a vacuum thread keeps unlinking the (dangling)
    lockfile; the inode re-check must keep the section exclusive —
    without it two workers holding different inodes overlap."""
    import multiprocessing as mp

    from beehive_spark.sources.layout import dir_swap_lock

    path = str(tmp_path / "idx")  # base artifact never exists
    shared = str(tmp_path / "counter")

    def worker(n_iters: int):
        for _ in range(n_iters):
            with dir_swap_lock(path):
                # read-modify-write a counter file: lost updates reveal
                # any mutual-exclusion break
                try:
                    with open(shared) as f:
                        v = int(f.read())
                except FileNotFoundError:
                    v = 0
                with open(shared, "w") as f:
                    f.write(str(v + 1))

    def vacuum(stop_file: str):
        # mirrors vacuum_artifacts' collection protocol: unlink ONLY
        # while holding a non-blocking exclusive flock on the inode —
        # an unconditional unlink genuinely breaks exclusion (a worker
        # past its re-check can lose the file under it), which is why
        # the production vacuum never does that
        import fcntl

        while not os.path.exists(stop_file):
            try:
                fd = os.open(path + ".lock", os.O_RDWR)
            except FileNotFoundError:
                continue
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                os.close(fd)
                continue
            try:
                os.unlink(path + ".lock")
            except FileNotFoundError:
                pass
            finally:
                os.close(fd)

    stop = str(tmp_path / "stop")
    vac = mp.Process(target=vacuum, args=(stop,))
    vac.start()
    workers = [mp.Process(target=worker, args=(60,)) for _ in range(4)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    with open(stop, "w"):
        pass
    vac.join()
    with open(shared) as f:
        assert int(f.read()) == 4 * 60  # zero lost updates
