"""Unit tests for the primitive merge operators (SURVEY.md §2)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from beehive_spark.operators import (
    assign_ids,
    consolidate,
    disjunctive_match,
    next_id_base,
    orphan_check,
    reconcile,
    remap_fks,
    uuid_collisions,
    ReconciliationError,
)
from beehive_spark.operators.checks import (
    footer_count,
    footer_maxima,
    parquet_parts,
    regenerate_uuids,
    run_orphan_checks,
    uuid_fixpoint,
)
from beehive_spark.operators.ids import mapping_of


def test_assign_ids_contiguous(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], ["id"])
    out = assign_ids(df, "id", base=100).orderBy("id").collect()
    assert [(r["id"], r["dest_id"]) for r in out] == [(10, 100), (20, 101), (30, 102)]


def test_assign_ids_scalable_contiguous_and_unique(spark):
    df = spark.range(0, 1000).repartition(7).withColumnRenamed("id", "pk")
    out = assign_ids(df, "pk", base=50, mode="scalable")
    ids = [r["dest_id"] for r in out.select("dest_id").collect()]
    assert sorted(ids) == list(range(50, 1050))


def test_assign_ids_hash_deterministic(spark):
    df = spark.createDataFrame([(1,), (2,)], ["pk"])
    a = {r["pk"]: r["dest_id"] for r in assign_ids(df, "pk", mode="hash", source_tag="s").collect()}
    b = {r["pk"]: r["dest_id"] for r in assign_ids(df, "pk", mode="hash", source_tag="s").collect()}
    assert a == b and len(set(a.values())) == 2


def test_next_id_base(spark):
    df = spark.createDataFrame([(5,), (9,)], ["pk"])
    assert next_id_base(df, "pk") == 10
    empty = df.filter(F.lit(False))
    assert next_id_base(empty, "pk") == 1


def _parquet(spark, tmp_path, pks, **write):
    """A one-file parquet table of ``pks`` (plus a payload column), read back."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"pk": pa.array(pks, pa.int64()),
                             "x": [str(p) for p in pks]}), path, **write)
    return spark.read.parquet(path)


def _job_max(df) -> int:
    m = df.agg(F.max("pk")).first()[0]
    return int(m) + 1 if m is not None else 1


def test_footers_answer_a_multi_row_group_scan(spark, tmp_path):
    df = _parquet(spark, tmp_path, [7, 3, None, 41, 12, 9, 40], row_group_size=2)
    assert len(parquet_parts(df)) == 1
    assert len(footer_maxima(df, "pk")) == 4           # one max per row group
    assert next_id_base(df, "pk") == _job_max(df) == 42
    assert footer_count(df) == df.count() == 7
    assert footer_maxima(df, "x") is None               # not an integer column
    assert footer_maxima(df, "missing") is None


def test_footers_without_statistics_fall_back(spark, tmp_path):
    df = _parquet(spark, tmp_path, [5, 17, 2], row_group_size=2,
                  write_statistics=False)
    assert footer_maxima(df, "pk") is None
    assert next_id_base(df, "pk") == _job_max(df) == 18
    assert footer_count(df) == df.count() == 3


def test_footers_do_not_answer_a_derived_frame(spark, tmp_path):
    df = _parquet(spark, tmp_path, [5, 17, 2]).filter("pk < 10")
    assert parquet_parts(df) is None
    assert footer_count(df) is None and footer_maxima(df, "pk") is None
    assert next_id_base(df, "pk") == _job_max(df) == 6
    assert parquet_parts(spark.createDataFrame([(1,)], "pk long")) is None


def test_footers_of_an_all_null_pk(spark, tmp_path):
    df = _parquet(spark, tmp_path, [None, None, None], row_group_size=2)
    assert footer_maxima(df, "pk") == []
    assert next_id_base(df, "pk") == _job_max(df) == 1
    assert footer_count(df) == df.count() == 3


def test_footers_of_an_empty_file(spark, tmp_path):
    df = _parquet(spark, tmp_path, [])
    assert next_id_base(df, "pk") == _job_max(df) == 1
    assert footer_count(df) == df.count() == 0


def test_remap_fks_null_and_drop(spark):
    rows = spark.createDataFrame([(1, 10), (2, 20), (3, None), (4, 99)], ["pk", "fk"])
    m = spark.createDataFrame([(10, 110), (20, 120)], ["src_id", "dest_id"])
    out = {r["pk"]: r["fk"] for r in remap_fks(rows, {"fk": m}).collect()}
    assert out == {1: 110, 2: 120, 3: None, 4: None}
    dropped = remap_fks(rows, {"fk": m}, on_missing="drop")
    assert sorted(r["pk"] for r in dropped.collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="on_missing"):
        remap_fks(rows, {"fk": m}, on_missing="keep")


def test_consolidate_split(spark):
    src = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["src_pk", "name"]
    )
    dst = spark.createDataFrame([(7, "beta"), (8, "delta")], ["dst_pk", "name"])
    res = consolidate(src, dst, "src_pk", "dst_pk", ["name"], next_id_base=9)
    mapping = {r["src_id"]: r["dest_id"] for r in res.mapping.collect()}
    assert mapping == {2: 7, 1: 9, 3: 10}
    inserted = sorted(r["name"] for r in res.to_insert.collect())
    assert inserted == ["alpha", "gamma"]


def test_consolidate_null_safe_keys(spark):
    src = spark.createDataFrame([(1, None), (2, "x")], "src_pk int, name string")
    dst = spark.createDataFrame([(5, None)], "dst_pk int, name string")
    res = consolidate(src, dst, "src_pk", "dst_pk", ["name"], next_id_base=6)
    mapping = {r["src_id"]: r["dest_id"] for r in res.mapping.collect()}
    assert mapping == {1: 5, 2: 6}


def test_consolidate_with_fk_premap(spark):
    # program_workflow-style: business key = (mapped program_id, concept_id)
    src = spark.createDataFrame([(1, 100, 7), (2, 200, 8)], ["src_pk", "prog", "concept"])
    dst = spark.createDataFrame([(50, 900, 7)], ["dst_pk", "prog", "concept"])
    prog_map = spark.createDataFrame([(100, 900)], ["src_id", "dest_id"])
    res = consolidate(
        remap_fks(src, {"prog": prog_map}), dst, "src_pk", "dst_pk",
        ["prog", "concept"], next_id_base=51,
    )
    mapping = {r["src_id"]: r["dest_id"] for r in res.mapping.collect()}
    assert mapping[1] == 50 and mapping[2] == 51


def test_disjunctive_match(spark):
    # users match on (system_id AND username) OR uuid (preparation.js:140-157)
    src = spark.createDataFrame(
        [(1, "s1", "u1", "AAA"), (2, "s2", "u2", "BBB"), (3, "sX", "uX", "CCC")],
        ["pk", "system_id", "username", "uuid"],
    )
    dst = spark.createDataFrame(
        [(11, "s1", "u1", "ZZZ"), (12, "s9", "u9", "BBB"), (13, "s1", "u1", "CCC")],
        ["pk", "system_id", "username", "uuid"],
    )
    got = {r["src_id"]: r["dest_id"] for r in disjunctive_match(
        src, dst, "pk", "pk", [["system_id", "username"], ["uuid"]]
    ).collect()}
    # src 1 matches group0 rows 11 and 13 -> min dest 11; src 2 via uuid; src 3 via uuid
    assert got == {1: 11, 2: 12, 3: 13}


def test_orphan_check(spark):
    child = spark.createDataFrame([(1, 10), (2, 99), (3, None), (4, 0)], ["pk", "fk"])
    parent = spark.createDataFrame([(10,), (20,)], ["ref"])
    bad = orphan_check(child, parent, "fk", "ref")
    assert [r["pk"] for r in bad.collect()] == [2]


def test_run_orphan_checks_equals_per_pair_counts(spark):
    parent = spark.createDataFrame([(10,), (20,)], ["ref"])
    pairs = {
        "two": (spark.createDataFrame([(1, 10), (2, 99), (3, 98)], ["pk", "fk"]),
                parent, "fk", "ref"),
        "one": (spark.createDataFrame([(1, 97), (2, 20), (3, None)], ["pk", "fk"]),
                parent, "fk", "ref"),
        "clean": (spark.createDataFrame([(1, 10), (2, None), (3, 0)], ["pk", "fk"]),
                  parent, "fk", "ref"),
    }
    per_pair = {label: orphan_check(*p).count() for label, p in pairs.items()}
    got = run_orphan_checks(pairs)
    assert got == {label: n for label, n in per_pair.items() if n}
    assert got == {"two": 2, "one": 1}
    assert run_orphan_checks({}) == {}


def test_uuid_collision_and_fixpoint(spark):
    src = spark.createDataFrame([(1, "u-a"), (2, "u-b")], ["pk", "uuid"])
    dst = spark.createDataFrame([(9, "u-b")], ["pk", "uuid"])
    coll = uuid_collisions(src, dst)
    assert [r["pk"] for r in coll.collect()] == [2]
    clean = spark.createDataFrame([(5, "u-c")], ["pk", "uuid"])

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    fixed = uuid_fixpoint({"hit": (src, dst, "pk"), "clean": (clean, dst, "pk")})
    assert set(fixed) == {"hit", "clean"}
    assert uuid_collisions(fixed["hit"], dst).isEmpty()
    kept = {r["pk"]: r["uuid"] for r in fixed["hit"].collect()}
    assert kept[1] == "u-a" and kept[2] != "u-b"
    # a table with no collisions gets its own frame back
    assert fixed["clean"] is clean
    assert uuid_fixpoint({}) == {}
    # only the colliding table's rewrite stays persisted, for its caller;
    # compared by RDD id, since the context cleaner may unpersist frames
    # that earlier tests dropped while this one runs
    assert len(persisted() - before) == 1
    fixed["hit"].unpersist()
    assert not persisted() - before


def test_regenerate_uuids_only_touches_collisions(spark):
    src = spark.createDataFrame([(1, "u-a"), (2, "u-b")], ["pk", "uuid"])
    coll = spark.createDataFrame([(2,)], ["pk"])
    out = {r["pk"]: r["uuid"] for r in regenerate_uuids(src, coll, "pk").collect()}
    assert out[1] == "u-a" and out[2] != "u-b"


def test_reconcile(spark):
    assert reconcile("t", 10, 5, 15).ok
    with pytest.raises(ReconciliationError):
        reconcile("t", 10, 5, 14)


def test_mapping_of(spark):
    df = spark.createDataFrame([(1, 10), (2, 11)], ["pk", "dest_id"])
    m = mapping_of(df, "pk")
    assert set(m.columns) == {"src_id", "dest_id"}


def test_consolidate_self_join_same_source(spark, sf_dir):
    # src and dst derived from the SAME DataFrame (the common case when
    # both "instances" are read through one session) must not trip
    # Spark's ambiguous-self-join analysis.
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src = nation.filter(F.col("n_nationkey") < 15)
    dst = nation.filter(F.col("n_nationkey") >= 10)
    res = consolidate(src, dst, "n_nationkey", "n_nationkey", ["n_name"], next_id_base=25)
    m = {r["src_id"]: r["dest_id"] for r in res.mapping.collect()}
    assert all(m[k] == k for k in range(10, 15))
    assert sorted(m[k] for k in range(10)) == list(range(25, 35))


def test_assign_ids_all_scalable_paths_equal_contiguous(spark):
    """The three physical strategies (global window, literal-bounds
    buckets, range-repartition) must produce IDENTICAL ids."""
    import random

    rng = random.Random(7)
    keys = rng.sample(range(100000), 500)
    df = spark.createDataFrame([(k,) for k in keys], "pk long")
    want = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(df, "pk", base=10, mode="contiguous").collect()
    }
    # size-aware dispatch on a small input: global window, same ids
    got_auto = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(df, "pk", base=10, mode="scalable").collect()
    }
    # forced distributed single-numeric path (literal bounds)
    got_bounds = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(
            df, "pk", base=10, mode="scalable", small_threshold=0
        ).collect()
    }
    # forced distributed composite-key path (range repartition)
    df2 = df.withColumn("tag", (df.pk % 3).cast("string"))
    got_range = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(
            df2, "pk", order_cols=["tag", "pk"], base=10,
            mode="scalable", small_threshold=0,
        ).collect()
    }
    want_range = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(
            df2, "pk", order_cols=["tag", "pk"], base=10, mode="contiguous"
        ).collect()
    }
    # one shuffle partition: a single bucket on both distributed paths
    got_bounds1 = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(
            df, "pk", base=10, mode="scalable", small_threshold=0,
            num_partitions=1,
        ).collect()
    }
    got_range1 = {
        r["pk"]: r["dest_id"]
        for r in assign_ids(
            df2, "pk", order_cols=["tag", "pk"], base=10,
            mode="scalable", small_threshold=0, num_partitions=1,
        ).collect()
    }
    assert got_auto == want
    assert got_bounds == want
    assert got_range == want_range
    assert got_bounds1 == want
    assert got_range1 == want_range


@pytest.mark.parametrize("order_cols", [["pk"], ["tag", "pk"]])
def test_assign_ids_distributed_paths_take_an_empty_input(spark, order_cols):
    empty = spark.createDataFrame([], "pk long, tag string")
    out = assign_ids(empty, "pk", order_cols=order_cols, base=10,
                     mode="scalable", small_threshold=0)
    assert out.collect() == []
