"""Fast-tier merge: one keep-uuids publish of the person-users part of
``build_fixture`` (the reference's person-users.js merge), checked
against its output on disk.

The publish reconciles every table against the parquet footers of its
staged output before the rename, so a staged table with a part file
too many or too few must fail the merge and leave the previous
``merged/`` in place.  The job ceiling pins the merge's job count:
each shared intermediate (uuid-fixpoint rounds, premaps, id
assignment, moved rows) is computed once, and a fan-out back to one
job per FK pair or per re-read lineage would exceed it.
"""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

from beehive_spark.operators import ReconciliationError
from beehive_spark.pipeline import MergePipeline
from tests.test_merge_pipeline import build_fixture

TABLES = ("person", "users")
# 80 jobs on a 4-core host; one count job per FK pair and counts that
# replay the uncached lineage took it to 167
JOB_CEILING = 100


def _person_users(spark):
    src, dst = build_fixture(spark)
    return {t: src[t] for t in TABLES}, {t: dst[t] for t in TABLES}


def _cached_rdds(sc) -> set[int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def _footer_rows(table_dir: str) -> int:
    return sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(table_dir, "*.parquet")))


def _snapshot(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    src, dst = _person_users(spark)
    out = str(tmp_path_factory.mktemp("publish"))
    sc = spark.sparkContext
    cached_before = _cached_rdds(sc)
    sc.setJobGroup("merge-pin", "keep-uuids person-users merge")
    try:
        res = MergePipeline(
            spark, generate_new_uuids=False, source_tag="pin"
        ).run(src, dst, out_dir=out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("merge-pin"))
    return out, res, jobs, _cached_rdds(sc) - cached_before


def test_publish_reconciles_against_footers(published):
    out, res, _, _ = published
    assert res.published_to == os.path.join(out, "merged")
    # users 8, 10, 11, 12 move (8's uuid collided, so it is rewritten
    # before the uuid pre-match); their persons and 20, 21 move
    assert res.moved_counts == {"person": 6, "users": 4}
    assert [r.table for r in res.reconciliations] == list(TABLES)
    for r in res.reconciliations:
        assert r.ok
        assert _footer_rows(os.path.join(res.published_to, r.table)) \
            == r.initial + r.moved == r.final


def test_published_uuids_stable_and_unique(published):
    _, res, _, _ = published
    persons = res.merged["person"]
    first = sorted(r["uuid"] for r in persons.select("uuid").collect())
    second = sorted(r["uuid"] for r in persons.select("uuid").collect())
    assert first == second
    assert len(set(first)) == len(first) == 10
    assert "su-p20" in first          # non-colliding source uuid kept


def test_merge_job_ceiling_and_release(published):
    _, _, jobs, still_cached = published
    assert 0 < jobs <= JOB_CEILING
    assert not still_cached           # a publish releases what it persisted


@pytest.mark.parametrize("corruption", ["extra_part", "dropped_part"])
def test_corrupted_publish_is_not_renamed_into_place(
    spark, published, monkeypatch, corruption
):
    out, _, _, _ = published
    merged = os.path.join(out, "merged")
    before = _snapshot(merged)
    stage = MergePipeline._stage

    def corrupt_stage(self, frames, staging):
        stage(self, frames, staging)
        parts = glob.glob(os.path.join(staging, "person", "*.parquet"))
        biggest = max(parts, key=lambda f: pq.read_metadata(f).num_rows)
        if corruption == "extra_part":
            shutil.copy(biggest, biggest.replace("part-", "part-extra-"))
        else:
            os.remove(biggest)

    monkeypatch.setattr(MergePipeline, "_stage", corrupt_stage)
    src, dst = _person_users(spark)
    with pytest.raises(ReconciliationError, match="person"):
        MergePipeline(spark, source_tag="second").run(src, dst, out_dir=out)
    assert _snapshot(merged) == before
    # neither the staging dir nor a backup of merged/ is left behind
    assert sorted(os.listdir(out)) == ["merged"]
