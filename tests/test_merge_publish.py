"""Fast-tier merge: one keep-uuids publish of the person-users part of
``build_fixture`` (the reference's person-users.js merge), checked
against its output on disk.

The publish reconciles every table against the parquet footers of its
staged output before the rename, so a staged table with a part file
too many or too few must fail the merge and leave the previous
``merged/`` in place.  The moved rows are counted by the staging write
itself, also when a table moves none.  The job ceiling pins the
merge's job count: each shared intermediate (uuid-fixpoint rounds,
premaps, id assignment) is computed once, and a fan-out back to one
job per FK pair or per re-read lineage would exceed it.  Every job of
the merge, the concurrent staging writes included, runs under the
caller's job group.

With parquet inputs, the dst counts and id bases come from the
footers: no ``max`` job for an id base and no count job after the
mappings.

A ``map_dir`` re-run must resume every id map it wrote, on each
mapping route (premapped move, business-key consolidation with a
business premap, consolidation with no dst side), without assigning
an id.

A repeat merge in the same session must reuse the generated code the
first one compiled: the session's codegen cache holds a merge's
working set.
"""

import glob
import inspect
import os
import shutil

import pyarrow.parquet as pq
import pytest

import beehive_spark.pipeline.merge as mergemod
from beehive_spark.operators import ReconciliationError, checks
from beehive_spark.pipeline import MergePipeline
from beehive_spark.pipeline.specs import SPEC_BY_NAME
from beehive_spark.session import codegen_counts
from tests.test_merge_pipeline import build_fixture

TABLES = ("person", "users")
# 68 jobs on a 4-core host; one count job per FK pair and counts that
# replay the uncached lineage took it to 167
JOB_CEILING = 100
# Janino compiles in a repeat merge: a handful with the code cache sized
# to the working set, ~190 when the cache is smaller than one merge
COMPILE_CEILING = 16


def _person_users(spark):
    src, dst = build_fixture(spark)
    return {t: src[t] for t in TABLES}, {t: dst[t] for t in TABLES}


def _cached_rdds(sc) -> set[int]:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def _jobs_since(sc, mark: int) -> list[tuple[int, str | None, str]]:
    """(job id, job group, call site) of every job after job ``mark``,
    read from the status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > mark:
            grp = j.jobGroup()
            out.append((j.jobId(), grp.get() if grp.isDefined() else None,
                        j.name()))
    return sorted(out)


def _last_job(sc) -> int:
    return max((j for j, _, _ in _jobs_since(sc, -1)), default=-1)


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
    mark = _last_job(sc)
    sc.setJobGroup("merge-pin", "keep-uuids person-users merge")
    try:
        res = MergePipeline(
            spark, generate_new_uuids=False, source_tag="pin"
        ).run(src, dst, out_dir=out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, res, _jobs_since(sc, mark), _cached_rdds(sc) - cached_before


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
    assert 0 < len(jobs) <= JOB_CEILING
    # the staging threads keep the caller's job group
    assert {grp for _, grp, _ in jobs} == {"merge-pin"}
    assert not still_cached           # a publish releases what it persisted


def test_parquet_inputs_count_from_footers(spark, tmp_path, monkeypatch):
    frames = {}
    for side, tables in zip(("src", "dst"), _person_users(spark)):
        frames[side] = {}
        for t, df in tables.items():
            path = str(tmp_path / side / t)
            df.write.parquet(path)
            frames[side][t] = spark.read.parquet(path)
    sc = spark.sparkContext
    after_mappings = []
    build = MergePipeline.build_mappings

    def marked(self, *args, **kwargs):
        out = build(self, *args, **kwargs)
        after_mappings.append(_last_job(sc))
        return out

    monkeypatch.setattr(MergePipeline, "build_mappings", marked)
    mark = _last_job(sc)
    sc.setJobGroup("footer-pin", "person-users merge of parquet inputs")
    try:
        res = MergePipeline(spark, generate_new_uuids=False, source_tag="pq").run(
            frames["src"], frames["dst"], out_dir=str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.moved_counts == {"person": 6, "users": 4}
    assert all(r.ok for r in res.reconciliations)
    jobs = _jobs_since(sc, mark)
    assert {grp for _, grp, _ in jobs} == {"footer-pin"}
    first_sites = [site for _, _, site in jobs
                   if site.startswith("first at") and "ids.py" in site]
    assert not first_sites
    lines, start = inspect.getsourcelines(checks.labelled_counts)
    counts_sites = {f"checks.py:{n}" for n in range(start, start + len(lines))}
    late_counts = [site for j, _, site in jobs if j > after_mappings[0]
                   and any(site.endswith(c) for c in counts_sites)]
    assert not late_counts


def test_publish_of_a_table_that_moves_nothing(spark, tmp_path):
    src, dst = _person_users(spark)
    # only the admin and daemon users, which map onto dst's admin; the
    # persons they created move
    src["users"] = src["users"].filter("system_id in ('admin', 'daemon')")
    src["person"] = src["person"].filter("creator = 5")
    res = MergePipeline(spark, source_tag="none").run(
        src, dst, out_dir=str(tmp_path))
    assert res.moved_counts == {"person": 3, "users": 0}
    users = {r.table: r for r in res.reconciliations}["users"]
    assert users.ok and users.moved == 0 and users.final == users.initial


def test_repeat_merge_reuses_generated_code(spark, tmp_path):
    src, dst = _person_users(spark)
    counts = []
    for run in ("first", "second"):
        before, _ = codegen_counts(spark)
        MergePipeline(spark, generate_new_uuids=False, source_tag=run).run(
            src, dst, out_dir=str(tmp_path / run))
        counts.append(codegen_counts(spark)[0] - before)
    assert counts[1] <= COMPILE_CEILING, counts


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
    # neither the staging dir nor a backup of merged/ is left behind;
    # merged.lock is the swap lock the first publish took
    assert sorted(os.listdir(out)) == ["merged", "merged.lock"]


RESUME_TABLES = ("person", "users", "location", "program", "program_workflow",
                 "visit_type")


def _pairs(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_map_dir_resume_reproduces_mappings(spark, tmp_path, monkeypatch):
    src, dst = build_fixture(spark)
    src = {t: src[t] for t in RESUME_TABLES}
    # visit_type is consolidated with nothing to match on the dst side
    dst = {t: dst[t] for t in RESUME_TABLES if t != "visit_type"}
    map_dir = str(tmp_path / "maps")

    def build():
        pipe = MergePipeline(spark, source_tag="resume")
        try:
            mappings, to_insert = pipe.build_mappings(src, dst, map_dir=map_dir)
            return (
                {t: _pairs(m, "src_id", "dest_id") for t, m in mappings.items()},
                {t: _pairs(r, SPEC_BY_NAME[t].pk, "dest_id")
                 for t, r in to_insert.items()},
            )
        finally:
            pipe._release()

    first = build()
    assert set(first[0]) == set(RESUME_TABLES)
    assert first[0]["visit_type"] == [(1, 1), (2, 2)]
    # workflow 1 matches on (mapped program_id, concept_id); 2 is new
    saved = spark.read.parquet(os.path.join(map_dir, "program_workflow"))
    assert _pairs(saved, "src_id", "dest_id", "is_new") == [
        (1, 1, False), (2, 2, True)]

    def boom(*a, **k):
        raise AssertionError("id assignment re-ran during resume")

    for name in ("assign_ids", "consolidate", "next_id_base"):
        monkeypatch.setattr(mergemod, name, boom)
    assert build() == first
