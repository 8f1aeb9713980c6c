"""Persistent ANN index lifecycle (`operators.ann_index`): build once,
probe many, append increments — plus the equivalence guarantee that the
persisted path computes exactly what the in-query path computes."""

import json
import os

import pytest

pytestmark = pytest.mark.slow  # index lifecycle e2e (ANN math covered fast by test_ann_recall/test_semantic_pq)
from pyspark.sql import functions as F

from beehive_spark.operators.ann_index import (
    META_NAME,
    append_ivf_index,
    build_ivf_index,
    build_pq_index,
    probe_ivf_index,
    probe_pq_index,
    read_meta,
)
from beehive_spark.queries import load


def _corpus(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10)


def _queries(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return e.select("vec_id", "embedding").filter(F.col("vec_id") < 10)


@pytest.fixture(scope="module")
def ivf_index(spark, sf_dir, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("ann") / "ivf")
    meta = build_ivf_index(spark, _corpus(spark, sf_dir), idx, k=16, replicas=3)
    return idx, meta


def test_build_persists_codebook_lists_and_meta(spark, sf_dir, ivf_index):
    idx, meta = ivf_index
    n = _corpus(spark, sf_dir).count()
    assert meta["n_vectors"] == n and meta["kind"] == "ivf"
    assert read_meta(idx) == meta
    cb = spark.read.parquet(os.path.join(idx, "codebook.parquet"))
    assert cb.count() == meta["k"]
    lists = spark.read.parquet(os.path.join(idx, "assignments.parquet"))
    # multi-assignment: replicas entries per vector
    assert lists.count() == n * meta["replicas"]
    # hive-partitioned by list id
    parts = [d for d in os.listdir(os.path.join(idx, "assignments.parquet"))
             if d.startswith("centroid_id=")]
    assert len(parts) == meta["k"]
    # no swap artifacts left behind
    assert not os.path.exists(idx + ".staging")
    assert not os.path.exists(idx + ".old")


def test_probe_matches_in_query_ivf_exactly(spark, sf_dir, ivf_index):
    """Same trainer, same hyper-parameters => the persisted-index probe
    must return row-identical results to the self-contained
    similarity_ann_ivf query (shared implementation, different
    lifecycle).  This transfers the measured recall (0.96 @ sf0.1,
    scripts/measure_ivf_recall.py) to the index path for free."""
    from beehive_spark.queries.llm import similarity_ann_ivf

    idx, _ = ivf_index
    got = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=6, k=5
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in similarity_ann_ivf(
            spark, sf_dir, nprobe=6, k=16, replicas=3
        ).collect()
    )
    assert got == want and len(got) > 0


def test_probe_prunes_to_probed_list_partitions(spark, sf_dir, ivf_index):
    """The probe plan must show dynamic pruning/filter on centroid_id
    rather than a full assignments scan — nprobe/k bytes read is the
    entire point of a persisted IVF layout."""
    idx, meta = ivf_index
    df = probe_ivf_index(spark, idx, _queries(spark, sf_dir), nprobe=2, k=5)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition column reaches the scan as a join-key filter: the scan
    # node must carry centroid_id as a partition filter (static or
    # dynamic/runtime) — a bare full scan would show none
    scan = next(
        ln for ln in plan.splitlines()
        if "assignments.parquet" in ln and "Scan" in ln
    )
    assert "PartitionFilters: [" in scan
    assert "dynamicpruning" in scan or "centroid_id" in scan.split(
        "PartitionFilters"
    )[1]


def test_append_extends_index_without_retraining(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "ivf")
    corpus = _corpus(spark, sf_dir)
    # build on a PREFIX of the corpus, append the rest
    cutoff = corpus.agg(F.expr("percentile(vec_id, 0.7)").alias("c")).first()["c"]
    head = corpus.filter(F.col("vec_id") <= cutoff)
    tail = corpus.filter(F.col("vec_id") > cutoff)
    build_ivf_index(spark, head, idx, k=8, replicas=2)
    cb_before = spark.read.parquet(os.path.join(idx, "codebook.parquet")).collect()
    meta = append_ivf_index(spark, idx, tail)
    assert meta["n_vectors"] == corpus.count()
    # codebook frozen by contract
    cb_after = spark.read.parquet(os.path.join(idx, "codebook.parquet")).collect()
    assert sorted(map(tuple, cb_before)) == sorted(map(tuple, cb_after))
    # every appended vector is findable: probe FOR an appended vector's
    # own embedding must return it as its top neighbor (cosine 1.0)
    probe_vec = tail.orderBy(F.col("vec_id").desc()).limit(1)
    got = probe_ivf_index(spark, idx, probe_vec, nprobe=2, k=1).collect()
    assert len(got) == 1
    assert got[0]["neighbor_id"] == probe_vec.first()["vec_id"]
    assert got[0]["cosine"] == 1.0


def test_build_swap_is_atomic_over_existing_index(spark, sf_dir, tmp_path):
    """Rebuilding over a live index must leave either the old or the
    new artifact — and a rebuild with different k really replaces it."""
    idx = str(tmp_path / "ivf")
    corpus = _corpus(spark, sf_dir)
    build_ivf_index(spark, corpus, idx, k=4, replicas=1)
    assert read_meta(idx)["k"] == 4
    build_ivf_index(spark, corpus, idx, k=8, replicas=1)
    assert read_meta(idx)["k"] == 8
    assert spark.read.parquet(os.path.join(idx, "codebook.parquet")).count() == 8
    assert not os.path.exists(idx + ".old")


def test_pq_index_build_probe_matches_in_query(spark, sf_dir, tmp_path):
    """The persisted PQ path must be row-identical to the from-scratch
    inline evaluation — the independence pin behind the registered
    similarity_ann_pq riding the artifact (r8); the inline twin is
    kept UNREGISTERED in queries.llm exactly for this comparison."""
    from beehive_spark.queries.llm import _similarity_pq_inline, similarity_ann_pq

    idx = str(tmp_path / "pq")
    meta = build_pq_index(spark, _corpus(spark, sf_dir), idx, m=8, ksub=32)
    assert meta["kind"] == "pq" and meta["m"] == 8
    # codes are m small ints per vector
    enc = spark.read.parquet(os.path.join(idx, "codes.parquet"))
    row = enc.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 32 for c in row["codes"])
    got = sorted(
        tuple(r)
        for r in probe_pq_index(
            spark, idx, _queries(spark, sf_dir), refine=96, k=5
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in _similarity_pq_inline(
            spark, sf_dir, m=8, ksub=32, refine=96, k=5
        ).collect()
    )
    assert got == want and len(got) > 0
    # the registered query (artifact-riding) agrees with both
    reg = sorted(
        tuple(r)
        for r in similarity_ann_pq(
            spark, sf_dir, m=8, ksub=32, refine=96, k=5
        ).collect()
    )
    assert reg == want


def test_registered_build_and_probe_queries(spark, sf_dir):
    """The registry entries wire the lifecycle: build emits a per-list
    manifest, probe answers from the artifact."""
    from beehive_spark.queries import all_queries

    qs = all_queries()
    manifest = qs["ann_index_build"](spark, sf_dir).collect()
    n = _corpus(spark, sf_dir).count()
    assert sum(r["n_vectors"] for r in manifest) == n * 3  # replicas=3
    assert len(manifest) == 16
    res = qs["ann_index_probe"](spark, sf_dir).collect()
    assert len(res) == _queries(spark, sf_dir).count() * 5
    # idempotent rebuild leaves a loadable meta
    idx_meta = json.load(
        open(
            os.path.join(
                __import__("beehive_spark.queries.llm", fromlist=["x"])._ann_index_dir(
                    sf_dir, "ivf"
                ),
                META_NAME,
            )
        )
    )
    assert idx_meta["kind"] == "ivf"


def test_pq_append_extends_codes_under_frozen_books(spark, sf_dir, tmp_path):
    from beehive_spark.operators.ann_index import append_pq_index, probe_pq_index

    idx = str(tmp_path / "pq")
    corpus = _corpus(spark, sf_dir)
    cutoff = corpus.agg(F.expr("percentile(vec_id, 0.7)").alias("c")).first()["c"]
    head = corpus.filter(F.col("vec_id") <= cutoff)
    tail = corpus.filter(F.col("vec_id") > cutoff)
    build_pq_index(spark, head, idx, m=8, ksub=16)
    books_before = spark.read.parquet(os.path.join(idx, "books.parquet")).collect()
    meta = append_pq_index(spark, idx, tail)
    assert meta["n_vectors"] == corpus.count()
    books_after = spark.read.parquet(os.path.join(idx, "books.parquet")).collect()
    assert [tuple(map(tuple, r["cb"])) for r in books_before] == [
        tuple(map(tuple, r["cb"])) for r in books_after
    ]
    enc = spark.read.parquet(os.path.join(idx, "codes.parquet"))
    assert enc.count() == corpus.count()
    # an appended vector probes to itself at cosine 1.0
    probe_vec = tail.orderBy(F.col("vec_id").desc()).limit(1)
    got = probe_pq_index(spark, idx, probe_vec, refine=32, k=1).collect()
    assert got[0]["neighbor_id"] == probe_vec.first()["vec_id"]
    assert got[0]["cosine"] == 1.0


def test_streaming_append_keeps_index_fresh_and_replays_noop(
    spark, sf_dir, tmp_path
):
    """Streaming ANN maintenance: micro-batches of new vectors fold
    into the persisted index (frozen codebook), the final index answers
    probes for streamed vectors, and a full replay from a fresh
    checkpoint is a no-op (batch-id guard)."""
    from beehive_spark.streaming.ann_stream import run_ann_index_append_stream

    corpus = _corpus(spark, sf_dir)
    cutoff = corpus.agg(F.expr("percentile(vec_id, 0.6)").alias("c")).first()["c"]
    head = corpus.filter(F.col("vec_id") <= cutoff)
    tail = corpus.filter(F.col("vec_id") > cutoff)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, head, idx, k=8, replicas=2)

    # stream the tail in two micro-batch files
    feed = tmp_path / "feed"
    feed.mkdir()
    mid = tail.agg(F.expr("percentile(vec_id, 0.5)").alias("m")).first()["m"]
    tail.filter(F.col("vec_id") <= mid).coalesce(1).write.parquet(
        str(feed / "f1.parquet")
    )
    tail.filter(F.col("vec_id") > mid).coalesce(1).write.parquet(
        str(feed / "f2.parquet")
    )
    schema = tail.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed) + "/*/")
    )
    run_ann_index_append_stream(spark, stream, idx, str(tmp_path / "ck"))
    meta = read_meta(idx)
    assert meta["n_vectors"] == corpus.count()
    assert meta["last_stream_batch"] == 1  # two micro-batches applied

    # streamed vectors are findable at cosine 1.0
    probe_vec = tail.orderBy(F.col("vec_id").desc()).limit(1)
    got = probe_ivf_index(spark, idx, probe_vec, nprobe=2, k=1).collect()
    assert got[0]["neighbor_id"] == probe_vec.first()["vec_id"]
    assert got[0]["cosine"] == 1.0

    # restart under the SAME checkpoint: the source has no new files
    # and any re-delivered batch id is <= the recorded watermark, so
    # nothing is re-appended
    lists_before = spark.read.parquet(
        os.path.join(idx, "assignments.parquet")
    ).count()
    stream2 = spark.readStream.schema(schema).parquet(str(feed) + "/*/")
    run_ann_index_append_stream(spark, stream2, idx, str(tmp_path / "ck"))
    lists_after = spark.read.parquet(
        os.path.join(idx, "assignments.parquet")
    ).count()
    assert lists_after == lists_before
    assert read_meta(idx)["n_vectors"] == corpus.count()

    # a FRESH checkpoint is a new lineage: its batch ids restart at 0,
    # so the watermark must NOT suppress them (they could be genuinely
    # new vectors — the silent-loss bug the lineage scoping fixes).
    # Re-reading the same feed re-appends at-least-once; probe results
    # stay exact because per-(query, vector) dedupe absorbs duplicate
    # list entries.
    stream3 = spark.readStream.schema(schema).parquet(str(feed) + "/*/")
    run_ann_index_append_stream(spark, stream3, idx, str(tmp_path / "ck2"))
    lists_replayed = spark.read.parquet(
        os.path.join(idx, "assignments.parquet")
    ).count()
    assert lists_replayed > lists_after  # applied, not skipped
    meta2 = read_meta(idx)
    # fresh lineage restarted ids at 0 (all files in one availableNow
    # batch) — the watermark was reset, not inherited from lineage 1
    assert meta2["last_stream_batch"] == 0
    assert len(meta2["stream_lineage"]) == 32  # uuid marker, not a path
    got2 = probe_ivf_index(spark, idx, probe_vec, nprobe=2, k=1).collect()
    assert got2[0]["neighbor_id"] == probe_vec.first()["vec_id"]
    assert got2[0]["cosine"] == 1.0

    # the hardest case: checkpoint WIPED and recreated at the SAME
    # path.  Batch ids restart at 0 again, and a path-keyed lineage
    # would wrongly inherit the old watermark and silently skip them;
    # the in-checkpoint uuid marker dies with the directory, so the
    # watermark resets and the batch applies (review finding)
    import shutil

    shutil.rmtree(str(tmp_path / "ck2"))
    stream4 = spark.readStream.schema(schema).parquet(str(feed) + "/*/")
    run_ann_index_append_stream(spark, stream4, idx, str(tmp_path / "ck2"))
    lists_rewiped = spark.read.parquet(
        os.path.join(idx, "assignments.parquet")
    ).count()
    assert lists_rewiped > lists_replayed  # applied, not skipped
    meta3 = read_meta(idx)
    assert meta3["stream_lineage"] != meta2["stream_lineage"]


def test_interrupted_swap_rolls_forward(spark, sf_dir, tmp_path):
    """A crash in `promote_staging`'s window (live dir demoted to .old,
    .staging not yet promoted) must not strand the index: the next reader
    promotes the complete staging copy (roll-forward) — and with only
    a backup present, restores it."""
    import shutil

    from beehive_spark.operators.ann_index import read_meta

    corpus = _corpus(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, corpus, idx, k=8, replicas=2)
    want = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=3, k=5
        ).collect()
    )

    # crash state A: new index complete in .staging, live dir already
    # demoted -> reader must promote staging
    os.replace(idx, idx + ".staging")
    meta = read_meta(idx)
    assert meta["kind"] == "ivf"
    assert not os.path.exists(idx + ".staging")
    got = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=3, k=5
        ).collect()
    )
    assert got == want

    # crash state B: only the .old backup exists (crash before the new
    # staging finished its meta) -> reader restores the backup; an
    # incomplete staging (no meta yet) must NOT be promoted
    os.replace(idx, idx + ".old")
    os.makedirs(idx + ".staging")  # mid-build: meta not written yet
    meta = read_meta(idx)
    assert meta["kind"] == "ivf"
    shutil.rmtree(idx + ".staging", ignore_errors=True)
    got = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=3, k=5
        ).collect()
    )
    assert got == want


def test_probe_results_absorb_duplicate_list_entries(spark, sf_dir, tmp_path):
    """The at-least-once append contract: even if a crash-replay
    duplicated list entries, probe results are unchanged — the
    per-(query, vector) dedupe absorbs them."""
    from beehive_spark.operators.ann_index import append_ivf_index

    corpus = _corpus(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, corpus, idx, k=8, replicas=2)
    before = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=3, k=5
        ).collect()
    )
    # simulate the crash-replay: append a slice of the corpus AGAIN
    dup = corpus.orderBy("vec_id").limit(50)
    append_ivf_index(spark, idx, dup)
    after = sorted(
        tuple(r)
        for r in probe_ivf_index(
            spark, idx, _queries(spark, sf_dir), nprobe=3, k=5
        ).collect()
    )
    assert after == before


def test_swap_and_recover_serialize_under_concurrency(tmp_path):
    """Hammer promote_staging against concurrent recover_swap callers (the
    review race: a reader promoting .staging mid-swap stranded the writer, and
    two interleaved recoveries could delete the artifact).  Pure
    filesystem — no Spark.  Invariants: no call raises, and after every
    swap the live index exists with monotonically advancing content."""
    import json
    import threading

    from beehive_spark.operators.ann_index import META_NAME
    from beehive_spark.sources.layout import promote_staging, recover_swap

    path = str(tmp_path / "idx")

    def make_staging(version: int) -> str:
        staging = path + ".staging"
        os.makedirs(staging)
        with open(os.path.join(staging, META_NAME), "w") as fh:
            json.dump({"version": version}, fh)
        return staging

    errors = []
    stop = threading.Event()

    def recover_loop():
        while not stop.is_set():
            try:
                recover_swap(path, META_NAME)
            except Exception as exc:  # pragma: no cover - the failure under test
                errors.append(exc)
                return

    threads = [threading.Thread(target=recover_loop) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        for version in range(30):
            staging = make_staging(version)
            promote_staging(staging, path, marker=META_NAME)
            with open(os.path.join(path, META_NAME)) as fh:
                assert json.load(fh)["version"] == version
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errors, errors
    assert json.load(open(os.path.join(path, META_NAME)))["version"] == 29


# -- delete + compaction (r5: the delete leg of the lifecycle) ----------


def test_delete_masks_ids_and_compaction_folds_them(spark, sf_dir, tmp_path):
    from beehive_spark.operators.ann_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf_del")
    build_ivf_index(spark, _corpus(spark, sf_dir), idx, k=8, replicas=2)
    q = _queries(spark, sf_dir)
    before = probe_ivf_index(spark, idx, q, nprobe=4, k=5).collect()
    victims = sorted({r["neighbor_id"] for r in before})[:3]
    vdf = spark.createDataFrame([(int(v),) for v in victims], "vec_id long")

    meta = delete_from_ivf_index(spark, idx, vdf)
    assert meta["n_deleted"] == len(victims)
    masked = probe_ivf_index(spark, idx, q, nprobe=4, k=5).collect()
    assert not {r["neighbor_id"] for r in masked} & set(victims)
    # still k results per query: candidates refill from the lists
    per_q = {}
    for r in masked:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v == 5 for v in per_q.values())

    n_before = read_meta(idx)["n_vectors"]
    cmeta = compact_ivf_index(spark, idx)
    # tombstoned ids are physically gone and the live count is exact
    assert cmeta["n_deleted"] == 0
    assert cmeta["n_vectors"] == n_before - len(victims)
    lists = spark.read.parquet(os.path.join(idx, "assignments.parquet"))
    assert lists.filter(F.col("vec_id").isin(victims)).count() == 0
    # probe answers are IDENTICAL through tombstones vs after compaction
    compacted = probe_ivf_index(spark, idx, q, nprobe=4, k=5).collect()
    assert sorted(map(tuple, masked)) == sorted(map(tuple, compacted))
    # compaction leaves no swap artifacts
    assert not os.path.exists(idx + ".staging")
    assert not os.path.exists(idx + ".old")


def test_delete_of_absent_id_is_harmless_and_counted_until_compaction(
    spark, sf_dir, tmp_path
):
    from beehive_spark.operators.ann_index import (
        compact_ivf_index,
        delete_from_ivf_index,
    )

    idx = str(tmp_path / "ivf_del2")
    build_ivf_index(spark, _corpus(spark, sf_dir), idx, k=8, replicas=2)
    n = read_meta(idx)["n_vectors"]
    ghost = spark.createDataFrame([(999_999_999,)], "vec_id long")
    meta = delete_from_ivf_index(spark, idx, ghost)
    assert meta["n_deleted"] == 1  # tombstone rows, not live hits
    cmeta = compact_ivf_index(spark, idx)
    assert cmeta["n_vectors"] == n  # nothing was actually removed


def test_compact_retries_when_delete_lands_mid_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Lost-update guard (r5 review): a delete that lands between
    compaction's rewrite and its swap must NOT be discarded by the
    swap — compaction detects the changed live file set inside the
    lock and retries against the fresh state, so the late victim stays
    deleted in the compacted index."""
    from contextlib import contextmanager

    from beehive_spark.operators import ann_index as ai

    idx = str(tmp_path / "ivf_race")
    build_ivf_index(spark, _corpus(spark, sf_dir), idx, k=8, replicas=2)
    q = _queries(spark, sf_dir)
    seen = sorted({r["neighbor_id"] for r in
                   probe_ivf_index(spark, idx, q, nprobe=4, k=5).collect()})
    early, late = int(seen[0]), int(seen[1])
    ai.delete_from_ivf_index(
        spark, idx, spark.createDataFrame([(early,)], "vec_id long")
    )

    real_lock = ai.dir_swap_lock
    hits = {"injected": 0}

    @contextmanager
    def lock_with_late_delete(path):
        with real_lock(path):
            if hits["injected"] == 0:
                hits["injected"] = 1
                # a "concurrent" delete appends its tombstone after the
                # rewrite but before the conflict check (raw append —
                # the real delete op would block on this very lock)
                spark.createDataFrame([(late,)], "vec_id long").write.mode(
                    "append"
                ).parquet(os.path.join(idx, ai.TOMBSTONES))
            yield

    monkeypatch.setattr(ai, "dir_swap_lock", lock_with_late_delete)
    n_before = read_meta(idx)["n_vectors"]
    cmeta = ai.compact_ivf_index(spark, idx)
    assert hits["injected"] == 1  # the conflict path really ran
    assert cmeta["n_deleted"] == 0
    assert cmeta["n_vectors"] == n_before - 2  # BOTH victims gone
    lists = spark.read.parquet(os.path.join(idx, "assignments.parquet"))
    assert lists.filter(F.col("vec_id").isin([early, late])).count() == 0
    assert not os.path.exists(idx + ".staging")


def test_compact_raises_after_exhausting_conflict_retries(
    spark, sf_dir, tmp_path, monkeypatch
):
    from contextlib import contextmanager

    from beehive_spark.operators import ann_index as ai

    idx = str(tmp_path / "ivf_race2")
    build_ivf_index(spark, _corpus(spark, sf_dir), idx, k=4, replicas=1)
    real_lock = ai.dir_swap_lock
    counter = {"n": 0}

    @contextmanager
    def always_conflicting(path):
        with real_lock(path):
            counter["n"] += 1
            spark.createDataFrame(
                [(10_000_000 + counter["n"],)], "vec_id long"
            ).write.mode("append").parquet(os.path.join(idx, ai.TOMBSTONES))
            yield

    monkeypatch.setattr(ai, "dir_swap_lock", always_conflicting)
    with pytest.raises(RuntimeError, match="changed during"):
        ai.compact_ivf_index(spark, idx, attempts=2)
    assert counter["n"] == 2
