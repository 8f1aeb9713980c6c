"""Streaming maintainers over the bucketed shingle store: the exact
vocabulary (SUM merge), Count-Min (constant-bounded state), exact
dedup (min-canonical fingerprint table) and n-gram novelty (min
first-seen doc per shingle).

Each test feeds the documents corpus as parquet slices with ascending
mtimes through ``maxFilesPerTrigger=1`` and pins the folded store
against a one-shot batch answer: under any feed order, under replay
(a fresh checkpoint must fold nothing twice) and across size-triggered
bucket splits, which change layout only.  The novelty and dedup
suites are slow-tier; vocab and Count-Min run fast."""

import hashlib
import os
import re
import shutil
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from beehive_spark.queries import load
from beehive_spark.queries.core import _CM_D, _CM_W
from beehive_spark.queries.llm import _shingles, _tokens, text_ngram_novelty
from beehive_spark.streaming.materialize import (
    run_countmin_stream,
    run_dedup_stream,
    run_novelty_stream,
    run_vocab_stream,
)
from beehive_spark.streaming.shingle_store import (
    init_shingle_store,
    read_manifest,
    read_store,
)

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _corpus_rows(spark):
    return [
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in load(spark, SF, "documents").collect()
    ]


def _write_slices(spark, chunks, out_dir):
    """One parquet dir per chunk, ``slice_<i>``, with ascending mtimes
    so the file source feeds them in list order."""
    base = time.time() - 3600
    for i, chunk in enumerate(chunks):
        p = os.path.join(out_dir, f"slice_{i}")
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))


def _slices(spark, rows, out_dir, n_files=3, reverse=False):
    """``rows`` in doc_id order cut into ``n_files`` contiguous slices;
    ``reverse=True`` feeds the HIGH ids first (an out-of-order
    backfill)."""
    rows = sorted(rows)
    per = (len(rows) + n_files - 1) // n_files
    chunks = [rows[i * per : (i + 1) * per] for i in range(n_files)]
    _write_slices(spark, chunks[::-1] if reverse else chunks, out_dir)


def _run(spark, runner, src, store, out, ck, **kw):
    docs = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    runner(spark, docs, store, out, ck, **kw)


def _store(spark, store):
    return {r["s"]: r["fd"] for r in read_store(spark, store).collect()}


def _token_counts(rows):
    c = Counter()
    for _, text, *_ in rows:
        c.update(re.findall(r"[a-z0-9]+", (text or "").lower()))
    return c


# ---------------------------------------------------------------------------
# exact vocabulary: final store counts equal the batch word count, the
# growth log's novelty column telescopes to the distinct-type total
# ---------------------------------------------------------------------------
def _growth_log(spark, out):
    rows = spark.read.parquet(os.path.join(out, "batch=*")).collect()
    return [
        (r["n_tokens"], r["n_types_batch"], r["n_new_types"]) for r in rows
    ]


def test_vocab_stream_matches_batch_word_count(spark, tmp_path):
    rows = _corpus_rows(spark)
    want = _token_counts(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)

    _run(spark, run_vocab_stream, src, store, out, str(tmp_path / "ck"))

    assert _store(spark, store) == dict(want)
    log = _growth_log(spark, out)
    # token mass conserved, novelty telescopes to the distinct total
    assert sum(r[0] for r in log) == sum(want.values())
    assert sum(r[2] for r in log) == len(want)
    assert all(r[2] <= r[1] for r in log)  # new types are batch types

    # replay under a fresh checkpoint is a no-op fold
    _run(spark, run_vocab_stream, src, store, out, str(tmp_path / "ck2"))
    assert _store(spark, store) == dict(want)


def test_vocab_store_is_feed_order_invariant(spark, tmp_path):
    """SUM is commutative: the reversed feed yields the IDENTICAL
    store (novelty attribution shifts between batches — documented —
    but its telescoped total is unchanged)."""
    rows = _corpus_rows(spark)
    want = _token_counts(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src, reverse=True)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)
    _run(spark, run_vocab_stream, src, store, out, str(tmp_path / "ck"))
    assert _store(spark, store) == dict(want)
    assert sum(r[2] for r in _growth_log(spark, out)) == len(want)


def test_vocab_stream_with_splits_is_layout_only(spark, tmp_path):
    rows = _corpus_rows(spark)
    want = _token_counts(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=2)
    _run(
        spark,
        run_vocab_stream,
        src,
        store,
        out,
        str(tmp_path / "ck"),
        split_threshold_bytes=512,
    )
    assert read_manifest(store)["n_buckets"] > 2
    assert _store(spark, store) == dict(want)


# ---------------------------------------------------------------------------
# Count-Min: the stream-built sketch is cell-identical to a Python-built
# batch sketch, estimates never undercount, state stays inside D*W
# ---------------------------------------------------------------------------
def _py_sketch(counts):
    cells = Counter()
    for t, c in counts.items():
        for d in range(_CM_D):
            b = int(hashlib.md5(f"{d}:{t}".encode()).hexdigest()[:8], 16) % _CM_W
            cells[f"{d}:{b}"] += c
    return dict(cells)


def test_countmin_stream_matches_python_sketch(spark, tmp_path):
    rows = _corpus_rows(spark)
    counts = _token_counts(rows)
    want = _py_sketch(counts)
    src = str(tmp_path / "src")
    _slices(spark, rows, src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=4)

    _run(spark, run_countmin_stream, src, store, out, str(tmp_path / "ck"))

    got = _store(spark, store)
    assert got == want
    assert len(got) <= _CM_D * _CM_W  # constant-bounded state

    # point estimates: min over the d probed cells never undercounts
    for t, c in sorted(counts.items(), key=lambda kv: -kv[1])[:20]:
        est = min(
            got[
                f"{d}:{int(hashlib.md5(f'{d}:{t}'.encode()).hexdigest()[:8], 16) % _CM_W}"
            ]
            for d in range(_CM_D)
        )
        assert est >= c

    # the growth log conserves token mass
    log = spark.read.parquet(os.path.join(out, "batch=*")).collect()
    assert sum(r["n_tokens"] for r in log) == sum(counts.values())
    assert all(r["n_cells_touched"] <= _CM_D * _CM_W for r in log)

    # replay under a fresh checkpoint is a no-op fold
    _run(spark, run_countmin_stream, src, store, out, str(tmp_path / "ck2"))
    assert _store(spark, store) == want


def test_countmin_store_is_feed_order_invariant(spark, tmp_path):
    """SUM commutes: the reversed feed builds the IDENTICAL grid."""
    rows = _corpus_rows(spark)
    want = _py_sketch(_token_counts(rows))
    src = str(tmp_path / "src")
    _slices(spark, rows, src, reverse=True)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=4)
    _run(spark, run_countmin_stream, src, store, out, str(tmp_path / "ck"))
    assert _store(spark, store) == want


# ---------------------------------------------------------------------------
# exact dedup: min-canonical batch equivalence on an id-ordered feed,
# replay no-op, and out-of-order canonical handoff through correction
# records.  The corpus has NO exact duplicates (500 docs, 500
# fingerprints), so each test PLANTS duplicate texts under fresh
# doc_ids — otherwise the dup/correction branches would pass vacuously.
# ---------------------------------------------------------------------------
DEDUP_CORR_SCHEMA = "old_canonical long, new_canonical long"
N_DUP = 40


def _dedup_rows(spark):
    """The real docs plus N_DUP planted exact duplicates (same text,
    doc_id shifted to 100000+i, whitespace-padded so normalization is
    exercised too)."""
    base = _corpus_rows(spark)
    dups = [
        (100000 + i, "  " + t.upper() + " ", lg, "dup", n)
        for i, (d, t, lg, s, n) in enumerate(base[:N_DUP])
    ]
    return base + dups


def _canon(rows):
    """fp-group min-canonical over the planted corpus, using the same
    normalization (lower + trim + whitespace collapse) in Python."""
    canon = {}
    fps = {}
    for doc, text, *_ in rows:
        fp = hashlib.md5(
            re.sub(r"\s+", " ", text.lower().strip()).encode()
        ).hexdigest()
        fps[doc] = fp
        canon[fp] = min(canon.get(fp, doc), doc)
    return fps, canon


def _read_dedup_out(spark, out):
    return {
        r["doc_id"]: (r["is_new"], r["dup_of"])
        for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
    }


def _read_handoffs(spark, out):
    df = (
        spark.read.schema(DEDUP_CORR_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(out, "corrections"))
    )
    return {(r["old_canonical"], r["new_canonical"]) for r in df.collect()}


@pytest.mark.slow
def test_dedup_stream_matches_global_min_canonical(spark, tmp_path):
    rows = _dedup_rows(spark)
    fps, canon = _canon(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src)  # ascending ids: dups arrive LAST
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)

    _run(spark, run_dedup_stream, src, store, out, str(tmp_path / "ck"))

    want = {
        doc: (canon[fp] == doc, None if canon[fp] == doc else canon[fp])
        for doc, fp in fps.items()
    }
    got = _read_dedup_out(spark, out)
    assert got == want
    # the planted dups were actually classified as dups
    assert sum(1 for v in got.values() if not v[0]) == N_DUP
    # in-order feed: no corrections; store is the min-canonical table
    assert _read_handoffs(spark, out) == set()
    assert _store(spark, store) == {fp: d for fp, d in canon.items()}

    # replay under a fresh checkpoint is a no-op fold
    _run(spark, run_dedup_stream, src, store, out, str(tmp_path / "ck2"))
    assert _read_dedup_out(spark, out) == want


@pytest.mark.slow
def test_dedup_stream_out_of_order_hands_off_canonical(spark, tmp_path):
    """Duplicates (high ids) stream FIRST and are flagged new; when
    the true originals (smaller ids) arrive later, the maintainer
    emits (old_canonical, new_canonical) handoffs — remapping emitted
    dup_of pointers through the correction chain reproduces the
    global-min canonical everywhere, never a silently-stale store."""
    rows = _dedup_rows(spark)
    fps, canon = _canon(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src, reverse=True)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)

    _run(spark, run_dedup_stream, src, store, out, str(tmp_path / "ck"))

    # the store is order-independent
    assert _store(spark, store) == {fp: d for fp, d in canon.items()}

    got = _read_dedup_out(spark, out)
    corr = _read_handoffs(spark, out)
    assert corr, "late originals must hand the canonical off"
    # every correction is a strict improvement toward the global min
    assert all(new < old for old, new in corr)
    remap = {}
    for old, new in corr:
        remap[old] = min(new, remap.get(old, new))

    def resolve(doc):
        seen = set()
        while doc in remap and doc not in seen:
            seen.add(doc)
            doc = remap[doc]
        return doc

    assert set(got) == set(fps)
    for doc, fp in fps.items():
        is_new, dup_of = got[doc]
        target = resolve(doc) if dup_of is None else resolve(dup_of)
        assert target == canon[fp], (doc, got[doc], target)


@pytest.mark.slow
def test_dedup_stream_splits_store_and_stays_exact(spark, tmp_path):
    """With a growth threshold the fold doubles the bucket count as
    the store fills (size-triggered splits), and the verdicts / final
    store are BIT-identical to the fixed-B run — the split is pure
    layout."""
    rows = _dedup_rows(spark)
    fps, canon = _canon(rows)
    src = str(tmp_path / "src")
    _slices(spark, rows, src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=2)

    _run(
        spark,
        run_dedup_stream,
        src,
        store,
        out,
        str(tmp_path / "ck"),
        split_threshold_bytes=2048,
    )

    m = read_manifest(store)
    assert m["n_buckets"] > 2  # at least one doubling actually fired
    want = {
        doc: (canon[fp] == doc, None if canon[fp] == doc else canon[fp])
        for doc, fp in fps.items()
    }
    assert _read_dedup_out(spark, out) == want
    assert _store(spark, store) == {fp: d for fp, d in canon.items()}


@pytest.mark.slow
def test_dedup_stream_null_text_gets_verdict_rows(spark, tmp_path):
    """NULL-text docs must not vanish from the verdict log (md5(NULL)
    -> NULL key silently dropped by the fp join); they dedup into ONE
    sentinel group, min id canonical."""
    rows = _dedup_rows(spark)[:20] + [
        (200001, None, "xx", "null-src", 0),
        (200002, None, "xx", "null-src", 0),
        (200003, None, "xx", "null-src", 0),
    ]
    src = str(tmp_path / "src")
    _slices(spark, rows, src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=4)
    _run(spark, run_dedup_stream, src, store, out, str(tmp_path / "ck"))
    got = _read_dedup_out(spark, out)
    assert got[200001] == (True, None)
    assert got[200002] == (False, 200001)
    assert got[200003] == (False, 200001)
    assert len(got) == len(rows)
    # the sentinel key is stored like any fingerprint
    assert _store(spark, store)["null"] == 200001


# ---------------------------------------------------------------------------
# n-gram novelty: batch equivalence on a doc-id-ordered feed, replay
# no-op, the kill-between-artifacts crash window, the incremental-touch
# property, and out-of-order feeds reconciling through corrections
# ---------------------------------------------------------------------------
NOVELTY_CORR_SCHEMA = "doc_id long, n_new_delta long"


def _read_novelty(spark, out_dir):
    return {
        r["doc_id"]: (r["n_shingles"], r["n_new"], r["novelty_micro"])
        for r in spark.read.parquet(os.path.join(out_dir, "batch=*")).collect()
    }


def _read_deltas(spark, out_dir):
    """doc_id -> summed n_new_delta over all batches (0 if none)."""
    path = os.path.join(out_dir, "corrections")
    if not os.path.isdir(path):
        return {}
    df = (
        spark.read.schema(NOVELTY_CORR_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return {
        r["doc_id"]: r["d"]
        for r in df.groupBy("doc_id")
        .agg(F.sum("n_new_delta").alias("d"))
        .collect()
    }


def _batch_store(spark):
    d = load(spark, SF, "documents")
    return {
        r["s"]: r["fd"]
        for r in d.select(
            "doc_id", F.explode(_shingles(_tokens(F.col("text")))).alias("s")
        )
        .groupBy("s")
        .agg(F.min("doc_id").alias("fd"))
        .collect()
    }


def _batch_novelty(spark):
    return {
        r["doc_id"]: (r["n_shingles"], r["n_new"], r["novelty_micro"])
        for r in text_ngram_novelty(spark, SF).collect()
    }


@pytest.mark.slow
def test_novelty_stream_matches_batch_and_replays_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    _slices(spark, _corpus_rows(spark), src)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)

    _run(spark, run_novelty_stream, src, store, out, str(tmp_path / "ck"))

    want = _batch_novelty(spark)
    assert _read_novelty(spark, out) == want
    # an IN-ORDER feed emits no corrections
    assert _read_deltas(spark, out) == {}
    # the store is the batch min-per-shingle table
    batch_store = _batch_store(spark)
    assert _store(spark, store) == batch_store

    # replay under a fresh checkpoint: store ids short-circuit, out
    # dirs rewrite to identical content
    _run(spark, run_novelty_stream, src, store, out, str(tmp_path / "ck2"))
    assert _read_novelty(spark, out) == want
    assert _store(spark, store) == batch_store


@pytest.mark.slow
def test_novelty_out_of_order_feed_reconciles_via_corrections(
    spark, tmp_path
):
    """HIGH doc_id slices first: late lower-id docs steal first-seen
    credit; the maintainer must debit the prior holders through the
    corrections log so folded (n_new + deltas) equals the batch
    answer — never silently-wrong novelty."""
    src = str(tmp_path / "src")
    _slices(spark, _corpus_rows(spark), src, reverse=True)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)

    _run(spark, run_novelty_stream, src, store, out, str(tmp_path / "ck"))

    # the STORE is order-independent: still the batch min table
    assert _store(spark, store) == _batch_store(spark)

    want = _batch_novelty(spark)
    got = _read_novelty(spark, out)
    corr = _read_deltas(spark, out)
    assert corr, "reversed feed must produce correction records"
    # n_shingles is order-independent; n_new folds exactly
    assert set(got) == set(want)
    for doc_id, (n_sh, n_new, _) in got.items():
        assert n_sh == want[doc_id][0]
        assert n_new + corr.get(doc_id, 0) == want[doc_id][1], doc_id
    # corrections only ever retract
    assert all(d < 0 for d in corr.values())


@pytest.mark.slow
def test_novelty_small_batch_touches_only_its_buckets(spark, tmp_path):
    """The incremental-I/O pin: after a large backfill batch, folding
    ONE small document rewrites at most min(|batch distinct shingles|,
    n_buckets) bucket directories and leaves every other bucket's
    files untouched on disk (same version names in the manifest)."""
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=64)

    text = "alpha beta gamma delta epsilon zeta eta theta"
    big = [r for r in _corpus_rows(spark) if r[0] < 400]
    src = str(tmp_path / "src")
    _write_slices(spark, [big, [(100000, text, "en", "unit", len(text))]], src)

    _run(spark, run_novelty_stream, src, store, out, str(tmp_path / "ck"))

    m = read_manifest(store)
    n_shingles_small = len(text.split()) - 2  # 3-gram shingles, 6 distinct
    changed = {
        b for b, d in m["buckets"].items() if d.endswith("-v1")
    }
    assert 1 <= len(changed) <= n_shingles_small
    # every untouched bucket still points at its batch-0 directory,
    # and those directories' data files were not rewritten
    untouched = {
        b: d for b, d in m["buckets"].items() if b not in changed
    }
    assert untouched, "backfill must populate more buckets than one doc"
    for d in untouched.values():
        assert d.endswith("-v0")
    # folded result: the small doc's novelty is exact vs the store
    got = _read_novelty(spark, out)
    assert got[100000][0] == n_shingles_small


@pytest.mark.slow
def test_novelty_stream_survives_out_written_store_behind(spark, tmp_path):
    """Kill between the artifacts: the out partition for the last
    batch landed, the store manifest rename did not.  The replayed
    batch must rewrite the out dir to the same content and fold the
    store ONCE (restart modeled from a copied checkpoint)."""
    src = str(tmp_path / "src")
    _slices(spark, _corpus_rows(spark), src, n_files=2)
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    init_shingle_store(spark, store, n_buckets=16)
    ck = str(tmp_path / "ck")

    _run(spark, run_novelty_stream, src, store, out, ck)
    want_out = _read_novelty(spark, out)
    want_store = _store(spark, store)

    # crash simulation: the checkpoint loses the final commit marker
    # AND the store reverts to its pre-final-batch state, while the
    # final out partition (written first) survives.  Rebuild that
    # pre-state by rerunning only slice_0 into fresh paths.
    store2 = str(tmp_path / "store_pre")
    out2 = str(tmp_path / "out_pre")
    src0 = str(tmp_path / "src0")
    os.makedirs(src0)
    shutil.copytree(
        os.path.join(src, "slice_0"), os.path.join(src0, "slice_0")
    )
    init_shingle_store(spark, store2, n_buckets=16)
    _run(spark, run_novelty_stream, src0, store2, out2, str(tmp_path / "ck_pre"))

    # assemble the crash state: pre-batch store + full out log +
    # checkpoint missing the last commit marker
    crash_store = str(tmp_path / "store_crash")
    shutil.copytree(store2, crash_store)
    crash_ck = str(tmp_path / "ck_crash")
    shutil.copytree(ck, crash_ck)
    commits = os.path.join(crash_ck, "novelty", "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, last))
    os.remove(os.path.join(commits, f".{last}.crc"))

    _run(spark, run_novelty_stream, src, crash_store, out, crash_ck)
    assert _read_novelty(spark, out) == want_out
    assert _store(spark, crash_store) == want_store


@pytest.mark.slow
def test_novelty_backfilled_store_folds_batch_zero(spark, tmp_path):
    """A store initialized WITH a backfill must survive stream batch
    id 0: backfill dirs are versioned `-vinit`, not `-v0`, so the
    first batch's deterministic version names cannot collide with
    (and rmtree) the live backfill buckets before the manifest
    commit."""
    d = load(spark, SF, "documents")
    backfill = (
        d.filter(F.col("doc_id") < 300)
        .select("doc_id", _tokens(F.col("text")).alias("w"))
        .select("doc_id", F.explode(_shingles(F.col("w"))).alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("fd"))
    )
    store = str(tmp_path / "store")
    init_shingle_store(spark, store, n_buckets=16, backfill=backfill)

    src = str(tmp_path / "src")
    _write_slices(spark, [[r for r in _corpus_rows(spark) if r[0] >= 300]], src)
    out = str(tmp_path / "out")
    _run(spark, run_novelty_stream, src, store, out, str(tmp_path / "ck"))

    assert _store(spark, store) == _batch_store(spark)
    want = {k: v for k, v in _batch_novelty(spark).items() if k >= 300}
    assert _read_novelty(spark, out) == want
