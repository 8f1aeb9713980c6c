"""Guards on the driver contract (__spark_entry__): the flagship
entry must produce rows, every oracle must belong to a registered
query, and registration must be collision-free; and on
``scripts/bench_diff.py``'s attribution of extras records."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) == 10  # stable flagship schema


def test_registry_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 60
    # every oracle belongs to a registered query
    assert set(oracles) <= set(qs)
    # the approximate ops are the only rows-only entries
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_semantic",
        "similarity_ann_lsh",
        "similarity_ann_ivf",
        "similarity_ann_pq",
        "approx_sketches",
        "pagerank_hierarchy",
        "pagerank_copurchase",
        "sketch_uniques_rollup",
        "bpe_encode",
        # persisted-ANN lifecycle: manifest/probe results depend on the
        # trained codebook, so no SQL oracle (equivalence to the
        # in-query ANN paths is pinned in tests/test_ann_index.py)
        "ann_index_build",
        "ann_index_probe",
        "ann_index_delete",
        # iterative peeling (topology-bound rounds): brute-force pinned
        # in tests/test_graph.py; the registered query's full member
        # set + degrees equal a python peel of the real sf0.01 graph
        # (tests/test_graph.py)
        "graph_kcore",
    }


def test_registry_imports_without_repo_root_files(tmp_path):
    """The query package imports from a copy of ``beehive_spark/`` alone:
    no file at the repo root decides what the registry holds."""
    shutil.copytree(os.path.join(REPO, "beehive_spark"),
                    tmp_path / "beehive_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = ("from beehive_spark.queries import all_oracles, all_queries; "
            "print(len(all_queries()), len(all_oracles()))")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True,
        text=True, env={**os.environ, "PYTHONPATH": str(tmp_path)},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["241", "226"]


def test_bench_tiers_are_registered_and_disjoint():
    """Every bench tier name must be a registered query (a typo'd tier
    entry would KeyError mid-bench and lose the round's record), each
    tier must be duplicate-free, the tiers must not overlap (one query
    timed twice), and EXTRA is every other registered query."""
    import bench

    qs = list(entrymod.queries())
    for tier in (bench.HEADLINE, bench.HEAVY, bench.EXTRA):
        assert set(tier) <= set(qs)
        assert len(tier) == len(set(tier))
    assert not set(bench.HEADLINE) & set(bench.HEAVY)
    assert not set(bench.HEADLINE) & set(bench.EXTRA)
    assert not set(bench.HEAVY) & set(bench.EXTRA)
    assert bench.EXTRA == [
        n for n in qs if n not in bench.HEADLINE + bench.HEAVY]


@pytest.mark.slow
def test_bench_diff_attributes_extras_by_run_id(tmp_path):
    """Two runs with float-identical headline totals must not resolve
    to each other's extras records (a 1.00x self-comparison):
    attribution is by run_id when present."""
    hist = tmp_path / "BENCH_EXTRA_HISTORY.jsonl"
    recs = [
        {"metric": "extra_queries", "headline_value": 10.0,
         "run_id": "aaa", "queries": {"x": 1.0}},
        {"metric": "extra_queries", "headline_value": 10.0,
         "run_id": "bbb", "queries": {"x": 2.0}},
    ]
    hist.write_text("".join(json.dumps(r) + "\n" for r in recs))
    base = tmp_path / "base.json"
    cur = tmp_path / "cur.json"
    base.write_text(json.dumps(
        {"value": 10.0, "queries": {"q": 1.0}, "run_id": "aaa",
         "extras_file": "BENCH_EXTRA.json"}))
    cur.write_text(json.dumps(
        {"value": 10.0, "queries": {"q": 1.0}, "run_id": "bbb",
         "extras_file": "BENCH_EXTRA.json"}))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "bench_diff.py"),
         str(base), str(cur), "--ratio", "1.5"],
        capture_output=True, text=True,
    )
    assert out.returncode == 1, out.stdout + out.stderr
    # x: 1.0 (run aaa) vs 2.0 (run bbb) => 2.00x regression, NOT 1.00x
    assert "2.00x" in out.stdout


@pytest.mark.slow
def test_bench_diff_headline_value_fallback_for_old_records(tmp_path):
    """Pre-r5 history records carry no run_id; a pre-r5 baseline side
    still attributes by headline_value."""
    hist = tmp_path / "BENCH_EXTRA_HISTORY.jsonl"
    hist.write_text(json.dumps(
        {"metric": "extra_queries", "headline_value": 7.5,
         "queries": {"x": 3.0}}) + "\n")
    base = tmp_path / "base.json"
    cur = tmp_path / "cur.json"
    base.write_text(json.dumps(
        {"value": 7.5, "queries": {"q": 1.0},
         "extras_file": "BENCH_EXTRA.json"}))
    cur.write_text(json.dumps(
        {"value": 9.9, "queries": {"q": 1.0}, "run_id": "ccc",
         "extras_file": "BENCH_EXTRA.json"}))
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "bench_diff.py"),
         str(base), str(cur)],
        capture_output=True, text=True,
    )
    # baseline folded its extras (x shows as only-one-side since cur
    # has no matching record), and the run completes without error
    assert "x" in out.stdout
    assert "only one side" in out.stdout
