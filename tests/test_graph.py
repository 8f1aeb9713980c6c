"""Graph operators and queries: bfs_levels (the iterative replacement
for the reference's recursive user tree, person-users.js:568-601),
connected components (near-dup cluster collapse), pagerank, k-core,
label propagation and the co-purchase graph queries.  The planted
PageRank and k-core pins and the tree-rollup and sssp twins live in
test_queries_r6 and test_queries_r7.

The operator pins below run in the slow tier; the random-graph
brute-force pins run fast in test_graph_property.  The query pins
(brute-force peels, power iterations and planted label blocks) carry
their tier per test."""

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from beehive_spark.operators.graph import bfs_levels, connected_components
from beehive_spark.queries import load

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


@pytest.mark.slow
def test_bfs_levels_tree(spark):
    # 1 -> {2, 3}, 2 -> {4}, 4 -> {5}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (4, 5)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2), (5, 3)}


@pytest.mark.slow
def test_bfs_levels_dag_min_depth(spark):
    # diamond: 1 -> 2 -> 4 and 1 -> 4 directly; 4 must keep depth 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 4)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (4, 1)}


@pytest.mark.slow
def test_bfs_levels_unreachable_excluded(spark):
    edges = spark.createDataFrame([(1, 2), (8, 9)], ["parent_id", "child_id"])
    roots = spark.createDataFrame([(1,)], ["id"])
    ids = {r["id"] for r in bfs_levels(roots, edges).collect()}
    assert ids == {1, 2}


@pytest.mark.slow
def test_bfs_levels_cycle_terminates(spark):
    # 1 -> 2 -> 3 -> 1: the seen-set must stop the loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}


@pytest.mark.slow
def test_bfs_levels_multiple_roots(spark):
    edges = spark.createDataFrame([(1, 3), (2, 4)], ["parent_id", "child_id"])
    roots = spark.createDataFrame([(1,), (2,)], ["id"])
    df = bfs_levels(roots, edges)
    assert df.filter(F.col("depth") == 0).count() == 2
    assert df.count() == 4


# -- connected_components ---------------------------------------------------


@pytest.mark.slow
def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {
        (r["id"], r["component"]) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


@pytest.mark.slow
def test_cc_transitive_chain(spark):
    # A~B, B~C but never A~C: all three must collapse to one cluster
    edges = spark.createDataFrame([(5, 9), (9, 2)], ["src", "dst"])
    comps = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {2: 2, 5: 2, 9: 2}


@pytest.mark.slow
def test_cc_long_chain_converges(spark):
    # path graph 0-1-2-...-12: worst diameter case for label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    comps = {r["component"] for r in connected_components(edges).collect()}
    assert comps == {0}


def _numpy_pagerank(edges, damping=0.85, iters=10):
    """Dense power iteration with uniform dangling redistribution."""
    import numpy as np

    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        dangling = sum(r[idx[u]] for u in nodes if u not in out)
        nxt += damping * dangling / n
        for s, dsts in out.items():
            share = damping * r[idx[s]] / len(dsts)
            for d in dsts:
                nxt[idx[d]] += share
        r = nxt
    return {nodes[i]: r[i] for i in range(n)}


@pytest.mark.slow
def test_pagerank_matches_numpy_power_iteration(spark):
    from beehive_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(60)})
    edges = [(a, b) for a, b in edges if a != b]
    expect = _numpy_pagerank(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    # tol=None: exactly 10 rounds, bit-comparable to the numpy pin
    got = {r["id"]: r["rank"] for r in pagerank(df, tol=None).collect()}
    assert set(got) == set(expect)
    for node, rank in expect.items():
        assert abs(got[node] - rank) < 1e-9, node
    assert abs(sum(got.values()) - 1.0) < 1e-9  # true distribution


@pytest.mark.slow
def test_pagerank_early_exit_converges_to_fixed_point(spark):
    """The tol-based early exit must land within tol of the
    run-it-into-the-ground answer (power method contracts, so the L1
    delta bounds distance to the fixed point up to a damping factor),
    and must actually stop early on a fast-mixing graph."""
    from beehive_spark.operators.graph import pagerank

    rng = random.Random(11)
    edges = list({(rng.randrange(20), rng.randrange(20)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    exact = {r["id"]: r["rank"] for r in pagerank(df, iters=60, tol=None).collect()}
    early = {r["id"]: r["rank"] for r in pagerank(df, iters=60, tol=1e-8).collect()}
    assert set(early) == set(exact)
    for node in exact:
        assert abs(early[node] - exact[node]) < 1e-6, node
    assert abs(sum(early.values()) - 1.0) < 1e-9


@pytest.mark.slow
def test_pagerank_star_hub_dominates(spark):
    from beehive_spark.operators.graph import pagerank

    # all leaves point at the hub: hub rank must dominate
    edges = [(i, 0) for i in range(1, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0) * 3


@pytest.mark.slow
def test_twophase_cc_matches_propagation_on_random_graph(spark):
    """Same contract as connected_components: on a random graph both
    operators must produce identical (id, component-min) labelings."""
    from beehive_spark.operators.graph import (
        connected_components,
        connected_components_twophase,
    )

    rng = random.Random(13)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(45)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    prop = {r["id"]: r["component"] for r in connected_components(df).collect()}
    two = {
        r["id"]: r["component"]
        for r in connected_components_twophase(df).collect()
    }
    assert two == prop


@pytest.mark.slow
def test_twophase_cc_finishes_long_chain(spark):
    """The motivating case: a diameter-120 chain exceeds propagation's
    default 50-round cap but two-phase converges in O(log^2 n) rounds
    to the exact labeling."""
    from beehive_spark.operators.graph import connected_components_twophase

    edges = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components_twophase(df, max_iter=15).collect()
    }
    assert got == {i: 0 for i in range(121)}


@pytest.mark.slow
def test_twophase_cc_raises_on_round_cap_exhaustion(spark):
    """A truncated star contraction returns labels that are wrong AND
    internally inconsistent — the operator must RAISE, mirroring
    kcore's round-cap contract (r5 advice)."""
    import pytest

    from beehive_spark.operators.graph import connected_components_twophase

    edges = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not reach a fixed point"):
        connected_components_twophase(df, max_iter=1)


@pytest.mark.slow
def test_twophase_cc_isolated_pairs_and_singleton_components(spark):
    from beehive_spark.operators.graph import connected_components_twophase

    edges = [(5, 9), (20, 21), (21, 22)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components_twophase(df).collect()
    }
    assert got == {5: 5, 9: 5, 20: 20, 21: 20, 22: 20}


def _brute_triangles(edges):
    """Per-node triangle membership counts by neighbor-set intersection."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in sorted(adj[u]):
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    for x in (u, v, w):
                        counts[x] = counts.get(x, 0) + 1
    return counts


@pytest.mark.slow
def test_triangle_counts_matches_brute_force_random(spark):
    from beehive_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    edges = set()
    while len(edges) < 200:
        u, v = rng.randrange(40), rng.randrange(40)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(sorted(edges), ["u", "v"])
    want = _brute_triangles(edges)
    for bcast in (True, False):  # both strategies, same exact counts
        got = {
            r["id"]: r["triangles"]
            for r in triangle_counts(df, broadcast_adjacency=bcast).collect()
        }
        assert got == want, f"broadcast_adjacency={bcast}"


@pytest.mark.slow
def test_triangle_counts_clique_and_duplicates(spark):
    from beehive_spark.operators.graph import triangle_counts

    # K5 with every edge duplicated: C(4,2) = 6 triangles per node
    edges = [(u, v) for u in range(5) for v in range(u + 1, 5)] * 2
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {i: 6 for i in range(5)}


@pytest.mark.slow
def test_triangle_counts_triangle_free(spark):
    from beehive_spark.operators.graph import triangle_counts

    # even cycle C6 has no triangles
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(0, 5)], ["u", "v"]
    )
    assert triangle_counts(df).count() == 0


@pytest.mark.slow
def test_triangle_counts_ignores_self_loops(spark):
    from beehive_spark.operators.graph import triangle_counts

    # triangle + a self-loop on each corner: still exactly 1 per node
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 0), (1, 1), (2, 2)], ["u", "v"]
    )
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


@pytest.mark.slow
def test_kcore_peels_chain_to_nothing_keeps_clique(spark):
    from beehive_spark.operators.graph import kcore

    # a 10-chain (all degree <= 2) plus a K5 (degree 4): the 3-core is
    # exactly the clique, found only after the chain peels layer by layer
    chain = [(100 + i, 101 + i) for i in range(10)]
    k5 = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    df = spark.createDataFrame(chain + k5, ["u", "v"])
    got = {r["id"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {i: 4 for i in range(5)}


@pytest.mark.slow
def test_kcore_symmetric_input_not_double_counted(spark):
    from beehive_spark.operators.graph import kcore

    # both orientations of a single edge: true 2-core is EMPTY (r5
    # review: raw orientation doubled every degree)
    df = spark.createDataFrame([(1, 2), (2, 1)], ["u", "v"])
    assert kcore(df, k=2).count() == 0
    # symmetric K4 (both directions): 3-core is the whole clique with
    # true degree 3, not 6
    k4 = [(u, v) for u in range(4) for v in range(4) if u != v]
    got = {
        r["id"]: r["core_degree"]
        for r in kcore(spark.createDataFrame(k4, ["u", "v"]), k=3).collect()
    }
    assert got == {i: 3 for i in range(4)}


@pytest.mark.slow
def test_kcore_raises_on_exhausted_rounds(spark):
    import pytest as _pytest

    from beehive_spark.operators.graph import kcore

    # a 30-path peels two endpoints per round: needs ~15 rounds
    path = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(path, ["u", "v"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_iter=3)
    # with enough rounds the same peel converges (to the empty 2-core)
    assert kcore(df, k=2, max_iter=30).count() == 0


def _brute_peel(edges, k):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        doomed = [n for n in adj if len(adj[n]) < k]
        for n in doomed:
            changed = True
            for m in adj.pop(n):
                adj[m].discard(n)
    return {n: len(ns) for n, ns in adj.items()}


def test_copurchase_pagerank_is_a_distribution_head(spark, sf_dir, qs):
    rows = qs["pagerank_copurchase"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    # ranks are probabilities, emitted in deterministic descending order
    assert all(0.0 < r["rank"] < 1.0 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # every scored node is a real part co-purchased at least once
    parts = {
        r["l_partkey"]
        for r in load(spark, sf_dir, "lineitem").select("l_partkey").collect()
    }
    assert all(r["id"] in parts for r in rows)


def test_copurchase_pagerank_early_exit_matches_capped_run(spark, sf_dir):
    """tol must change WHEN iteration stops, never WHAT it converges
    to: the early-exited ranks agree with a longer capped run to well
    inside the tolerance."""
    from beehive_spark.operators.graph import pagerank
    from beehive_spark.queries.relational import copurchase_edges

    edges = copurchase_edges(load(spark, sf_dir, "lineitem"))
    early = {r["id"]: r["rank"] for r in pagerank(edges, iters=30, tol=1e-6).collect()}
    capped = {r["id"]: r["rank"] for r in pagerank(edges, iters=25, tol=None).collect()}
    assert early.keys() == capped.keys()
    assert max(abs(early[k] - capped[k]) for k in early) < 1e-6


@pytest.mark.slow
def test_twophase_cc_keeps_self_loop_only_nodes(spark):
    """A node appearing only in self-loop edges must label
    itself, matching connected_components."""
    from beehive_spark.operators.graph import (
        connected_components,
        connected_components_twophase,
    )

    edges = [(5, 5), (7, 8)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    two = {
        r["id"]: r["component"]
        for r in connected_components_twophase(df).collect()
    }
    prop = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    assert two == prop == {5: 5, 7: 7, 8: 7}


@pytest.mark.slow
def test_graph_kcore_query_matches_brute_peel_on_real_data(spark):
    """The registered query's exact member set + within-core degrees
    equal a pure-python peel of the same co-purchase graph at sf0.01 —
    a real non-trivial pin (1,857 of 2,000 parts survive k=80 there;
    at the sf0.001 test default the 80-core is empty, which would be
    exactly the 0==0 trap the workflow notes warn about)."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from beehive_spark.queries import all_queries
    from beehive_spark.queries.relational import copurchase_pairs, load

    sf = os.path.join(TESTDATA, "sf0.01")
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        _pytest.skip("sf0.01 testdata not present")
    edges = {
        (r["u"], r["v"])
        for r in copurchase_pairs(load(spark, sf, "lineitem"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
        .collect()
    }
    want = _brute_peel(edges, 80)
    assert len(want) > 0 and len(want) < 2000  # non-trivial strict subset
    got = {
        r["part_id"]: r["core_degree"]
        for r in all_queries()["graph_kcore"](spark, sf).collect()
    }
    assert got == want


@pytest.mark.slow
def test_label_propagation_recovers_planted_blocks(spark, sf_dir):
    from beehive_spark.queries.relational import label_propagation_planted

    rows = label_propagation_planted(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["label"] == (r["node_id"] // 10) * 10, r
        assert r["is_seed"] == (r["node_id"] % 10 == 0)


@pytest.mark.slow
def test_label_propagation_is_fixed_point_after_convergence(spark, sf_dir):
    """One extra round must not change any label (planted margins make
    round-3 a fixed point)."""
    from beehive_spark.queries.relational import label_propagation_planted

    a = {
        r["node_id"]: r["label"]
        for r in label_propagation_planted(spark, sf_dir, rounds=3).collect()
    }
    b = {
        r["node_id"]: r["label"]
        for r in label_propagation_planted(spark, sf_dir, rounds=4).collect()
    }
    assert a == b


@pytest.mark.slow
def test_adamic_adar_small_basket_outweighs_large(spark):
    """The Adamic-Adar damping property on a planted corpus: one
    shared 2-item basket must outscore many shared 20-item baskets
    when the raw co-occurrence count says otherwise."""
    from beehive_spark.queries.relational import (
        link_prediction_adamic_adar,
    )

    # reuse the query's algebra through its registered entry by
    # building a planted lineitem in a temp dir
    import os
    import tempfile

    tmp = tempfile.mkdtemp()
    rows = []
    # pair (1,2): one tight basket of 2 -> 1e6/ln2 ~ 1_442_695
    rows += [(1000, 1), (1000, 2)]
    # pair (10,11): three sprawling baskets of 20 -> 3e6/ln20 ~ 1_001_4xx
    for o in (2000, 2001, 2002):
        rows += [(o, 10), (o, 11)] + [(o, 100 + o % 100 * 50 + k) for k in range(18)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.parquet(os.path.join(tmp, "lineitem.parquet"))
    out = {
        (r["pa"], r["pb"]): (r["n_shared"], r["aa_micro"])
        for r in link_prediction_adamic_adar(spark, tmp).collect()
    }
    n12, s12 = out[(1, 2)]
    n10, s10 = out[(10, 11)]
    assert n12 == 1 and n10 == 3  # raw counts favor the sprawling pair
    assert s12 == round(1_000_000 / math.log(2))
    assert s10 == 3 * round(1_000_000 / math.log(20))
    assert s12 > s10  # ...but AA damping flips the ranking
