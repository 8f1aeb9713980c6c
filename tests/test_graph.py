"""Unit tests for beehive_spark.operators.graph — bfs_levels (the
iterative replacement for the reference's recursive user tree,
person-users.js:568-601) and connected_components (near-dup cluster
collapse)."""

import pytest

pytestmark = pytest.mark.slow  # operator pins; the random-graph brute-force pins run fast in test_graph_property

import random

from pyspark.sql import functions as F

from beehive_spark.operators.graph import bfs_levels, connected_components


def test_bfs_levels_tree(spark):
    # 1 -> {2, 3}, 2 -> {4}, 4 -> {5}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (4, 5)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2), (5, 3)}


def test_bfs_levels_dag_min_depth(spark):
    # diamond: 1 -> 2 -> 4 and 1 -> 4 directly; 4 must keep depth 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 4)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (4, 1)}


def test_bfs_levels_unreachable_excluded(spark):
    edges = spark.createDataFrame([(1, 2), (8, 9)], ["parent_id", "child_id"])
    roots = spark.createDataFrame([(1,)], ["id"])
    ids = {r["id"] for r in bfs_levels(roots, edges).collect()}
    assert ids == {1, 2}


def test_bfs_levels_cycle_terminates(spark):
    # 1 -> 2 -> 3 -> 1: the seen-set must stop the loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["parent_id", "child_id"]
    )
    roots = spark.createDataFrame([(1,)], ["id"])
    got = {(r["id"], r["depth"]) for r in bfs_levels(roots, edges).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}


def test_bfs_levels_multiple_roots(spark):
    edges = spark.createDataFrame([(1, 3), (2, 4)], ["parent_id", "child_id"])
    roots = spark.createDataFrame([(1,), (2,)], ["id"])
    df = bfs_levels(roots, edges)
    assert df.filter(F.col("depth") == 0).count() == 2
    assert df.count() == 4


# -- connected_components ---------------------------------------------------


def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {
        (r["id"], r["component"]) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_transitive_chain(spark):
    # A~B, B~C but never A~C: all three must collapse to one cluster
    edges = spark.createDataFrame([(5, 9), (9, 2)], ["src", "dst"])
    comps = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {2: 2, 5: 2, 9: 2}


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


def test_pagerank_star_hub_dominates(spark):
    from beehive_spark.operators.graph import pagerank

    # all leaves point at the hub: hub rank must dominate
    edges = [(i, 0) for i in range(1, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0) * 3


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


def test_triangle_counts_clique_and_duplicates(spark):
    from beehive_spark.operators.graph import triangle_counts

    # K5 with every edge duplicated: C(4,2) = 6 triangles per node
    edges = [(u, v) for u in range(5) for v in range(u + 1, 5)] * 2
    df = spark.createDataFrame(edges, ["u", "v"])
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {i: 6 for i in range(5)}


def test_triangle_counts_triangle_free(spark):
    from beehive_spark.operators.graph import triangle_counts

    # even cycle C6 has no triangles
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(0, 5)], ["u", "v"]
    )
    assert triangle_counts(df).count() == 0


def test_triangle_counts_ignores_self_loops(spark):
    from beehive_spark.operators.graph import triangle_counts

    # triangle + a self-loop on each corner: still exactly 1 per node
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 0), (1, 1), (2, 2)], ["u", "v"]
    )
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_kcore_peels_chain_to_nothing_keeps_clique(spark):
    from beehive_spark.operators.graph import kcore

    # a 10-chain (all degree <= 2) plus a K5 (degree 4): the 3-core is
    # exactly the clique, found only after the chain peels layer by layer
    chain = [(100 + i, 101 + i) for i in range(10)]
    k5 = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    df = spark.createDataFrame(chain + k5, ["u", "v"])
    got = {r["id"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {i: 4 for i in range(5)}


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
