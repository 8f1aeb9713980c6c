"""Property and brute-force pins for the graph operators.

- triangle_counts equals neighbor-set-intersection brute force on ANY
  random graph, for BOTH execution strategies.  Hypothesis generates
  arbitrary small edge multisets (duplicates, self-loops, reversed
  pairs included — the operator canonicalizes); catches
  orientation/total-order bugs (double-counted or missed triangles)
  that crafted examples can miss.  Example count is small because each
  case runs real Spark jobs.
- connected_components equals a union-find oracle, and kcore equals
  iterative peeling, on one seeded random graph each.
"""

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from beehive_spark.operators.graph import connected_components, kcore, triangle_counts


def _brute(edges):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for u in sorted(adj):
        for v in sorted(adj[u]):
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    for x in (u, v, w):
                        counts[x] = counts.get(x, 0) + 1
    return counts


edge = st.tuples(
    st.integers(min_value=0, max_value=14),
    st.integers(min_value=0, max_value=14),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_triangles_match_brute_force_any_graph(spark, edges):
    # operator contract: canonical u < v rows (self-loops filtered
    # internally); canonicalize the raw pairs, keep duplicates
    canon = [(min(u, v), max(u, v)) for u, v in edges]
    df = spark.createDataFrame(canon, ["u", "v"])
    want = _brute(edges)
    for bcast in (True, False):
        got = {
            r["id"]: r["triangles"]
            for r in triangle_counts(df, broadcast_adjacency=bcast).collect()
        }
        assert got == want, f"broadcast_adjacency={bcast}"


def _union_find_components(edges):
    """Pure-python oracle: component = min node id reachable."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_random(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(35)]
    edges = [(a, b) for a, b in edges if a != b]
    expect = _union_find_components(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == expect


def _brute_kcore(edges, k):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items()}


def test_kcore_matches_brute_force_random(spark):
    rng = random.Random(3)
    edges = set()
    while len(edges) < 150:
        u, v = rng.randrange(30), rng.randrange(30)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(sorted(edges), ["u", "v"])
    for k in (3, 6, 9):
        got = {r["id"]: r["core_degree"] for r in kcore(df, k=k).collect()}
        assert got == _brute_kcore(edges, k), f"k={k}"
