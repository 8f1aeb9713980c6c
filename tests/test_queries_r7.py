"""Planted PageRank, tree and BOM rollups, single-source shortest paths,
planted record linkage, truncating integer division and the media
caption/luma paths.

Each test pins an independent brute-force twin or a constructed input
(random forests, random graphs, cycles, edgeless forests) that the
DuckDB oracle gate cannot express."""

from pyspark.sql import functions as F


def _brute_pagerank_star_forest(n: int, iters: int, damping: float = 0.85):
    """Dense per-node power iteration over the planted star forest,
    replicating the operator's no_dangling update order exactly:
    r' = (1-d)/n + d * sum(in-contribs)."""
    out_deg = [14 if i % 15 == 0 else 1 for i in range(n)]
    ranks = [1.0 / n] * n
    for _ in range(iters):
        contrib = [0.0] * n
        for i in range(n):
            hub = (i // 15) * 15
            if i == hub:
                continue
            # leaf -> hub and hub -> leaf
            contrib[hub] += ranks[i] / out_deg[i]
            contrib[i] += ranks[hub] / out_deg[hub]
        ranks = [
            (1.0 - damping) / n + damping * contrib[i] for i in range(n)
        ]
    return ranks


def test_pagerank_planted_matches_dense_power_iteration(spark, sf_dir):
    from beehive_spark.queries.relational import (
        _PR_PLANTED_ITERS,
        pagerank_planted,
    )

    got = {
        (r["id"], r["rank_nano"])
        for r in pagerank_planted(spark, sf_dir).collect()
    }
    n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert n % 15 == 0 and n > 0
    ranks = _brute_pagerank_star_forest(n, _PR_PLANTED_ITERS)
    # the dense twin and the operator disagree only at fl-sum ulp
    # scale, ~9 orders below the nano grid — exact match expected
    want = {(i, round(ranks[i] * 1e9)) for i in range(n)}
    assert got == want and got
    # ranks form a probability distribution (mass conservation is the
    # property the planted oracle is designed to catch violations of)
    total = sum(ranks)
    assert abs(total - 1.0) < 1e-9
    # non-uniform by construction: hub mass well above leaf mass
    hubs = {v for i, v in want if i % 15 == 0}
    leaves = {v for i, v in want if i % 15 != 0}
    assert min(hubs) > 5 * max(leaves)


def test_media_caption_luma_decode_really_runs(spark, sf_dir):
    """The real decode path is load-bearing: decode a few synthesized
    payloads with the vendored codec in plain python and check the
    pixel mean equals the planted closed form."""
    from beehive_spark.functions.png import decode_png
    from beehive_spark.queries.media import synth_solid_png_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    rows = synth_solid_png_media(docs).collect()
    assert rows
    for r in rows:
        px = decode_png(bytes(r["payload"]))
        assert px.shape == (16, 16, 3)
        v = (r["media_id"] * 37) % 251
        assert int(px.sum()) // px.size == v
        assert (px == v).all()


def test_image_stats_fake_tier_reduces_raw_bytes(spark):
    from beehive_spark.functions.multimodal import image_stats, wrap_as_media

    df = spark.createDataFrame(
        [(1, bytes([10, 20, 30])), (2, b""), (3, bytes([255]))],
        "media_id long, payload binary",
    )
    media = wrap_as_media(df, "media_id", "payload")
    got = {
        r["media_id"]: (r["mean_byte"], r["n_pixel_bytes"])
        for r in image_stats(media).collect()
    }
    assert got == {1: (20, 3), 2: (None, 0), 3: (255, 1)}


def _brute_rollup(edges, costs):
    """Recursive python rollup: total(n) = cost(n) + sum qty*total(child)."""
    import sys

    kids = {}
    for c, p, q in edges:
        kids.setdefault(p, []).append((c, q))
    sys.setrecursionlimit(10000)
    memo_t, memo_n = {}, {}

    def go(n):
        if n in memo_t:
            return memo_t[n], memo_n[n]
        t, d = costs[n], 1
        for c, q in kids.get(n, ()):
            ct, cd = go(c)
            t += q * ct
            d += cd
        memo_t[n], memo_n[n] = t, d
        return t, d

    for n in costs:
        go(n)
    return {n: (memo_t[n], memo_n[n]) for n in costs}


def test_tree_rollup_matches_brute_force_on_random_forest(spark):
    import random

    from beehive_spark.operators.graph import tree_rollup

    rng = random.Random(77)
    n = 400
    costs = {i: rng.randint(1, 1000) for i in range(n)}
    # random forest: each non-root picks a parent with a SMALLER id
    # (acyclic by construction), ~5% of nodes are extra roots
    edges = [
        (i, rng.randrange(i), rng.randint(1, 3))
        for i in range(1, n)
        if rng.random() > 0.05
    ]
    want = _brute_rollup(edges, costs)
    e_df = spark.createDataFrame(edges, "child long, parent long, qty long")
    c_df = spark.createDataFrame(list(costs.items()), "id long, cost long")
    got = {
        r["id"]: (r["total"], r["n_desc"])
        for r in tree_rollup(e_df, c_df).collect()
    }
    assert got == want and len(got) == n


def test_tree_rollup_succeeds_when_height_equals_cap(spark):
    """A chain of height == max_iter drains its last edge in the final
    round; the completion check must fire inside that round, not at the
    top of a (nonexistent) next one (an off-by-one)."""
    from beehive_spark.operators.graph import tree_rollup

    # chain 4 -> 3 -> 2 -> 1 -> 0: height (and rounds needed) = 5
    e_df = spark.createDataFrame(
        [(i, i - 1, 1) for i in range(1, 6)], "child long, parent long, qty long"
    )
    c_df = spark.createDataFrame([(i, 1) for i in range(6)], "id long, cost long")
    got = {
        r["id"]: (r["total"], r["n_desc"])
        for r in tree_rollup(e_df, c_df, max_iter=5).collect()
    }
    assert got == {i: (6 - i, 6 - i) for i in range(6)}


def test_tree_rollup_handles_edgeless_forest(spark):
    from beehive_spark.operators.graph import tree_rollup

    e_df = spark.createDataFrame([], "child long, parent long, qty long")
    c_df = spark.createDataFrame([(1, 5), (2, 7)], "id long, cost long")
    got = {
        r["id"]: (r["total"], r["n_desc"]) for r in tree_rollup(e_df, c_df).collect()
    }
    assert got == {1: (5, 1), 2: (7, 1)}


def test_tree_rollup_raises_on_cycle(spark):
    import pytest

    from beehive_spark.operators.graph import tree_rollup

    e_df = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "child long, parent long, qty long"
    )
    c_df = spark.createDataFrame([(1, 5), (2, 7)], "id long, cost long")
    with pytest.raises(RuntimeError, match="truncated rollup"):
        tree_rollup(e_df, c_df, max_iter=5)


def test_bom_cost_rollup_root_equals_whole_forest(spark, sf_dir):
    """The planted tree is rooted at part 0, so the root's rollup must
    cover every part exactly once (n_desc == |part|)."""
    from beehive_spark.queries.relational import bom_cost_rollup

    out = bom_cost_rollup(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    root = out.filter(F.col("id") == 0).collect()[0]
    assert root["n_desc"] == n
    # leaves (no children): total == own cents
    hi = out.filter(F.col("id") >= (n - 1) // 4 + 1).limit(5).collect()
    prices = {
        r["p_partkey"]: r["p_retailprice"]
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .filter(F.col("p_partkey") >= (n - 1) // 4 + 1)
        .limit(50)
        .collect()
    }
    for r in hi:
        if r["id"] in prices:
            assert r["total_cost_cents"] == round(prices[r["id"]] * 100)
            assert r["n_desc"] == 1


def test_record_linkage_recovers_every_planted_pair(spark, sf_dir):
    from beehive_spark.queries.relational import record_linkage_fs

    rows = record_linkage_fs(spark, sf_dir).collect()
    links = {
        (r["dirty_id"], r["clean_id"]) for r in rows if r["decision"] == "link"
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    planted = {
        (r["c_custkey"] + 10_000_000, r["c_custkey"])
        for r in cust.filter(F.col("c_custkey") % 10 == 0).collect()
    }
    # every planted dirty copy links back to its source (full recall on
    # truth), with the all-agree score 4000 + 2500 + 800
    assert planted <= links
    by_pair = {(r["dirty_id"], r["clean_id"]): r["score_milli"] for r in rows}
    assert all(by_pair[p] == 7300 for p in planted)
    # no self-pair is ever classified below link
    assert all(
        r["decision"] == "link"
        for r in rows
        if r["dirty_id"] - 10_000_000 == r["clean_id"]
    )
    # 'possible' pairs are genuine near-misses, never the planted truth
    possibles = {
        (r["dirty_id"], r["clean_id"])
        for r in rows
        if r["decision"] == "possible"
    }
    assert possibles.isdisjoint(planted)


def test_spark_div_matches_duckdb_intdiv_on_all_signs(spark):
    """Spark's registered `div` and DuckDB's `//` BOTH truncate toward
    zero — pinned here because 'fixing' the hash gates to floor
    semantics on the belief that DuckDB floors would break them on the
    first negative fixture."""
    import duckdb

    cases = [(-7, 10), (-17, 4), (7, 10), (17, 4), (-1, 10), (0, 3), (-20, 7)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = {
        (r["a"], r["b"]): r["q"]
        for r in df.select(
            "a", "b", F.call_function("div", F.col("a"), F.col("b")).alias("q")
        ).collect()
    }
    con = duckdb.connect()
    for a, b in cases:
        want = con.execute(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)
    # and NOT python floor semantics on negatives
    assert got[(-7, 10)] == 0 and (-7) // 10 == -1


def test_sssp_matches_dijkstra_on_random_graph(spark):
    import heapq
    import random

    from beehive_spark.operators.graph import sssp

    rng = random.Random(99)
    n = 200
    edges = []
    for _ in range(800):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edges.append((u, v, rng.randint(0, 20)))
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, ()):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    e_df = spark.createDataFrame(edges, "src long, dst long, w long")
    roots = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["dist"] for r in sssp(e_df, roots).collect()}
    assert got == dist and got
    # the big-graph branch (no broadcast hints, u-sorted edge layout)
    # must compute the identical distances — force it over the same
    # graph by zeroing the threshold (r11: the loop grew two
    # layout/strategy modes, mirroring pagerank's)
    smj = {
        r["id"]: r["dist"]
        for r in sssp(e_df, roots, broadcast_dist_rows=0).collect()
    }
    assert smj == dist


def test_sssp_rejects_negative_weights(spark):
    import pytest

    from beehive_spark.operators.graph import sssp

    e_df = spark.createDataFrame([(0, 1, -2)], "src long, dst long, w long")
    roots = spark.createDataFrame([(0,)], "id long")
    with pytest.raises(ValueError, match="non-negative"):
        sssp(e_df, roots)
