"""ML feature-prep and evaluation queries (``queries.ml``): planted
k-means recovery, leave-one-out and fold semantics, the split's
impurity gain and a python re-count of weight of evidence."""

import math
import os

import duckdb
import pytest

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


def test_decision_stump_beats_root_impurity(spark, sf_dir):
    """The best split's weighted Gini must not exceed the unsplit
    root impurity (splits can only refine) — a formula-level sanity
    property independent of the twin."""
    from beehive_spark.queries.ml import decision_stump_gini

    (n, pos) = duckdb.sql(
        f"SELECT COUNT(*), SUM(CASE WHEN l_returnflag='R' THEN 1 ELSE 0 END)"
        f" FROM '{sf_dir}/lineitem.parquet'"
    ).fetchone()
    pr = pos / n
    root = (1.0 - pr * pr - (1 - pr) * (1 - pr)) * 1_000_000
    best = min(
        r["gini_micro"] for r in decision_stump_gini(spark, sf_dir).collect()
    )
    assert best <= root + 1  # +1 for the micro-grid


def test_kmeans_planted_matches_numpy_lloyd(spark, sf_dir):
    import numpy as np

    from beehive_spark.queries.ml import kmeans_planted

    (n_cust,) = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/customer.parquet'"
    ).fetchone()
    ids = np.arange(n_cust, dtype=np.int64)
    c = ids % 3
    o1 = (ids // 3) % 7 - 3
    o2 = (ids // 3) % 5 - 2
    cx = np.select([c == 0, c == 1], [0, 1000000], 150000)
    cy = np.select([c == 0, c == 1], [0, 200000], 1000000)
    pts = np.stack([cx + o1 * 1000, cy + o2 * 1500], axis=1).astype(np.float64)
    cents = np.array(
        [[300000.0, 300000.0], [800000.0, 200000.0], [200000.0, 800000.0]]
    )
    for _ in range(3):
        d2 = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        sums = np.zeros((3, 2), dtype=np.int64)
        counts = np.zeros(3, dtype=np.int64)
        np.add.at(sums, assign, pts.astype(np.int64))
        np.add.at(counts, assign, 1)
        cents = sums / counts[:, None]
    want = {
        int(k): (
            int(counts[k]),
            int(sums[k, 0]) // int(counts[k]),  # sums positive: // == div
            int(sums[k, 1]) // int(counts[k]),
        )
        for k in range(3)
    }
    got = {
        r["cluster_id"]: (r["n_points"], r["cx_milli"], r["cy_milli"])
        for r in kmeans_planted(spark, sf_dir).collect()
    }
    assert got == want
    # the planted margin guarantees full recovery: cluster sizes are
    # exactly n/3 and every centroid sits within jitter of its center
    assert all(v[0] == n_cust // 3 for v in got.values())
    for k, (ctr_x, ctr_y) in enumerate([(0, 0), (1000000, 200000), (150000, 1000000)]):
        assert abs(got[k][1] - ctr_x) <= 3000
        assert abs(got[k][2] - ctr_y) <= 3000


@pytest.mark.slow
def test_purged_split_partitions_and_orders(spark):
    """Folds partition each user's events exactly; every train event
    precedes every purged event precedes every val event in the
    (ts, event_id) order; the purge gap is max(1, n//20)."""
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import time_series_split_purged

    out = time_series_split_purged(spark, SF)
    e = load(spark, SF, "events")
    assert out.count() == e.count()
    joined = out.join(e.select("event_id", "ts"), "event_id")
    per_user = {}
    for r in joined.collect():
        per_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["fold"])
        )
    order = {"train": 0, "purged": 1, "val": 2}
    for u, evs in per_user.items():
        evs.sort()
        n = len(evs)
        folds = [f for _, _, f in evs]
        assert folds == sorted(folds, key=order.__getitem__), f"user {u}"
        assert folds.count("train") == (7 * n) // 10
        if n > (7 * n) // 10:  # any events past the train cut
            want_purge = min(max(1, n // 20), n - (7 * n) // 10)
            assert folds.count("purged") == want_purge


@pytest.mark.slow
def test_target_encoding_excludes_own_label(spark):
    """The LOO property, brute-forced: each row's encoding equals the
    mean label of the OTHER members of its segment (micro-truncated),
    never the plain group mean when the two differ."""
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import feature_target_encoding

    got = {
        r["c_custkey"]: (r["segment"], r["label"], r["enc_micro"])
        for r in feature_target_encoding(spark, SF).collect()
    }
    rows = load(spark, SF, "customer").collect()
    seg_stats = {}
    for r in rows:
        lbl = 1 if r["c_acctbal"] > 0 else 0
        s = seg_stats.setdefault(r["c_mktsegment"], [0, 0])
        s[0] += lbl
        s[1] += 1
    checked_diff = 0
    for r in rows:
        seg = r["c_mktsegment"]
        pos, cnt = seg_stats[seg]
        if cnt <= 1:
            assert r["c_custkey"] not in got
            continue
        lbl = 1 if r["c_acctbal"] > 0 else 0
        want = (1_000_000 * (pos - lbl)) // (cnt - 1)
        assert got[r["c_custkey"]] == (seg, lbl, want)
        if (1_000_000 * pos) // cnt != want:
            checked_diff += 1
    assert checked_diff > 0  # LOO genuinely differed from the group mean


@pytest.mark.slow
def test_woe_iv_matches_python(spark):
    """WoE/IV against a from-scratch python fold; IV contributions are
    non-negative only when shares diverge in WoE's direction (they
    always are: (g-b) and ln(g/b) share a sign)."""
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import feature_woe_iv

    rows = load(spark, SF, "customer").collect()
    stats = {}
    for r in rows:
        lbl = 1 if r["c_acctbal"] > 0 else 0
        s = stats.setdefault(r["c_mktsegment"], [0, 0])
        s[lbl == 0] += 1  # s[0]=good, s[1]=bad
    tg = sum(v[0] for v in stats.values())
    tb = sum(v[1] for v in stats.values())
    got = {r["segment"]: r for r in feature_woe_iv(spark, SF).collect()}
    for seg, (g, b) in stats.items():
        if g == 0 or b == 0:
            assert seg not in got
            continue
        woe = math.log((g * tb) / (b * tg))
        r = got[seg]
        assert (r["n_good"], r["n_bad"]) == (g, b)
        assert r["woe_micro"] == round(woe * 1_000_000)
        assert r["iv_contrib_micro"] == round(
            (g / tg - b / tb) * woe * 1_000_000
        )
        assert r["iv_contrib_micro"] >= 0
