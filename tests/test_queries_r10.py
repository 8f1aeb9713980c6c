"""Property pins for attribution, CUPED, survival, calibration, Zipf,
retrieval, assortativity, burstiness, path signatures and quantile
normalisation — brute-force micro-oracles and invariants the
differential gate cannot express (the gate proves cross-engine
equality; these prove the semantics are the ones the docstrings
claim)."""

import math
import os

from pyspark.sql import functions as F

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


def test_linear_attribution_matches_bruteforce_and_conserves_credit(spark):
    """Per-channel credits equal the per-purchase path walk computed
    in Python, and total conversion credit is EXACTLY the purchase
    count (linear attribution conserves credit by construction)."""
    from beehive_spark.queries import load
    from beehive_spark.queries.core import attribution_linear_multitouch

    rows = (
        load(spark, SF, "events")
        .select("user_id", "event_type", "ts", "event_id", "value")
        .collect()
    )
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    want = {
        "click": [0.0, 0.0],
        "view": [0.0, 0.0],
        "none": [0.0, 0.0],
    }
    n_purchases = 0
    for evs in per_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        kc = kv = 0
        for r in evs:
            if r["event_type"] == "purchase":
                n_purchases += 1
                cents = round(r["value"] * 100)
                k = kc + kv
                if k == 0:
                    want["none"][0] += 1
                    want["none"][1] += cents
                else:
                    want["click"][0] += kc / k
                    want["click"][1] += kc / k * cents
                    want["view"][0] += kv / k
                    want["view"][1] += kv / k * cents
            elif r["event_type"] == "click":
                kc += 1
            elif r["event_type"] == "view":
                kv += 1
    got = {
        r["channel"]: (r["conv_credit_micro"], r["rev_credit_cents"])
        for r in attribution_linear_multitouch(spark, SF).collect()
    }
    assert set(got) == {"click", "view", "none"}
    for ch, (conv, rev) in want.items():
        assert abs(got[ch][0] - round(conv * 1_000_000)) <= 1, ch
        assert abs(got[ch][1] - round(rev)) <= 1, ch
    # conservation: credits sum to the purchase count exactly
    assert (
        abs(sum(g[0] for g in got.values()) - n_purchases * 1_000_000) <= 2
    )


def test_cuped_preserves_pooled_mean_and_reduces_variance(spark):
    """The CUPED adjustment is mean-preserving over the pooled
    population (sum of theta*(x - mean x) is zero by definition) and
    theta matches the numpy moment computation."""
    import numpy as np

    from beehive_spark.queries import load
    from beehive_spark.queries.core import conversion_cuped

    out = {r["variant"]: r for r in conversion_cuped(spark, SF).collect()}
    assert set(out) == {0, 1}
    # recompute x, y per user in Python
    e = load(spark, SF, "events").select("user_id", "event_type", "ts")
    rows = e.withColumn("us", F.unix_micros("ts")).collect()
    lo = min(r["us"] for r in rows)
    hi = max(r["us"] for r in rows)
    mid = lo + (hi - lo) // 2
    xy = {}
    for r in rows:
        x, y = xy.setdefault(r["user_id"], [0, 0])
        if r["event_type"] == "purchase":
            if r["us"] <= mid:
                xy[r["user_id"]][0] += 1
            else:
                xy[r["user_id"]][1] += 1
    xs = np.array([v[0] for v in xy.values()], dtype=float)
    ys = np.array([v[1] for v in xy.values()], dtype=float)
    n = len(xs)
    theta = (
        (n * (xs * ys).sum() - xs.sum() * ys.sum())
        / (n * (xs * xs).sum() - xs.sum() ** 2)
    )
    assert abs(out[0]["theta_micro"] - round(theta * 1_000_000)) <= 1
    # pooled adjusted mean == pooled raw mean (weighted by n_users)
    pooled_raw = sum(r["n_users"] * r["mean_y_milli"] for r in out.values())
    pooled_adj = sum(
        r["n_users"] * r["mean_y_cuped_milli"] for r in out.values()
    )
    tot = sum(r["n_users"] for r in out.values())
    assert abs(pooled_raw - pooled_adj) <= tot  # <= 1 milli per user
    # CUPED's guarantee is VARIANCE reduction (theta is the OLS
    # minimizer of var(y - theta x), so in-sample var(y_adj) <=
    # var(y) identically — NOT a smaller point-estimate gap, which
    # tiny samples can widen); pin the variance identity in numpy
    y_adj = ys - theta * (xs - xs.mean())
    assert y_adj.var() <= ys.var() + 1e-12
    assert abs(y_adj.mean() - ys.mean()) < 1e-9


def test_kaplan_meier_matches_bruteforce(spark):
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import (
        _KM_CENSOR_GAP_US,
        _US_PER_HOUR,
        survival_kaplan_meier,
    )

    rows = (
        load(spark, SF, "events")
        .select("user_id", F.unix_micros("ts").alias("us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
        .collect()
    )
    end = max(r["l"] for r in rows)
    subj = [
        (
            (r["l"] - r["f"]) // _US_PER_HOUR,
            1 if r["l"] < end - _KM_CENSOR_GAP_US else 0,
        )
        for r in rows
    ]
    times = sorted({t for t, c in subj if c == 1})
    want = []
    surv = 1.0
    for t in times:
        n_risk = sum(1 for d, _ in subj if d >= t)
        d_t = sum(1 for d, c in subj if d == t and c == 1)
        surv *= 1.0 - d_t / n_risk
        want.append((t, n_risk, d_t, round(surv * 1_000_000)))
    got = [
        (r["t_hours"], r["n_risk"], r["n_churned"], r["surv_micro"])
        for r in survival_kaplan_meier(spark, SF)
        .orderBy("t_hours")
        .collect()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) <= 1
    # survival is monotone non-increasing
    survs = [g[3] for g in got]
    assert survs == sorted(survs, reverse=True)


def test_calibration_ece_matches_bruteforce(spark):
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import model_calibration_ece

    o = load(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    bins = {}
    for r in o:
        s = r["o_orderkey"] % 1000
        label = 1 if (round(r["o_totalprice"] * 100) % 1000) < s else 0
        b = s * 10 // 1000
        n, ss, pos = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, ss + s, pos + label)
    total = sum(v[0] for v in bins.values())
    got = {r["bin"]: r for r in model_calibration_ece(spark, SF).collect()}
    assert set(got) == set(bins)
    for b, (n, ss, pos) in bins.items():
        r = got[b]
        assert r["n"] == n
        assert abs(r["conf_micro"] - round(ss / n * 1000)) <= 1
        assert abs(r["acc_micro"] - round(pos / n * 1_000_000)) <= 1
        contrib = n / total * abs(pos / n - ss / n / 1000) * 1_000_000
        assert abs(r["ece_contrib_micro"] - round(contrib)) <= 1
    # the synthetic scorer is calibrated by construction: ECE under 10%
    ece = sum(r["ece_contrib_micro"] for r in got.values())
    assert ece < 100_000


def test_zipf_slope_matches_numpy_polyfit(spark):
    import numpy as np

    from beehive_spark.queries import load
    from beehive_spark.queries.llm import _tokens, text_zipf_slope

    freqs = (
        load(spark, SF, "documents")
        .select(F.explode(_tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.col("count").desc(), "t")
        .limit(1000)
        .collect()
    )
    y = np.log([r["count"] for r in freqs])
    x = np.log(np.arange(1, len(freqs) + 1, dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    r = text_zipf_slope(spark, SF).collect()[0]
    assert r["n_ranked"] == len(freqs)
    assert abs(r["slope_micro"] - round(slope * 1_000_000)) <= 2
    assert abs(r["intercept_micro"] - round(intercept * 1_000_000)) <= 2
    # a frequency spectrum always slopes down; the sf0.001 synthetic
    # corpus is flat-ish (~-0.18), real text sits near -1
    assert r["slope_micro"] < 0


def test_retrieval_ndcg_matches_bruteforce(spark):
    from beehive_spark.queries.llm import (
        _NDCG_K,
        _bm25_doc_scores,
        retrieval_ndcg,
    )

    docs = [
        (r["doc_id"], r["n_terms"], r["score_micro"])
        for r in _bm25_doc_scores(spark, SF).collect()
    ]

    def dcg(rels):
        return sum(
            (2**rel - 1) / (math.log(r + 2) / math.log(2))
            for r, rel in enumerate(rels)
        )

    ranked = sorted(docs, key=lambda d: (-d[2], d[0]))[:_NDCG_K]
    ideal = sorted(docs, key=lambda d: (-d[1], d[0]))[:_NDCG_K]
    want_dcg = dcg([d[1] for d in ranked])
    want_idcg = dcg([d[1] for d in ideal])
    r = retrieval_ndcg(spark, SF).collect()[0]
    assert r["k"] == _NDCG_K
    assert abs(r["dcg_micro"] - round(want_dcg * 1_000_000)) <= 1
    assert abs(r["idcg_micro"] - round(want_idcg * 1_000_000)) <= 1
    assert (
        abs(r["ndcg_micro"] - round(want_dcg / want_idcg * 1_000_000)) <= 1
    )
    assert 0 < r["ndcg_micro"] <= 1_000_000


def test_assortativity_matches_networkx_free_bruteforce(spark):
    """Newman r recomputed from the collected edge list in Python;
    coefficient bounded in [-1, 1]."""
    from beehive_spark.queries.relational import (
        copurchase_pairs,
        graph_degree_assortativity,
    )
    from beehive_spark.queries import load

    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    edges = {
        (r["pa"], r["pb"])
        for r in copurchase_pairs(li).distinct().collect()
    }
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = []
    for a, b in edges:
        xs.append((deg[a], deg[b]))
        xs.append((deg[b], deg[a]))
    m = len(xs)
    sx = sum(x for x, _ in xs)
    sxx = sum(x * x for x, _ in xs)
    sxy = sum(x * y for x, y in xs)
    want = (m * sxy - sx * sx) / (m * sxx - sx * sx)
    r = graph_degree_assortativity(spark, SF).collect()[0]
    assert r["n_nodes"] == len(deg)
    assert r["n_edges"] == len(edges)
    assert abs(r["assortativity_micro"] - round(want * 1_000_000)) <= 1
    assert -1_000_000 <= r["assortativity_micro"] <= 1_000_000


def test_burstiness_matches_bruteforce(spark):
    """Fano factors recomputed from raw per-doc counts; the head is
    the df-ordered top and every factor is positive."""
    from collections import Counter

    from beehive_spark.queries import load
    from beehive_spark.queries.llm import _BURST_TOP, text_burstiness
    import re as _re

    docs = load(spark, SF, "documents").select("doc_id", "text").collect()
    n_docs = len(docs)
    per_term = {}
    for r in docs:
        for t, c in Counter(
            _re.findall(r"[a-z0-9]+", r["text"].lower())
        ).items():
            df, tot, sq = per_term.get(t, (0, 0, 0))
            per_term[t] = (df + 1, tot + c, sq + c * c)
    top = sorted(per_term.items(), key=lambda kv: (-kv[1][0], kv[0]))[
        :_BURST_TOP
    ]
    got = {
        r["term"]: (r["df"], r["total"], r["fano_micro"])
        for r in text_burstiness(spark, SF).collect()
    }
    assert set(got) == {t for t, _ in top}
    for t, (df, tot, sq) in top:
        mean = tot / n_docs
        fano = (sq / n_docs - mean * mean) / mean
        assert got[t][0] == df and got[t][1] == tot
        assert abs(got[t][2] - round(fano * 1_000_000)) <= 1
        assert got[t][2] > 0


def test_path_signatures_matches_bruteforce(spark):
    from collections import Counter

    from beehive_spark.queries import load
    from beehive_spark.queries.core import (
        _PATH_LEN,
        _PATH_TOP,
        user_path_signatures,
    )

    rows = (
        load(spark, SF, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    paths = Counter()
    for evs in per_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        paths[">".join(r["event_type"] for r in evs[:_PATH_LEN])] += 1
    want = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:_PATH_TOP]
    got = [
        (r["path"], r["n_users"])
        for r in user_path_signatures(spark, SF).collect()
    ]
    assert got == want


def test_quantile_normalize_map_properties(spark):
    """Equal-count buckets per feature; per-bucket target is the
    cross-feature mean of bucket means; feature means are monotone in
    the bucket index (rank buckets sort values)."""
    from beehive_spark.queries.ml import (
        _QN_BUCKETS,
        feature_quantile_normalize,
    )

    rows = feature_quantile_normalize(spark, SF).collect()
    by_feat = {}
    by_bucket = {}
    for r in rows:
        by_feat.setdefault(r["feature"], []).append(r)
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_feat) == {"quantity", "extendedprice", "discount"}
    for feat, rs in by_feat.items():
        assert len(rs) == _QN_BUCKETS
        # NTILE balance: bucket sizes differ by at most 1
        sizes = {r["n"] for r in rs}
        assert max(sizes) - min(sizes) <= 1, feat
        # monotone means over the bucket index
        means = [r["mean_milli"] for r in sorted(rs, key=lambda r: r["bucket"])]
        assert means == sorted(means), feat
    for b, rs in by_bucket.items():
        target = sum(r["mean_milli"] for r in rs) / len(rs)
        for r in rs:
            assert abs(r["target_milli"] - target) <= 2, b
