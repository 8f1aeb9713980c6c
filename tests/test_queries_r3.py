"""Semantic invariants for the relational, curation and point-in-time
queries (``queries.core``, ``queries.curation``).

Every registered query is compared with its DuckDB oracle by
``test_oracle_gate.py``; these tests pin properties that both engines
could get wrong together: conservation laws, permutation and balance
properties, and score bounds."""

from collections import Counter

from pyspark.sql import functions as F

from beehive_spark.queries import load


def test_gap_fill_densifies_and_conserves_counts(spark, sf_dir, qs):
    rows = qs["events_gap_fill"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    # conservation: filled counts sum to the raw event count
    assert sum(r["n"] for r in rows) == e.count()
    # densification: the grid is |types| x |hours| with real zero holes
    types = {r["event_type"] for r in rows}
    hours = {r["hr"] for r in rows}
    assert len(rows) == len(types) * len(hours)
    assert any(r["n"] == 0 for r in rows)
    # ffill: carried_n equals n wherever n > 0
    assert all(r["carried_n"] == r["n"] for r in rows if r["n"] > 0)


def test_rfm_scores_bounded_and_recency_inverted(spark, sf_dir, qs):
    rows = qs["orders_rfm_segments"](spark, sf_dir).collect()
    assert all(
        1 <= r["r_score"] <= 5 and 1 <= r["f_score"] <= 5 and 1 <= r["m_score"] <= 5
        for r in rows
    )
    freshest = min(r["recency_days"] for r in rows)
    assert all(r["r_score"] == 5 for r in rows if r["recency_days"] == freshest)
    stalest = max(r["recency_days"] for r in rows)
    assert all(r["r_score"] == 1 for r in rows if r["recency_days"] == stalest)


def test_attribution_conserves_purchases(spark, sf_dir, qs):
    rows = qs["session_attribution"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    n_purchases = e.filter(F.col("event_type") == "purchase").count()
    assert sum(r["n_purchases"] for r in rows) == n_purchases
    by = {r["touch_type"]: r for r in rows}
    assert set(by) <= {"click", "view", "none"}
    if "none" in by:  # unattributed rows carry no touch id
        assert by["none"]["n_attributed"] == 0


def test_interleave_is_balanced_permutation(spark, sf_dir, qs):
    rows = sorted(
        (r["interleave_pos"], r["source"])
        for r in qs["dataset_interleave"](spark, sf_dir).collect()
    )
    assert [p for p, _ in rows] == list(range(len(rows)))
    # strict round-robin: every prefix is balanced within 1 per source
    for cut in (50, 200, len(rows)):
        c = Counter(s for _, s in rows[:cut])
        assert max(c.values()) - min(c.values()) <= 1, (cut, c)


def test_split_manifest_fractions_and_conservation(spark, sf_dir, qs):
    rows = qs["dataset_split_manifest"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()
    total = sum(r["n_docs"] for r in rows)
    train = sum(r["n_docs"] for r in rows if r["split"] == "train")
    assert 0.8 < train / total < 0.97


def test_bigram_probabilities_sum_within_head(spark, sf_dir, qs):
    rows = qs["bigram_next_word"](spark, sf_dir).collect()
    assert rows and len({r["w1"] for r in rows}) <= 20
    for r in rows:
        assert 0 < r["p_next"] <= 1
        assert r["n_pair"] <= r["n_head"]


def test_revenue_concentration_shares_sum_to_one(spark, sf_dir, qs):
    rows = qs["revenue_concentration"](spark, sf_dir).collect()
    assert abs(sum(r["revenue_share"] for r in rows) - 1.0) < 0.01
    by = {r["decile"]: r for r in rows}
    assert by[max(by)]["revenue_share"] > by[min(by)]["revenue_share"]
    o = load(spark, sf_dir, "orders")
    assert sum(r["n_customers"] for r in rows) == (
        o.select("o_custkey").distinct().count()
    )


def test_brand_affinity_support_and_lift_consistent(spark, sf_dir, qs):
    rows = qs["brand_affinity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["brand_a"] < r["brand_b"]
        assert 0 < r["support"] <= 1 and r["lift"] > 0


def test_dwell_time_gap_conservation(spark, sf_dir, qs):
    rows = qs["events_dwell_time"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    assert sum(r["n_gaps"] for r in rows) == (
        e.count() - e.select("user_id").distinct().count()
    )
    assert all(r["total_dwell_us"] >= 0 for r in rows)


def test_seasonality_index_weighted_mean_is_one(spark, sf_dir, qs):
    rows = qs["orders_seasonality"](spark, sf_dir).collect()
    assert sorted(r["month_of_year"] for r in rows) == list(range(1, 13))
    wmean = sum(r["seasonal_index"] * r["n_months"] for r in rows) / sum(
        r["n_months"] for r in rows
    )
    assert abs(wmean - 1.0) < 0.01


def test_ltv_conserves_purchase_cents(spark, sf_dir, qs):
    rows = qs["user_ltv_cohort"](spark, sf_dir).collect()
    e = load(spark, sf_dir, "events")
    want = (
        e.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .first()["c"]
    )
    assert round(sum(r["revenue"] for r in rows) * 100) == want
    assert all(r["week_age"] >= 0 for r in rows)


def test_corpus_overlap_full_matrix_and_bounds(spark, sf_dir, qs):
    rows = qs["cross_corpus_overlap"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    k = d.select("source").distinct().count()
    assert len(rows) == k * (k - 1) // 2
    assert all(0 <= r["jaccard"] <= 1 for r in rows)


def test_length_outliers_all_beyond_cut(spark, sf_dir, qs):
    rows = qs["doc_length_outliers"](spark, sf_dir).collect()
    assert rows and all(abs(r["robust_z"]) > 1.5 for r in rows)


def test_prefix_clusters_sizes(spark, sf_dir, qs):
    rows = qs["doc_prefix_clusters"](spark, sf_dir).collect()
    assert rows and all(r["n_docs"] >= 2 and r["n_sources"] >= 1 for r in rows)


def test_point_in_time_state_is_a_true_snapshot(spark, sf_dir, qs):
    """The AS OF result must equal a brute-force per-user replay of the
    event log up to the same cutoff."""
    rows = {r["user_id"]: r
            for r in qs["point_in_time_state"](spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events").collect()
    us = sorted(r["ts"] for r in e)
    import datetime
    lo, hi = us[0], us[-1]
    cutoff = lo + (hi - lo) / 2
    replay = {}
    for r in e:
        if r["ts"] <= cutoff:
            cur = replay.setdefault(r["user_id"], {"n": 0, "last": None})
            cur["n"] += 1
            key = (r["ts"], r["event_id"])
            if cur["last"] is None or key > (cur["last"]["ts"], cur["last"]["event_id"]):
                cur["last"] = r
    assert set(rows) == set(replay)
    for uid, st in replay.items():
        got = rows[uid]
        assert got["n_events"] == st["n"]
        assert got["last_event_ts"] == st["last"]["ts"]
        assert got["last_event_type"] == st["last"]["event_type"]
