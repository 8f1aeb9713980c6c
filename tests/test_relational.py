"""Relational and time-series analytics (``queries.core``,
``queries.relational``) and the bloom semi-join operator.

Every registered query is compared with its DuckDB oracle by
``test_oracle_gate.py``; the tests here pin what that comparison
cannot see: conservation laws and score bounds both engines could get
wrong together, planted recall, behaviour on constructed inputs,
and the bloom filter's exactness, selectivity and key-type rules."""

import os

import duckdb
import pytest

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


def _milli(v: float) -> int:
    # round-half-away like F.round / DuckDB ROUND (python round is
    # half-even)
    import math

    return int(math.copysign(math.floor(abs(v * 1000) + 0.5), v))


def _series(sf_dir):
    """Per-user [(t_us, v_milli)] sorted by (t, v) — the engines' key."""
    rows = duckdb.sql(
        f"SELECT user_id, epoch_us(ts), value "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    by_user = {}
    for u, t, v in rows:
        by_user.setdefault(u, []).append((t, _milli(v)))
    for u in by_user:
        by_user[u].sort()
    return by_user


@pytest.mark.slow
def test_bloom_semi_join_exact_and_selective(spark):
    """The bloom pre-filter must (a) keep the result EXACTLY equal to
    the plain semi join and (b) actually prune: the pre-filtered fact
    row count sits near |matches| + ~1% false positives, far below
    the full fact."""
    from pyspark.sql import functions as F

    from beehive_spark.operators.bloom import (
        bloom_semi_join,
        build_bloom,
        might_contain,
    )

    fact = spark.range(20_000).select(F.col("id").alias("k"))
    dim = spark.range(300).select((F.col("id") * 50).alias("k"))  # 300 keys
    got = sorted(r["k"] for r in bloom_semi_join(fact, dim, "k").collect())
    want = sorted(
        r["k"] for r in fact.join(dim, "k", "left_semi").collect()
    )
    assert got == want and len(got) == 300
    # selectivity of the raw pre-filter
    bitmap = build_bloom(dim, "k")
    kept = fact.filter(might_contain(F.col("k"), bitmap, len(bitmap) * 64)).count()
    assert kept < 300 + 0.05 * 20_000  # matches + well under 5% fp


@pytest.mark.slow
def test_bloom_handles_fp_and_missing_keys(spark):
    from pyspark.sql import functions as F

    from beehive_spark.operators.bloom import bloom_semi_join

    fact = spark.createDataFrame([(i,) for i in range(50)], "k long")
    dim = spark.createDataFrame([(1,), (7,), (999,)], "k long")  # 999 unmatched
    got = sorted(r["k"] for r in bloom_semi_join(fact, dim, "k").collect())
    assert got == [1, 7]


@pytest.mark.slow
def test_bloom_mixed_integral_key_types_no_false_negatives(spark):
    """xxhash64 is type-sensitive: INT vs BIGINT keys hashed uncast
    turned every probe into a false negative —
    both sides must hash through a common cast."""
    from pyspark.sql import functions as F

    from beehive_spark.operators.bloom import bloom_semi_join

    fact = spark.createDataFrame(
        [(i,) for i in range(100)], "k int"  # INT fact keys
    )
    dim = spark.createDataFrame(
        [(i * 7,) for i in range(15)], "k long"  # BIGINT dim keys
    )
    got = sorted(r["k"] for r in bloom_semi_join(fact, dim, "k").collect())
    want = sorted(r["k"] for r in fact.join(dim, "k", "left_semi").collect())
    assert got == want and len(got) == 15


@pytest.mark.slow
def test_bloom_cross_family_key_types_raise(spark):
    import pytest as _pytest
    from beehive_spark.operators.bloom import bloom_semi_join

    fact = spark.createDataFrame([(1,)], "k int")
    dim = spark.createDataFrame([("1",)], "k string")
    with _pytest.raises(ValueError, match="type families"):
        bloom_semi_join(fact, dim, "k")


@pytest.mark.slow
def test_bloom_unaligned_m_bits(spark):
    """m_bits that is not a multiple of 64 must round the word array UP
    (a 15-word array for 1000 bits crashed at build)."""
    from beehive_spark.operators.bloom import bloom_semi_join

    fact = spark.createDataFrame([(i,) for i in range(50)], "k long")
    dim = spark.createDataFrame([(1,), (7,), (49,)], "k long")
    got = sorted(
        r["k"] for r in bloom_semi_join(fact, dim, "k", m_bits=1000).collect()
    )
    assert got == [1, 7, 49]


@pytest.mark.slow
def test_bloom_broadcast_bitmap_path_exact_and_no_cache_leak(spark):
    """Bitmaps past _INLINE_WORDS ship as a broadcast single-row
    array frame instead of a codegen-bloating literal — the result
    must stay exactly the plain semi join, and the operator must leave
    NOTHING persisted in the session cache."""
    from pyspark.sql import functions as F

    from beehive_spark.operators.bloom import _INLINE_WORDS, bloom_semi_join

    # scope the leak check to THIS operator: other suites may leave
    # documented caller-managed caches behind (fuzzy_join_names et
    # al.), so a global isEmpty assertion is order-dependent under the
    # full suite (it failed at 93% of tests/ and passed in isolation)
    spark.catalog.clearCache()
    fact = spark.range(5_000).select(F.col("id").alias("k"))
    dim = spark.createDataFrame([(i * 9,) for i in range(400)], "k long")
    big_m = (_INLINE_WORDS + 1) * 64 * 2  # forces the broadcast-data path
    out = bloom_semi_join(fact, dim, "k", m_bits=big_m)
    assert "__bloom_bits" not in out.columns
    got = sorted(r["k"] for r in out.collect())
    want = sorted(r["k"] for r in fact.join(dim, "k", "left_semi").collect())
    assert got == want
    # auto-sized (inline-literal) path: same leak check
    sorted(r["k"] for r in bloom_semi_join(fact, dim, "k").collect())
    jcache = spark._jsparkSession.sharedState().cacheManager()
    assert jcache.isEmpty(), "bloom_semi_join leaked a persisted frame"


def test_record_linkage_blocked_keeps_every_link(spark, sf_dir):
    """The stagger bound guarantees every true link survives blocking
    with an IDENTICAL score; the blocked output must also be a subset
    of the unblocked scored candidates (blocking only removes pairs,
    never invents or rescores them)."""
    from beehive_spark.queries.relational import (
        record_linkage_blocked,
        record_linkage_fs,
    )

    fs = {
        (r["dirty_id"], r["clean_id"]): (r["score_milli"], r["decision"])
        for r in record_linkage_fs(spark, sf_dir).collect()
    }
    bl = {
        (r["dirty_id"], r["clean_id"]): (r["score_milli"], r["decision"])
        for r in record_linkage_blocked(spark, sf_dir).collect()
    }
    links = {k: v for k, v in fs.items() if v[1] == "link"}
    assert links and all(bl.get(k) == v for k, v in links.items())
    assert set(bl) <= set(fs)
    n_dirty = sum(1 for (d, c) in links if d - 10_000_000 == c)
    assert n_dirty == len(links)  # every link is a true planted pair


def test_association_rules_confidence_direction_asymmetry(spark, sf_dir):
    """Directedness is the point of the operator: A=>B and B=>A share
    support and lift but divide by different antecedent counts, so at
    least one pair in the real corpus must show asymmetric
    confidence."""
    from beehive_spark.queries.relational import association_rules

    by_pair = {}
    for r in association_rules(spark, sf_dir).collect():
        key = tuple(sorted((r["antecedent"], r["consequent"])))
        by_pair.setdefault(key, []).append(r)
    assert all(len(v) == 2 for v in by_pair.values())
    assert any(
        v[0]["conf_ppm"] != v[1]["conf_ppm"] for v in by_pair.values()
    )
    assert all(
        v[0]["lift_ppm"] == v[1]["lift_ppm"] for v in by_pair.values()
    )


def test_rolling_median_kills_single_spikes(spark, sf_dir):
    """A median-filtered spike never exceeds the window's 3rd-largest
    raw value — the robustness property a rolling mean lacks."""
    from beehive_spark.queries.core import events_rolling_median

    by_user = _series(sf_dir)
    meds = events_rolling_median(spark, sf_dir)
    top = meds.agg({"med_milli": "max"}).first()[0]
    grand_max = max(v for pts in by_user.values() for _, v in pts)
    assert top < grand_max  # the global spike itself never survives


def test_cusum_level_shift_alarms_single_spike_does_not(spark):
    """Property on constructed series: a one-point spike drains back
    (no alarm); a sustained level shift integrates and alarms."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: flat at 10.0 with one +150 spike at i=10 — big enough to
    # lift S well off zero, below the h=150 milli-unit decision bar
    for i in range(40):
        v = 160.0 if i == 10 else 10.0
        rows.append((i, base + datetime.timedelta(seconds=i), 1, "t", v, "{}"))
    # user 2: 10.0 for 20 points then shifts to 110.0
    for i in range(40):
        v = 10.0 if i < 20 else 110.0
        rows.append(
            (100 + i, base + datetime.timedelta(seconds=i), 2, "t", v, "{}")
        )
    import os
    import tempfile

    from beehive_spark.queries.core import events_cusum_changepoint

    spark_df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark_df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in events_cusum_changepoint(spark, d).collect()
        }
    # user 1's spike raises S once, then the negative drift drains it
    assert out[1]["n_alarms"] == 0
    # user 2's shift (mean lands between the two levels) accumulates
    assert out[2]["n_alarms"] > 0
    assert out[2]["first_alarm_idx"] > 20


@pytest.mark.slow
def test_entity_resolution_recovers_planted_duplicates(spark, sf_dir):
    """Every planted dirty twin must resolve into its source's
    cluster: survivor = the source clean id, one dirty absorbed.
    (Chained clusters — a dirty record linking two near-identical
    cleans — are possible by construction and checked structurally.)"""
    from beehive_spark.queries.relational import entity_resolution_pipeline

    rows = entity_resolution_pipeline(spark, sf_dir).collect()
    assert len(rows) > 0
    total_dirty = sum(r["n_dirty"] for r in rows)
    (n_cust,) = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/customer.parquet'"
    ).fetchone()
    # every planted twin (0-based ids with id % 10 == 0) is
    # confidently linked and appears in exactly one cluster
    assert total_dirty == len([i for i in range(n_cust) if i % 10 == 0])
    for r in rows:
        # a cluster always keeps a clean survivor and absorbs >= 1
        # dirty, and holds at least one clean member
        assert r["survivor_id"] is not None
        assert r["survivor_id"] < 10_000_000
        assert r["n_dirty"] >= 1
        assert r["n_members"] > r["n_dirty"]
        # the survivor is the cluster representative (min node id is
        # always a clean id — dirty ids are offset by 10M)
        assert r["cluster_id"] == r["survivor_id"]


@pytest.mark.slow
def test_exact_quantiles_selection_is_bucket_exact_at_tiny_bucket_count(
    spark, sf_dir
):
    """With n_buckets=2 the bands are huge and the refinement pass does
    almost all the work — the selection must stay exact (guards the
    prefix arithmetic at the bucket boundary)."""
    from beehive_spark.queries.core import lineitem_exact_quantiles

    a = {
        r["quantile"]: r["value_cents"]
        for r in lineitem_exact_quantiles(spark, sf_dir).collect()
    }
    b = {
        r["quantile"]: r["value_cents"]
        for r in lineitem_exact_quantiles(spark, sf_dir, n_buckets=2).collect()
    }
    assert a == b


@pytest.mark.slow
def test_sequence_mining_finds_gapped_not_reversed(spark):
    """The subsequence semantics, planted: a pattern embedded with
    gaps (other types interleaved) IS supported; the reversed pattern
    with no valid ordering is NOT; adjacency-only logic would miss the
    gapped one."""
    import datetime as dt
    import os
    import tempfile

    from beehive_spark.queries.core import sequence_mining_triples

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1)
    seq = ["view", "error", "click", "error", "purchase"]  # gapped v->c->p
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, typ, 0.0, "{}")
        for i, typ in enumerate(seq)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(os.path.join(tmp, "events.parquet"))
    got = {
        (r["a"], r["b"], r["c"]): r["support"]
        for r in sequence_mining_triples(spark, tmp).collect()
    }
    assert got[("view", "click", "purchase")] == 1  # gapped embedding found
    assert ("purchase", "click", "view") not in got  # no reversed embedding
    assert got[("view", "error", "error")] == 1  # repeated type handled
    assert ("purchase", "purchase", "purchase") not in got  # needs 3 occurrences


@pytest.mark.slow
def test_ab_test_z_sign_and_degenerate_guard(spark):
    """Planted experiments: more conversions in variant B gives z > 0,
    swapping the variants flips the sign exactly, and an all-convert
    corpus reports NULL z (no sampling variance) instead of raising."""
    import datetime as dt
    import os
    import tempfile

    from beehive_spark.queries.core import ab_test_conversion

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def corpus(b_heavy, all_convert=False):
        rows, eid = [], 0
        for u in range(40):
            # converted iff >= 14 purchases
            n = 20 if (
                all_convert
                or (u % 2 == (1 if b_heavy else 0) and u < 30)
                or u >= 36
            ) else 3
            for i in range(n):
                rows.append(
                    (eid, t0 + dt.timedelta(minutes=eid), u, "purchase",
                     1.0, "{}")
                )
                eid += 1
        return rows

    def run(rows):
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(tmp, "events.parquet")
        )
        return ab_test_conversion(spark, tmp).collect()[0]

    rb = run(corpus(b_heavy=True))
    ra = run(corpus(b_heavy=False))
    assert rb["z_milli"] > 0 and ra["z_milli"] < 0
    assert rb["z_milli"] == -ra["z_milli"]  # the design is symmetric
    assert (rb["c_a"], rb["c_b"]) == (ra["c_b"], ra["c_a"])

    rz = run(corpus(b_heavy=True, all_convert=True))
    assert rz["z_milli"] is None  # degenerate: no variance, no z
    assert rz["rate_a_ppm"] == rz["rate_b_ppm"] == 1_000_000
