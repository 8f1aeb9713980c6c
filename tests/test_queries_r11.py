"""Property pins for winsorizing, banded selection, readability, Benford,
entropy, hash crossing, Gini, l-diversity, Poisson bootstrap,
count-min and ROC AUC — brute-force micro-oracles and invariants the
differential gate cannot express (the gate proves cross-engine
equality; these prove the semantics are the ones the docstrings
claim)."""

import math
import os
import re

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


def _feature_values(spark):
    from beehive_spark.queries import load

    rows = load(spark, SF, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    ).collect()
    return {
        "quantity": sorted(int(r["l_quantity"]) * 100 for r in rows),
        "extendedprice": sorted(
            int(round(r["l_extendedprice"] * 100)) for r in rows
        ),
        "discount": sorted(
            int(round(r["l_discount"] * 10000)) for r in rows
        ),
    }


def test_winsorize_matches_bruteforce_sorted_clip(spark):
    """Bounds, tail counts and the post-clip mean all equal the
    Python sorted-list computation (k = ceil(q*n) lower-quantile
    selection, symmetric p1/p99)."""
    from beehive_spark.queries.ml import _WINSOR_PCT, feature_winsorize_clip

    vals = _feature_values(spark)
    got = {
        r["feature"]: r for r in feature_winsorize_clip(spark, SF).collect()
    }
    assert set(got) == set(vals)
    for feat, xs in vals.items():
        n = len(xs)
        k_lo = (_WINSOR_PCT * n + 99) // 100
        k_hi = ((100 - _WINSOR_PCT) * n + 99) // 100
        lo, hi = xs[k_lo - 1], xs[k_hi - 1]
        clipped = [min(max(x, lo), hi) for x in xs]
        r = got[feat]
        assert r["n"] == n
        assert (r["lo_cents"], r["hi_cents"]) == (lo, hi), feat
        assert r["n_clip_lo"] == sum(1 for x in xs if x < lo), feat
        assert r["n_clip_hi"] == sum(1 for x in xs if x > hi), feat
        assert r["mean_clip_milli"] == round(sum(clipped) / n * 10), feat


def test_banded_selection_prefix_and_value_algebra(spark):
    """The shared primitive's rank/value/threshold answers equal the
    sorted-list ground truth at every probed rank, including band
    edges and heavy-tie values (discount has ~11 distinct values)."""
    from beehive_spark.queries.ml import (
        _BandedSelection,
        _lineitem_feature_frame,
    )

    vals = _feature_values(spark)
    sel = _BandedSelection(_lineitem_feature_frame(spark, SF), n_bands=64)
    probes = {}
    for feat, xs in vals.items():
        n = len(xs)
        probes[feat] = sorted(
            {1, 2, n // 3, n // 2, (2 * n) // 3, n - 1, n}
        )
    need = {
        feat: {
            b
            for r in rs
            if (b := sel.band_of_rank(feat, r)) is not None
        }
        for feat, rs in probes.items()
    }
    sel.refine(need)
    for feat, xs in vals.items():
        n, total = sel.totals[feat]
        assert (n, total) == (len(xs), sum(xs))
        for r in probes[feat]:
            assert sel.prefix_sum(feat, r) == sum(xs[:r]), (feat, r)
            assert sel.value_at(feat, r) == xs[r - 1], (feat, r)
        v0 = xs[len(xs) // 2]  # a heavy tie for discount
        lt = [x for x in xs if x < v0]
        le = [x for x in xs if x <= v0]
        assert sel.below(feat, v0, inclusive=False) == (len(lt), sum(lt))
        assert sel.below(feat, v0, inclusive=True) == (len(le), sum(le))


def test_readability_matches_python_regexes(spark):
    """Per-doc word/sentence/syllable counts and the Flesch score
    equal the identical Python regex computation."""
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import (
        _FLESCH_BASE,
        _FLESCH_SPW,
        _FLESCH_WPS,
        text_readability,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
    }
    got = {r["doc_id"]: r for r in text_readability(spark, SF).collect()}
    n_checked = 0
    for doc_id, text in docs.items():
        toks = re.findall(r"[a-z0-9]+", (text or "").lower())
        sents = max(1, len(re.findall(r"[.!?]+", text or "")))
        if not toks:
            assert doc_id not in got
            continue
        syl = sum(
            max(1, len(re.findall(r"[aeiouy]+", w))) for w in toks
        )
        r = got[doc_id]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            len(toks),
            sents,
            syl,
        )
        score = (
            _FLESCH_BASE
            - _FLESCH_WPS * (len(toks) / sents)
            - _FLESCH_SPW * (syl / len(toks))
        )
        assert abs(r["flesch_micro"] - score * 1_000_000) <= 1
        n_checked += 1
    assert n_checked == len(got)


def test_benford_shares_and_chi2(spark):
    """Digit counts equal the string-prefix computation; observed
    shares sum to ~1; expectations are the Benford masses (which sum
    to exactly 1); chi-square contributions are non-negative."""
    from beehive_spark.queries import load
    from beehive_spark.queries.core import orders_benford_audit

    cents = [
        int(round(r["o_totalprice"] * 100))
        for r in load(spark, SF, "orders").collect()
        if r["o_totalprice"] > 0
    ]
    want = {}
    for c in cents:
        d = int(str(c)[0])
        want[d] = want.get(d, 0) + 1
    rows = orders_benford_audit(spark, SF).collect()
    assert {r["digit"]: r["n"] for r in rows} == want
    assert abs(sum(r["observed_micro"] for r in rows) - 1_000_000) <= len(rows)
    for r in rows:
        assert r["expected_micro"] == round(
            math.log10(1 + 1 / r["digit"]) * 1_000_000
        )
        assert r["chi2_micro"] >= 0


def test_user_entropy_bounds_and_bruteforce(spark):
    """Entropy equals the Python per-type-contribution sum, is 0 for
    single-type users, and never exceeds ln(n_types) (+ rounding
    slack)."""
    from beehive_spark.queries import load
    from beehive_spark.queries.core import events_user_entropy

    per_user = {}
    for r in load(spark, SF, "events").select(
        "user_id", "event_type"
    ).collect():
        per_user.setdefault(r["user_id"], {}).setdefault(
            r["event_type"], 0
        )
        per_user[r["user_id"]][r["event_type"]] += 1
    got = {r["user_id"]: r for r in events_user_entropy(spark, SF).collect()}
    assert set(got) == set(per_user)
    for u, counts in per_user.items():
        n = sum(counts.values())
        want = sum(
            round(-(c / n) * math.log(c / n) * 1_000_000)
            for c in counts.values()
        )
        r = got[u]
        assert (r["n_events"], r["n_types"]) == (n, len(counts))
        assert r["entropy_micro"] == want
        if len(counts) == 1:
            assert r["entropy_micro"] == 0
        assert r["entropy_micro"] <= math.log(len(counts)) * 1_000_000 + len(
            counts
        )


def test_hash_cross_fixed_width_and_mass_conservation(spark):
    """Bucket ids stay inside the fixed width, every customer row's
    mass lands in exactly one bucket, and |signed_sum| per bucket is
    bounded by its row mass (signs are +-1)."""
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import (
        _HASH_CROSS_BUCKETS,
        feature_hash_cross,
    )

    n_customers = load(spark, SF, "customer").count()
    rows = feature_hash_cross(spark, SF).collect()
    assert all(0 <= r["bucket"] < _HASH_CROSS_BUCKETS for r in rows)
    assert sum(r["n_rows"] for r in rows) == n_customers
    for r in rows:
        assert abs(r["signed_sum"]) <= r["n_rows"]
        assert 1 <= r["n_crosses"] <= r["n_rows"]


def test_supplier_gini_matches_bruteforce(spark):
    """Gini and the top-decile share equal the Python sorted-rank
    computation over per-supplier revenue cents."""
    from beehive_spark.queries import load
    from beehive_spark.queries.core import supplier_gini

    rev = {}
    for r in load(spark, SF, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    ).collect():
        # HALF_UP like Spark/DuckDB ROUND (Python round() is banker's,
        # and discounted cents hit real .5 halves)
        c = math.floor(
            r["l_extendedprice"] * (1 - r["l_discount"]) * 100 + 0.5
        )
        rev[r["l_suppkey"]] = rev.get(r["l_suppkey"], 0) + c
    xs = [c for _, c in sorted(rev.items(), key=lambda kv: (kv[1], kv[0]))]
    n, s0 = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    gini = 2.0 * s1 / (n * s0) - (n + 1.0) / n
    top = sum(xs[n - (n + 9) // 10 :])
    r = supplier_gini(spark, SF).collect()[0]
    assert (r["n_suppliers"], r["total_cents"]) == (n, s0)
    assert r["gini_micro"] == round(gini * 1_000_000)
    assert r["top_decile_share_micro"] == round(top / s0 * 1_000_000)
    assert 0 <= r["gini_micro"] <= 1_000_000


def test_l_diversity_matches_bruteforce(spark):
    """Group sizes, distinct-l, entropy and risk flags equal the
    Python computation over the banded sensitive attribute."""
    from beehive_spark.queries import load
    from beehive_spark.queries.curation import (
        _LDIV_L,
        _LDIV_MID_CENTS,
        l_diversity_audit,
    )

    groups = {}
    for r in load(spark, SF, "customer").collect():
        cents = round(r["c_acctbal"] * 100)
        sens = (
            "debt" if cents < 0 else "mid" if cents < _LDIV_MID_CENTS
            else "high"
        )
        g = groups.setdefault((r["c_nationkey"], r["c_mktsegment"]), {})
        g[sens] = g.get(sens, 0) + 1
    got = {
        (r["nationkey"], r["segment"]): r
        for r in l_diversity_audit(spark, SF).collect()
    }
    assert set(got) == set(groups)
    for key, counts in groups.items():
        n = sum(counts.values())
        want_h = sum(
            round(-(c / n) * math.log(c / n) * 1_000_000)
            for c in counts.values()
        )
        r = got[key]
        assert (r["group_size"], r["distinct_l"]) == (n, len(counts))
        assert r["entropy_l_micro"] == want_h
        assert r["at_risk"] == (len(counts) < _LDIV_L)


def _md5_u32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_poisson_bootstrap_matches_bruteforce(spark):
    """The whole readout — replicate weights, micro-rounded replicate
    means, ceiling-rank order statistics — equals a hashlib/Python
    recomputation from the raw parquet, and the 95% CI brackets the
    point mean on this data."""
    from beehive_spark.queries import load
    from beehive_spark.queries.core import (
        _BOOT_B,
        _BOOT_HI_I,
        _BOOT_LO_I,
        _POIS1_CDF,
        poisson_bootstrap_ci,
    )

    rows = load(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    cents = {
        str(r["o_orderkey"]): int(round(r["o_totalprice"] * 100))
        for r in rows
    }

    def pois_w(u: float) -> int:
        for k, t in enumerate(_POIS1_CDF):
            if u < t:
                return k
        return len(_POIS1_CDF)

    means = []
    for r in range(_BOOT_B):
        s1 = s0 = 0
        for k, c in cents.items():
            u = _md5_u32(f"{k}:{r}") / 4294967296.0
            w = pois_w(u)
            s1 += w * c
            s0 += w
        means.append((round(s1 / s0 * 1_000_000), r))
    means.sort()
    tot = sum(cents.values())
    n = len(cents)
    got = poisson_bootstrap_ci(spark, SF).collect()[0]
    assert got["n_orders"] == n
    assert got["n_boot"] == _BOOT_B
    assert got["mean_micro"] == round(tot / n * 1_000_000)
    assert got["ci_lo_micro"] == means[_BOOT_LO_I - 1][0]
    assert got["ci_hi_micro"] == means[_BOOT_HI_I - 1][0]
    assert got["ci_lo_micro"] <= got["mean_micro"] <= got["ci_hi_micro"]


def test_countmin_never_undercounts_and_bruteforce(spark):
    """CM's one-sided guarantee (est >= exact, always) plus exact
    equality of every probed estimate with a Python dict sketch built
    from the same md5 bucketing."""
    from collections import Counter

    from beehive_spark.queries import load
    from beehive_spark.queries.core import (
        _CM_D,
        _CM_TOPK,
        _CM_W,
        countmin_heavy_keys,
    )

    counts = Counter(
        r["l_partkey"]
        for r in load(spark, SF, "lineitem").select("l_partkey").collect()
    )
    sketch = Counter()
    for k, c in counts.items():
        for d in range(_CM_D):
            sketch[(d, _md5_u32(f"{d}:{k}") % _CM_W)] += c
    heavy = sorted(counts.items(), key=lambda kc: (-kc[1], kc[0]))[:_CM_TOPK]
    expect = {
        k: min(sketch[(d, _md5_u32(f"{d}:{k}") % _CM_W)] for d in range(_CM_D))
        for k, _ in heavy
    }
    got = countmin_heavy_keys(spark, SF).collect()
    assert len(got) == _CM_TOPK
    for r in got:
        assert r["overcount"] >= 0
        assert r["est_n"] == r["exact_n"] + r["overcount"]
        assert r["exact_n"] == counts[r["partkey"]]
        assert r["est_n"] == expect[r["partkey"]]


def test_roc_auc_matches_pair_counting(spark):
    """AUC from the per-score-aggregate identity equals literal
    O(P*N) pair counting (1 per correctly ordered pair, 0.5 per tie)
    on the sf0.001 orders, and sits near the calibrated scorer's
    theoretical 5/6 (positives' score density rises linearly,
    negatives' falls: P(S+ > S-) = (5/24)/(1/4))."""
    from beehive_spark.queries import load
    from beehive_spark.queries.ml import roc_auc_eval

    rows = load(spark, SF, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    scored = [
        (
            int(r["o_orderkey"]) % 1000,
            1
            if (int(round(r["o_totalprice"] * 100)) % 1000)
            < (int(r["o_orderkey"]) % 1000)
            else 0,
        )
        for r in rows
    ]
    pos = [s for s, l in scored if l == 1]
    neg = [s for s, l in scored if l == 0]
    u2 = 0  # 2 * Mann-Whitney U, exact integer
    for p in pos:
        for q in neg:
            if p > q:
                u2 += 2
            elif p == q:
                u2 += 1
    got = roc_auc_eval(spark, SF).collect()[0]
    assert got["n_pos"] == len(pos)
    assert got["n_neg"] == len(neg)
    assert got["n_scores"] == len(set(s for s, _ in scored))
    assert got["auc_micro"] == round(
        u2 / (2.0 * len(pos) * len(neg)) * 1_000_000
    )
    assert got["gini_micro"] == round(
        (u2 / (float(len(pos)) * len(neg)) - 1) * 1_000_000
    )
    assert 750_000 < got["auc_micro"] < 900_000
