"""Z-order expressions, grid scaling, the q-gram filter bound, the
planted k-core, bigram LM fallback, the bloom semi-join and the media
decode paths.

Each test checks a property the DuckDB oracle gate cannot see: a
closed form on planted data, a brute-force twin on random inputs, a
raise, or a decode re-run outside Spark."""

import random

from pyspark.sql import functions as F

from beehive_spark.queries import load


def _py_interleave(gx: int, gy: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((gx >> i) & 1) << (2 * i)
        z |= ((gy >> i) & 1) << (2 * i + 1)
    return z


def test_z_value_matches_python_interleave(spark):
    from beehive_spark.functions.zorder import z_value

    rng = random.Random(6)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    df = spark.createDataFrame(rows, "gx long, gy long")
    got = df.select("gx", "gy", z_value(F.col("gx"), F.col("gy")).alias("z")).collect()
    for r in got:
        assert r["z"] == _py_interleave(r["gx"], r["gy"], 16)


def test_z_value_rejects_bigint_overflow():
    import pytest

    from beehive_spark.functions.zorder import z_value

    with pytest.raises(ValueError, match="overflow"):
        z_value(F.lit(0), F.lit(0), bits=32)


def test_grid_scale_degenerate_and_bounds(spark):
    from beehive_spark.functions.zorder import grid_scale

    df = spark.createDataFrame([(0,), (500,), (1000,)], "v long")
    out = df.select(
        grid_scale(F.col("v"), F.lit(0), F.lit(1000)).alias("g"),
        grid_scale(F.col("v"), F.lit(7), F.lit(7)).alias("flat"),
    ).collect()
    gs = sorted(r["g"] for r in out)
    assert gs[0] == 0 and gs[-1] == (1 << 16) - 1 and gs[1] == 500 * 65535 // 1000
    assert all(r["flat"] == 0 for r in out)


def test_grid_scale_exact_up_to_overflow_guard_then_quantized(spark):
    """Exact BIGINT path for spans under the overflow guard; wide
    spans must neither overflow (ANSI would raise) nor leave the
    grid range, and may drift at most one cell from the closed
    form."""
    from beehive_spark.functions.zorder import grid_scale

    exact_v, exact_span = (1 << 45) + 12345, 1 << 46
    wide_v, wide_span = (1 << 56) + 12345, 1 << 57
    df = spark.createDataFrame([(exact_v, wide_v)], "ev long, wv long")
    r = df.select(
        grid_scale(F.col("ev"), F.lit(0), F.lit(exact_span)).alias("ge"),
        grid_scale(F.col("wv"), F.lit(0), F.lit(wide_span)).alias("gw"),
    ).first()
    assert r["ge"] == exact_v * 65535 // exact_span
    ideal = wide_v * 65535 // wide_span
    assert 0 <= r["gw"] <= 65535 and abs(r["gw"] - ideal) <= 1


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_qgram_count_filter_bound_on_random_strings(spark):
    """Adversarial check of the (max_len - 1) - d*q bound: random
    short strings over a 3-letter alphabet maximize gram collisions
    and edit interactions; the join must find exactly the brute-force
    pair set (a bound one gram too tight drops distance-2
    substitution pairs)."""
    from beehive_spark.queries import relational as R

    rng = random.Random(42)
    names = list(
        {
            "".join(rng.choice("abc") for _ in range(rng.randrange(2, 9)))
            for _ in range(60)
        }
    )
    df = spark.createDataFrame([(s,) for s in names], "p_name string")

    # drive the query body against a synthetic part table via a stub loader
    import beehive_spark.queries.relational as mod

    orig_load = mod.load
    try:
        mod.load = lambda sp, sf, t: df
        got = {
            (r["name_a"], r["name_b"], r["dist"])
            for r in R.qgram_editdist_join(spark, "unused").collect()
        }
    finally:
        mod.load = orig_load
    want = set()
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            d = _lev(a, b)
            if d <= 2:
                want.add((min(a, b), max(a, b), d))
    assert got == want


def test_graph_kcore_planted_matches_closed_form(spark, sf_dir):
    from beehive_spark.queries.relational import graph_kcore_planted

    got = {
        (r["id"], r["core_degree"])
        for r in graph_kcore_planted(spark, sf_dir).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = cust.count()
    # load-bearing planted-topology assumptions (see the query
    # docstring): custkeys 0-based AND contiguous, count divisible
    # by 15 — 1-based keys would orphan block 0's anchor and make
    # the closed-form oracle silently wrong
    lo, hi = cust.selectExpr(
        "min(c_custkey)", "max(c_custkey)"
    ).first()
    assert lo == 0 and hi == n - 1 and n % 15 == 0
    maxb = (n - 1) // 15
    want = set()
    for i in range(n):
        b, p = divmod(i, 15)
        c = 6 if b % 2 == 0 else 7
        if p < c:
            deg = c - 1
            if p == 0:
                deg += (1 if b > 0 else 0) + (1 if b < maxb else 0)
            want.add((i, deg))
    assert got == want and got


def test_ngram_lm_score_unseen_history_fallback(spark):
    import math

    import beehive_spark.queries.llm as mod
    from beehive_spark.queries.llm import ngram_lm_score

    rows = [
        (0, "alpha beta alpha beta gamma"),  # train
        (2, "beta gamma beta"),  # train
        (1, "alpha beta zeta zeta"),  # score: 'zeta' history unseen
        (3, "x"),  # score: <2 tokens -> n_bigrams 0, NULL xent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig_load = mod.load
    try:
        mod.load = lambda sp, sf, t: df
        got = {r["doc_id"]: r for r in ngram_lm_score(spark, "unused").collect()}
    finally:
        mod.load = orig_load
    # train bigrams: (alpha,beta) x2, (beta,alpha), (beta,gamma) x2, (gamma,beta)
    # histories: alpha->2, beta->3, gamma->1 ; V = 3 (alpha beta gamma)
    def lp(cb, cu):
        return round(math.log((cb + 1) / (cu + 3)) * 1_000_000)

    s = lp(2, 2) + lp(0, 3) + lp(0, 0)  # alpha-beta, beta-zeta, zeta-zeta
    assert got[1]["n_bigrams"] == 3
    assert got[1]["xent"] == round(-s / 1_000_000 / 3, 4)
    assert got[3]["n_bigrams"] == 0 and got[3]["xent"] is None


def test_bloom_broadcast_path_exact_and_collision_safe(spark, monkeypatch):
    """Force the past-the-literal-cliff path (bitmap shipped as a
    broadcast single-row array<long> frame) and verify (a) the result
    still equals the plain semi join, (b) a fact frame that ALREADY
    carries a __bloom_bits column (a chained bloom stage that wasn't
    dropped) doesn't collide with the helper column, and (c) the
    helper column never leaks into the output schema."""
    import beehive_spark.operators.bloom as mod
    from beehive_spark.operators.bloom import bloom_semi_join

    monkeypatch.setattr(mod, "_INLINE_WORDS", 0)  # every bitmap -> broadcast
    fact = spark.range(5_000).select(
        F.col("id").alias("k"),
        F.array(F.lit(-1).cast("long")).alias("__bloom_bits"),
    )
    dim = spark.range(100).select((F.col("id") * 37).alias("k"))
    out = bloom_semi_join(fact, dim, "k")
    got = sorted(r["k"] for r in out.collect())
    want = sorted(r["k"] for r in fact.join(dim, "k", "left_semi").collect())
    assert got == want and len(got) == 100
    assert out.columns == ["k", "__bloom_bits"]  # caller's column survives


def test_might_contain_requires_a_bitmap_source():
    import pytest

    from beehive_spark.operators.bloom import might_contain

    with pytest.raises(ValueError, match="bitmap"):
        might_contain(F.col("k"), None)


def test_media_scene_cuts_matches_python_decode(spark, sf_dir):
    """Independent twin: decode every synthesized payload with the
    vendored codec OUTSIDE Spark, compute exact integer frame means,
    sweep for deltas >= threshold — verifies the whole real-decode
    pipeline, not just the oracle's closed form.  Also pins the
    planted separation property (every delta is 1 or >= 70)."""
    from beehive_spark.functions.multimodal import decode_mpng, _decode_rgb_array
    from beehive_spark.queries.media import (
        _SC_THRESH,
        media_scene_cuts,
        synth_scene_video_media,
    )

    docs = load(spark, sf_dir, "documents").limit(40)

    import beehive_spark.queries.media as mod

    orig_load = mod.load
    try:
        mod.load = lambda sp, sf, t: docs
        got = {
            (r["media_id"], r["cut_frame"], r["delta_luma"])
            for r in media_scene_cuts(spark, "unused").collect()
        }
    finally:
        mod.load = orig_load

    want = set()
    for r in synth_scene_video_media(docs).collect():
        vs = []
        for frame in decode_mpng(bytes(r["payload"])):
            px = _decode_rgb_array(frame)
            total = int(px.astype("int64").sum())
            vs.append(total // px.size)
        for f in range(1, len(vs)):
            d = abs(vs[f] - vs[f - 1])
            assert d == 1 or d >= 70, (r["media_id"], f, d)  # separation
            if d >= _SC_THRESH:
                want.add((r["media_id"], f, d))
    assert got == want and len(got) == 2 * 40


def test_media_audio_vad_matches_python_decode(spark, sf_dir):
    """Independent twin: decode every synthesized clip with the stdlib
    codec OUTSIDE Spark, window, threshold, and merge runs in python —
    verifies the real decode + gaps-and-islands merge, not just the
    oracle's closed form.  Also pins the planted separation (window
    mean-abs is 0 or >= 1000)."""
    from beehive_spark.functions.audio import decode_wav
    from beehive_spark.queries.media import (
        _VAD_THRESH,
        _VAD_WIN,
        media_audio_vad,
        synth_vad_wav_media,
    )

    docs = load(spark, sf_dir, "documents").limit(40)

    import beehive_spark.queries.media as mod

    orig_load = mod.load
    try:
        mod.load = lambda sp, sf, t: docs
        got = {
            (r["media_id"], r["seg_idx"], r["start_window"],
             r["n_windows"], r["mean_amp"])
            for r in media_audio_vad(spark, "unused").collect()
        }
    finally:
        mod.load = orig_load

    want = set()
    for r in synth_vad_wav_media(docs).collect():
        _rate, samples = decode_wav(bytes(r["payload"]))
        n = len(samples) // _VAD_WIN
        means = [
            sum(abs(x) for x in samples[w * _VAD_WIN:(w + 1) * _VAD_WIN])
            // _VAD_WIN
            for w in range(n)
        ]
        assert all(m == 0 or m >= 1000 for m in means)  # separation
        runs, start = [], None
        for w in range(n + 1):
            active = w < n and means[w] >= _VAD_THRESH
            if active and start is None:
                start = w
            elif not active and start is not None:
                runs.append((start, w - start))
                start = None
        for idx, (s, ln) in enumerate(runs, 1):
            amp = means[s]  # constant inside a planted run
            want.add((r["media_id"], idx, s, ln, amp))
    assert got == want and len(got) == 2 * 40
