"""Dedup, text, retrieval and ANN queries (``queries.llm``).

The oracle gate compares every query that has an oracle by value.
These tests pin the planted closed forms of the rows-only dedup and
ANN slots, the data assumptions those plants rest on at every shipped
scale factor, structural contracts of the approximate hosts, and
properties on constructed corpora."""

import itertools
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from beehive_spark.queries import load

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


_CENTS = [(2, 0), (0, 2), (-2, 0), (0, -2)]


def _digits(i):
    return [(i // 4**j) % 4 for j in range(4)]


def _grid_vec(i):
    v = []
    for d in _digits(i):
        v.extend(_CENTS[d])
    return v


_TRI = [(4, 4, 2), (4, 2, 4), (2, 4, 4)]


def _sphere_vec(p):
    if p <= 6:
        return _TRI[p % 3]
    if p <= 13:
        return tuple(-x for x in _TRI[(p - 7) % 3])
    return (4, -4, 2)


_SHIPPED = [os.path.join(TESTDATA, d) for d in ("sf0.001", "sf0.01", "sf0.1")]


def _ids_contiguous(table, key, divisor):
    for d in _SHIPPED:
        n, lo, hi, nd = duckdb.sql(
            f"SELECT COUNT(*), MIN({key}), MAX({key}), COUNT(DISTINCT {key}) "
            f"FROM '{d}/{table}.parquet'"
        ).fetchone()
        assert (lo, hi, nd) == (0, n - 1, n), f"{d}/{table}: ids not contiguous"
        assert n % divisor == 0, f"{d}/{table}: count {n} not divisible by {divisor}"


def _group_pairs(ids, width):
    want = []
    by_g = {}
    for i in sorted(ids):
        by_g.setdefault(i // width, []).append(i)
    for members in by_g.values():
        want.extend(
            (a, b) for ai, a in enumerate(members) for b in members[ai + 1 :]
        )
    return sorted(want)


def test_embedding_gram_is_psd_consistent(spark, sf_dir, qs):
    """Properties both engines could get wrong together: the Gram
    matrix must be symmetric-by-construction (upper triangle only),
    Cauchy-Schwarz-consistent, and match a dense numpy X^T X."""
    import numpy as np

    rows = qs["embedding_gram"](spark, sf_dir).collect()
    d = max(r["j"] for r in rows) + 1
    assert len(rows) == d * (d + 1) // 2
    g = {(r["i"], r["j"]): r["gram"] for r in rows}
    assert all(g[(i, i)] >= 0 for i in range(d))
    assert all(
        g[(i, j)] ** 2 <= g[(i, i)] * g[(j, j)] + 1e-6
        for (i, j) in g
    )
    x = np.array(
        [
            r["embedding"]
            for r in load(spark, sf_dir, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    want = x.T @ x
    err = max(abs(want[i, j] - g[(i, j)]) for (i, j) in g)
    assert err < 1e-5, err


@pytest.mark.slow
def test_mmr_rerank_is_diverse_and_relevant(spark):
    """MMR picks must (a) start with the single most relevant
    candidate, (b) never repeat, and (c) be more mutually diverse than
    the naive top-k prefix of the same pool (the property the operator
    exists for), measured by max pairwise cosine."""
    from beehive_spark.queries import all_queries, load
    from pyspark.sql import functions as F

    sf = SF
    out = all_queries()["embedding_mmr_rerank"](spark, sf).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 5
    rels = [r["relevance"] for r in out]
    assert rels[0] == max(rels)

    emb = load(spark, sf, "embeddings")
    vecs = {
        r["vec_id"]: r["e"]
        for r in emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .filter(F.col("vec_id").isin([int(i) for i in ids] + list(range(60))))
        .collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb)

    q = vecs[0] if 0 in vecs else None
    # naive top-5 = 5 highest-relevance candidates (vec_id >= 1)
    cand = {
        i: cos(v, q) for i, v in vecs.items() if i >= 1
    }
    naive = sorted(cand, key=lambda i: (-cand[i], i))[:5]

    def max_pair(sel):
        return max(
            cos(vecs[a], vecs[b])
            for i, a in enumerate(sel)
            for b in sel[i + 1 :]
        )

    if set(ids) != set(naive):  # MMR changed the set: diversity improved
        assert max_pair([int(i) for i in ids]) <= max_pair(naive) + 1e-12


def test_similarity_ann_pq_planted_matches_digit_arithmetic(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import similarity_ann_pq_planted

    ids = [r["vec_id"] for r in load(spark, sf_dir, "embeddings").select("vec_id").collect()]
    queries = sorted(i for i in ids if i < 10)
    corpus = sorted(i for i in ids if i >= 10)
    want = []
    for q in queries:
        qv = _grid_vec(q)
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(qv, _grid_vec(c))), c)
                for c in corpus
            ),
        )[:5]
        want.extend((q, c, round(-negdot / 16.0, 4)) for negdot, c in scored)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in similarity_ann_pq_planted(spark, sf_dir).collect()
    )
    assert got == sorted(want) and len(got) == 5 * len(queries)


def test_pq_planted_codes_roundtrip_exactly(spark, sf_dir):
    """The persisted code table must recover every vector's base-4
    digits exactly — the encode-argmax half of the ADC path, checked
    directly against integer arithmetic."""
    import os

    from beehive_spark.queries import load
    from beehive_spark.queries.llm import _ann_index_dir, similarity_ann_pq_planted

    similarity_ann_pq_planted(spark, sf_dir).count()  # ensure index exists
    idx = _ann_index_dir(sf_dir, "pq_planted")
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(os.path.join(idx, "codes.parquet")).collect()
    }
    assert codes and all(codes[i] == _digits(i) for i in codes)
    assert all(i >= 10 for i in codes)  # queries are not in the corpus


def test_dedup_semantic_planted_matches_brute(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import dedup_semantic_planted

    ids = [
        r["id"]
        for r in load(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("id"))
        .collect()
    ]
    byblock = {}
    for i in sorted(ids):
        byblock.setdefault(i // 15, []).append(i)
    want = {}
    for b, members in byblock.items():
        for a, d in itertools.combinations(members, 2):
            va = [x / 6.0 for x in _sphere_vec(a % 15)]
            vd = [x / 6.0 for x in _sphere_vec(d % 15)]
            sim = sum(x * y for x, y in zip(va, vd))
            if sim >= 0.45:
                keep, cl, mx = want.get(d, (a, b, sim))
                want[d] = (min(keep, a), b, max(mx, sim))
    want = {d: (k, c, round(m, 4)) for d, (k, c, m) in want.items()}
    got = {
        r["drop_id"]: (r["keep_id"], r["cluster_id"], r["max_cosine"])
        for r in dedup_semantic_planted(spark, sf_dir).collect()
    }
    assert got == want
    # the closed-form survivor set: positions 1-6 and 8-13 drop, with
    # keepers at positions 0 and 7 — nothing else
    for d, (k, c, _) in got.items():
        p = d % 15
        assert (1 <= p <= 6 and k == d - p) or (8 <= p <= 13 and k == d - p + 7)
    assert len(got) == 12 * len(byblock)


def test_planted_group_assumptions_hold_at_every_shipped_sf():
    _ids_contiguous("documents", "doc_id", 4)
    _ids_contiguous("embeddings", "vec_id", 20)
    # 16 sign bits bound the group space for the IVF plant
    for d in _SHIPPED:
        (n,) = duckdb.sql(
            f"SELECT COUNT(*) FROM '{d}/embeddings.parquet'"
        ).fetchone()
        assert n // 20 <= 1 << 16


def test_dedup_minhash_lsh_planted_matches_id_arithmetic(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import dedup_minhash_lsh_planted

    ids = [
        r["doc_id"]
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = [(a, b, 1.0) for a, b in _group_pairs(ids, 4)]
    got = sorted(
        (r["doc_i"], r["doc_j"], r["jaccard"])
        for r in dedup_minhash_lsh_planted(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 6 * (len(ids) // 4)


def test_dedup_simhash_planted_matches_id_arithmetic(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import dedup_simhash_planted

    ids = [
        r["doc_id"]
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    want = [(a, b, 0) for a, b in _group_pairs(ids, 4)]
    got = sorted(
        (r["doc_i"], r["doc_j"], r["hamming"])
        for r in dedup_simhash_planted(spark, sf_dir).collect()
    )
    # equality with the closed form ALSO proves no cross-group pair
    # sneaked under hamming <= 3 on this fixed corpus/hash
    assert got == want and len(got) == 6 * (len(ids) // 4)


def test_similarity_ann_ivf_planted_matches_id_arithmetic(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import similarity_ann_ivf_planted

    ids = [
        r["vec_id"]
        for r in load(spark, sf_dir, "embeddings").select("vec_id").collect()
    ]
    want = sorted(
        (20 * g, 20 * g + s, 1.0)
        for g in range(len(ids) // 20)
        for s in range(1, 6)
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in similarity_ann_ivf_planted(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 5 * (len(ids) // 20)


def test_similarity_ann_lsh_planted_matches_id_arithmetic(spark, sf_dir):
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import similarity_ann_lsh_planted

    ids = [
        r["vec_id"]
        for r in load(spark, sf_dir, "embeddings").select("vec_id").collect()
    ]
    want = sorted(
        (20 * g, 20 * g + s, 1.0)
        for g in range(len(ids) // 20)
        for s in range(1, 6)
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in similarity_ann_lsh_planted(spark, sf_dir).collect()
    )
    assert got == want and len(got) == 5 * (len(ids) // 20)


def test_refactored_hosts_still_produce(spark, sf_dir):
    """The three planted twins landed via shared-pipeline refactors of
    their host queries (_minhash_lsh_pairs / _simhash_pairs /
    _ivf_search); pin that each host still runs and keeps its output
    contract on the real corpus."""
    from beehive_spark.queries.llm import (
        dedup_minhash_lsh,
        dedup_simhash,
        similarity_ann_ivf,
    )

    mh = dedup_minhash_lsh(spark, sf_dir).collect()
    assert all(r["doc_i"] < r["doc_j"] and r["jaccard"] >= 0.5 for r in mh)
    sh = dedup_simhash(spark, sf_dir).collect()
    assert all(r["doc_i"] < r["doc_j"] and r["hamming"] <= 3 for r in sh)
    ivf = similarity_ann_ivf(spark, sf_dir).collect()
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["query_id"], []).append(r["cosine"])
    assert set(per_q) == set(range(10))
    assert all(len(v) == 5 for v in per_q.values())
    from beehive_spark.queries.llm import similarity_ann_lsh

    lsh = similarity_ann_lsh(spark, sf_dir).collect()
    per_q = {}
    for r in lsh:
        per_q.setdefault(r["query_id"], []).append(r["cosine"])
    assert set(per_q) <= set(range(10))
    assert all(len(v) <= 5 for v in per_q.values())


def test_rrf_double_listed_beats_equal_single(spark, sf_dir):
    """RRF algebra property on the real output: any doc present in
    BOTH lists outscores any doc whose single rank is >= both of its
    ranks (1/(60+a) + 1/(60+b) > 1/(60+min(a,b)))."""
    from beehive_spark.queries.llm import retrieval_rrf_fusion

    rows = retrieval_rrf_fusion(spark, sf_dir).collect()
    both = [r for r in rows if r["rank_sparse"] and r["rank_dense"]]
    single = [
        r
        for r in rows
        if (r["rank_sparse"] is None) != (r["rank_dense"] is None)
    ]
    for b in both:
        for s in single:
            sr = s["rank_sparse"] or s["rank_dense"]
            if sr >= min(b["rank_sparse"], b["rank_dense"]):
                assert b["rrf_micro"] > s["rrf_micro"], (b, s)


@pytest.mark.slow
def test_novelty_first_doc_is_fully_novel_and_clone_is_not(spark):
    """On a planted corpus: the first document is 100% novel, an exact
    clone later is 0% novel, and a half-overlap lands exactly at its
    set-arithmetic fraction."""
    import os
    import tempfile

    from beehive_spark.queries.llm import text_ngram_novelty

    tmp = tempfile.mkdtemp()
    a = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    b = a                                              # clone: 0 new
    c = "gamma delta epsilon zeta eta theta iota"      # 5 shingles, 3 new
    df = spark.createDataFrame(
        [(0, a, "en", "s", len(a)), (1, b, "en", "s", len(b)),
         (2, c, "en", "s", len(c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(os.path.join(tmp, "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_new"], r["novelty_micro"])
        for r in text_ngram_novelty(spark, tmp).collect()
    }
    assert got[0] == (4, 4, 1_000_000)
    assert got[1] == (4, 0, 0)
    assert got[2] == (5, 3, 600_000)


@pytest.mark.slow
def test_int8_quantization_error_bound(spark):
    """Information-theoretic bound, checked per vector: min-max int8
    dequantization error per value is at most half a quantization
    step, so recon_err_micro <= sum over dims of
    ceil((mx_d - mn_d) * 1e6 / 510) + 1 micro slack per dim."""
    import math

    from pyspark.sql import functions as F
    from beehive_spark.queries import load
    from beehive_spark.queries.llm import embedding_quantize_int8

    v = load(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    st = (
        v.select(F.posexplode("e").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    budget = sum(
        math.ceil((r["mx"] - r["mn"]) * 1_000_000 / 510) + 1 for r in st
    )
    out = embedding_quantize_int8(spark, SF).collect()
    assert out
    for r in out:
        assert r["recon_err_micro"] <= budget, (
            f"vec {r['vec_id']}: {r['recon_err_micro']} > {budget}"
        )
        assert 0 <= r["q_sum"] <= 255 * r["n_dims"]
