"""Property tests for the curation operators and queries (exact values
are covered by the oracle gate; these pin semantic invariants:
balance, conservation, bounds, and the data assumptions the queries'
no-divide-by-zero and exclusion promises rest on)."""

import os

import duckdb
from pyspark.sql import functions as F

from beehive_spark.queries import load
from beehive_spark.queries.curation import (
    contamination_ngram,
    mixture_stats,
    pack_sequences,
    stratified_sample,
)
from beehive_spark.queries.llm import _tokens

from conftest import TESTDATA

SF = os.path.join(TESTDATA, "sf0.001")


def test_pack_sequences_partitions_all_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    totals = {
        r["source"]: r["t"]
        for r in d.select("source", F.size(_tokens(F.col("text"))).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("t"))
        .collect()
    }
    packed = pack_sequences(spark, sf_dir, budget=128).collect()
    by_src = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(totals)
    for src, rows in by_src.items():
        # no tokens lost, and seq ids are dense from 0
        assert sum(r["seq_tokens"] for r in rows) == totals[src]
        ids = sorted(r["seq_id"] for r in rows)
        assert ids == list(range(len(ids)))
        # every non-final sequence must have reached the budget:
        # a doc starts a new sequence only when the running total
        # crossed a 128 boundary
        for r in rows:
            if r["seq_id"] != ids[-1]:
                continue_tokens = sum(
                    x["seq_tokens"] for x in rows if x["seq_id"] <= r["seq_id"]
                )
                assert continue_tokens >= 128 * r["seq_id"]


def test_stratified_sample_deterministic_and_near_rate(spark, sf_dir):
    total = load(spark, sf_dir, "documents").count()
    s1 = sorted(r["doc_id"] for r in stratified_sample(spark, sf_dir).collect())
    s2 = sorted(r["doc_id"] for r in stratified_sample(spark, sf_dir).collect())
    assert s1 == s2  # content-hash: identical on every run
    assert 0.05 * total < len(s1) < 0.4 * total  # loose Chernoff-ish band
    # changing the rate nests the sample (threshold semantics)
    s_small = {r["doc_id"] for r in stratified_sample(spark, sf_dir, rate=0.1).collect()}
    assert s_small <= set(s1)


def test_contamination_reports_only_train_docs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bench_ids = {r["doc_id"] for r in d.filter("source = 'src0'").collect()}
    rows = contamination_ngram(spark, sf_dir).collect()
    for r in rows:
        assert r["doc_id"] not in bench_ids
        assert r["n_shared_ngrams"] >= 1
        assert r["n_bench_docs"] >= 1


def test_mixture_shares_sum_to_one(spark, sf_dir):
    rows = mixture_stats(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-3
    assert all(r["n_docs"] > 0 and r["total_tokens"] > 0 for r in rows)


def test_quality_filter_reasons_consistent(spark, sf_dir):
    from beehive_spark.queries.curation import quality_filter

    rows = quality_filter(spark, sf_dir).collect()
    assert rows
    seen_keep = seen_drop = False
    for r in rows:
        # keep iff no fail reasons, and every reason maps to a
        # violated threshold
        reasons = set(r["fail_reasons"].split(",")) - {""}
        assert r["keep"] == (not reasons)
        if r["n_tokens"] < 25:
            assert "too_short" in reasons
        if r["stopword_ratio"] < 0.02:
            assert "low_stopword" in reasons
        if r["distinct_ratio"] < 0.35:
            assert "repetitive" in reasons
        seen_keep |= r["keep"]
        seen_drop |= not r["keep"]
    # thresholds must actually split the corpus or the gate is vacuous
    assert seen_keep and seen_drop


def test_pii_scrub_redacts_all_digits(spark, sf_dir):
    from beehive_spark.queries.curation import pii_scrub

    out = pii_scrub(spark, sf_dir)
    assert out.filter(F.col("redacted").rlike("[0-9]")).count() == 0
    # events.props always carries one numeric payload value
    assert out.filter(F.col("n_numbers") >= 1).count() == out.count()

def test_dedup_incremental_partitions_batch(spark, sf_dir):
    from beehive_spark.queries.curation import dedup_incremental

    d = load(spark, sf_dir, "documents")
    n_batch = d.filter(F.col("doc_id") % 10 >= 8).count()
    rows = dedup_incremental(spark, sf_dir).collect()
    # every batch doc classified exactly once
    assert len(rows) == n_batch
    assert len({r["doc_id"] for r in rows}) == n_batch
    for r in rows:
        # is_new <=> no corpus duplicate; dup_of always a corpus doc
        assert r["is_new"] == (r["dup_of"] is None)
        if r["dup_of"] is not None:
            assert r["dup_of"] % 10 < 8


def test_dedup_containment_invariants_and_jaccard_crosscheck(spark, sf_dir):
    from beehive_spark.queries.curation import dedup_containment
    from beehive_spark.queries.llm import dedup_ngram_jaccard

    rows = dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert r["doc_inner"] != r["doc_outer"]
        assert 0.8 <= r["containment"] <= 1.0
    # mutual containment >= 0.8 forces jaccard >= 2/3 (union <= 1.5*c),
    # so such pairs MUST appear in the jaccard>=0.5 near-dup set
    directed = {(r["doc_inner"], r["doc_outer"]) for r in rows}
    mutual = {
        (a, b) for (a, b) in directed if a < b and (b, a) in directed
    }
    jac_pairs = {
        (r["doc_i"], r["doc_j"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert mutual <= jac_pairs


def test_boilerplate_ngrams_df_recount(spark, sf_dir):
    from beehive_spark.queries.curation import boilerplate_ngrams
    from beehive_spark.queries.llm import _shingles

    rows = boilerplate_ngrams(spark, sf_dir, min_df=2).collect()
    assert len(rows) == len({r["ngram"] for r in rows})
    assert all(r["df"] >= 2 for r in rows)
    # recount one ngram's document frequency from scratch
    target = max(rows, key=lambda r: r["df"])
    d = load(spark, sf_dir, "documents")
    recount = (
        d.select(_shingles(_tokens(F.col("text"))).alias("sh"))
        .filter(F.array_contains("sh", target["ngram"]))
        .count()
    )
    assert recount == target["df"]


def test_substring_spans_merge_and_split(spark, tmp_path):
    """Span semantics pinned on a hand-built corpus: a cross-doc shared
    run merges its overlapping duplicated windows into ONE maximal span
    per doc; a within-doc repetition far enough apart yields TWO."""
    from beehive_spark.queries.llm import dedup_substring_spans

    run = " ".join(f"s{i}" for i in range(1, 11))  # 10 shared tokens
    rep = " ".join(f"r{i}" for i in range(1, 9))  # 8 repeated tokens
    docs = [
        (0, f"x1 x2 {run} y1 y2", "en", "srcA", 0),
        (1, f"z1 {run} z2 z3", "en", "srcA", 0),
        (2, f"{rep} m {rep}", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup_substring_spans(spark, str(tmp_path), n=8).collect()
    spans = sorted((r.doc_id, r.span_start, r.span_end, r.n_windows) for r in out)
    assert spans == [
        (0, 3, 12, 3),  # run at tokens 3..12: windows 3,4,5 merge
        (1, 2, 11, 3),
        (2, 1, 8, 1),  # first r1..r8
        (2, 10, 17, 1),  # second copy: separate island across the gap
    ]


def test_negative_sampling_excludes_every_positive(spark, sf_dir):
    from beehive_spark.queries.curation import negative_sampling

    pos = set(
        duckdb.sql(
            f"SELECT DISTINCT o.o_custkey, l.l_partkey "
            f"FROM '{sf_dir}/orders.parquet' o "
            f"JOIN '{sf_dir}/lineitem.parquet' l ON o.o_orderkey = l.l_orderkey"
        ).fetchall()
    )
    got = negative_sampling(spark, sf_dir).collect()
    assert pos and all((r["custkey"], r["neg_partkey"]) not in pos for r in got)


def test_no_constant_price_brand_at_any_shipped_sf():
    """The query's no-divide-by-zero promise: every brand spans at
    least two distinct prices at every shipped SF."""
    for d in ("sf0.001", "sf0.01", "sf0.1"):
        (n,) = duckdb.sql(
            f"SELECT COUNT(*) FROM ("
            f"  SELECT p_brand FROM '{TESTDATA}/{d}/part.parquet'"
            f"  GROUP BY 1 HAVING MIN(p_retailprice) = MAX(p_retailprice))"
        ).fetchone()
        assert n == 0, f"{d}: {n} constant-price brands"
