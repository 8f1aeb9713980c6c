"""Training-data curation operators over the documents corpus.

Net-new surface beyond the reference (BASELINE.json north-star): the
dataset-assembly steps an LLM training pipeline runs after dedup/
quality filtering — benchmark-contamination detection, sequence
packing, mixture accounting, and deterministic stratified sampling.

Scale-first commitments (same rules as llm.py):
- contamination goes through an inverted n-gram index (explode +
  equi-join on an 8-byte hash), never a doc x doc comparison;
- packing windows partition by shard (source), never globally;
- sampling is content-hash thresholding — no RNG state, no
  sort-then-limit, reproducible on any partitioning;
- everything is JVM expressions; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from beehive_spark.queries import load, query
from beehive_spark.queries.llm import _ngram_hashes, _shingles, _tokens


# ---------------------------------------------------------------------------
# Benchmark contamination: train docs sharing n-grams with a held-out set
# ---------------------------------------------------------------------------
@query(
    "contamination_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                     || ' ' || w[i+3] || ' ' || w[i+4]
                                   for i in range(1, len(w) - 3)])) AS s
      FROM toks WHERE len(w) >= 5
    ),
    bench AS (SELECT doc_id, s FROM sh WHERE source = 'src0'),
    train AS (SELECT doc_id, s FROM sh WHERE source <> 'src0')
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_shared_ngrams,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM train t JOIN bench b ON t.s = b.s
    GROUP BY t.doc_id
    """,
)
def contamination_ngram(spark, sf_dir, bench_source: str = "src0", n: int = 5):
    """Benchmark-contamination check (GPT-3 appendix C style): which
    training documents share any word 5-gram with a held-out benchmark
    set (here: docs from one `source`), how many distinct 5-grams leak,
    and how many benchmark docs each one collides with.

    Shape: both sides explode to an inverted (doc, ngram-hash) index
    and meet in an EQUI join on the 8-byte xxhash64 of the n-gram —
    never doc x doc.  At corpus scale the benchmark side is small
    (benchmarks are), so the join broadcasts; counts are map-side
    partial-aggregated.  For web-scale training sets the same
    hot-shingle df-cap as dedup_ngram_jaccard can bound boilerplate
    n-grams; left off here because the check must be exact to be
    useful (a capped run under-reports leakage).

    Reference scope: net-new (no counterpart in mhawila/beehive);
    oracle is the DuckDB equivalent on raw n-gram strings.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", _tokens(F.col("text")).alias("w"))
    sh = (
        toks.filter(F.size("w") >= n)
        .select(
            "doc_id",
            "source",
            F.explode(_ngram_hashes(F.col("w"), n=n)).alias("h"),
        )
    )
    bench = sh.filter(F.col("source") == bench_source).select(
        F.col("doc_id").alias("bench_doc"), "h"
    )
    train = sh.filter(F.col("source") != bench_source).select("doc_id", "h")
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("h").alias("n_shared_ngrams"),
            F.count_distinct("bench_doc").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-then-chunk documents into training sequences
# ---------------------------------------------------------------------------
@query(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt
      FROM documents
    ),
    packed AS (
      SELECT source, nt,
             (SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - nt) // 128 AS seq_id
      FROM toks
    )
    SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY source, seq_id
    """,
)
def pack_sequences(spark, sf_dir, budget: int = 128):
    """Pack documents into fixed-budget training sequences by
    concat-then-chunk: within each shard, documents in doc_id order
    are laid end-to-end and a document belongs to the sequence where
    its first token lands (start-offset div budget) — the standard
    greedy packing LLM data loaders use, made deterministic.

    Scale shape: the running token total is a window partitioned BY
    SOURCE SHARD, so packing parallelizes across shards and no global
    single-partition sort ever happens (real pipelines pack per input
    shard for exactly this reason).  Output is one row per sequence
    with its document count and token total; sequences may overflow
    the budget by at most one document's tokens, exactly like
    concat-and-chunk packing with document boundaries respected.

    Reference scope: net-new; oracle is the identical windowed cumsum
    in DuckDB SQL.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(_tokens(F.col("text"))).cast("long").alias("nt")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "seq_id", ((F.sum("nt").over(w) - F.col("nt")) / budget).cast("long")
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("seq_tokens")
    )


# ---------------------------------------------------------------------------
# Mixture accounting: per-(source, lang) share of docs and tokens
# ---------------------------------------------------------------------------
@query(
    "mixture_stats",
    oracle="""
    WITH toks AS (
      SELECT source, lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt,
             n_chars
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             ROUND(AVG(n_chars), 4) AS avg_chars
      FROM toks GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_tokens, avg_chars,
           ROUND(CAST(total_tokens AS DOUBLE)
                 / SUM(total_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def mixture_stats(spark, sf_dir):
    """Dataset-mixture table: per (source, lang) document counts,
    token totals, mean length, and each cell's share of the corpus
    token budget — the table a training run's data card is built from.

    One hash aggregation (map-side combined) to the tiny (source x
    lang) grid; the share is a window over that grid, which at any
    corpus size is a few hundred rows — the global window is over the
    AGGREGATE, never the raw corpus."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source", "lang", F.size(_tokens(F.col("text"))).cast("long").alias("nt"), "n_chars"
    )
    g = toks.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    return g.withColumn(
        "token_share",
        F.round(
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ),
    )


# ---------------------------------------------------------------------------
# Mixture reweighting: per-source sampling weights toward a target mix
# ---------------------------------------------------------------------------
@query(
    "mixture_reweight",
    oracle="""
    WITH toks AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt
      FROM documents
    ),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    s AS (
      SELECT *,
             CAST(total_tokens AS DOUBLE) / SUM(total_tokens) OVER () AS share,
             1.0 / COUNT(*) OVER () AS target
      FROM g
    )
    SELECT source, n_docs, total_tokens,
           ROUND(share, 6) AS token_share,
           ROUND(target, 6) AS target_share,
           ROUND(target / share, 6) AS weight,
           ROUND(LEAST(target / share, 1.0), 6) AS sample_rate,
           CAST(GREATEST(CEIL(target / share), 1) AS BIGINT) AS repeat_factor
    FROM s
    """,
)
def mixture_reweight(spark, sf_dir):
    """Per-source sampling weights that move the corpus toward a
    uniform token budget per source (the equal-mix special case of
    DoReMi-style domain reweighting; any target vector is a literal-map
    join away).  ``weight`` > 1 means the source is under-represented —
    ``repeat_factor`` says how many epochs of it to take; weight < 1
    means downsample at ``sample_rate`` (feed it to
    ``stratified_sample``'s content-hash threshold for a deterministic
    cut).

    Scale shape mirrors mixture_stats: one map-side-combined hash
    aggregation to the per-source grid, then windows over that
    few-row aggregate only — the corpus is never reshuffled."""
    d = load(spark, sf_dir, "documents")
    g = (
        d.select("source", F.size(_tokens(F.col("text"))).cast("long").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
        )
    )
    w = Window.partitionBy()
    share = F.col("total_tokens").cast("double") / F.sum("total_tokens").over(w)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w)
    weight = target / share
    return g.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(target, 6).alias("target_share"),
        F.round(weight, 6).alias("weight"),
        F.round(F.least(weight, F.lit(1.0)), 6).alias("sample_rate"),
        F.greatest(F.ceil(weight), F.lit(1)).cast("long").alias("repeat_factor"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling by content hash
# ---------------------------------------------------------------------------
@query(
    "stratified_sample",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          / 4294967296.0 < 0.2
    """,
)
def stratified_sample(spark, sf_dir, rate: float = 0.2):
    """Deterministic 20% sample: keep a doc iff the uniform value
    derived from md5(doc_id) falls under the rate.

    Unlike ``df.sample`` (partition-layout dependent) or rand()
    (nondeterministic across retries), a content-hash threshold gives
    the SAME sample on any cluster, any partitioning, any engine —
    which is what makes held-out splits and ablation subsets
    reproducible.  md5 (not xxhash64) because both Spark and DuckDB
    implement it identically, so the oracle checks the exact sample.
    Per-stratum rates are a WHEN ladder away; the hash input switching
    to (doc_id, stratum) reshuffles independently per stratum."""
    d = load(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    return d.filter(u < rate).select("doc_id", "source")


# ---------------------------------------------------------------------------
# PII / pattern redaction over free-text fields
# ---------------------------------------------------------------------------
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
_NUM_RE = "[0-9]+"


@query(
    "pii_scrub",
    oracle="""
    WITH s1 AS (
      SELECT event_id, event_type,
             CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t
      FROM events
    ),
    s2 AS (
      SELECT event_id, event_type, n_emails,
             CAST(len(regexp_extract_all(t, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS BIGINT) AS n_phones,
             regexp_replace(t, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '[PHONE]', 'g') AS t
      FROM s1
    )
    SELECT event_id, event_type, n_emails, n_phones,
           CAST(len(regexp_extract_all(t, '[0-9]+')) AS BIGINT) AS n_numbers,
           regexp_replace(t, '[0-9]+', '[NUM]', 'g') AS redacted
    FROM s2
    """,
)
def pii_scrub(spark, sf_dir):
    """Pattern-redaction pass (PII scrubbing): emails, phone numbers,
    then remaining digit runs are counted and replaced with typed
    placeholder tokens, in that order — each later pattern runs on the
    PREVIOUSLY redacted text so a digit inside an already-redacted
    email is never double-counted.  Demonstrated on the events.props
    payload (the corpus field that actually contains digits).

    All JVM: `regexp_count` + nested `regexp_replace`, so the scrub
    runs inside whole-stage codegen at full scan speed — the shape a
    100 TB pre-training scrub needs (embarrassingly parallel, zero
    shuffles, pushdown-friendly).  Patterns are restricted to the
    Java-regex ∩ RE2 common dialect so the DuckDB oracle checks the
    exact redacted strings, not just counts.

    Reference scope: net-new (the reference has no text hygiene).
    """
    e = load(spark, sf_dir, "events")
    s1 = e.select(
        "event_id",
        "event_type",
        F.regexp_count("props", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_replace("props", _EMAIL_RE, "[EMAIL]").alias("t"),
    )
    s2 = s1.select(
        "event_id",
        "event_type",
        "n_emails",
        F.regexp_count("t", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace("t", _PHONE_RE, "[PHONE]").alias("t"),
    )
    return s2.select(
        "event_id",
        "event_type",
        "n_emails",
        "n_phones",
        F.regexp_count("t", F.lit(_NUM_RE)).cast("long").alias("n_numbers"),
        F.regexp_replace("t", _NUM_RE, "[NUM]").alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style): most-frequent-n-gram mass per doc
# ---------------------------------------------------------------------------
@query(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    gr AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
      FROM toks WHERE len(w) >= 2
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY doc_id, g),
    top AS (
      SELECT doc_id, g, c FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, g) AS rn
        FROM cnt
      ) WHERE rn = 1
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_distinct(t.w)) AS DOUBLE) / len(t.w), 4) AS distinct_ratio,
           top.g AS top_bigram,
           CAST(top.c AS BIGINT) AS top_bigram_count,
           ROUND(top.c * CAST(length(top.g) AS DOUBLE) / length(t.text), 4)
             AS top_bigram_char_frac
    FROM toks t JOIN top ON top.doc_id = t.doc_id
    WHERE len(t.w) >= 2
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals per document: token count,
    distinct-token ratio, the most frequent word bigram (deterministic
    tie-break: smallest lexicographically among the most frequent) and
    the fraction of the document's characters covered by that bigram's
    occurrences — the 'duplicate n-gram character fraction' filter
    from the Gopher/MassiveText quality rules.

    Shape: bigrams explode to (doc_id, gram) rows, one hash-agg to
    per-doc gram counts, one doc-partitioned window for the argmax —
    everything keyed by doc_id, so the shuffles partition evenly by
    document regardless of corpus size (no global hot key: the window
    is per doc, never over the whole gram table).

    Reference scope: net-new; oracle is the identical computation in
    DuckDB list comprehensions.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "text", _tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i), F.element_at("w", i + 1)
                ),
            )
        ).alias("g"),
    )
    cnt = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("g"))
    top = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("g").alias("top_bigram"),
                F.col("c").cast("long").alias("top_bigram_count"))
    )
    base = toks.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("w")).cast("double") / F.size("w"), 4
        ).alias("distinct_ratio"),
        F.length("text").alias("text_len"),
    )
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            "top_bigram",
            "top_bigram_count",
            F.round(
                F.col("top_bigram_count")
                * F.length("top_bigram").cast("double")
                / F.col("text_len"),
                4,
            ).alias("top_bigram_char_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Composite quality gate: C4/Gopher-style keep/drop with reasons
# ---------------------------------------------------------------------------
@query(
    "quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(w, x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE)
               / GREATEST(len(w), 1) AS stopword_ratio,
             CAST(len(list_distinct(w)) AS DOUBLE) / GREATEST(len(w), 1) AS distinct_ratio
      FROM t
    )
    SELECT doc_id, n_tokens,
           ROUND(stopword_ratio, 4) AS stopword_ratio,
           ROUND(distinct_ratio, 4) AS distinct_ratio,
           (n_tokens >= 25 AND stopword_ratio >= 0.02 AND distinct_ratio >= 0.35)
             AS keep,
           COALESCE(array_to_string(list_filter([
             CASE WHEN n_tokens < 25 THEN 'too_short' END,
             CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END,
             CASE WHEN distinct_ratio < 0.35 THEN 'repetitive' END
           ], x -> x IS NOT NULL), ','), '') AS fail_reasons
    FROM sig
    """,
)
def quality_filter(spark, sf_dir, min_tokens: int = 25,
                   min_stopword: float = 0.02, min_distinct: float = 0.35):
    """End-to-end document quality gate, C4/Gopher style: combines the
    individually-verified signals (token count, stopword ratio,
    distinct-token ratio) into one keep/drop decision with an explicit
    machine-readable reason list — the single call a curation pipeline
    runs to materialize its filtered corpus plus an audit trail of what
    was dropped and why.

    Everything is JVM expressions over one scan (no joins, no
    shuffles): at 100 TB this runs at parquet-scan speed and the
    decision column prunes to a predicate-pushdown-friendly boolean
    for downstream readers.

    Reference scope: net-new; thresholds are constructor args so real
    corpora tune them per source.
    """
    d = load(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    sig = d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        (
            F.size(F.filter(w, lambda x: x.isin(*"the a and of to".split())))
            .cast("double")
            / F.greatest(F.size(w), F.lit(1))
        ).alias("stopword_ratio"),
        (
            F.size(F.array_distinct(w)).cast("double")
            / F.greatest(F.size(w), F.lit(1))
        ).alias("distinct_ratio"),
    )
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") >= min_stopword)
        & (F.col("distinct_ratio") >= min_distinct)
    )
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_tokens") < min_tokens, F.lit("too_short")),
            F.when(F.col("stopword_ratio") < min_stopword, F.lit("low_stopword")),
            F.when(F.col("distinct_ratio") < min_distinct, F.lit("repetitive")),
        )
    )
    return sig.select(
        "doc_id",
        "n_tokens",
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("distinct_ratio", 4).alias("distinct_ratio"),
        keep.alias("keep"),
        F.concat_ws(",", reasons).alias("fail_reasons"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a new crawl batch against the existing corpus
# ---------------------------------------------------------------------------
@query(
    "dedup_incremental",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    corpus AS (
      SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS dup_of
      FROM fp WHERE doc_id % 10 < 8 GROUP BY fp
    ),
    batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 >= 8)
    SELECT b.doc_id, c.dup_of IS NULL AS is_new, c.dup_of
    FROM batch b LEFT JOIN corpus c USING (fp)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental (batch-vs-corpus) exact dedup: classify each
    document of a newly-arrived batch as genuinely new or an exact
    duplicate of an existing corpus document, by normalized-text
    fingerprint.  This is the steady-state shape of corpus dedup — a
    full self-dedup runs once, every crawl after that only compares
    the delta against the fingerprint store (here the batch is
    simulated as ``doc_id % 10 >= 8``, the corpus as the rest).

    Scale shape: the corpus side collapses to one row per DISTINCT
    fingerprint (16-byte md5 + one long) before the join — at 100 TB
    that fingerprint store is ~1/1000th the corpus bytes, lives as its
    own bucketed table (bucketed BY fp — see sources/layout.py), and
    the incremental batch is the only side that shuffles; when the
    batch is small AQE broadcasts it.  Same normalization as
    ``dedup_exact`` (llm.py) so the two agree on what "exact" means.

    Reference scope: this IS the reference's insert-if-absent merge
    semantics (S7, sync-dictionary.js INSERT IGNORE shape) applied to
    the corpus domain; net-new as a curation operator.
    """
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    docs = d.select("doc_id", fp.alias("fp"))
    corpus = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    return batch.join(corpus, "fp", "left").select(
        "doc_id", F.col("dup_of").isNull().alias("is_new"), "dup_of"
    )


# ---------------------------------------------------------------------------
# Containment dedup: near-superset documents (quote/aggregator pages)
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM toks WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT i AS doc_inner, j AS doc_outer, c, si.sz AS szc
      FROM common JOIN sizes si ON si.doc_id = i
      UNION ALL
      SELECT j, i, c, sj.sz
      FROM common JOIN sizes sj ON sj.doc_id = j
    )
    SELECT doc_inner, doc_outer,
           ROUND(CAST(c AS DOUBLE) / szc, 4) AS containment
    FROM directed
    WHERE CAST(c AS DOUBLE) / szc >= 0.8
    """,
)
def dedup_containment(spark, sf_dir, threshold: float = 0.8, df_cap: int = 100):
    """Near-superset detection: ordered pairs where >= 80% of
    ``doc_inner``'s word-3-gram set also appears in ``doc_outer``.
    Jaccard misses these — a short document fully quoted inside a long
    aggregator page has high containment but low Jaccard (the union is
    dominated by the long side), and containment is the signal
    curation pipelines use to drop quote/boilerplate-wrapper pages
    (asymmetric, unlike Jaccard: A-in-B says drop A, not B).

    Same three-stage skew-bounded shape as ``dedup_ngram_jaccard``
    (llm.py): df-capped posting-list pair enumeration -> count-bound
    prune with per-doc hot-shingle scalars (containment upper bound
    ``(c + min(hot_i, hot_j)) / sz_inner`` in pure integer math) ->
    exact verification via array_intersect on the survivors' full
    hashed shingle sets.  Each unordered candidate yields up to two
    directed rows; the arrays are touched once per pair.
    """
    from beehive_spark.queries.llm import _pairs_from_plists, _posting_lists

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    hsets = (
        toks.filter(F.size("w") >= 3)
        .select("doc_id", _ngram_hashes(F.col("w")).alias("hs"))
        .persist()
    )
    plists = _posting_lists(hsets.select("doc_id", F.explode("hs").alias("s"))).persist()
    cands = _pairs_from_plists(plists, df_cap)
    sizes = hsets.select("doc_id", F.size("hs").alias("sz"))
    hot_per_doc = (
        plists.filter(F.size("docs") > df_cap)
        .select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hot"))
    )
    stats = sizes.join(hot_per_doc, "doc_id", "left").na.fill(0, ["hot"])
    si = stats.select(
        F.col("doc_id").alias("doc_i"),
        F.col("sz").alias("szi"),
        F.col("hot").alias("hoti"),
    )
    sj = stats.select(
        F.col("doc_id").alias("doc_j"),
        F.col("sz").alias("szj"),
        F.col("hot").alias("hotj"),
    )
    c_ub = (F.col("c") + F.least("hoti", "hotj")).cast("double")
    surv = (
        cands.join(si, "doc_i")
        .join(sj, "doc_j")
        .filter(
            (c_ub / F.col("szi") >= threshold) | (c_ub / F.col("szj") >= threshold)
        )
        .select("doc_i", "doc_j")
    )
    ci = hsets.select(F.col("doc_id").alias("doc_i"), F.col("hs").alias("si"))
    cj = hsets.select(F.col("doc_id").alias("doc_j"), F.col("hs").alias("sj"))
    c_exact = F.size(F.array_intersect("si", "sj")).cast("double")
    verified = (
        surv.join(ci, "doc_i")
        .join(cj, "doc_j")
        .select("doc_i", "doc_j", c_exact.alias("c"), "si", "sj")
        .select(
            "doc_i",
            "doc_j",
            "c",
            F.size("si").cast("double").alias("szi"),
            F.size("sj").cast("double").alias("szj"),
        )
    )
    # both directed rows emit from ONE pass over the verified pairs
    # (exploded 2-struct array) — the former inner/outer unionByName
    # re-ran the exact array_intersect verification join per branch
    return (
        verified.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_i").alias("doc_inner"),
                        F.col("doc_j").alias("doc_outer"),
                        (F.col("c") / F.col("szi")).alias("cont"),
                    ),
                    F.struct(
                        F.col("doc_j").alias("doc_inner"),
                        F.col("doc_i").alias("doc_outer"),
                        (F.col("c") / F.col("szj")).alias("cont"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("cont") >= threshold)
        .select(
            "doc_inner", "doc_outer", F.round("cont", 4).alias("containment")
        )
    )


# ---------------------------------------------------------------------------
# Corpus boilerplate report: hot n-grams by document frequency
# ---------------------------------------------------------------------------
@query(
    "boilerplate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM toks WHERE len(w) >= 3
    )
    SELECT s AS ngram, CAST(COUNT(*) AS BIGINT) AS df
    FROM sh GROUP BY s HAVING COUNT(*) >= 5
    """,
)
def boilerplate_ngrams(spark, sf_dir, min_df: int = 5):
    """Corpus-level boilerplate detector: word-3-grams whose document
    frequency is >= ``min_df`` — headers, footers, license blurbs,
    navigation text.  This is the report that FEEDS the df-cap used by
    ``dedup_ngram_jaccard``/``dedup_containment`` (what exactly is
    being excluded and how hot is it) and the removal list for
    line-level boilerplate stripping.

    One explode + one groupBy with map-side partial aggregation; the
    HAVING filter runs in the same aggregate, so only the (tiny) hot
    tail survives the shuffle read side.  Deliberately returns the
    shingle STRINGS (human-readable report); at 100 TB run the groupBy
    on xxhash64 keys first and join the surviving hashes back to one
    exemplar string each — same result, 8-byte shuffle keys (that
    variant is what _posting_lists does for the dedup path).
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    sh = toks.filter(F.size("w") >= 3).select(
        "doc_id", F.explode(_shingles(F.col("w"))).alias("s")
    )
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select(F.col("s").alias("ngram"), "df")
    )


# ---------------------------------------------------------------------------
# BPE-style merge statistics: adjacent character-pair frequencies
# ---------------------------------------------------------------------------
@query(
    "bpe_top_merges",
    oracle="""
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents
    ),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> substr(w, CAST(i AS INT), 2))) AS pair,
             c
      FROM wf WHERE len(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS freq
    FROM pairs GROUP BY pair ORDER BY freq DESC, pair LIMIT 20
    """,
)
def bpe_top_merges(spark, sf_dir, k: int = 20):
    """Top adjacent character-pair frequencies over the corpus — the
    statistic a BPE tokenizer trainer maximizes at every merge step
    (Sennrich et al. 2016).  One iteration of the distributed trainer:
    rank candidate merges; a full trainer loops this with the chosen
    merge applied (each round is this same plan over the re-segmented
    vocab).

    Scale shape: pair counting runs over the DISTINCT-WORD table
    weighted by word frequency, not over raw tokens — the vocab is
    orders of magnitude smaller than the corpus, which is exactly how
    production BPE trainers stay tractable.  Two map-side-combined
    hash aggregations (word freq, then pair freq over <= 36^2 keys);
    the final top-k sorts a few hundred rows."""
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis, deterministic)
# ---------------------------------------------------------------------------
@query(
    "sample_weighted",
    oracle="""
    WITH k AS (
      SELECT source, doc_id, n_chars,
             LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                 + 0.5) / 4294967296.0)
               / GREATEST(n_chars, 1) AS key
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY key DESC, doc_id) AS rk
      FROM k
    )
    WHERE rk <= 50
    """,
)
def sample_weighted(spark, sf_dir, k: int = 50):
    """Weighted sampling without replacement, top-k per source with
    inclusion probability proportional to document length — the
    Efraimidis-Spirakis A-ES exponential race (key = ln(u)/w; the
    k largest keys are exactly a w-weighted draw without
    replacement).  Longer documents are proportionally likelier to be
    picked, the standard size-weighted way to subsample a corpus for
    tokenizer training or eval panels without biasing toward tiny
    docs.

    Deterministic end-to-end: u derives from md5(doc_id) (same
    construction as ``stratified_sample``), so the SAME sample comes
    out on any engine, partitioning or retry, and the oracle can
    verify the exact draw — rand()-based weighted sampling can't be
    differentially tested at all.

    Scale shape: the key is a per-row expression (no shuffle); the
    only exchange is the per-source top-k window, which AQE keeps
    proportional to source count x k.  For very hot single sources,
    the two-phase top-k (per-partition head then global head) in
    ``group_topn`` applies unchanged."""
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    w = Window.partitionBy("source").orderBy(F.col("key").desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", key.alias("key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("source", "doc_id", "n_chars", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# BPE train + apply: learned-subword token counts per document
# ---------------------------------------------------------------------------
@query("bpe_encode")  # learned merges -> rows-only driver check
def bpe_encode(spark, sf_dir, n_merges: int = 100, vocab_cap: int = 30_000):
    """End-to-end BPE: distributed word-frequency statistics -> driver
    -side merge training on the top-``vocab_cap`` frequency-weighted
    vocab (sequential by nature; seconds at any corpus size) ->
    distributed Arrow-batched encoding with the merge table broadcast
    and an LRU per-word cache (`functions.bpe`).  Output per document:
    exact subword token count and the chars-per-token compression the
    learned vocab achieves — the per-doc statistic that token-budget
    accounting and mixture reweighting consume.

    Completes the tokenizer story next to ``bpe_top_merges`` (which
    reports first-round pair statistics): this trains the full merge
    sequence and APPLIES it.  Deterministic: vocab sample ordered by
    (-freq, word), ties in training break on (-count, pair).

    Scale shape: the corpus is read twice (word stats; encoding).
    Encoding is the only Python stage — per-batch cost is amortized by
    the word cache (each distinct word encodes once per batch,
    Zipf-friendly), and the merge table is O(n_merges) however big the
    corpus."""
    import pandas as pd

    from beehive_spark.functions.bpe import make_encoder, train_bpe

    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(vocab_cap)
    )
    word_freqs = [(r["w"], r["c"]) for r in wf.collect()]
    merges = train_bpe(word_freqs, n_merges=n_merges)

    import re

    tok_re = re.compile("[a-z0-9]+")

    def encode_docs(batches):
        enc = make_encoder(merges)
        for pdf in batches:
            n_words, n_bpe, n_chars = [], [], []
            for text in pdf["text"]:
                words = tok_re.findall(text.lower())
                toks = 0
                chars = 0
                for w in words:
                    toks += len(enc(w))
                    chars += len(w)
                n_words.append(len(words))
                n_bpe.append(toks)
                n_chars.append(chars)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_bpe_tokens": n_bpe,
                    "chars_per_token": [
                        round(c / t, 4) if t else 0.0
                        for c, t in zip(n_chars, n_bpe)
                    ],
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        encode_docs,
        "doc_id long, n_words long, n_bpe_tokens long, chars_per_token double",
    )


# ---------------------------------------------------------------------------
# Per-group quota sampling — exact-size strata for eval-set construction
# ---------------------------------------------------------------------------
@query(
    "stratified_quota_sample",
    oracle="""
    SELECT lang, source, doc_id
    FROM (
      SELECT lang, source, doc_id,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def stratified_quota_sample(spark, sf_dir, quota: int = 5):
    """Exact-quota stratified sampling: the FIRST ``quota`` documents
    per (lang, source) stratum in md5-of-id order — the deterministic
    "shuffled" order every engine reproduces bit-identically, so the
    drawn eval/holdout set is stable across reruns and engines (the
    property ``stratified_sample`` provides for RATE-based draws,
    here for exact per-stratum SIZES — balanced eval sets, per-source
    spot-check samples, labeling batches).

    Scale shape: one hash-partitioned window per stratum; no stratum
    materializes beyond its partition, and the md5 sort key is computed
    on the fly (no shuffle of text payloads — doc ids only join back
    to content downstream if needed).  With heavy skew toward one
    stratum, rank-then-filter still only SORTS within partitions after
    hash exchange — at 100 TB prefer bucketing the table by the
    stratum columns to delete the exchange (sources/layout.py)."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    return (
        d.select("lang", "source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Corpus drift report — per-source distribution shift between snapshots
# ---------------------------------------------------------------------------
@query(
    "corpus_drift",
    oracle="""
    WITH old AS (
      SELECT source, n_chars FROM documents
    ),
    new AS (
      SELECT source,
             n_chars + CASE WHEN doc_id % 7 = 0 THEN 40 ELSE 0 END AS n_chars
      FROM documents WHERE doc_id % 13 <> 0
    ),
    ob AS (
      SELECT source, least(7, n_chars // 256) AS bin, COUNT(*) AS c
      FROM old GROUP BY source, bin
    ),
    nb AS (
      SELECT source, least(7, n_chars // 256) AS bin, COUNT(*) AS c
      FROM new GROUP BY source, bin
    ),
    bins AS (
      SELECT COALESCE(ob.source, nb.source) AS source,
             COALESCE(ob.bin, nb.bin) AS bin,
             COALESCE(ob.c, 0) AS c_old, COALESCE(nb.c, 0) AS c_new
      FROM ob FULL OUTER JOIN nb
        ON ob.source = nb.source AND ob.bin = nb.bin
    ),
    spread AS (
      SELECT source, c_old, c_new,
             SUM(c_old) OVER (PARTITION BY source) AS n_old,
             SUM(c_new) OVER (PARTITION BY source) AS n_new
      FROM bins
    ),
    tot AS (
      SELECT source, n_old, n_new,
             SUM(ABS(c_old * n_new - c_new * n_old)) AS l1_num
      FROM spread GROUP BY source, n_old, n_new
    )
    SELECT source, CAST(n_old AS BIGINT) AS n_old,
           CAST(n_new AS BIGINT) AS n_new,
           ROUND(CAST(l1_num AS DOUBLE) / (n_old * n_new), 6) AS len_l1
    FROM tot
    """,
)
def corpus_drift(spark, sf_dir):
    """Distribution-shift monitor between two corpus snapshots (the
    "new" one a deterministic mutation: drop doc_id%13, lengthen %7):
    per source, row-count drift plus the L1 distance between the two
    length histograms — the data-card diff a pipeline checks before
    accepting a vendor refresh.  The L1 of PROPORTIONS is computed as
    the integer numerator ``sum |c_old*n_new - c_new*n_old|`` over
    ``n_old*n_new`` (cross-multiplied so every intermediate is an
    exact BIGINT; only the final division rounds — the exact-sums
    trick again), and binning is integer ``n_chars div 256`` — the
    whole report is bit-identical on any engine.

    Scale shape: two map-side-combined per-source histogram aggs, a
    bins-sized full-outer merge, a per-source window — cost scales
    with |sources| x 8 bins, not documents, once the first aggs run.

    Reference scope: net-new; monitoring counterpart of
    `mixture_stats` / `dq_violations`."""
    d = load(spark, sf_dir, "documents")
    old = d.select("source", "n_chars")
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        "source",
        (
            F.col("n_chars")
            + F.when(F.col("doc_id") % 7 == 0, 40).otherwise(0)
        ).alias("n_chars"),
    )

    def hist(df, cname):
        return df.select(
            "source", F.least(F.lit(7), F.expr("n_chars div 256")).alias("bin")
        ).groupBy("source", "bin").agg(F.count(F.lit(1)).alias(cname))

    ob, nb = hist(old, "c_old"), hist(new, "c_new")
    bins = (
        ob.join(nb, ["source", "bin"], "full_outer")
        .select(
            "source",
            "bin",
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
        )
    )
    w = Window.partitionBy("source")
    per = bins.select(
        "source",
        "c_old",
        "c_new",
        F.sum("c_old").over(w).alias("n_old"),
        F.sum("c_new").over(w).alias("n_new"),
    )
    return (
        per.groupBy("source", "n_old", "n_new")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_old") * F.col("n_new")
                    - F.col("c_new") * F.col("n_old")
                )
            ).alias("l1_num")
        )
        .select(
            "source",
            F.col("n_old").cast("long").alias("n_old"),
            F.col("n_new").cast("long").alias("n_new"),
            F.round(
                F.col("l1_num") / (F.col("n_old") * F.col("n_new")), 6
            ).alias("len_l1"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram language-model table — conditional next-word statistics
# ---------------------------------------------------------------------------
@query(
    "bigram_next_word",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    pair_counts AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
    ),
    head_counts AS (
      SELECT w1, SUM(n_pair) AS n_head FROM pair_counts GROUP BY w1
    ),
    top_heads AS (
      SELECT w1, n_head,
             row_number() OVER (ORDER BY n_head DESC, w1) AS hr
      FROM head_counts
    ),
    ranked AS (
      SELECT p.w1, p.w2, p.n_pair, h.n_head,
             row_number() OVER (
               PARTITION BY p.w1 ORDER BY p.n_pair DESC, p.w2) AS rn
      FROM pair_counts p
      JOIN top_heads h ON h.w1 = p.w1 AND h.hr <= 20
    )
    SELECT w1, w2,
           CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_head AS BIGINT) AS n_head,
           ROUND(n_pair / CAST(n_head AS DOUBLE), 4) AS p_next
    FROM ranked WHERE rn <= 3
    """,
)
def bigram_next_word(spark, sf_dir, top_heads: int = 20, k: int = 3):
    """Bigram conditional next-word table — the language-model data-QA
    report: for the ``top_heads`` most frequent first words, the top-k
    successors with exact pair counts and P(w2|w1).  Integer counts end
    to end; only the final probability divides (rounded identically in
    both engines).  This is the data-side bigram table a tokenizer/LM
    pipeline inspects for corpus anomalies (a hot bigram = boilerplate,
    a near-1.0 conditional = templated text).

    Scale shape: one token explode -> one (w1,w2) count (map-side
    combined), head totals as a second aggregate of the PAIR COUNTS
    (never a second corpus pass), per-head top-k window partitioned by
    w1 (vocabulary-sized partitions), and head selection via
    orderBy().limit() — Spark's distributed TakeOrdered, NOT a global
    row_number window, so the |vocab|-row frame never funnels through
    one partition.  The corpus is touched once."""
    from beehive_spark.queries.llm import _tokens

    d = load(spark, sf_dir, "documents")
    toks = d.select(_tokens(F.col("text")).alias("t"))
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("t") - 1, F.lit(0))),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pair_counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    head_counts = pair_counts.groupBy("w1").agg(F.sum("n_pair").alias("n_head"))
    heads = head_counts.orderBy(F.col("n_head").desc(), "w1").limit(top_heads)
    w_next = Window.partitionBy("w1").orderBy(F.col("n_pair").desc(), "w2")
    return (
        pair_counts.join(F.broadcast(heads), "w1")
        .withColumn("rn", F.row_number().over(w_next))
        .filter(F.col("rn") <= k)
        .select(
            "w1", "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_head").cast("long").alias("n_head"),
            F.round(F.col("n_pair") / F.col("n_head").cast("double"), 4).alias(
                "p_next"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic source interleave — reproducible training order
# ---------------------------------------------------------------------------
@query(
    "dataset_interleave",
    oracle="""
    WITH src AS (
      SELECT source,
             row_number() OVER (ORDER BY source) - 1 AS src_idx,
             COUNT(*) OVER () AS n_sources
      FROM (SELECT DISTINCT source FROM documents)
    ),
    pos AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
      FROM documents
    )
    SELECT p.doc_id, p.source,
           CAST(p.pos * s.n_sources + s.src_idx AS BIGINT)
             AS interleave_pos
    FROM pos p JOIN src s ON s.source = p.source
    """,
)
def dataset_interleave(spark, sf_dir):
    """Deterministic round-robin interleave across sources — the
    training-order primitive: each source's docs are shuffled by a
    content hash (md5 — reproducible on any cluster/partitioning,
    unlike rand() or zipWithIndex), then sources take strict turns:
    global position = within-source position * n_sources + source
    index.  A dataloader reading in ``interleave_pos`` order sees
    sources evenly mixed at every prefix — the property curriculum
    and multi-corpus training schedules rely on, with no shuffle of
    the payload (the ordering is a computed COLUMN; the write layer
    range-partitions by it if files must be physically ordered).

    Scale shape: one per-source window (hash-ordered within source —
    partitioned, no global sort) plus a broadcast join against the
    |sources|-row index frame.  The tiny ordered window runs on the
    distinct-source list, bounded by catalog size."""
    d = load(spark, sf_dir, "documents")
    w_src = Window.orderBy("source")
    src = (
        d.select("source").distinct()
        .select(
            "source",
            (F.row_number().over(w_src) - 1).alias("src_idx"),
        )
    )
    n_sources = d.select("source").distinct().count()
    w_pos = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("pos", F.row_number().over(w_pos) - 1)
        .join(F.broadcast(src), "source")
        .select(
            "doc_id",
            "source",
            (F.col("pos") * n_sources + F.col("src_idx"))
            .cast("long")
            .alias("interleave_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Train/val/test split manifest — hash-deterministic, per-source accounting
# ---------------------------------------------------------------------------
@query(
    "dataset_split_manifest",
    oracle="""
    WITH tagged AS (
      SELECT source, n_chars,
             CASE
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    / 4294967296.0 < 0.9 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    / 4294967296.0 < 0.95 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM tagged GROUP BY source, split
    """,
)
def dataset_split_manifest(spark, sf_dir):
    """Hash-deterministic train/val/test assignment (90/5/5) with the
    per-source data-card manifest: a doc's split is a pure function of
    md5(doc_id), so the SAME doc lands in the SAME split on any
    cluster, any engine, any rerun — leakage-proof by construction
    (contrast df.randomSplit, which reshuffles with partitioning), and
    the oracle verifies the exact assignment, not just counts.

    Scale shape: zero shuffles before the |sources x 3|-row manifest
    aggregate; the split column is a JVM expression usable directly as
    a partition column for the split write."""
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    split = (
        F.when(u < 0.9, F.lit("train"))
        .when(u < 0.95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-corpus overlap — source-level shingle Jaccard matrix
# ---------------------------------------------------------------------------
@query(
    "cross_corpus_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(c AS BIGINT) AS n_common,
           ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def cross_corpus_overlap(spark, sf_dir):
    """Corpus-level contamination matrix: word-3-gram Jaccard between
    every pair of SOURCES — the dataset-card diligence check before
    mixing corpora (high overlap = shared boilerplate, scraped
    mirrors, or a benchmark leak at source grain; the per-doc twin is
    ``contamination_ngram``).

    Scale shape: docs collapse to DISTINCT (source, shingle-hash)
    first; each shingle's source SET is then collected in one
    aggregation and its pairs enumerated as a JVM array expression —
    fan-out is C(|sources sharing the shingle|, 2) <= C(|sources|, 2)
    pairs per distinct shingle, bounded by the SOURCE count squared,
    never by docs, and the shingle key shuffles ONCE (a self-join
    formulation shuffles it twice and was measured 2x slower).  Size
    aggregates are map-side combined and the |sources|-row size frame
    broadcasts.  Shingles are xxhash64-hashed (8-byte shuffle keys,
    same as ``dedup_ngram_jaccard``)."""
    from beehive_spark.queries.llm import _ngram_hashes, _tokens

    d = load(spark, sf_dir, "documents")
    # the token array MUST materialize in its own projection: inlining
    # the tokenizer expression into _ngram_hashes re-evaluates it per
    # gram position inside the transform lambda (no CSE across lambda
    # boundaries) — O(len^2) per doc, measured 80.8s -> 6.3s at the
    # 10x stress corpus from this one split
    toks = d.select("source", _tokens(F.col("text")).alias("w"))
    raw = toks.select("source", F.explode(_ngram_hashes(F.col("w"))).alias("s"))
    # ONE corpus-sized shuffle (on the shingle key): collect_set
    # dedupes (source, s) duplicates inside the aggregate, so no
    # pre-distinct pass is needed, and per-source distinct sizes fall
    # out of the SAME persisted frame by re-exploding the
    # |sources|-bounded sets.  Locally this measures even with the
    # two-shuffle version (the corpus tokenize+hash pass dominates at
    # sf0.1); at cluster scale, where shuffle I/O dominates CPU,
    # halving the corpus shuffle volume is the difference that matters.
    bysh = raw.groupBy("s").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    ).persist()
    sizes = (
        bysh.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    bysh = bysh.filter(F.size("srcs") >= 2)
    pair_arr = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda a, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
            ),
        )
    )
    common = (
        bysh.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("szb"))
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b",
            F.col("c").cast("long").alias("n_common"),
            F.round(
                F.col("c") / (F.col("sza") + F.col("szb") - F.col("c")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Robust length outliers — per-source median/MAD z-scores
# ---------------------------------------------------------------------------
@query(
    "doc_length_outliers",
    oracle="""
    WITH stats AS (
      SELECT source,
             ROUND(quantile_cont(n_chars, 0.5), 2) AS med
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.source, d.doc_id, d.n_chars, s.med,
             ABS(d.n_chars - s.med) AS adev
      FROM documents d JOIN stats s ON s.source = d.source
    ),
    mads AS (
      SELECT source, ROUND(quantile_cont(adev, 0.5), 2) AS mad
      FROM dev GROUP BY source
    )
    SELECT v.source, v.doc_id,
           CAST(v.n_chars AS BIGINT) AS n_chars,
           ROUND(0.6745 * (v.n_chars - v.med) / m.mad, 4) AS robust_z
    FROM dev v JOIN mads m ON m.source = v.source
    WHERE m.mad > 0
      AND ABS(ROUND(0.6745 * (v.n_chars - v.med) / m.mad, 4)) > 1.5
    """,
)
def doc_length_outliers(spark, sf_dir, z_cut: float = 1.5):
    """Per-source robust length outliers — the data-cleaning screen
    that mean/stddev cannot provide when the lengths themselves are
    heavy-tailed: median + MAD (median absolute deviation) per source,
    then the modified z-score 0.6745*(x - med)/MAD (Iglewicz-Hoaglin)
    flags docs beyond ``z_cut``.  Truncation artifacts, concatenated
    pages and empty shells all surface here before they skew token
    budgets.

    Scale shape: two percentile aggregates per source (|sources| rows,
    broadcast back) and two scans of the n_chars column only (column
    pruning leaves the text bytes unread); medians round to the
    2-decimal grid in both engines so interpolation ulps cannot flip
    a boundary doc."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    stats = d.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("med")
    )
    dev = d.join(F.broadcast(stats), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mads = dev.groupBy("source").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 2).alias("mad")
    )
    z = F.round(
        F.lit(0.6745) * (F.col("n_chars") - F.col("med")) / F.col("mad"), 4
    )
    return (
        dev.join(F.broadcast(mads), "source")
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", z)
        .filter(F.abs("robust_z") > z_cut)
        .select(
            "source", "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            "robust_z",
        )
    )


# ---------------------------------------------------------------------------
# Prefix clusters — templated-document detection by shared openings
# ---------------------------------------------------------------------------
@query(
    "doc_prefix_clusters",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    pfx AS (
      SELECT doc_id, source,
             array_to_string(w[1:8], ' ') AS prefix
      FROM toks WHERE len(w) >= 8
    )
    SELECT prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS exemplar_doc
    FROM pfx
    GROUP BY prefix
    HAVING COUNT(*) >= 2
    """,
)
def doc_prefix_clusters(spark, sf_dir, k: int = 8, min_docs: int = 2):
    """Templated-document detection: documents sharing their first
    ``k`` tokens verbatim cluster together — the cheap screen that
    catches form letters, scraped boilerplate pages and generation
    templates BEFORE any expensive near-dup pass (a shared opening is
    the strongest single signal of templating; Lee et al. 2022 §4
    observe most exact dups share prefixes).  Reports each prefix
    cluster's size, source spread (cross-source clusters = scraped
    mirrors) and an exemplar doc for inspection.

    Scale shape: one zero-join projection (first-k-token prefix, JVM
    slice + concat) and one map-side-combined aggregate keyed on the
    prefix; the HAVING filter prunes singleton groups before they
    leave the aggregate."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", _tokens(F.col("text")).alias("w"))
    pfx = toks.filter(F.size("w") >= k).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice("w", 1, k)).alias("prefix"),
    )
    return (
        pfx.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------------------
# Negative sampling — deterministic hash-slot draws, linear in |users| * k
# ---------------------------------------------------------------------------
@query(
    "negative_sampling",
    oracle="""
    WITH np AS (SELECT COUNT(*) AS n_parts FROM part),
    slots AS (
      SELECT c.c_custkey, g.i FROM customer c
      CROSS JOIN generate_series(0, 19) AS g(i)),
    draw AS (
      SELECT c_custkey, i,
             CAST(('0x' || substr(
                     md5(c_custkey || ':' || i), 1, 8))::UBIGINT
                  % n_parts AS BIGINT) AS partkey
      FROM slots CROSS JOIN np),
    pos AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    neg AS (
      SELECT d.c_custkey, d.partkey, MIN(d.i) AS first_slot
      FROM draw d
      WHERE NOT EXISTS (
        SELECT 1 FROM pos WHERE pos.c = d.c_custkey AND pos.p = d.partkey)
      GROUP BY 1, 2),
    r AS (
      SELECT c_custkey, partkey, first_slot,
             ROW_NUMBER() OVER (
               PARTITION BY c_custkey ORDER BY first_slot) AS rk
      FROM neg)
    SELECT c_custkey AS custkey, partkey AS neg_partkey,
           CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    """,
)
def negative_sampling(spark, sf_dir, k: int = 5, oversample: int = 4):
    """Deterministic negative sampling for implicit-feedback training
    pairs: each customer draws ``k * oversample`` pseudo-random part
    ids from hash slots — partkey = md5(custkey ':' slot) mod
    |parts| — drops any that the customer actually purchased
    (anti-join against the positives), collapses repeat draws to
    their first slot, and keeps the first ``k`` survivors in slot
    order.  The standard corruption-sampling step of two-tower /
    matrix-factorization training (Rendle et al., BPR 2009), made
    reproducible: the same (customer, slot) always draws the same
    part on any cluster, any partitioning, any engine.

    THE SCALE POINT: negatives come from |customers| * k*oversample
    generated slot rows (a projection over a per-row ``sequence``
    explode) — the naive candidate enumeration is |customers| x
    |parts| (a cross join that cannot run at catalog scale), this is
    linear with a constant oversample factor.  The part-count rides
    in as a 1-row broadcast; the positives anti-join is an equi
    shuffle on (custkey, partkey); the final keep-k is a per-customer
    window over <= k*oversample rows.  md5 (not xxhash64) because both
    engines implement it identically — the sampling-parity pattern of
    ``stratified_sample``.

    Undersupply is possible by construction (a customer whose 20
    draws all collide or hit positives emits < k rows) and identical
    in both engines; at sf0.001 every customer fills all 5."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    np_ = load(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_parts"))
    slots = c.select(
        "c_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(k * oversample - 1))).alias("i"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("c_custkey").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    draw = slots.crossJoin(F.broadcast(np_)).select(
        "c_custkey", "i", F.pmod(h, F.col("n_parts")).alias("partkey")
    )
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    neg = (
        draw.join(pos, ["c_custkey", "partkey"], "left_anti")
        .groupBy("c_custkey", "partkey")
        .agg(F.min("i").alias("first_slot"))
    )
    w = Window.partitionBy("c_custkey").orderBy("first_slot")
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("partkey").alias("neg_partkey"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Min-max feature scaling — order-free exact normalization per group
# ---------------------------------------------------------------------------
@query(
    "feature_minmax_scaled",
    oracle="""
    WITH b AS (
      SELECT p_brand, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
      FROM part GROUP BY 1)
    SELECT p.p_partkey, p.p_brand AS brand,
           ROUND((p.p_retailprice - b.lo) / (b.hi - b.lo), 6) AS price_scaled
    FROM part p JOIN b ON p.p_brand = b.p_brand
    """,
)
def feature_minmax_scaled(spark, sf_dir):
    """Per-brand min-max price scaling to [0, 1] — the feature-prep
    normalization step of a training pipeline, done with ORDER-FREE
    exactness: min/max are selections (no arithmetic, no aggregation-
    order sensitivity, unlike a mean/stddev z-score over doubles), and
    the per-row rescale is one subtraction and one division evaluated
    identically from identical stored doubles in both engines, so the
    rounded values are bit-equal.  Groups where hi == lo would divide
    by zero; the corpus has none (every brand spans prices — asserted
    in tests/test_curation.py), and real pipelines gate constant
    features out before scaling.

    Scale shape: one map-side-combinable (brand, min, max) aggregate
    over the dimension grain, broadcast back onto the fact row — the
    stats frame is |brands| rows, so the rescale adds ZERO shuffle to
    the scan."""
    p = load(spark, sf_dir, "part")
    b = p.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    )
    return (
        p.join(F.broadcast(b), "p_brand")
        .select(
            "p_partkey",
            F.col("p_brand").alias("brand"),
            F.round(
                (F.col("p_retailprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo")),
                6,
            ).alias("price_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — quasi-identifier group sizes and re-id risk flags
# ---------------------------------------------------------------------------
@query(
    "k_anonymity_audit",
    oracle="""
    SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < 6 AS at_risk
    FROM customer GROUP BY 1, 2
    """,
)
def k_anonymity_audit(spark, sf_dir, k: int = 6):
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier pair: every equivalence class's size, flagged
    ``at_risk`` when fewer than ``k`` customers share the
    combination — records in such classes are re-identifiable by the
    quasi-identifiers alone (Sweeney 2002).  The release gate a
    governance pipeline runs before publishing joined or
    pseudonymized data; composes with ``pii_scrub`` (field-level
    redaction) by covering the LINKAGE risk redaction cannot see.

    Scale shape: one map-side-combinable aggregate on the
    quasi-identifier key — group count is bounded by the attribute
    domain product (|nations| x |segments|), not the customer count;
    no window, no join."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        (F.count(F.lit(1)) < k).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture + epoch schedule — the data-mixing planner
# ---------------------------------------------------------------------------
# oracle generated from the same constant as the Spark default so the
# registered SQL can never drift (ADVICE r8)
_MIX_ALPHA = 0.7


@query(
    "mixture_temperature_schedule",
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ),
    p AS (
      SELECT source, n_docs, n_chars,
             CAST(ROUND(pow(CAST(n_chars AS DOUBLE), {_MIX_ALPHA}) * 1000000)
                  AS BIGINT) AS p_micro
      FROM s
    ),
    t AS (SELECT CAST(SUM(p_micro) AS BIGINT) AS total FROM p)
    SELECT source, n_docs, n_chars,
           (p_micro * 1000000) // t.total AS weight_ppm,
           ((p_micro * 1000000) // t.total) * 1000000000 // 1000000
             AS quota_chars,
           (((p_micro * 1000000) // t.total) * 1000000000 // 1000000)
             * 1000 // n_chars AS epochs_milli
    FROM p CROSS JOIN t
    """,
)
def mixture_temperature_schedule(spark, sf_dir, alpha: float = _MIX_ALPHA):
    """Temperature-scaled data-mixing plan (the multilingual/multi-
    source sampling move of Devlin et al./XLM-R, standard in LLM
    pretraining): source weights ``w_s = n_s^alpha / sum n_t^alpha``
    with alpha = 0.7 — flatter than natural frequency, so small
    sources up-sample — then, for a 1e9-char training budget, each
    source's char quota and the implied EPOCH COUNT over its corpus
    (quota / corpus size; epochs > 1 means that source repeats —
    the signal data-mixing reviews look for).

    Exactness: the only transcendental (``n^0.7``) rounds to an
    integer MICRO-unit grid PER SOURCE before any arithmetic (the
    text_perplexity per-term discipline — cross-libm pow drift is
    sub-ulp and dies at the grid, and the total is then an exact
    BIGINT sum in any order); weights, quotas, and epoch counts are
    pure truncating integer divisions from there, bit-identical on
    any engine.

    Scale shape: one map-side-combinable per-source aggregate (the
    mixture_stats shuffle), a |sources|-row frame after — the 1-row
    total rides a broadcast; everything downstream of the first agg
    is constant-size regardless of corpus scale."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    p = s.withColumn(
        "p_micro",
        F.round(F.pow(F.col("n_chars").cast("double"), F.lit(alpha)) * 1_000_000)
        .cast("long"),
    )
    t = p.agg(F.sum("p_micro").cast("long").alias("total"))
    mil = F.lit(1_000_000).cast("long")
    w = F.call_function("div", F.col("p_micro") * mil, F.col("total"))
    quota = F.call_function("div", w * F.lit(1_000_000_000).cast("long"), mil)
    epochs = F.call_function(
        "div", quota * F.lit(1000).cast("long"), F.col("n_chars")
    )
    return p.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_chars",
        w.alias("weight_ppm"),
        quota.alias("quota_chars"),
        epochs.alias("epochs_milli"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline fate report — the composed lineage, gated
# ---------------------------------------------------------------------------
@query(
    "curation_pipeline",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sig AS (
      SELECT doc_id, text,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(w, x -> list_contains(
               ['the','a','and','of','to'], x))) AS DOUBLE)
               / GREATEST(len(w), 1) AS stop_r,
             CAST(len(list_distinct(w)) AS DOUBLE)
               / GREATEST(len(w), 1) AS dist_r
      FROM t
    ),
    q AS (
      SELECT doc_id, text,
             (n_tokens >= 25 AND stop_r >= 0.02 AND dist_r >= 0.35) AS keep,
             COALESCE(array_to_string(list_filter([
               CASE WHEN n_tokens < 25 THEN 'too_short' END,
               CASE WHEN stop_r < 0.02 THEN 'low_stopword' END,
               CASE WHEN dist_r < 0.35 THEN 'repetitive' END
             ], x -> x IS NOT NULL), ','), '') AS fail_reasons
      FROM sig
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM q WHERE keep
    ),
    ce AS (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp),
    exact_drop AS (
      SELECT f.doc_id, ce.keep_id AS dup_of
      FROM fp f JOIN ce USING (fp) WHERE f.doc_id <> ce.keep_id
    ),
    s2 AS (
      SELECT doc_id FROM fp
      WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)
    ),
    -- near-dup clusters (dedup_clusters oracle verbatim), then keep
    -- only still-alive members before electing the canonical
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM t WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i, j
      FROM common
      JOIN sizes si ON si.doc_id = i
      JOIN sizes sj ON sj.doc_id = j
      WHERE CAST(c AS DOUBLE) / (si.sz + sj.sz - c) >= 0.5
    ),
    edges AS (SELECT i AS a, j AS b FROM pairs
              UNION SELECT j, i FROM pairs),
    reach(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    lab AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    alive AS (SELECT l.doc_id, l.cluster_id FROM lab l JOIN s2 USING (doc_id)),
    cn AS (
      SELECT cluster_id, MIN(doc_id) AS keep_id FROM alive GROUP BY cluster_id
    ),
    near_drop AS (
      SELECT a.doc_id, cn.keep_id AS dup_of
      FROM alive a JOIN cn USING (cluster_id) WHERE a.doc_id <> cn.keep_id
    )
    SELECT q.doc_id,
           CASE WHEN NOT q.keep THEN 'quality:' || q.fail_reasons
                WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS fate,
           CAST(COALESCE(e.dup_of, n.dup_of) AS BIGINT) AS dup_of
    FROM q
    LEFT JOIN exact_drop e ON q.doc_id = e.doc_id
    LEFT JOIN near_drop n ON q.doc_id = n.doc_id
    """,
)
def curation_pipeline(spark, sf_dir):
    """The full curation pipeline's per-document fate report — the
    COMPOSED quality -> exact-dedup -> near-dup-collapse lineage of
    :func:`beehive_spark.pipeline.curate.curate_corpus`, exposed to
    the driver's differential gate.  Every stage is individually
    oracle-verified (`quality_filter`, `dedup_exact`'s fingerprint
    rule, `dedup_clusters`); this entry verifies the JOIN LOGIC
    BETWEEN stages: first-failing-stage attribution, dedup scoped to
    prior-stage survivors, canonical election among alive cluster
    members only.

    Output: ``(doc_id, fate, dup_of)`` with fate one of
    ``quality:<reasons>`` / ``exact_dup`` / ``near_dup`` / ``kept``
    and dup_of the canonical survivor for the two dup fates.  The
    fates partition the input exactly — the e2e test pins
    count conservation, the oracle pins every row.

    Reference scope: the reference's whole program is a fixed
    gates -> movers -> checks pipeline (orchestrator.js:67-92); this
    is that orchestration idea over the curation domain, driver-gated
    end-to-end."""
    from beehive_spark.pipeline.curate import curation_fate

    return curation_fate(spark, sf_dir)


# ---------------------------------------------------------------------------
# l-diversity audit — sensitive-attribute diversity within QI groups
# ---------------------------------------------------------------------------
# account-balance banding used as the sensitive attribute; interpolated
# into the oracle so the SQL cannot drift from the Spark CASE
_LDIV_MID_CENTS = 500000  # 5000.00 in cents
_LDIV_L = 3


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH s AS (
      SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
             c_mktsegment AS segment,
             CASE WHEN CAST(ROUND(c_acctbal * 100) AS BIGINT) < 0
                    THEN 'debt'
                  WHEN CAST(ROUND(c_acctbal * 100) AS BIGINT)
                       < {_LDIV_MID_CENTS} THEN 'mid'
                  ELSE 'high' END AS sens
      FROM customer
    ),
    ct AS (
      SELECT nationkey, segment, sens, CAST(COUNT(*) AS BIGINT) AS c
      FROM s GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT nationkey, segment, c,
             SUM(c) OVER (PARTITION BY nationkey, segment) AS n
      FROM ct
    )
    SELECT nationkey, segment,
           CAST(MAX(n) AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS distinct_l,
           CAST(SUM(CAST(ROUND(
             -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)
             * 1000000) AS BIGINT)) AS BIGINT) AS entropy_l_micro,
           COUNT(*) < {_LDIV_L} AS at_risk
    FROM w GROUP BY nationkey, segment
    """,
)
def l_diversity_audit(spark, sf_dir):
    """l-diversity audit over the (nation, market-segment)
    quasi-identifier pair (Machanavajjhala et al. 2007 — the
    attribute-disclosure gate k-anonymity cannot provide: a k-large
    group whose members all share one sensitive value still leaks
    it): per equivalence class, the DISTINCT count of the sensitive
    attribute (account-balance band: debt / mid / high), its entropy
    in micro-nats (entropy l-diversity, the strictest of the paper's
    three instantiations), and an ``at_risk`` flag for classes below
    ``_LDIV_L`` distinct values.  Composes with
    :func:`k_anonymity_audit` (group-SIZE risk) and ``pii_scrub``
    (field redaction) into the release-gate trio.

    Exactness: banding thresholds compare exact integer cents; per
    sensitive class the entropy contribution ``-(c/n)*ln(c/n)`` is
    evaluated on exact integers by the identical double expression
    both sides and micro-rounded BEFORE the sum (the
    events_user_entropy grid).

    Scale shape: one (QI, sens) combinable count — bounded by the
    attribute-domain product, never customer count — then a window
    over that bounded frame and one QI-keyed fold; no join, no raw-row
    window."""
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    sens = (
        F.when(cents < 0, "debt")
        .when(cents < _LDIV_MID_CENTS, "mid")
        .otherwise("high")
    )
    ct = c.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        sens.alias("sens"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = F.sum("c").over(Window.partitionBy("nationkey", "segment"))
    w = ct.select("nationkey", "segment", "c", n.alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    contrib = F.round(-p * F.log(p) * 1_000_000).cast("long")
    return w.groupBy("nationkey", "segment").agg(
        F.max("n").cast("long").alias("group_size"),
        F.count(F.lit(1)).cast("long").alias("distinct_l"),
        F.sum(contrib).cast("long").alias("entropy_l_micro"),
        (F.count(F.lit(1)) < _LDIV_L).alias("at_risk"),
    )
