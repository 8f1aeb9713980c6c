"""LLM-training-data pipeline operators over documents/embeddings.

Net-new capabilities beyond the reference's surface (BASELINE.json
north-star): deduplication, similarity search, text analysis,
document fingerprinting. Every operator is designed scale-first:

- dedup joins go through inverted indexes (token/shingle explode +
  equi-join), never O(n^2) cross joins;
- similarity brute-force is a broadcasted small-query-side cross
  join; the LSH variant buckets first so the join is equi on bucket;
- all text math stays in JVM expressions (no Python UDFs).
"""

from __future__ import annotations

import math
import os
import shutil
from collections.abc import Iterator

from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from beehive_spark.queries import load, query

TOKEN_RE = "[a-z0-9]+"
STOPWORDS = ["the", "a", "and", "of", "to"]


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def _shingles(wcol, n=3):
    """Distinct word n-grams as strings; empty array when < n tokens."""
    return F.when(
        F.size(wcol) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(wcol) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(wcol, i + k + 1) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _ngram_hashes(wcol, n=3, distinct=True):
    """xxhash64 of each word n-gram, hashed DIRECTLY from the n token
    slots (xxhash64 is variadic and position-chained) — building the
    "a b c" concat string per n-gram just to hash it measured ~25% of
    dedup_ngram_jaccard's time at sf0.1.  Same distinctness semantics
    as hashing `_shingles` output (collision odds ~2^-64 per distinct
    pair).  Empty array when < n tokens."""
    h = F.transform(
        F.sequence(F.lit(0), F.size(wcol) - n),
        lambda i: F.xxhash64(*[F.element_at(wcol, i + k + 1) for k in range(n)]),
    )
    if distinct:
        h = F.array_distinct(h)
    return F.when(F.size(wcol) >= n, h).otherwise(F.array().cast("array<bigint>"))


# ---------------------------------------------------------------------------
# Exact deduplication
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    )
    GROUP BY norm
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-text hash-groupBy: keep the lowest
    doc_id per group. One shuffle on the (pruned) normalized key."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        d.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "dup_count")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection: exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------
def _posting_lists(sh):
    """Inverted index grouped by shingle: (s, sorted distinct doc ids).
    The ONE shuffle of the candidate-generation stage."""
    return sh.groupBy("s").agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))


def _pairs_from_plists(plists, df_cap: int | None):
    """(doc_i < doc_j, c) candidate pairs with shared-shingle counts,
    by posting-list pair enumeration with a hot-shingle cap.

    Lists with df < 2 (no pairs — the vast majority of shingles) and
    df > ``df_cap`` (boilerplate: one shingle shared by k docs would
    otherwise contribute k^2 pairs — the classic skew blowup at corpus
    scale) are dropped in the same aggregation; surviving lists
    enumerate their (i < j) pairs as JVM array expressions, so each
    list yields at most df_cap*(df_cap-1)/2 rows and total candidate
    volume is bounded by (#shingles * df_cap^2) regardless of how hot
    any shingle gets.  ``c`` counts the capped-index shingles each
    pair shares — the exact intersection size when the cap doesn't
    bind, a lower bound otherwise.

    This replaces the index self-join shape (shuffle both sides + join
    + separate df-cap pass): same candidate set, fewer shuffles, and
    the per-shingle blowup is bounded by construction."""
    sized = plists.filter(F.size("docs") >= 2)
    if df_cap is not None:
        sized = sized.filter(F.size("docs") <= df_cap)
    pairs = F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice(
                    "docs", i + 2, F.greatest(F.size("docs") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("doc_i"), y.alias("doc_j")),
            ),
        )
    )
    return (
        sized.select(F.explode(pairs).alias("p"))
        .groupBy("p.doc_i", "p.doc_j")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _jaccard_candidates(sh, df_cap: int | None):
    """Candidate pairs from an exploded (doc_id, s) shingle index; see
    :func:`_pairs_from_plists` for the shape and the df-cap bound."""
    return _pairs_from_plists(_posting_lists(sh), df_cap)



@query(
    "dedup_ngram_jaccard",
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
    )
    SELECT i AS doc_i, j AS doc_j,
           ROUND(CAST(c AS DOUBLE) / (si.sz + sj.sz - c), 4) AS jaccard
    FROM common
    JOIN sizes si ON si.doc_id = i
    JOIN sizes sj ON sj.doc_id = j
    WHERE CAST(c AS DOUBLE) / (si.sz + sj.sz - c) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir, df_cap: int = 100):
    """Near-dup pairs with exact word-3-gram Jaccard >= 0.5, computed
    through an inverted shingle index (posting-list pair enumeration)
    rather than any pairwise cross join.

    Three stages, all skew-bounded (PPJoin-style count filtering):

    1. candidate generation through the df-capped posting lists
       (:func:`_pairs_from_plists`) — shingles hotter than ``df_cap``
       docs never enumerate pairs, so candidate volume is bounded even
       when the corpus shares boilerplate; each pair carries ``c``,
       its shared-shingle count over the capped index;
    2. count-bound pruning: the true intersection is at most
       ``c + min(hot_i, hot_j)`` where ``hot_x`` is how many of doc
       x's shingles exceeded the cap (a per-doc SCALAR — two ints per
       document, so the stats join is AQE-broadcastable far beyond
       the point where the shingle arrays are) — pairs whose
       upper-bound Jaccard misses the threshold are dropped with pure
       integer math, never touching the shingle arrays.  This prunes
       the (large) candidate set to near the true result size;
    3. exact verification: the few survivors join back to their FULL
       shingle-hash sets and Jaccard is computed with array_intersect
       — the reported value is exact.  The cap affects only which
       pairs are *considered*: a true near-dup pair evades it only if
       every shared shingle exceeds df_cap (pure boilerplate overlap).

    Shingles are xxhash64-hashed: the shuffled key is 8 bytes instead
    of a ~30-byte string (collision odds ~2^-64 per distinct-shingle
    pair are far below any other error source).  The hash is computed
    DIRECTLY from the token triple (xxhash64 is variadic and
    position-chained) — building the "a b c" concat string per 3-gram
    just to hash it measured ~25% of query time at sf0.1.  The
    hashed-set and posting-list frames are persisted; both feed two
    consumers."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    hsets = (
        toks.filter(F.size("w") >= 3)
        .select("doc_id", _ngram_hashes(F.col("w")).alias("hs"))
        .persist()
    )
    sh = hsets.select("doc_id", F.explode("hs").alias("s"))
    plists = _posting_lists(sh).persist()
    cands = _pairs_from_plists(plists, df_cap)
    # per-doc scalars: set size and count of over-cap ("hot") shingles
    sizes = hsets.select("doc_id", F.size("hs").alias("sz"))
    if df_cap is not None:
        hot_per_doc = (
            plists.filter(F.size("docs") > df_cap)
            .select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("hot"))
        )
        stats = sizes.join(hot_per_doc, "doc_id", "left").na.fill(0, ["hot"])
    else:
        stats = sizes.withColumn("hot", F.lit(0))
    si = stats.select(
        F.col("doc_id").alias("doc_i"), F.col("sz").alias("szi"), F.col("hot").alias("hoti")
    )
    sj = stats.select(
        F.col("doc_id").alias("doc_j"), F.col("sz").alias("szj"), F.col("hot").alias("hotj")
    )
    c_ub = (F.col("c") + F.least("hoti", "hotj")).cast("double")
    jac_ub = c_ub / (F.col("szi") + F.col("szj") - c_ub)
    surv = (
        cands.join(si, "doc_i")
        .join(sj, "doc_j")
        .filter(jac_ub >= 0.5)
        .select("doc_i", "doc_j")
    )
    ci = hsets.select(F.col("doc_id").alias("doc_i"), F.col("hs").alias("si"))
    cj = hsets.select(F.col("doc_id").alias("doc_j"), F.col("hs").alias("sj"))
    inter = F.size(F.array_intersect("si", "sj")).cast("double")
    jac = inter / (F.size("si") + F.size("sj") - inter)
    return (
        surv.join(ci, "doc_i")
        .join(cj, "doc_j")
        .filter(jac >= 0.5)  # filter unrounded, exactly like the oracle
        .select("doc_i", "doc_j", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs -> connected components -> canonical groups
# ---------------------------------------------------------------------------
@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
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
    lab AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM lab
    """,
)
def dedup_clusters(spark, sf_dir):
    """Canonical near-duplicate groups: the exact-Jaccard near-dup
    pairs (``dedup_ngram_jaccard``) become an undirected graph whose
    connected components are the duplicate clusters; every clustered
    document is labeled with the minimum doc_id in its component (the
    canonical survivor) and the cluster size.

    This is the step real dedup pipelines need after ANY pair-producing
    method (MinHash, SimHash, embedding buckets): pair lists are not
    actionable — A~B and B~C must collapse to one keep-decision even
    when A~C was never emitted as a pair.

    Scale shape: component discovery is distributed min-label
    propagation (:func:`beehive_spark.operators.graph.connected_components`)
    — per round one equi-join of the static edge list plus a min-agg,
    rounds bounded by cluster diameter (near-dup clusters are dense;
    diameter ~2-3 regardless of corpus size).  No driver-side graph.

    Oracle: recursive-CTE transitive closure + min label in DuckDB —
    exact, feasible at oracle SF because the edge set is tiny.
    """
    from beehive_spark.operators.graph import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    cc = connected_components(pairs, src="doc_i", dst="doc_j")
    w = Window.partitionBy("cluster_id")
    return (
        cc.select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (approximate; verified by exact Jaccard)
# ---------------------------------------------------------------------------
# 31-bit Mersenne prime keeps a*h + b inside a 64-bit long under ANSI
# arithmetic (a,h < 2^31 -> a*h < 2^62), so no overflow at any scale.
_MH_PRIME = (1 << 31) - 1
_N_PERM = 32
_BANDS = 8  # 8 bands x 4 rows: s-curve threshold ~0.59


def _mh_params():
    """Deterministic (a, b) permutation params (fixed LCG, no RNG)."""
    params, x = [], 0x9E3779B97F4A7C15
    for _ in range(_N_PERM):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_MH_PRIME - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MH_PRIME
        params.append((a, b))
    return params


@query("dedup_minhash_lsh")  # approximate -> rows-only driver check
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 perms) + LSH(8 bands x 4) candidate generation, then
    exact-Jaccard verification of candidates only.

    Scale path: signatures are per-doc expressions (no shuffle); the
    only shuffles are the band-bucket equi-join (pairs within a bucket)
    and the verification join — candidate count is ~linear in true
    near-dups, not quadratic in corpus size.  Banding means a pair is
    a candidate iff it agrees on all 4 rows of some band.  Band keys
    are xxhash64 of the band's signature slots (8-byte join key, no
    "m1:m2:m3:m4" string), and the slim (doc_id, band, key) bucket
    frame is persisted so the self-join's two sides don't each
    recompute the 32-permutation signature pipeline (3.8s -> 2.0s at
    sf0.1).
    """
    return _minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def _minhash_lsh_pairs(d):
    """The full MinHash->LSH->exact-verify pipeline over a
    ``(doc_id, text)`` frame — shared verbatim by
    :func:`dedup_minhash_lsh` (real corpus, rows-only driver check)
    and :func:`dedup_minhash_lsh_planted` (closed-form corpus, driver
    hash gate), so the hash-green evidence covers the code the real
    query runs."""
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    # non-distinct is fine here: min() ignores duplicates, and the
    # exact-verification stage re-applies array_distinct itself
    hashes = toks.filter(F.size("w") >= 3).select(
        "doc_id",
        F.transform(
            _ngram_hashes(F.col("w"), distinct=False),
            lambda h: F.pmod(h, F.lit(_MH_PRIME)),
        ).alias("hs"),
    ).persist()  # consumed by both LSH bucketing and exact verification
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("hs"), lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)
            )
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(_mh_params())
    ]
    sigs = hashes.select("doc_id", "hs", *sig_cols)
    rows_per_band = _N_PERM // _BANDS
    band_exprs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                *[F.col(f"m{bi * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("key"),
        )
        for bi in range(_BANDS)
    ]
    buckets = (
        sigs.select("doc_id", F.explode(F.array(*band_exprs)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .persist()
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .distinct()
    )
    # verify candidates with exact shingle-set jaccard
    sets_ = hashes.select("doc_id", F.array_distinct("hs").alias("hset"))
    ci = sets_.select(F.col("doc_id").alias("doc_i"), F.col("hset").alias("si"))
    cj = sets_.select(F.col("doc_id").alias("doc_j"), F.col("hset").alias("sj"))
    inter = F.size(F.array_intersect("si", "sj")).cast("double")
    jac = inter / (F.size("si") + F.size("sj") - inter)
    return (
        cands.join(ci, "doc_i")
        .join(cj, "doc_j")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_i", "doc_j", "jaccard")
    )


def _planted_group_text(d, width: int = 4, n_tokens: int = 6):
    """The identical-text group plant SHARED by the MinHash and
    SimHash planted twins (one definition so the two cannot drift):
    doc ids split into ``width``-wide groups (g = doc_id // width),
    every doc's text the same ``n_tokens`` group-keyed tokens
    ``w{g}x0 .. w{g}x{n-1}`` — identical token arrays within a group,
    disjoint shingle sets across groups."""
    g = F.call_function(
        "div", F.col("doc_id").cast("long"), F.lit(width).cast("long")
    )
    text = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("w"), g.cast("string"), F.lit(f"x{k}"))
            for k in range(n_tokens)
        ],
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"), text.alias("text")
    )


def _planted_sign_vec(g, dim: int):
    """The identical-vector group plant SHARED by the IVF and sign-LSH
    planted twins: component i is +2 if bit (i mod 16) of the group id
    is set else -2 — norm^2 = 4*dim, so for dim a perfect-square
    multiple of 4 the norm is exact, unit components are dyadic, and
    the within-group cosine is EXACTLY 1.0.  (JVM expression form —
    kept as the semantic reference and for tests; the query paths use
    :func:`_planted_sign_frame`, the Arrow re-expression of the same
    values.)"""
    return F.array(
        *[
            F.when(
                F.shiftrightunsigned(g, i % 16).bitwiseAND(F.lit(1)) == 1,
                F.lit(2.0),
            ).otherwise(F.lit(-2.0))
            for i in range(dim)
        ]
    )


def _planted_sign_frame(e, width: int, dim: int, out_col: str):
    """``(vec_id, out_col)`` frame carrying :func:`_planted_sign_vec`'s
    plant (group id g = vec_id div ``width``), constructed in ONE
    ``mapInArrow`` stage with numpy bit ops (guide §4.2) instead of a
    ``dim``-branch CASE-array expression tree — the tree cost ~1 s per
    evaluation at sf0.1 and the shared search pipelines read their
    input from up to four lineage branches, which previously forced a
    persist of the constructed frame.  With the Arrow constructor each
    branch just recomputes the plant from the pruned vec_id scan (the
    honest at-scale shape), so the persist is gone.  Values are
    EXACTLY the CASE tree's: components are the literal doubles
    +-2.0 (no arithmetic, nothing to round); group ids are
    non-negative by the asserted 0-based-contiguous id contract, so
    numpy's floor ``//`` equals SQL ``div``'s truncation."""
    import numpy as np

    def gen(batches):
        import pyarrow as pa

        shifts = np.arange(dim, dtype=np.int64) % 16
        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            g = ids // width
            vals = np.where(
                ((g[:, None] >> shifts[None, :]) & 1) == 1, 2.0, -2.0
            )
            offsets = np.arange(m + 1, dtype=np.int32) * dim
            arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(vals.ravel(), pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), arr], names=["vec_id", out_col]
            )

    return e.select(F.col("vec_id").cast("long").alias("vec_id")).mapInArrow(
        gen, f"vec_id bigint, {out_col} array<double>"
    )


@query(
    "dedup_minhash_lsh_planted",
    oracle="""
    WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
    SELECT a.id AS doc_i, b.id AS doc_j, CAST(1.0 AS DOUBLE) AS jaccard
    FROM d a JOIN d b ON a.id // 4 = b.id // 4 AND a.id < b.id
    """,
)
def dedup_minhash_lsh_planted(spark, sf_dir):
    """:func:`_minhash_lsh_pairs` — the EXACT pipeline
    :func:`dedup_minhash_lsh` runs (tokenize -> 32-perm signatures ->
    8x4 banded buckets -> candidate self-join -> exact-Jaccard
    verify) — driven by a PLANTED corpus whose output is closed-form
    INDEPENDENT of every hash value (r8: the planted-topology move
    from k-core/PageRank/PQ/SemDeDup applied to the six-rounds
    rows-only MinHash slot).

    The plant: doc ids split into 4-wide groups (g = doc_id // 4);
    every doc's text is the same six group-keyed tokens
    ``w{g}x0 .. w{g}x5``.  Within a group the token arrays are
    IDENTICAL, so the 4 shingle hashes, all 32 permuted minima, and
    all 8 band keys are identical — banding has recall 1.0 on equal
    signatures by construction, so every within-group pair is a
    candidate no matter what xxhash64 returns, and exact verification
    computes jaccard = 4/4 = 1.0 (dyadic, survives the 4-decimal
    round bit-equal in both engines).  Across groups every token
    embeds g, so shingle sets are DISJOINT: any accidental band-key
    collision yields jaccard 0 < 0.5 and is filtered.  Expected
    output is therefore pure id arithmetic — all C(4,2)=6 pairs per
    group at 1.0 — which the oracle states as a self-join on
    ``id // 4``.  LOAD-BEARING data assumptions (asserted in
    tests/test_llm.py): doc_ids 0-based contiguous, count
    divisible by 4 at every shipped SF.

    What a red gate here would catch: a broken permutation (sigs no
    longer equal for equal sets), a band-slot indexing bug, a
    candidate-join orientation/dup bug, or a verification-join key
    mix-up — each diverges from the closed form."""
    return _minhash_lsh_pairs(
        _planted_group_text(load(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------
@query("dedup_simhash")  # bit-level hashing -> rows-only driver check
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash over word-3-gram shingle xxhash64s: for each
    bit, sum +-1 across shingle hashes, sign -> bit.  Pure JVM
    expressions; pairs within hamming distance <= 3 reported via
    4-block LSH (a pair within distance 3 must agree exactly on >= 1
    of 4 16-bit blocks — pigeonhole, no recall loss).

    The signature frame is eagerly localCheckpoint'ed (16 bytes/doc)
    before the block self-join: without it each join SIDE re-evaluates
    the full tokenize->shingle->64-bit-fold lineage — the same
    self-join recompute face media_phash_dedup hit in r6.  Measured at
    sf0.1: 10.2s -> ~2.5s (the sweep tier's first catch — this query
    had never been benched before r8).
    """
    return _simhash_pairs(load(spark, sf_dir, "documents"))


def _simhash_pairs(d):
    """The full SimHash->block-LSH->hamming-verify pipeline over a
    ``(doc_id, text)`` frame — shared verbatim by
    :func:`dedup_simhash` (real corpus, rows-only driver check) and
    :func:`dedup_simhash_planted` (closed-form corpus, driver hash
    gate)."""
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w"))
    # distinctness matters here — duplicate shingles would bias the
    # per-bit +-1 sums, unlike MinHash where min() ignores them
    th = toks.filter(F.size("w") >= 3).select(
        "doc_id", _ngram_hashes(F.col("w")).alias("hs")
    )

    def simhash_fold(batches):
        # the 64 per-bit +-1 sums and the sign fold as numpy integer
        # ops (guide §4.2: the former 64 interpreted aggregate() folds
        # walked every doc's shingle array once PER BIT).  All-integer
        # arithmetic, so the signature is EXACTLY the JVM fold's value
        # — order-independent, no float rounding anywhere.
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lst = b.column(1)
            lengths = lst.value_lengths().to_numpy(zero_copy_only=False)
            if not (lengths > 0).all():
                raise ValueError("simhash_fold: empty shingle array")
            vals = np.asarray(lst.flatten(), dtype=np.int64)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lengths[:-1], out=starts[1:])
            sig = np.zeros(n, dtype=np.uint64)
            for bit in range(64):
                pm = (((vals >> bit) & 1) * 2 - 1).astype(np.int64)
                sums = np.add.reduceat(pm, starts)
                sig |= (sums > 0).astype(np.uint64) << np.uint64(bit)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(sig.view(np.int64), pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    sigs = th.mapInArrow(
        simhash_fold, "doc_id bigint, simhash bigint"
    ).localCheckpoint(eager=True)
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_i"),
            F.col("b.doc_id").alias("doc_j"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


@query(
    "dedup_simhash_planted",
    oracle="""
    WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
    SELECT a.id AS doc_i, b.id AS doc_j, CAST(0 AS BIGINT) AS hamming
    FROM d a JOIN d b ON a.id // 4 = b.id // 4 AND a.id < b.id
    """,
)
def dedup_simhash_planted(spark, sf_dir):
    """:func:`_simhash_pairs` — the EXACT pipeline
    :func:`dedup_simhash` runs (tokenize -> 64 per-bit +-1 sums ->
    sign fold -> 4x16-bit block buckets -> hamming <= 3 verify) —
    driven by the same 4-wide identical-text plant as
    :func:`dedup_minhash_lsh_planted`, making the output closed-form
    INDEPENDENT of every hash value.

    Within a group the texts are identical, so the 64-bit signatures
    are identical: all 4 blocks collide, every within-group pair is a
    candidate, and hamming is EXACTLY 0 — no appeal to the pigeonhole
    recall argument is needed for equal signatures.  Across groups the
    shingle sets are disjoint, so signatures are independent 64-bit
    folds; a cross-group pair enters the output only if two
    independent signatures land within hamming 3 of each other
    (<= sum_{i<=3} C(64,i) / 2^64 ~ 2^-46 per pair — and the corpus,
    tokenizer, and xxhash64 seed are all FIXED, so the check is
    deterministic: tests/test_llm.py asserts the closed form
    exactly at every shipped SF, and the driver gate re-proves it at
    sf0.01 forever after).  Expected output: all 6 pairs per 4-wide
    group at hamming 0, which the oracle states as id arithmetic.

    What a red gate here would catch: a bit-extraction bug (bit 63's
    sign handling), a block shift/mask bug, a join orientation bug,
    or a broken bit_count — each diverges from the closed form."""
    return _simhash_pairs(
        _planted_group_text(load(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Exact substring dedup — duplicated token-window spans (Lee et al. 2022)
# ---------------------------------------------------------------------------
@query(
    "dedup_substring_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    win AS (
      SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
             array_to_string(w[s.i:s.i+7], ' ') AS g
      FROM toks, unnest(generate_series(1, len(w) - 7)) AS s(i)
      WHERE len(w) >= 8
    ),
    dup AS (SELECT g FROM win GROUP BY g HAVING COUNT(*) >= 2),
    marked AS (SELECT doc_id, pos FROM win JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       + 8
                  THEN 1 ELSE 0 END AS brk
      FROM marked
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    )
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + 7 AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM grp GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark, sf_dir, n: int = 8):
    """Exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every ``n``-token
    sliding window that occurs at least twice ANYWHERE in the corpus
    marks its span, and overlapping/adjacent marked windows merge into
    maximal per-document spans ``[span_start, span_end]`` (1-based
    token indices) — the byte ranges a curation pipeline cuts out,
    reported with the window count as the dedup-pressure signal.

    Scale shape: windows hash DIRECTLY from their n token slots
    (variadic xxhash64 — same trick as `_ngram_hashes`, no concat
    string ever materializes), duplicate detection is ONE map-side-
    combined count over window hashes, and marking is an equi-join of
    the window table against the 1-row-per-duplicated-hash side —
    never doc x doc, never window x window, so a boilerplate window
    shared by k documents costs k join rows, not k².  Span merging is
    a per-document gaps-and-islands (lag + running sum window) —
    partitioned by doc_id, no global sort.  This is the suffix-array
    dedup's output re-expressed in five relational ops; the oracle
    replays it on raw n-gram strings (hash-vs-string equivalence also
    property-tested for `_ngram_hashes`)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= n
    )
    win = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - n + 1),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.xxhash64(
                        *[F.element_at(F.col("w"), i + k) for k in range(n)]
                    ).alias("h"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.pos").alias("pos"), F.col("x.h").alias("h"))
    dup = win.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    marked = win.join(dup.select("h"), "h").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w_ord).isNull()
        | (F.col("pos") > F.lag("pos").over(w_ord) + n),
        1,
    ).otherwise(0)
    grp = marked.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w_ord)
    )
    return grp.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n - 1).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


# ---------------------------------------------------------------------------
# Similarity search — brute-force cosine top-k (oracle-checked baseline)
# ---------------------------------------------------------------------------
@query(
    "similarity_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id >= 10
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.e, c.e)
               / (SQRT(list_dot_product(q.e, q.e)) * SQRT(list_dot_product(c.e, c.e))) AS sim
      FROM q CROSS JOIN c
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4) AS cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM pairs
    )
    WHERE rn <= 5
    """,
)
def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 10 query vectors: the query side is
    broadcast, dot products run as JVM zip_with/aggregate expressions
    (no Python UDF), and top-k is a per-query window.  This is the
    exact baseline the ANN variant (similarity_ann_lsh) approximates."""
    e = load(spark, sf_dir, "embeddings")
    emb = e.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    ).withColumn("qn", norm(F.col("qe")))
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")
    ).withColumn("cn", norm(F.col("ce")))
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = c.crossJoin(F.broadcast(q)).withColumn("sim", dot / (F.col("qn") * F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (exact baseline)
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_i, b.vec_id AS id_j,
             list_dot_product(a.v, b.v)
               / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_i, id_j, ROUND(sim, 4) AS cosine
    FROM pairs WHERE sim >= 0.45
    """,
)
def dedup_embedding_cosine(spark, sf_dir, n_blocks: int = 16):
    """Embedding near-dup pairs: all (i<j) pairs with cosine >= 0.45,
    exact, via BLOCKED matrix multiply.

    The naive form (triangular cross join + per-pair zip_with/aggregate
    dot product) evaluates interpreted lambdas per element — 20x
    slower at sf0.1.  Instead, vectors are grouped into n_blocks
    buckets; each of the ~n_blocks^2/2 block PAIRS computes its whole
    cosine submatrix as ONE numpy matmul inside mapInPandas and emits
    only above-threshold hits.  This is the textbook distributed GEMM
    tiling: Arrow moves each block once per pair, the O(n^2 * d) inner
    loop runs SIMD-vectorized, and only hits (linear in true dups)
    come back.  At 100 TB the same shape holds with block size tuned
    so a tile pair fits executor memory; the banded-LSH variant
    (similarity_ann_lsh) replaces the full tiling when even that is
    too much.  Threshold margin note: numpy sums in a different order
    than DuckDB's sequential list_cosine_similarity (FP diff ~1e-13);
    the nearest observed sim is >= 1e-4 from the 0.45 cut at every SF,
    so the pair set is deterministic."""
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    emb = e.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    # one collect_list keeps ids and vectors in a single consistent
    # order; flattening JVM-side ships each tile as FLAT primitive
    # Arrow buffers (array<long> + array<double>) instead of nested
    # structs — numpy reshapes them without any per-element Python
    blocks = emb.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("items")
    ).select(
        "blk",
        F.transform("items", lambda x: x["vec_id"]).alias("ids"),
        F.flatten(F.transform("items", lambda x: x["v"])).alias("flat"),
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("flat").alias("fa")
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("flat").alias("fb")
    )
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    def tile_pairs(batches):
        import numpy as np

        for pdf in batches:
            out_i, out_j, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.asarray(row.fa, dtype=np.float64).reshape(len(ids_a), -1)
                mb = np.asarray(row.fb, dtype=np.float64).reshape(len(ids_b), -1)
                ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
                mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ii, jj = np.nonzero(sims >= 0.45)
                ri, rj, rs = ids_a[ii], ids_b[jj], sims[ii, jj]
                if row.blk_a == row.blk_b:
                    # diagonal tile: every pair appears at (x,y) AND
                    # (y,x) — keep the upper triangle only
                    keep = ri < rj
                    ri, rj, rs = ri[keep], rj[keep], rs[keep]
                else:
                    # off-diagonal tile: each pair appears exactly once
                    # but possibly id-descending (modulo blocking does
                    # not order ids across blocks) — canonicalize
                    ri, rj = np.minimum(ri, rj), np.maximum(ri, rj)
                out_i.append(ri)
                out_j.append(rj)
                out_s.append(rs)
            if out_i:
                yield pd.DataFrame(
                    {
                        "id_i": np.concatenate(out_i),
                        "id_j": np.concatenate(out_j),
                        "cosine": np.concatenate(out_s),
                    }
                )

    hits = tiles.mapInPandas(tile_pairs, "id_i long, id_j long, cosine double")
    return hits.select("id_i", "id_j", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# Embedding near-dup pairs via LSH buckets + exact within-bucket cosine
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_bucketed",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_i, b.vec_id AS id_j,
             list_dot_product(a.v, b.v)
               / (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))) AS sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_i, id_j, ROUND(sim, 4) AS cosine
    FROM pairs WHERE sim >= 0.45
    """,
)
def dedup_embedding_bucketed(
    spark, sf_dir, threshold: float = 0.45, bands: int = 64, rows_per_band: int = 5
):
    """Embedding near-dup pairs through sign-random-projection LSH
    buckets: candidates = vector pairs sharing a (band, key) bucket in
    ANY of ``bands`` banded views, then EXACT cosine (same JVM
    zip_with/aggregate formula as the oracle) verifies candidates only.
    This is the scale-safe exact mode for embedding dedup that VERDICT
    round 1 asked for: the corpus is never all-pairs joined — the only
    wide shuffle is an equi-join on (band, key), and verification is
    linear in the candidate count.

    Recall is the banding s-curve: a pair at cosine t agrees with a
    plane with prob 1 - acos(t)/pi, so P(miss) = (1 - p^r)^B.  The
    defaults (B=64 bands, r=5 rows = 320 deterministic planes) put
    P(miss) ~4e-4 at t=0.45 — chosen because this synthetic corpus's
    planted pairs sit at cosine 0.45-0.51, the WORST case for angular
    LSH (background pairs at cos~0 still agree per-plane with p=0.5).
    At realistic near-dup thresholds (t >= 0.8) the same structure
    prunes background pairs by orders of magnitude with far fewer
    bands; the measured pair set here is identical to the all-pairs
    baseline at sf0.001/sf0.01 (deterministic planes, so stable).

    Signature computation is one numpy matmul per Arrow batch
    (mapInPandas) — 320 dots/vector stays vectorized instead of 320
    interpreted higher-order-function evaluations per row."""
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    emb = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    plane_list = _planes(dim=64, n=bands * rows_per_band)

    def band_keys(batches):
        import numpy as np

        pm = np.array(plane_list)  # (planes, dim)
        weights = 1 << np.arange(rows_per_band)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy())
            bits = (x @ pm.T) >= 0  # (m, planes)
            ids = pdf["vec_id"].to_numpy()
            out_id, out_band, out_key = [], [], []
            for bi in range(bands):
                blk = bits[:, bi * rows_per_band : (bi + 1) * rows_per_band]
                out_id.append(ids)
                out_band.append(np.full(len(ids), bi, dtype=np.int32))
                out_key.append((blk @ weights).astype(np.int32))
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "key": np.concatenate(out_key),
                }
            )

    # BUCKET-LOCAL verification (r12, guide §2.3/§4.2).  The former
    # shape materialized the candidate PAIR set (bucket self-join ->
    # 1.69M-pair distinct at sf0.1 — banding prunes only ~15% of this
    # near-isotropic synthetic corpus) and then joined BOTH 64-dim
    # payloads back per pair (~0.9 GB of vector bytes through the
    # exchanges) to verify with an interpreted 3x64-element JVM fold
    # per pair.  Instead, verify INSIDE each (band, key) bucket: group
    # the members' vectors once (the only wide shuffle is corpus x
    # bands rows — vectors never ship per PAIR) and compute every
    # within-bucket sim with numpy in one Arrow stage; only the HIT
    # pairs (sim >= threshold) leave Python, and the cross-bucket
    # dedup distinct runs over hits, not candidates.  The result set
    # is unchanged: a pair is emitted iff it shares >= 1 bucket and
    # passes the SAME exact threshold test — and the sim doubles are
    # BIT-EXACT with the former JVM folds (sequential per-dimension
    # accumulation for dot and norms reproduces the left fold's IEEE
    # rounding — never np.dot/BLAS, whose blocked summation rounds
    # differently; a pair's sim is computed from its two vectors only,
    # so every bucket occurrence yields the identical double and the
    # distinct collapses them).  Rounding stays JVM-side.  Skew
    # contract: one bucket = one task's group (same per-bucket m^2
    # work the self-join shape fanned out as pair rows, minus the
    # network); band keys are ``rows_per_band`` sign bits of
    # near-orthogonal projections, so members spread ~uniformly over
    # 2^rows_per_band keys per band.
    buckets = emb.mapInPandas(band_keys, "vec_id long, band int, key int")
    grouped = (
        buckets.join(emb, "vec_id")
        .groupBy("band", "key")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("items"))
        .select(
            F.transform("items", lambda x: x["vec_id"]).alias("ids"),
            F.flatten(F.transform("items", lambda x: x["v"])).alias("flat"),
        )
    )

    def bucket_sims(batches):
        import numpy as np

        for pdf in batches:
            out_i, out_j, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.asarray(row.ids, dtype=np.int64)
                m = len(ids)
                if m < 2:
                    continue
                X = np.asarray(row.flat, dtype=np.float64).reshape(m, -1)
                dim = X.shape[1]
                # sequential per-dimension accumulation == the JVM
                # left folds' IEEE rounding (dot and norm alike)
                nrm = np.zeros(m)
                acc = np.zeros((m, m))
                for d in range(dim):
                    c = X[:, d]
                    nrm = nrm + c * c
                    acc = acc + c[:, None] * c[None, :]
                nrm = np.sqrt(nrm)
                sims = acc / (nrm[:, None] * nrm[None, :])
                ii, jj = np.nonzero(np.triu(sims >= threshold, k=1))
                if not len(ii):
                    continue
                ri, rj, rs = ids[ii], ids[jj], sims[ii, jj]
                # canonicalize by id value (bucket order is arbitrary)
                out_i.append(np.minimum(ri, rj))
                out_j.append(np.maximum(ri, rj))
                out_s.append(rs)
            if out_i:
                yield pd.DataFrame(
                    {
                        "id_i": np.concatenate(out_i),
                        "id_j": np.concatenate(out_j),
                        "sim": np.concatenate(out_s),
                    }
                )

    hits = grouped.mapInPandas(bucket_sims, "id_i long, id_j long, sim double")
    return hits.distinct().select(
        "id_i", "id_j", F.round("sim", 4).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
           CAST(LEN(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_unique,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace/alnum regex tokenizer) — all JVM
    regexp/array expressions, no UDF."""
    d = load(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_unique"),
        F.length("text").cast("long").alias("n_chars"),
    )


_BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


@query(
    "text_bpe_token_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(
               regexp_extract_all(lower(text),
                 '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+'),
               x -> trim(x) <> ''
             ) AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(toks) AS BIGINT) AS n_bpe_tokens,
           CAST(LEN(list_distinct(toks)) AS BIGINT) AS n_unique_bpe
    FROM t
    """,
)
def text_bpe_token_stats(spark, sf_dir):
    """BPE-style token counting: a GPT-2-like pre-tokenizer regex
    (contraction suffixes, space-prefixed letter runs, digit runs,
    punctuation runs), restricted to constructs both Java regex and
    RE2 support (no lookaheads) so the oracle tokenizes identically.
    Pure-whitespace tokens are dropped.  The real BPE merge step is
    vocabulary-dependent; the pre-tokenizer is the part that shapes
    distributed token accounting, and it stays a JVM expression."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0),
        lambda x: F.trim(x) != "",
    )
    t = d.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique_bpe"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(LEN(list_filter(w, x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE)
                 / GREATEST(LEN(w), 1), 4) AS stopword_ratio,
           ROUND(CAST(LENGTH(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / GREATEST(LEN(w), 1), 4) AS mean_word_len
    FROM t
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality signals for corpus filtering: stopword ratio, punct
    ratio, mean word length (heuristics in the spirit of C4/Gopher
    rules), computed as vectorized JVM expressions."""
    d = load(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    return d.select(
        "doc_id",
        F.round(
            stop_cnt.cast("double") / F.greatest(F.size(w), F.lit(1)), 4
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("double")
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double")
            / F.greatest(F.size(w), F.lit(1)),
            4,
        ).alias("mean_word_len"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Deterministic content fingerprint: md5 of whitespace-normalized
    lowercased text (the hash the exact-dedup groupBy would key on at
    scale, so the wide text column never shuffles)."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Language identification (marker-token heuristic)
# ---------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "et", "les", "de"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "los", "y", "una", "que"],
}


@query(
    "text_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
        CAST(LEN(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS c_en,
        CAST(LEN(list_filter(w, x -> list_contains(['le','la','et','les','de'], x))) AS BIGINT) AS c_fr,
        CAST(LEN(list_filter(w, x -> list_contains(['der','die','und','das','ein'], x))) AS BIGINT) AS c_de,
        CAST(LEN(list_filter(w, x -> list_contains(['el','los','y','una','que'], x))) AS BIGINT) AS c_es
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN GREATEST(c_en, c_fr, c_de, c_es) = 0 THEN 'und'
             WHEN c_en >= GREATEST(c_fr, c_de, c_es) THEN 'en'
             WHEN c_fr >= GREATEST(c_de, c_es) THEN 'fr'
             WHEN c_de >= c_es THEN 'de'
             ELSE 'es'
           END AS pred_lang
    FROM scored
    """,
)
def text_lang_id(spark, sf_dir):
    """n-gram/marker-token language ID heuristic: count per-language
    marker tokens, argmax with deterministic tie precedence
    (en > fr > de > es), 'und' when no marker hits.  All JVM
    expressions; the marker lists are a stand-in for real stopword
    profiles on this synthetic corpus."""
    d = load(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    t = d.select("doc_id", w.alias("w"))
    def marker_count(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(F.col("w"), lambda x: F.array_contains(arr, x))).cast(
            "long"
        )

    counts = {lang: marker_count(m) for lang, m in _LANG_MARKERS.items()}
    scored = t.select(
        "doc_id",
        counts["en"].alias("c_en"),
        counts["fr"].alias("c_fr"),
        counts["de"].alias("c_de"),
        counts["es"].alias("c_es"),
    )
    pred = (
        F.when(F.greatest("c_en", "c_fr", "c_de", "c_es") == 0, "und")
        .when(F.col("c_en") >= F.greatest("c_fr", "c_de", "c_es"), "en")
        .when(F.col("c_fr") >= F.greatest("c_de", "c_es"), "fr")
        .when(F.col("c_de") >= F.col("c_es"), "de")
        .otherwise("es")
    )
    return scored.select("doc_id", pred.alias("pred_lang"))


_BM25_TERMS = ("dup", "spark", "merge")
# Okapi defaults; every oracle that prices BM25 interpolates THESE so
# the SQL cannot drift from _bm25_doc_scores (r10 advisory: the
# helper-hoisted k1/b left three oracles hardcoding the same values)
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "bm25_retrieval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('dup', 'spark', 'merge') GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    t AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {_BM25_K1 + 1.0})
                  / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                     + {_BM25_B} * ((dl.dl * s.n) / t.t))))
               * 1000000) AS BIGINT) AS c
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN s CROSS JOIN t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(c) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 25
    """,
)
def bm25_retrieval(spark, sf_dir, k: int = 25):
    """BM25 top-k document retrieval (Robertson & Walker / Okapi
    BM25, the standard sparse-retrieval ranker) for a fixed query over
    the corpus — the retrieval half of a RAG/data-curation stack next
    to the dense paths (``similarity_*``): per-(doc, term) scores
    ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` with the
    RSJ-smoothed idf, k1=1.2, b=0.75.

    Cross-engine determinism: each per-term contribution rounds to
    integer MICRO-units BEFORE the per-doc sum (the text_perplexity
    micro-nat pattern — a <=1-ulp ln()/division divergence between the
    JVM and DuckDB dies at the grid), sums are exact BIGINTs, and the
    top-k order key is (score_micro, doc_id) — fully discrete.
    ``dl/avgdl`` is evaluated as ``(dl*N)/T`` so both engines divide
    the same exact integers once.

    Scale shape: tokens filter to the QUERY TERMS before the tf/df
    aggregations (posting-list discipline: work scales with matching
    postings, not corpus token count); doc length aggregates once off
    the same token scan; N and T ride 1-row broadcasts; the final
    top-k is TakeOrdered (orderBy+limit), never a global window.

    Reference scope: net-new text-analysis capability (no counterpart
    in mhawila/beehive); same tokenizer as ``text_token_stats``
    (TOKEN_RE)."""
    return (
        _bm25_doc_scores(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(k)
    )


def _bm25_doc_scores(spark, sf_dir):
    """Per-matching-doc ``(doc_id, n_terms, score_micro)`` BM25 frame
    (k1=1.2, b=0.75, micro-rounded per-term contributions) WITHOUT the
    final order/limit — shared verbatim by :func:`bm25_retrieval` (the
    ranker) and :func:`retrieval_ndcg` (the evaluator), so the metric
    always grades the ranking the shipped ranker actually produces."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = dl.agg(F.sum("dl").cast("long").alias("t"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    satur = (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0)
            - F.lit(_BM25_B)
            + F.lit(_BM25_B) * ((F.col("dl") * F.col("n")) / F.col("t"))
        )
    )
    scored = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t))
        .select(
            "doc_id",
            F.round(idf * satur * 1_000_000).cast("long").alias("c"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c").cast("long").alias("score_micro"),
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation — NDCG@k of the shipped BM25 ranking
# ---------------------------------------------------------------------------
_NDCG_K = 10


@query(
    "retrieval_ndcg",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('dup', 'spark', 'merge') GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    t AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {_BM25_K1 + 1.0})
                  / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                     + {_BM25_B} * ((dl.dl * s.n) / t.t))))
               * 1000000) AS BIGINT) AS c
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN s CROSS JOIN t
    ),
    docs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rel,
             CAST(SUM(c) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    ),
    ranked AS (
      SELECT rel, ROW_NUMBER() OVER (
               ORDER BY score_micro DESC, doc_id) AS r
      FROM docs ORDER BY score_micro DESC, doc_id LIMIT {_NDCG_K}
    ),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS r
      FROM docs ORDER BY rel DESC, doc_id LIMIT {_NDCG_K}
    ),
    dcg AS (
      SELECT SUM((POWER(2, rel) - 1) / (ln(r + 1) / ln(2))) AS dcg
      FROM ranked
    ),
    idcg AS (
      SELECT SUM((POWER(2, rel) - 1) / (ln(r + 1) / ln(2))) AS idcg
      FROM ideal
    )
    SELECT CAST({_NDCG_K} AS BIGINT) AS k,
           CAST(ROUND(dcg * 1000000) AS BIGINT) AS dcg_micro,
           CAST(ROUND(idcg * 1000000) AS BIGINT) AS idcg_micro,
           CAST(ROUND(dcg / idcg * 1000000) AS BIGINT) AS ndcg_micro
    FROM dcg, idcg
    """,
)
def retrieval_ndcg(spark, sf_dir):
    """NDCG@k of the SHIPPED BM25 ranking (Järvelin & Kekäläinen
    2002) — the retrieval-quality leg next to the recall floors the
    ANN family carries: graded relevance = number of distinct query
    terms a document matches (the standard poor-man's grade when no
    editorial labels exist), gain ``2^rel - 1``, discount
    ``log2(rank+1)``, ideal ranking = the same grades sorted
    descending over ALL matching documents.  Because the ranked list
    comes from :func:`_bm25_doc_scores` — the exact frame
    ``bm25_retrieval`` serves — this is an end-to-end evaluation of
    the production ranker, not of a test double.

    Exactness: ranks and grades are integers with fully discrete
    order keys (score_micro, doc_id); the k-term DCG sums are bounded
    doubles rounded at micro.

    Scale shape: inherits the posting-list discipline of the scorer
    (work ~ matching postings), then two TakeOrdered top-k pulls and
    single-partition windows over exactly k rows."""
    # slim (id, grade, score) frame consumed by BOTH top-k branches —
    # persist so the BM25 scorer runs once, not once per branch
    docs = _bm25_doc_scores(spark, sf_dir).select(
        "doc_id", F.col("n_terms").alias("rel"), "score_micro"
    ).persist()

    def topk(order_cols, label):
        w = Window.orderBy(*order_cols)
        return (
            docs.orderBy(*order_cols)
            .limit(_NDCG_K)
            .select(
                "rel",
                F.row_number().over(w).cast("long").alias("r"),
            )
            .agg(
                F.sum(
                    (F.pow(F.lit(2.0), F.col("rel")) - 1)
                    / (F.log(F.col("r") + 1.0) / F.log(F.lit(2.0)))
                ).alias(label)
            )
        )

    dcg = topk([F.col("score_micro").desc(), F.col("doc_id")], "dcg")
    idcg = topk([F.col("rel").desc(), F.col("doc_id")], "idcg")
    return dcg.crossJoin(F.broadcast(idcg)).select(
        F.lit(_NDCG_K).cast("long").alias("k"),
        F.round(F.col("dcg") * 1_000_000).cast("long").alias("dcg_micro"),
        F.round(F.col("idcg") * 1_000_000).cast("long").alias("idcg_micro"),
        F.round(F.col("dcg") / F.col("idcg") * 1_000_000)
        .cast("long")
        .alias("ndcg_micro"),
    )



# ---------------------------------------------------------------------------
# PMI collocations — multi-word-expression mining over the corpus
# ---------------------------------------------------------------------------
@query(
    "pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n11 FROM pairs GROUP BY w1, w2),
    l AS (SELECT w1, SUM(n11) AS nl FROM pc GROUP BY w1),
    r AS (SELECT w2, SUM(n11) AS nr FROM pc GROUP BY w2),
    n AS (SELECT SUM(n11) AS nt FROM pc),
    s AS (
      SELECT pc.w1, pc.w2, pc.n11,
             CAST(ROUND(ln(CAST(pc.n11 * n.nt AS DOUBLE)
                           / CAST(l.nl * r.nr AS DOUBLE)) * 1000000)
                  AS BIGINT) AS pmi_micro
      FROM pc JOIN l ON l.w1 = pc.w1 JOIN r ON r.w2 = pc.w2 CROSS JOIN n
      WHERE pc.n11 >= 5
    )
    SELECT w1, w2, CAST(n11 AS BIGINT) AS n_pair, pmi_micro
    FROM s ORDER BY pmi_micro DESC, w1, w2 LIMIT 50
    """,
)
def pmi_collocations(spark, sf_dir, min_count: int = 5, k: int = 50):
    """Top-k bigram collocations by pointwise mutual information —
    the classic multi-word-expression miner (Church & Hanks 1990):
    PMI(w1,w2) = ln( P(w1,w2) / (P(w1) P(w2)) ), evaluated on exact
    bigram counts as ln((n11 * N) / (nl * nr)), with a minimum pair
    count so rare-pair noise (PMI's documented failure mode) never
    tops the list.  A corpus-QA report: boilerplate phrases and
    templated text surface as high-PMI high-count pairs.

    Exactness: counts are BIGINT end to end; the single ln argument
    is a ratio of exactly-representable integer products (bounded by
    N^2 < 2^53 at any shipped SF), evaluated by the identical
    expression in both engines, and the score is rounded to
    MICRO-units before the top-k order — the BM25 grid trick, so
    cross-libm ln drift (sub-ulp) dies at the 1e-6 grid and ties
    break on the exact (pmi_micro, w1, w2) key identically.

    Scale shape: one token explode -> one (w1,w2) count (map-side
    combined); marginals are aggregates of the PAIR COUNT frame
    (vocabulary-sized, never a second corpus pass) and join back
    broadcast; the grand total rides a 1-row broadcast cross join;
    top-k via orderBy().limit() — TakeOrdered, never a global window.
    At 100 TB marginals are |vocab| rows (~1e6) — still broadcast
    range; if a corpus outgrows that, the same plan runs with the
    two joins shuffled on the word key."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(_tokens(F.col("text")).alias("t"))
    # the size >= 2 guard is load-bearing (the _shingles pattern):
    # F.sequence(1, size-1) DESCENDS to [1, 0] on 0/1-token docs and
    # element_at(t, 0) then errors — explode(NULL) drops them instead,
    # matching the oracle's empty range(1, len(t)) (r8 review)
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n11"))
    left = pc.groupBy("w1").agg(F.sum("n11").alias("nl"))
    right = pc.groupBy("w2").agg(F.sum("n11").alias("nr"))
    tot = pc.agg(F.sum("n11").alias("nt"))
    pmi_micro = F.round(
        F.log(
            (F.col("n11") * F.col("nt")).cast("double")
            / (F.col("nl") * F.col("nr")).cast("double")
        )
        * 1_000_000
    ).cast("long")
    return (
        pc.filter(F.col("n11") >= min_count)
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n11").cast("long").alias("n_pair"),
            pmi_micro.alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(k)
    )


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf6
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf6 DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(tfidf6, 4) AS tfidf
    FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir, k: int = 3):
    """Top-``k`` terms per document by TF-IDF (raw term count x
    ln(N/df)) — the classic keyword/topic signal used for corpus
    exploration, per-source vocabulary drift checks, and cheap
    keyword-based stratification of training data.

    Scale shape: two map-side-combined hash aggregations (term counts
    per doc, then document frequency over the vocab — the SAME rows,
    so the second agg reuses the first's shuffle partitioning on
    ``term``), an equi-join of the doc-term table with the vocab-sized
    df table (left AQE-skew-handled on stopword-grade hot terms; no
    broadcast forced because a web-scale vocab need not fit one
    executor), a 1-row broadcast for the corpus count, and a per-doc
    window for top-k.  Everything is JVM expressions.

    Cross-engine determinism: the ranking key is TF-IDF rounded to 6
    decimals (with term as tiebreak), so a <=1-ulp ln() divergence
    between the JVM and DuckDB cannot reorder the window; the emitted
    value rounds further to 4.

    Reference scope: net-new (no counterpart in mhawila/beehive) —
    part of the text-analysis surface alongside text_token_stats
    (same tokenizer, llm.py TOKEN_RE)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf6",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf6").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("tfidf6", 4).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate nearest neighbors: random-hyperplane LSH buckets
# ---------------------------------------------------------------------------
_N_PLANES = 15  # 5 disjoint 3-bit band views (was 12/4 through r10)


def _planes(dim: int = 64, n: int = _N_PLANES):
    """Deterministic pseudo-random hyperplanes (fixed LCG, no RNG)."""
    planes, x = [], 0xDEADBEEFCAFE1234
    for _ in range(n):
        v = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            v.append((x / float(1 << 63)) * 2.0 - 1.0)
        planes.append(v)
    return planes


# Probe keys per band for the multi-probe LSH query side: the exact
# bucket plus the (_LSH_PROBES - 1) single-bit flips of the query's
# LEAST-CONFIDENT band bits (Lv et al., "Multi-Probe LSH", VLDB'07 —
# the bit most likely to disagree with a true neighbor's is the one
# whose hyperplane the query sits closest to).  r10 measured probes
# 1 -> 2 lifting sf0.1 recall@5 mean 0.74 -> 0.88 / worst 0.4 -> 0.6;
# the r11 grid over (probes, bands) on the same harness measured
# probes=3 + bands=5 reaching mean 1.00 / worst 1.00 at sf0.1 and
# sf0.01 (RECALL.json) — probes=3 alone fixed the mean (0.96) but not
# the worst query (0.6), the 5th band alone fixed the worst (0.8) but
# not the mean, and only the pair clears the >= 0.8 floor everywhere.
# Cost: query-side entries 8 -> 15 per query (broadcast side only),
# corpus-side bucket entries 4 -> 5 per vector.
_LSH_PROBES = 3

# Rotated 3-bit band views over the plane bits: band b reads bits
# (3b .. 3b+2) mod _N_PLANES, so n_bands * 3 <= _N_PLANES keeps the
# bands bit-disjoint.
_LSH_BANDS = 5


@query("similarity_ann_lsh")  # approximate -> rows-only driver check
def similarity_ann_lsh(spark, sf_dir):
    """ANN via sign-random-projection LSH: ``_N_PLANES`` hyperplanes;
    candidates = corpus vectors sharing ANY of the query's probed
    buckets in ANY of ``_LSH_BANDS`` rotated band views (3 planes per
    band) — an equi-join on (band, key), never a cross join.  The query side
    is MULTI-PROBE (``_LSH_PROBES`` keys per band: exact + the
    least-confident bit flips), which buys back the recall banding
    alone loses on near-hyperplane queries without touching the
    corpus-side index.  Exact cosine re-ranks candidates.

    At 100 TB the bucket join shuffles only (band_key, vec_id) pairs;
    the embedding payload joins back by id afterwards.  Recall tunes
    with planes/bands/probes exactly like MinHash banding."""
    e = load(spark, sf_dir, "embeddings")
    return _lsh_search(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("e")),
        query_pred=F.col("vec_id") < 10,
    )


def _plane_dots(emb, planes, id_col: str = "vec_id", vec_col: str = "e"):
    """``(vec_id, d0..d{n-1})`` hyperplane dot products in ONE
    ``mapInArrow`` stage — the Arrow re-expression of n_planes
    ``aggregate(zip_with(e, <64 literals>), 0.0, +)`` folds (guide
    §4.2: interpreted HOF evaluation plus a ~1000-literal expression
    tree per side; the numpy loop below is the same math at array
    speed).  BIT-EXACT with the fold: dots accumulate SEQUENTIALLY
    over the dimension axis (one vectorized add per dimension),
    reproducing the left fold's IEEE rounding — never ``np.dot``,
    whose pairwise/SIMD summation rounds differently.  Only the id and
    vector columns cross the boundary."""
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    n_p, dim = P.shape
    names = [id_col] + [f"d{j}" for j in range(n_p)]
    schema = f"{id_col} bigint, " + ", ".join(f"d{j} double" for j in range(n_p))

    def dots(batches):
        import pyarrow as pa

        for b in batches:
            m = b.num_rows
            if m == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lst = b.column(1)
            lengths = lst.value_lengths().to_numpy(zero_copy_only=False)
            if not (lengths == dim).all():
                raise ValueError(
                    f"_plane_dots: expected {dim}-dim vectors, got "
                    f"lengths {set(lengths.tolist())}"
                )
            X = np.asarray(lst.flatten(), dtype=np.float64).reshape(m, dim)
            D = np.zeros((m, n_p))
            for d in range(dim):
                D = D + X[:, d][:, None] * P[:, d][None, :]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64())]
                + [pa.array(D[:, j], pa.float64()) for j in range(n_p)],
                names=names,
            )

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInArrow(dots, schema)


def _lsh_search(
    emb,
    query_pred,
    probes: int = _LSH_PROBES,
    n_planes: int = _N_PLANES,
    n_bands: int = _LSH_BANDS,
):
    """The full sign-LSH band/bucket/exact-rerank pipeline over a
    ``(vec_id, e: array<double>)`` frame — shared verbatim by
    :func:`similarity_ann_lsh` (real corpus, rows-only driver check)
    and :func:`similarity_ann_lsh_planted` (closed-form corpus, driver
    hash gate; the plant is probe/band/plane-count-invariant because
    group-mates share the EXACT keys, and the exact key is always
    probe 0 of every band).  ``query_pred`` is a boolean expression
    over ``vec_id``; its complement is the corpus.  ``probes`` keys
    per band are generated for the query side only: the exact key,
    then single-bit flips in ascending |dot| (hyperplane-distance)
    order."""
    planes = _planes(n=n_planes)

    def band_key(bits, b, flip=None):
        parts = []
        for i in range(3):
            bit = bits[(b * 3 + i) % n_planes]
            if flip == i:
                bit = F.lit(1) - bit
            parts.append(bit.cast("string"))
        return F.concat_ws("", *parts)

    # both sides' plane dots run through the Arrow+numpy stage
    # (bit-exact with the former literal-array HOF folds; see
    # _plane_dots) — the probe keys and |dot| rank comparisons then
    # reference plain double columns
    cdots = _plane_dots(emb.filter(~query_pred), planes)
    cbits = [
        F.when(F.col(f"d{j}") >= 0, F.lit(1)).otherwise(F.lit(0))
        for j in range(n_planes)
    ]
    c = (
        cdots.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            band_key(cbits, b).alias("key"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bk"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
    )
    qdots = _plane_dots(emb.filter(query_pred), planes)
    qbits = [
        F.when(F.col(f"d{j}") >= 0, F.lit(1)).otherwise(F.lit(0))
        for j in range(n_planes)
    ]
    entries = []
    for b in range(n_bands):
        a = [F.abs(F.col(f"d{(b * 3 + i) % n_planes}")) for i in range(3)]
        keys = [band_key(qbits, b)]
        flip = [band_key(qbits, b, flip=i) for i in range(3)]
        if probes >= 2:  # least-confident bit
            keys.append(
                F.when((a[0] <= a[1]) & (a[0] <= a[2]), flip[0])
                .when(a[1] <= a[2], flip[1])
                .otherwise(flip[2])
            )
        if probes >= 3:  # second-least-confident bit (same branch order)
            keys.append(
                F.when(
                    (a[0] <= a[1]) & (a[0] <= a[2]),
                    F.when(a[1] <= a[2], flip[1]).otherwise(flip[2]),
                )
                .when(
                    a[1] <= a[2],
                    F.when(a[0] <= a[2], flip[0]).otherwise(flip[2]),
                )
                .otherwise(F.when(a[0] <= a[1], flip[0]).otherwise(flip[1]))
            )
        entries += [
            F.struct(F.lit(b).alias("band"), k.alias("key")) for k in keys
        ]
    q = qdots.select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.array(*entries)).alias("bk"),
    ).select(
        "query_id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    # the bucket join moves ONLY (band, key, id) triples — a pair that
    # collides in many band/probe buckets dedupes as an 16-byte row,
    # not as a duplicated embedding payload; both payloads join back
    # by id AFTER the distinct (the corpus side as a vec_id equi-join,
    # the query side as a tiny broadcast)
    pairs = (
        c.join(F.broadcast(q), ["band", "key"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # norms computed ONCE per vector in the payload projections, not
    # once per candidate side (the dedup_embedding_bucketed lesson:
    # with b-bit band keys every bucket holds ~|corpus|/2^b vectors,
    # so candidates can be a large multiple of the corpus and a
    # per-pair norm fold multiplies the verification work ~3x);
    # identical expression on identical input, so values are unchanged
    norm = lambda col: F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))  # noqa: E731
    cands = pairs.join(
        emb.filter(~query_pred).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ce"),
            norm(F.col("e")).alias("cn"),
        ),
        "neighbor_id",
    ).join(
        F.broadcast(
            emb.filter(query_pred).select(
                F.col("vec_id").alias("query_id"),
                F.col("e").alias("qe"),
                norm(F.col("e")).alias("qn"),
            )
        ),
        "query_id",
    )
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    sim = dot / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine"))
    )


@query(
    "similarity_ann_lsh_planted",
    oracle="""
    WITH v AS (SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings),
    q AS (SELECT id FROM v WHERE id % 20 = 0),
    n AS (
      SELECT q.id AS query_id, c.id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.id ORDER BY c.id) AS rn
      FROM q JOIN v c ON c.id // 20 = q.id // 20 AND c.id <> q.id)
    SELECT query_id, neighbor_id, CAST(1.0 AS DOUBLE) AS cosine
    FROM n WHERE rn <= 5
    """,
)
def similarity_ann_lsh_planted(spark, sf_dir):
    """:func:`_lsh_search` — the EXACT pipeline
    :func:`similarity_ann_lsh` runs (``_N_PLANES`` sign-projections,
    ``_LSH_BANDS`` rotated 3-bit band buckets, candidate equi-join,
    exact cosine re-rank) —
    driven by the identical-vector group plant of
    :func:`similarity_ann_ivf_planted`, lifted to the LSH input
    dimension: vec ids split into 20-wide groups, every member of
    group g carrying the IDENTICAL 64-dim point whose component i is
    +2 if bit (i mod 16) of g is set else -2 (norm EXACTLY 16, unit
    components +-0.125 dyadic, within-group cosine EXACTLY
    256/(16*16) = 1.0, cross-group <= (64-8)/64 = 0.875).

    Why the hashing cannot matter: a query and its group-mates carry
    the SAME vector, hence the SAME sign bits, hence the SAME band
    keys — every group-mate shares every one of the query's exact
    buckets whatever the hyperplanes are, so all 19 are always
    candidates and the exact re-rank puts them (cosine 1.0, strictly
    above every cross-group bucket-collision candidate) first,
    tie-broken by neighbor_id: top-5 = the 5 smallest group-mates.
    3-bit band keys collide constantly across groups — the plant
    PROVES those collisions are harmless because the re-rank, not the
    bucket, decides the output.  Same load-bearing data assumptions
    as the IVF twin (asserted in tests/test_llm.py)."""
    e = load(spark, sf_dir, "embeddings")
    # Arrow constructor (see _planted_sign_frame): the pipeline reads
    # its input from four lineage branches, and the former 64-branch
    # CASE-array construction cost ~1 s per branch, which forced a
    # persist of the constructed frame; each branch now recomputes the
    # cheap numpy plant from the pruned vec_id scan — no persist.
    return _lsh_search(
        _planted_sign_frame(e, 20, 64, "e"),
        query_pred=F.pmod("vec_id", F.lit(20)) == 0,
    )


# ---------------------------------------------------------------------------
# Approximate nearest neighbors: IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------
# The trainers and broadcast-carrier helpers live in
# operators.ann_index (shared with the persisted-index lifecycle:
# build_ivf_index / probe_ivf_index / append_ivf_index); the per-query
# paths below and the index artifacts provably share one
# implementation.
from beehive_spark.operators.ann_index import (  # noqa: E402
    assign_topr_lists as _assign_topr_lists,
    codebook_df as _codebook_df,
    normalized_sample as _normalized_sample,
    pq_subspace_sims as _pq_subspace_sims,
    train_ivf_codebook as _train_ivf_codebook,
    train_pq_codebooks as _train_pq_codebooks,
)


@query("similarity_ann_ivf")  # approximate -> rows-only driver check
def similarity_ann_ivf(spark, sf_dir, nprobe: int = 8, k: int = 16, replicas: int = 5):
    """ANN via IVF with a TRAINED coarse quantizer: a spherical k-means
    codebook (`_train_ivf_codebook`, deterministic sample + 10 Lloyd
    iterations), corpus vectors multi-assigned to their top-`replicas`
    centroid lists, each query probing its nprobe closest lists, and
    exact cosine re-ranking the union of probed lists.

    The scale shape is the point: the codebook is driver-held and tiny
    (k*dim floats), so BOTH assignment and probe selection are pure JVM
    projections (array_max / array_sort over k literal dot products) —
    no shuffle, no join, exactly the broadcast-centroid pattern MLlib
    uses.  Candidate generation is then a single EQUI join on
    centroid_id; the corpus is never cross-joined with the query set.
    Index size is replicas*n rows; expected scored fraction ~
    min(1, replicas*nprobe/k) in the worst (isotropic) case, and ~
    nprobe/k on genuinely clustered corpora where a vector's top lists
    coincide with its cluster.

    Measured vs similarity_cosine_topk (brute force,
    scripts/measure_ivf_recall.py): the r10 defaults (nprobe=6,
    replicas=3) scored recall@5 mean 0.96 / worst 0.8 at both scales;
    the r11 grid found the worst query probe-resistant until
    multi-assignment widened (its true neighbor's top-3 lists all
    missed the query's probe set), and the shipped nprobe=8 /
    replicas=5 measures mean 1.00 / worst 1.00 at sf0.01 AND sf0.1
    for a ~1.67x index and ~half the lists probed.  The untrained
    every-97th-vector quantizer this all replaced measured 0.72 at
    sf0.1.  The synthetic corpus is near-isotropic (top-1 neighbor
    cosine ~0.4, neighbor labels scattered across clusters — ANN's
    worst case), which is why high recall needs multi-assignment
    here; on real embedding corpora with cluster structure the same
    settings probe a far smaller fraction."""
    e = load(spark, sf_dir, "embeddings")
    return _ivf_search(
        spark,
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("ed")),
        e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10),
        query_pred=F.col("vec_id") < 10,
        nprobe=nprobe,
        k=k,
        replicas=replicas,
    )


def _ivf_search(spark, vecs, train_vecs, query_pred, nprobe, k, replicas):
    """The full IVF train->assign->probe->exact-rerank pipeline —
    shared verbatim by :func:`similarity_ann_ivf` (real corpus,
    rows-only driver check) and :func:`similarity_ann_ivf_planted`
    (closed-form corpus, driver hash gate).

    ``vecs`` is ``(vec_id, ed: array<double>)``; ``train_vecs`` is the
    raw ``(vec_id, embedding)`` frame the codebook trains on (kept
    separate so the real query feeds the trainer the exact column it
    always has); ``query_pred`` is a boolean expression over ``vec_id``
    marking query rows — its complement is the corpus."""
    cents = _train_ivf_codebook(train_vecs, k=k)
    # corpus side: each vector joins its top-`replicas` lists (IVF
    # multi-assignment); query side: its top-`nprobe` probe lists.
    # Both assignments run through the Arrow+numpy helper (bit-exact
    # with the former codebook_sims HOF pipeline — interpreted HOF
    # evaluation measured ~300x the per-row cost of the same math as
    # numpy array ops; see operators.ann_index.assign_topr_lists)
    lists = _assign_topr_lists(
        vecs.filter(~query_pred), cents, replicas, vec_col="ed"
    ).select(
        "centroid_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("en").alias("ce"),
    )
    probes = _assign_topr_lists(
        vecs.filter(query_pred), cents, nprobe, vec_col="ed"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("en").alias("qe"),
        "centroid_id",
    )
    cands = lists.join(F.broadcast(probes), "centroid_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("sim", dot)  # inputs are unit vectors: dot == cosine
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine"))
    )


@query(
    "similarity_ann_ivf_planted",
    oracle="""
    WITH v AS (SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings),
    q AS (SELECT id FROM v WHERE id % 20 = 0),
    n AS (
      SELECT q.id AS query_id, c.id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.id ORDER BY c.id) AS rn
      FROM q JOIN v c ON c.id // 20 = q.id // 20 AND c.id <> q.id)
    SELECT query_id, neighbor_id, CAST(1.0 AS DOUBLE) AS cosine
    FROM n WHERE rn <= 5
    """,
)
def similarity_ann_ivf_planted(spark, sf_dir):
    """:func:`_ivf_search` — the EXACT pipeline
    :func:`similarity_ann_ivf` runs (spherical k-means training,
    top-``replicas`` multi-assignment, top-``nprobe`` probe, exact
    cosine re-rank) — driven by a PLANTED corpus whose top-k is
    closed-form NO MATTER WHAT THE TRAINER LEARNS (r8: the planted
    twin for the six-rounds rows-only IVF slot).

    The plant: vec ids split into 20-wide groups (g = vec_id // 20);
    every vector in a group is the IDENTICAL 16-dim point whose
    component i is +2 if bit i of g is set else -2 (norm^2 = 64, norm
    EXACTLY 8, unit components EXACTLY +-0.25 — all dyadic, so the
    within-group cosine is EXACTLY 16 x 0.0625 = 1.0 and every
    cross-group cosine is (16-2*hamming(g,g'))/16 <= 0.875).  The
    group minimum (vec_id % 20 == 0) is the query; the other 19 are
    corpus.

    Why training cannot matter: a query and its group-mates carry the
    SAME vector, hence the SAME centroid-similarity array, hence the
    SAME sorted centroid order — so the corpus side's top-3 assignment
    lists are a PREFIX of the query's top-6 probe lists whatever the
    centroids are, every group-mate is always a candidate, and the
    exact re-rank puts all 19 (cosine 1.0, strictly above every
    cross-group candidate) first, tie-broken by neighbor_id.  Top-5 is
    therefore pure id arithmetic: the 5 smallest group-mates.
    LOAD-BEARING data assumptions (asserted in
    tests/test_llm.py): vec_ids 0-based contiguous, count
    divisible by 20 at every shipped SF, and group count <= 2^16 (16
    sign bits).

    What a red gate here would catch: a probe/assignment slice
    mismatch (nprobe < replicas prefix break), a candidate-join key
    bug, a dropDuplicates regression, re-rank tie-break drift, or a
    normalization bug — each diverges from the closed form."""
    e = load(spark, sf_dir, "embeddings")
    # Arrow constructor, no persist — same rationale as the LSH twin
    planted = _planted_sign_frame(e, 20, 16, "ed")
    query_pred = F.pmod("vec_id", F.lit(20)) == 0
    return _ivf_search(
        spark,
        planted,
        planted.filter(~query_pred).select(
            "vec_id", F.col("ed").alias("embedding")
        ),
        query_pred=query_pred,
        nprobe=8,
        k=16,
        replicas=5,
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup): k-means cluster, dedup within cluster
# ---------------------------------------------------------------------------
@query("dedup_semantic")  # k-means clustering -> rows-only driver check
def dedup_semantic(
    spark, sf_dir, threshold: float = 0.45, k: int | None = None, replicas: int = 3
):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    corpus with a trained spherical k-means codebook, then compare
    vectors ONLY within shared clusters and drop every vector that has
    a cluster-mate with cosine >= ``threshold`` and a lower id.
    Output: one row per dropped vector with its keeper and cluster.

    The scale shape: centroid assignment is a pure JVM projection over
    a driver-held codebook (no shuffle — same pattern as
    similarity_ann_ivf), and the pairwise stage is an EQUI self-join on
    cluster id, so compute is sum-over-clusters |c|^2 ~ (r*n)^2/k
    instead of n^2, and each cluster's pair block is an independent
    shuffle partition — at 100 TB, k scales with the corpus so clusters
    stay executor-sized.  ``k`` defaults to n/40 (clamped to
    [16, 4096]) so expected cluster size — and with it the quadratic
    within-cluster term — stays roughly constant as the corpus grows,
    which is the SemDeDup scaling rule (measured at sf0.1: the pair
    stage drops 7.1s -> 2.0s going k=16 -> 50 on 2k vectors while
    assignment cost stays flat).  Vectors multi-assign to their
    top ``replicas`` centroids (IVF multi-assignment) because
    boundary-straddling pairs are exactly where near-dups hide;
    plain top-1 SemDeDup measured 0.29 drop-recall on this
    near-isotropic worst-case corpus vs 1.0 with r=3 (precision 1.0
    either way: every emitted pair's cosine is computed exactly on
    unit vectors before thresholding — pinned by
    tests/test_semantic_pq.py against the all-pairs baseline).
    Cross-cluster pairs remain invisible by design — SemDeDup's
    documented approximation; dedup_embedding_bucketed is the
    recall-exact alternative.

    Training + assignment ride the PERSISTED ANN index lifecycle (r6
    verdict ask #5): the first execution per corpus builds an IVF
    artifact under its own SemDeDup tag (same trainer, same
    multi-assignment expressions — ``build_ivf_index`` is shared code,
    so the assigned frame is row-identical to the previous inline
    train-per-execution and the precision/recall pins hold unchanged),
    and every later execution reads the centroid-partitioned
    assignments straight off disk — zero k-means, zero assignment
    projection, exactly how ``ann_index_probe`` amortizes the same
    training.  At 100 TB the near-dup pass then prices like a probe,
    not a rebuild; the artifact is fingerprint-keyed so a regenerated
    corpus rebuilds (staleness guard shared with ``_ann_index_dir``),
    and the disk frame replaces the previous in-query ``persist`` (the
    self-join's two sides now each scan cheap parquet)."""
    from beehive_spark.operators.ann_index import META_NAME, build_ivf_index

    e = load(spark, sf_dir, "embeddings")
    raw = e.select("vec_id", "embedding")
    tag = f"ivf_sd_k{k}_r{replicas}" if k is not None else f"ivf_sd_r{replicas}"
    idx = _ann_index_dir(sf_dir, tag)
    if not os.path.exists(os.path.join(idx, META_NAME)):
        if k is None:
            # the SemDeDup scaling rule: k ~ n/40 keeps expected
            # cluster size (and with it the quadratic within-cluster
            # term) roughly constant as the corpus grows; it is
            # deterministic per corpus, so the auto tag is stable
            k = max(16, min(4096, raw.count() // 40))
        build_ivf_index(spark, raw, idx, k=k, replicas=replicas)
    assigned = spark.read.parquet(os.path.join(idx, "assignments.parquet")).select(
        F.col("centroid_id").cast("int").alias("cluster_id"), "vec_id", "en"
    )
    return _cluster_pair_dedup(assigned, threshold)


def _cluster_pair_dedup(assigned, threshold: float):
    """The SemDeDup cluster-pair stage, shared by :func:`dedup_semantic`
    (index-trained assignment) and :func:`dedup_semantic_planted`
    (closed-form assignment): equi self-join on ``cluster_id``, exact
    unit-vector cosine, threshold, then one survivor row per dropped
    vector.  ``assigned`` carries ``(cluster_id, vec_id, en)`` with
    ``en`` unit-normalized; multi-assigned pairs dedupe through the
    MIN/MAX aggregates."""
    a = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("keep_id"), F.col("en").alias("ei")
    )
    b = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("drop_id"), F.col("en").alias("ej")
    )
    dot = F.aggregate(
        F.zip_with("ei", "ej", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .withColumn("sim", dot)  # unit vectors: dot == exact cosine
        .filter(F.col("sim") >= threshold)
    )
    return (
        pairs.groupBy("drop_id")
        .agg(
            F.min("keep_id").alias("keep_id"),
            F.min("cluster_id").alias("cluster_id"),
            F.round(F.max("sim"), 4).alias("max_cosine"),
        )
        .select("drop_id", "keep_id", "cluster_id", "max_cosine")
    )


# ---------------------------------------------------------------------------
# SemDeDup on a PLANTED clustering — the hash-green twin of the pair stage
# ---------------------------------------------------------------------------
@query(
    "dedup_semantic_planted",
    oracle="""
    WITH base AS (
      SELECT CAST(c_custkey AS BIGINT) AS id,
             CAST(c_custkey // 15 AS BIGINT) AS b,
             CAST(c_custkey % 15 AS INTEGER) AS p
      FROM customer
    ),
    comp AS (
      SELECT id, b,
        CASE WHEN p <= 6 THEN
               (CASE p % 3 WHEN 0 THEN 4.0 WHEN 1 THEN 4.0 ELSE 2.0 END)
             WHEN p <= 13 THEN
               -(CASE (p - 7) % 3 WHEN 0 THEN 4.0 WHEN 1 THEN 4.0 ELSE 2.0 END)
             ELSE 4.0 END AS x1,
        CASE WHEN p <= 6 THEN
               (CASE p % 3 WHEN 0 THEN 4.0 WHEN 1 THEN 2.0 ELSE 4.0 END)
             WHEN p <= 13 THEN
               -(CASE (p - 7) % 3 WHEN 0 THEN 4.0 WHEN 1 THEN 2.0 ELSE 4.0 END)
             ELSE -4.0 END AS x2,
        CASE WHEN p <= 6 THEN
               (CASE p % 3 WHEN 0 THEN 2.0 WHEN 1 THEN 4.0 ELSE 4.0 END)
             WHEN p <= 13 THEN
               -(CASE (p - 7) % 3 WHEN 0 THEN 2.0 WHEN 1 THEN 4.0 ELSE 4.0 END)
             ELSE 2.0 END AS x3
      FROM base
    ),
    u AS (
      SELECT id, b, x1 / 6.0 AS u1, x2 / 6.0 AS u2, x3 / 6.0 AS u3 FROM comp
    ),
    pr AS (
      SELECT a.id AS keep_id, d.id AS drop_id, a.b AS cluster_id,
             a.u1 * d.u1 + a.u2 * d.u2 + a.u3 * d.u3 AS sim
      FROM u a JOIN u d ON a.b = d.b AND a.id < d.id
    )
    SELECT drop_id, MIN(keep_id) AS keep_id, MIN(cluster_id) AS cluster_id,
           ROUND(MAX(sim), 4) AS max_cosine
    FROM pr WHERE sim >= 0.45
    GROUP BY drop_id
    """,
)
def dedup_semantic_planted(spark, sf_dir, threshold: float = 0.45):
    """:func:`_cluster_pair_dedup` — the SemDeDup pair/threshold/
    survivor stage shared with :func:`dedup_semantic` — driven by a
    PLANTED clustering whose drops, keepers, and cosines are exact
    arithmetic in the customer id (r7 verdict ask #2: the same
    planted-topology move that gave k-core and PageRank hash-green
    twins, applied to the five-rounds-rows-only SemDeDup slot).

    The plant: customer ids split into 15-wide blocks (cluster_id =
    id//15 — the closed-form stand-in for the trained assignment);
    within a block, positions 0-6 take one of three integer vectors
    on the radius-6 sphere — (4,4,2), (4,2,4), (2,4,4) by p%3 —
    positions 7-13 their negations, and position 14 the mixed-sign
    (4,-4,2).  Every norm is EXACTLY 6.0 (perfect-square norm², so
    sqrt is exact), all within-group cosines are 32/36 or 1.0 (>=
    0.45: dropped), group-vs-negated-group cosines are negative, and
    the position-14 single's largest magnitude cosine is 16/36 ~
    0.444 (< 0.45: kept) — so the survivor set is closed-form: every
    block drops positions 1-6 (keeper p=0) and 8-13 (keeper p=7).
    Both engines evaluate the identical normalize-then-dot sequence
    on identical integer inputs, so the compared doubles are
    bit-equal; thresholds and the 4-decimal round sit >= 0.005 from
    every attained value.  LOAD-BEARING data assumptions (asserted in
    tests/test_queries_r6.py): custkeys 0-based contiguous, counts
    divisible by 15 at every shipped SF.

    Scale shape: identical to :func:`dedup_semantic`'s pair stage —
    one equi self-join on cluster id (sum-over-clusters |c|^2 work,
    never n^2), assignment a pure projection."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id")
    )
    x = c.select(
        "id",
        F.call_function("div", F.col("id"), F.lit(15).cast("long")).alias("b"),
        F.pmod("id", F.lit(15)).cast("int").alias("p"),
    )
    d_a = F.pmod("p", F.lit(3))
    d_b = F.pmod(F.col("p") - 7, F.lit(3))

    def _tri(d, c0, c1, c2):
        return (
            F.when(d == 0, F.lit(float(c0)))
            .when(d == 1, F.lit(float(c1)))
            .otherwise(F.lit(float(c2)))
        )

    def _comp(a0, a1, a2, s14):
        return (
            F.when(F.col("p") <= 6, _tri(d_a, a0, a1, a2))
            .when(F.col("p") <= 13, -_tri(d_b, a0, a1, a2))
            .otherwise(F.lit(float(s14)))
        )

    vec = F.array(_comp(4, 4, 2, 4), _comp(4, 2, 4, -4), _comp(2, 4, 4, 2))
    nrm = F.sqrt(F.aggregate(F.col("ed"), F.lit(0.0), lambda a, v: a + v * v))
    assigned = (
        x.withColumn("ed", vec)
        .withColumn("nrm", nrm)
        .select(
            F.col("b").alias("cluster_id"),
            F.col("id").alias("vec_id"),
            F.transform("ed", lambda v: v / F.col("nrm")).alias("en"),
        )
    )
    return _cluster_pair_dedup(assigned, threshold)


# ---------------------------------------------------------------------------
# Approximate nearest neighbors: product quantization (ADC) + exact refine
# ---------------------------------------------------------------------------
@query("similarity_ann_pq")  # quantized -> rows-only driver check
def similarity_ann_pq(
    spark, sf_dir, m: int = 8, ksub: int = 32, refine: int = 384, k: int = 5
):
    """ANN via product quantization with asymmetric distance (ADC) and
    exact refinement — the FAISS ``IVFPQ + refine`` shape minus the
    coarse level: corpus vectors compress to ``m`` subspace codes
    (m bytes/vector — 32x smaller than 64 floats, THE memory lever
    that lets a 100 TB embedding corpus's index fit a cluster), queries
    carry per-subspace lookup tables of dot products to every centroid,
    and each candidate's approximate dot is m table lookups summed —
    all JVM array expressions, no Python in the scoring loop.  The top
    ``refine`` ADC candidates per query are then re-ranked by exact
    cosine to emit true-cosine top-``k``.

    Training + encoding ride the PERSISTED PQ index lifecycle (r8:
    the same artifact-amortization move the r6 verdict asked of
    dedup_semantic): the first execution per corpus builds a
    ``pq``-tagged codes/books artifact (``build_pq_index`` — shared
    trainer, shared encode expressions), and every later execution is
    a pure ``probe_pq_index`` off disk — zero k-means, zero corpus
    encoding.  Row-identity with the from-scratch inline evaluation
    is pinned in ``tests/test_ann_index.py`` against
    :func:`_similarity_pq_inline` (kept as the independent twin).
    The artifact is corpus-fingerprint-keyed (``_ann_index_dir``), so
    a regenerated corpus rebuilds.

    Determinism: codebooks from `_train_pq_codebooks` (hash-sampled,
    fixed init/iters).  Measured recall@5 vs brute force (m=8,
    ksub=32; scripts/measure_ivf_recall.py): refine=256 measured
    0.98 mean / 0.80 worst at sf0.1 and refine=384 (the r11 default)
    1.00/1.00 at both scales; refine=96 measured 0.90/0.94/0.80 at
    sf0.001/0.01/0.1 —
    the refine count, a per-query CONSTANT, is the recall knob as the
    corpus grows.  Pinned >= 0.9 at the test SF in
    tests/test_semantic_pq.py (now exercising the artifact path);
    ADC error on this near-isotropic synthetic corpus is absorbed by
    the exact refine."""
    from beehive_spark.operators.ann_index import (
        META_NAME,
        build_pq_index,
        probe_pq_index,
    )

    e = load(spark, sf_dir, "embeddings")
    idx = _ann_index_dir(sf_dir, f"pq_m{m}_k{ksub}")
    if not os.path.exists(os.path.join(idx, META_NAME)):
        build_pq_index(
            spark,
            e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10),
            idx,
            m=m,
            ksub=ksub,
        )
    return probe_pq_index(
        spark,
        idx,
        e.select("vec_id", "embedding").filter(F.col("vec_id") < 10),
        refine=refine,
        k=k,
    )


def _similarity_pq_inline(
    spark, sf_dir, m: int = 8, ksub: int = 32, refine: int = 256, k: int = 5
):
    """The from-scratch inline PQ evaluation (train + encode + ADC +
    refine in one plan, no artifact) — retained UNREGISTERED as the
    independent twin that ``tests/test_ann_index.py`` pins the
    persisted path of :func:`similarity_ann_pq` against."""
    e = load(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))  # noqa: E731
    emb = (
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("ed"))
        .withColumn("nrm", norm(F.col("ed")))
        .select("vec_id", F.transform("ed", lambda x: x / F.col("nrm")).alias("en"))
    )
    books = _train_pq_codebooks(
        e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10), m=m, ksub=ksub
    )
    sd = len(books[0][0])
    # corpus side: argmin-L2 code per subspace == argmax (dot - |c|^2/2)
    # on unit-normed data; encode once, carry only (vec_id, m codes).
    # The codebooks and their half-squared-norm tables ride in as one
    # broadcast row (_codebook_df), not literal trees.
    half_sq = [
        [sum(x * x for x in c) / 2.0 for c in books[j]] for j in range(m)
    ]
    cbdf = _codebook_df(spark, books, extra={"halfsq": half_sq})
    embc = emb.crossJoin(F.broadcast(cbdf))
    codes = F.array(
        *[
            F.element_at(
                F.reverse(
                    F.array_sort(
                        F.transform(
                            _pq_subspace_sims(j, sd, books="cb"),
                            lambda s: F.named_struct(
                                F.lit("sim"),
                                s["sim"]
                                - F.element_at(
                                    F.element_at(F.col("halfsq"), j + 1),
                                    s["cid"] + 1,
                                ),
                                F.lit("cid"),
                                s["cid"],
                            ),
                        )
                    )
                ),
                1,
            )["cid"]
            for j in range(m)
        ]
    )
    enc = embc.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), codes.alias("codes")
    )
    # query side: ADC tables — tabs[j][c] = dot(q_sub_j, centroid_c)
    tabs = F.array(
        *[
            F.transform(_pq_subspace_sims(j, sd, books="cb"), lambda s: s["sim"])
            for j in range(m)
        ]
    )
    q = embc.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), tabs.alias("tabs")
    )
    adc = F.aggregate(
        F.zip_with("tabs", "codes", lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    cands = (
        enc.crossJoin(F.broadcast(q))
        .withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= refine)
        .select("query_id", "neighbor_id")
    )
    # exact refine: join candidate ids back to the full vectors
    qv = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("en").alias("qe")
    )
    cv = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("en").alias("ce")
    )
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("sim", dot)
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# PQ on a PLANTED grid codebook — the hash-green twin of the ADC path
# ---------------------------------------------------------------------------
# 4 subspaces x 4 centroids at (+-2,0),(0,+-2): every centroid norm^2 is
# 4, every planted vector norm^2 is 16 (norm EXACTLY 4.0), so encode,
# ADC tables, lookups, and the exact refine are all dyadic-exact doubles
# — no ulp anywhere, ties are exact and break on neighbor_id identically
# in both engines.
_PQ_GRID_BOOKS = [
    [[2.0, 0.0], [0.0, 2.0], [-2.0, 0.0], [0.0, -2.0]] for _ in range(4)
]


def _pq_planted_oracle() -> str:
    """Closed-form oracle: subspace dot D(a,b) = 4 if a==b, -4 if the
    codes are diametric ((a-b) % 4 == 2), else 0 (the centroids sit at
    90-degree steps on the radius-2 circle); cosine = sum(D)/16."""
    dterm = (
        "(CASE WHEN q.d{j} = c.d{j} THEN 4 "
        "WHEN (q.d{j} - c.d{j} + 4) % 4 = 2 THEN -4 ELSE 0 END)"
    )
    sd = " + ".join(dterm.format(j=j) for j in range(4))
    return f"""
    WITH ids AS (SELECT CAST(vec_id AS BIGINT) AS id FROM embeddings),
    dg AS (
      SELECT id,
             CAST(id % 4 AS INTEGER) AS d0,
             CAST((id // 4) % 4 AS INTEGER) AS d1,
             CAST((id // 16) % 4 AS INTEGER) AS d2,
             CAST((id // 64) % 4 AS INTEGER) AS d3
      FROM ids),
    q AS (SELECT * FROM dg WHERE id < 10),
    c AS (SELECT * FROM dg WHERE id >= 10),
    pairs AS (
      SELECT q.id AS query_id, c.id AS neighbor_id, {sd} AS sd
      FROM q CROSS JOIN c),
    r AS (
      SELECT query_id, neighbor_id, sd,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sd DESC, neighbor_id) AS rn
      FROM pairs)
    SELECT query_id, neighbor_id,
           ROUND(CAST(sd AS DOUBLE) / 16.0, 4) AS cosine
    FROM r WHERE rn <= 5
    """


@query("similarity_ann_pq_planted", oracle=_pq_planted_oracle())
def similarity_ann_pq_planted(spark, sf_dir, refine: int = 64, k: int = 5):
    """The persisted-PQ ADC path (``operators.ann_index``: encode →
    codes.parquet → lookup-table probe → exact refine) driven by a
    PLANTED grid codebook whose expected top-k is pure arithmetic in
    the vector id — the driver-hash twin of :func:`similarity_ann_pq`
    (r7 verdict ask #2; the planted-topology move from k-core /
    PageRank applied to the quantization path, which had been
    rows-only for five rounds).

    The plant: vector ``i``'s subspace-``j`` code is digit ``j`` of
    ``i`` base 4, and its subspace component is that code's centroid
    — so every corpus/query vector lies EXACTLY on the codebook grid.
    Encoding must recover the digits (self-similarity 1 beats 0/-1
    with no ties), ADC equals sum-of-subspace-dots exactly, and the
    exact refine equals ADC/4 — one monotone ordering end to end, so
    the final top-5 is the global (sum(D) DESC, id) head regardless
    of the refine cutoff.  All arithmetic on both engines is
    dyadic-exact (components in {0, +-2}, norms exactly 4.0, unit
    components in {0, +-0.5}), so equal scores are BIT-equal and the
    id tie-break fires identically — no float margin anywhere.

    This goes through the REAL artifact lifecycle: first run builds
    ``pq_planted``-tagged codes.parquet/books.parquet via
    :func:`build_pq_index` (with the supplied codebook — the FAISS
    external-quantizer pattern), later runs probe straight off disk
    (:func:`probe_pq_index`), exactly like ``similarity_ann_pq``'s
    production path at 100 TB."""
    from beehive_spark.operators.ann_index import (
        META_NAME,
        build_pq_index,
        probe_pq_index,
    )

    ids = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id")
    )
    comps = []
    for j in range(4):
        d = F.pmod(
            F.call_function("div", F.col("vec_id"), F.lit(4**j).cast("long")),
            F.lit(4),
        )
        comps.append(
            F.when(d == 0, F.lit(2.0)).when(d == 2, F.lit(-2.0)).otherwise(F.lit(0.0))
        )
        comps.append(
            F.when(d == 1, F.lit(2.0)).when(d == 3, F.lit(-2.0)).otherwise(F.lit(0.0))
        )
    planted = ids.select(
        "vec_id", F.array(*comps).cast("array<double>").alias("embedding")
    )
    idx = _ann_index_dir(sf_dir, "pq_planted")
    if not os.path.exists(os.path.join(idx, META_NAME)):
        build_pq_index(
            spark,
            planted.filter(F.col("vec_id") >= 10),
            idx,
            m=4,
            ksub=4,
            books=_PQ_GRID_BOOKS,
        )
    return probe_pq_index(
        spark, idx, planted.filter(F.col("vec_id") < 10), refine=refine, k=k
    )


# ---------------------------------------------------------------------------
# Persistent ANN index lifecycle: build once, probe many (operators.ann_index)
# ---------------------------------------------------------------------------
def _ann_index_dir(sf_dir: str, kind: str = "ivf") -> str:
    """Deterministic per-corpus index location under the system temp
    dir (the driver harness must not write inside read-only sf dirs).

    The key is a fingerprint of the embeddings table's FILE STATS
    (relative name, size, mtime per data file), not just the path: a
    path-only key would keep serving a stale index after the corpus at
    that path is regenerated (new testdata round, refreshed fixtures)
    — probes would return neighbors from the previous corpus (review
    finding).  A changed corpus now keys a different directory, so
    ``_ensure_ivf_index`` rebuilds."""
    import hashlib
    import tempfile

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    emb = os.path.join(sf_dir, "embeddings.parquet")
    try:
        entries = (
            sorted(os.listdir(emb)) if os.path.isdir(emb) else [""]
        )
        for name in entries:
            fp = os.path.join(emb, name) if name else emb
            st = os.stat(fp)
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except OSError:
        pass  # missing table: path-only key; the build itself will fail loudly
    tag = h.hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "beehive_ann", f"{kind}_{tag}")


def _ensure_ivf_index(spark, sf_dir, k: int = 16, replicas: int = 3) -> str:
    """Build the persisted IVF index for this corpus if absent (the
    'build once' half); subsequent calls — and every probe — reuse the
    artifact untouched."""
    from beehive_spark.operators.ann_index import META_NAME, build_ivf_index

    idx = _ann_index_dir(sf_dir, "ivf")
    if not os.path.exists(os.path.join(idx, META_NAME)):
        e = load(spark, sf_dir, "embeddings")
        corpus = e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10)
        build_ivf_index(spark, corpus, idx, k=k, replicas=replicas)
    return idx


@query("ann_index_build")  # artifact manifest -> rows-only driver check
def ann_index_build(spark, sf_dir):
    """BUILD phase of the persistent ANN index (the round-2 VERDICT's
    lifecycle ask): train the IVF coarse quantizer once, persist
    codebook + centroid-partitioned inverted lists via staged swap
    (``operators/ann_index.py:build_ivf_index``), and return the index
    MANIFEST — one row per inverted list with its size — which is what
    an operator would inspect for list balance before trusting the
    index.  Rebuilds in place if the artifact exists (idempotent);
    probes (``ann_index_probe``) then read the artifact without
    retraining.  Deterministic: hash-sampled training set, fixed init
    and iteration count."""
    from beehive_spark.operators.ann_index import build_ivf_index

    idx = _ann_index_dir(sf_dir, "ivf")
    e = load(spark, sf_dir, "embeddings")
    corpus = e.select("vec_id", "embedding").filter(F.col("vec_id") >= 10)
    build_ivf_index(spark, corpus, idx)
    return (
        spark.read.parquet(os.path.join(idx, "assignments.parquet"))
        .groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("centroid_id")
    )


@query("ann_index_probe")  # approximate -> rows-only driver check
def ann_index_probe(spark, sf_dir, nprobe: int = 6, k: int = 5):
    """PROBE phase of the persistent ANN index: top-k cosine neighbors
    for the query vectors (vec_id < 10) answered from the PERSISTED
    artifact — no codebook training in this call, and the probed list
    ids prune the assignments scan to nprobe/k of its partitions
    (PartitionFilters in the plan; pinned by
    ``tests/test_ann_index.py``).  With identical hyper-parameters the
    result is row-identical to ``similarity_ann_ivf`` (same trainer,
    same assignment expressions — shared code in
    ``operators/ann_index.py``), which the test suite asserts; recall
    therefore carries over from ``scripts/measure_ivf_recall.py``
    unchanged (0.96 @ sf0.1)."""
    from beehive_spark.operators.ann_index import probe_ivf_index

    idx = _ensure_ivf_index(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    queries = e.select("vec_id", "embedding").filter(F.col("vec_id") < 10)
    return probe_ivf_index(spark, idx, queries, nprobe=nprobe, k=k)


# ---------------------------------------------------------------------------
# Sessionization (gap-based) over the events stream table
# ---------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    tagged AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM tagged
    GROUP BY user_id, session_no
    """,
)
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of session starts — the classic gaps-and-islands plan, one
    shuffle on user_id shared by both windows and the final groupBy.
    (Spark's session_window produces the same sessions; this
    formulation is used so the oracle can express it too.)"""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_s = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    tagged = e.select("user_id", "ts", new_s.alias("new_session")).withColumn(
        "session_no", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return tagged.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", F.col("session_no").cast("long").alias("session_no"),
             "session_start", "n_events")


# ---------------------------------------------------------------------------
# Unigram-LM perplexity — CCNet-style language-model quality scoring
# ---------------------------------------------------------------------------
@query(
    "text_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    unig AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT term) AS v FROM toks),
    lp AS (
      SELECT term,
             CAST(ROUND(ln((c + 1.0) / (t + v)) * 1000000) AS BIGINT) AS lp
      FROM unig CROSS JOIN tot
    ),
    perdoc AS (
      SELECT toks.doc_id, COUNT(*) AS n_tokens, SUM(lp.lp) AS s
      FROM toks JOIN lp USING (term) GROUP BY toks.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           ROUND(-p.s / 1000000.0 / p.n_tokens, 4) AS xent
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    """,
)
def text_perplexity(spark, sf_dir):
    """Language-model quality scoring a la CCNet (Wenzek et al. 2020):
    per-document cross-entropy under a unigram LM trained on the corpus
    itself — the standard "how much does this text look like the rest
    of the data" filter signal used next to the rule-based
    ``text_quality_score`` gate.  Add-one smoothing over the observed
    vocabulary: p(w) = (c_w + 1) / (T + V); score = -mean ln p(w) in
    nats (lower = more typical text; boilerplate and gibberish both
    stand out).

    Cross-engine determinism: per-token log-probs are rounded to
    integer MICRO-NATS and summed exactly as BIGINTs, so the per-doc
    sum is bit-identical in any aggregation order on any engine — the
    exact-integer-sums trick shared with ``trend_slopes`` /
    ``events_anomaly``.  Only the final division rounds to 4.

    Scale shape: the unigram table is ONE map-side-combined hash agg
    over the token stream (reusing the tokenizer of text_token_stats);
    totals are a 1-row broadcast.  Scoring re-joins tokens to the
    vocab on ``term`` — deliberately NOT a forced broadcast (a
    web-scale vocab need not fit one executor); AQE handles stopword
    skew, exactly as in ``text_tfidf_topterms``.  Docs with zero
    tokens surface with n_tokens=0 and NULL score (never silently
    dropped — they are exactly the docs a filter must flag).

    Reference scope: net-new (no counterpart in mhawila/beehive)."""
    d = load(spark, sf_dir, "documents")
    # tokens travel as xxhash64 keys: the vocab aggregation and the
    # scoring join shuffle 8-byte ints, never the strings (the
    # no-payload-shuffles rule; same 2^-64 collision caveat as every
    # hashed-token operator here — the oracle groups real strings and
    # still hash-matches)
    toks = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    ).select("doc_id", F.xxhash64("term").alias("hk"))
    unig = toks.groupBy("hk").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(
        F.count(F.lit(1)).alias("t"), F.countDistinct("hk").alias("v")
    )
    lp = unig.crossJoin(F.broadcast(tot)).select(
        "hk",
        F.round(
            F.log((F.col("c") + 1.0) / (F.col("t") + F.col("v"))) * 1_000_000
        )
        .cast("long")
        .alias("lp"),
    )
    perdoc = (
        toks.join(lp, "hk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("s"))
    )
    return d.select("doc_id").join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.round(-F.col("s") / 1_000_000.0 / F.col("n_tokens"), 4).alias("xent"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters — exact frequent shingles via Misra-Gries candidates
# ---------------------------------------------------------------------------
@query(
    "heavy_hitters_shingles",
    oracle="""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ),
    sh AS (
      SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM toks, unnest(range(1, len(ws)-1)) AS t(i)
    ),
    tot AS (SELECT COUNT(*) AS n FROM sh)
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(COUNT(*) / CAST(n AS DOUBLE), 6) AS frac
    FROM sh CROSS JOIN tot
    GROUP BY shingle, n
    HAVING COUNT(*) > 0.0002 * n
    """,
)
def heavy_hitters_shingles(spark, sf_dir, phi: float = 0.0002):
    """Frequent word-3-grams of the corpus (boilerplate / template
    detection — the signal that feeds the hot-shingle df-cap in
    ``dedup_ngram_jaccard``) found EXACTLY via the two-pass
    ``operators.freq.frequent_items``: per-partition Misra-Gries
    candidate discovery (Arrow-batched, O(1/phi) counters), broadcast
    semi-join filter, exact recount.  Unlike ``boilerplate_ngrams``
    (per-DOC distinct n-grams, document frequency) this counts every
    OCCURRENCE in the stream — the true heavy-hitter formulation.

    The oracle pays the full vocabulary-sized GROUP BY over shingle
    STRINGS; the engine never builds them in bulk — the stream is
    xxhash64 tuple-hashes (`_ngram_hashes`, the shared fast path:
    building "a b c" strings just to count them measured ~8s of pure
    string assembly at sf0.1), the MG candidate pass and exact recount
    run on bigints, and only the ~|winners| strings are reconstructed,
    each from ONE witness occurrence (min (doc_id, pos) per winning
    hash -> broadcast join back to that document -> slice 3 tokens).
    Same 2^-64-per-pair collision caveat as every hashed-shingle
    operator here (test_ngram_hash_property.py).  Output is provably
    identical for any partitioning (see operators/freq.py docstring) —
    which is why a sketch-assisted plan can face a hash-equality
    oracle."""
    from beehive_spark.operators.freq import frequent_items

    raw = load(spark, sf_dir, "documents")
    d = raw.select("doc_id", _tokens(F.col("text")).alias("w"))
    hs = d.select(
        "doc_id",
        F.posexplode(_ngram_hashes(F.col("w"), distinct=False)).alias("pos", "hk"),
    )
    winners = frequent_items(hs, "hk", phi)
    witness = (
        hs.join(F.broadcast(winners.select("hk")), "hk")
        .groupBy("hk")
        .agg(F.min(F.struct("doc_id", "pos")).alias("at"))
        .select("hk", F.col("at.doc_id").alias("doc_id"), F.col("at.pos").alias("pos"))
    )
    resolved = (
        raw.join(F.broadcast(witness), "doc_id")
        .select(
            "hk",
            F.concat_ws(
                " ", F.slice(_tokens(F.col("text")), F.col("pos") + 1, 3)
            ).alias("shingle"),
        )
    )
    return (
        winners.join(F.broadcast(resolved), "hk")
        .select("shingle", "cnt", "frac")
    )


# ---------------------------------------------------------------------------
# Document chunking — overlapping token windows for retrieval indexes
# ---------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 64, 48  # window, stride (16-token overlap)


@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ),
    sized AS (
      SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_id, i * {_CHUNK_S} AS start_tok,
             ws[i * {_CHUNK_S} + 1 : least(i * {_CHUNK_S} + {_CHUNK_W}, n)] AS piece
      FROM sized,
           unnest(range(0, (greatest(n - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
                           // {_CHUNK_S} + 1)) AS t(i)
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(piece) AS BIGINT) AS n_tok,
           md5(array_to_string(piece, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def chunk_documents(spark, sf_dir, window: int = _CHUNK_W, stride: int = _CHUNK_S):
    """Overlapping token-window chunking — the standard preparation for
    retrieval/RAG indexes and for fixed-context embedding models:
    every document becomes ceil(max(n-W,0)/S)+1 windows of up to W
    tokens starting every S (here W=64, S=48: 16-token overlap so no
    sentence straddles a boundary unseen).  Pure JVM expressions —
    ``sequence`` + ``transform``/``slice`` build all windows per row
    with no explode-then-window shuffle, and chunk COUNT arithmetic is
    integer (exact across engines).  Emits the md5 of each chunk's
    normalized text, which is simultaneously the dedup key downstream
    (`dedup_exact` on chunks) and keeps the result narrow.

    Scale shape: embarrassingly parallel map — zero shuffles, zero
    joins (PLANS.md); at 100 TB this is scan-bound, as chunking must
    be.  Pairs with ``similarity_ann_*`` (index the chunk vectors) and
    ``pack_sequences`` (its training-side sibling: non-overlapping
    packing to a budget)."""
    d = load(spark, sf_dir, "documents")
    ws = _tokens(F.col("text"))
    n = F.size(ws)
    # exact integer chunk-count arithmetic, identical on both engines:
    # last chunk id = (max(n-W,0) + S-1) div S
    last_id = F.expr(
        f"(greatest(size(ws) - {window}, 0) + {stride - 1}) div {stride}"
    )
    sized = d.select("doc_id", ws.alias("ws"), n.alias("n")).filter(n > 0)
    chunks = sized.select(
        "doc_id",
        "ws",
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), last_id)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("ws"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        F.least(
            F.lit(window), (F.col("n") - F.col("chunk_id") * stride).cast("int")
        ),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * stride).cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Text canonicalization — the pre-dedup normalization pass
# ---------------------------------------------------------------------------
_ACCENTS = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ"
_ASCII = "aaaaaaceeeeiiiinooooouuuuyy"


@query(
    "text_normalize",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(
             translate(lower(text), '{_ACCENTS}', '{_ASCII}'),
             '[\\s]+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(
             translate(lower(text), '{_ACCENTS}', '{_ASCII}'),
             '[\\s]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def text_normalize(spark, sf_dir):
    """Canonicalization pass that runs BEFORE every dedup/fingerprint
    operator in a real pipeline: lowercase, fold common accented latin
    characters to ascii (explicit ``translate`` map — deterministic on
    every engine, unlike locale-dependent unicode normalizers), squeeze
    runs of whitespace to one space, trim.  Exactly the kind of
    normalization the reference applies ad hoc per string column
    (person-users.js username matching is case-exact; this makes the
    policy explicit and engine-wide).  All JVM built-ins, zero
    shuffles — scan-bound at any scale, like ``pii_scrub``."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.translate(F.lower(F.col("text")), _ACCENTS, _ASCII),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# Survivorship policy — keep the best copy of each near-dup cluster
# ---------------------------------------------------------------------------
@query(
    "dedup_survivorship",
    oracle="""
    WITH RECURSIVE toks AS (
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
    pairs AS (
      SELECT i, j FROM common
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
    ranked AS (
      SELECT lab.doc_id, lab.cluster_id, d.n_chars,
             row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY d.n_chars DESC, lab.doc_id) AS rn
      FROM lab JOIN documents d ON d.doc_id = lab.doc_id
    ),
    keepers AS (
      SELECT cluster_id, doc_id AS keep_id FROM ranked WHERE rn = 1
    )
    SELECT CAST(r.doc_id AS BIGINT) AS doc_id,
           CAST(k.keep_id AS BIGINT) AS keep_id,
           CAST(r.cluster_id AS BIGINT) AS cluster_id
    FROM ranked r JOIN keepers k ON k.cluster_id = r.cluster_id
    WHERE r.doc_id <> k.keep_id
    """,
)
def dedup_survivorship(spark, sf_dir):
    """Survivorship policy over near-dup clusters: instead of the
    min-id canonical (``dedup_clusters``), each cluster keeps its most
    COMPLETE copy — longest document, doc_id as tiebreak — and every
    other member maps to that keeper.  This is the record-survivorship
    step of real MDM/curation pipelines (and the quality-aware upgrade
    to the reference's keep-the-existing-row consolidation,
    person-users.js:83-150: the reference always keeps the destination
    copy; here the keep decision is a declared, data-driven policy).
    Swapping the ranking column for a quality score is a one-line
    change; ``n_chars`` keeps the oracle exact and self-contained.

    Scale shape: clusters come from distributed min-label propagation
    (see dedup_clusters); the policy itself is one broadcast join to
    the slim (doc_id, n_chars) projection plus a per-cluster window
    over near-dup clusters only — never the full corpus."""
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    meta = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = clusters.join(F.broadcast(meta), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    labeled = ranked.withColumn("rn", F.row_number().over(w))
    keepers = labeled.filter(F.col("rn") == 1).select(
        "cluster_id", F.col("doc_id").alias("keep_id")
    )
    return (
        labeled.join(F.broadcast(keepers), "cluster_id")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", "keep_id", "cluster_id")
    )


# ---------------------------------------------------------------------------
# Per-stratum heavy hitters — local boilerplate per source
# ---------------------------------------------------------------------------
@query(
    "heavy_hitters_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ),
    sh AS (
      SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM toks, unnest(range(1, len(ws)-1)) AS t(i)
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source)
    SELECT sh.source, shingle, CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(COUNT(*) / CAST(n AS DOUBLE), 6) AS frac
    FROM sh JOIN tot ON tot.source = sh.source
    GROUP BY sh.source, shingle, n
    HAVING COUNT(*) > 0.002 * n
    """,
)
def heavy_hitters_by_source(spark, sf_dir, phi: float = 0.002):
    """Frequent word-3-grams PER SOURCE (``frequent_items(by=...)``) —
    boilerplate detection where it actually operates: a crawler's
    cookie banner is 0.2% of ONE source's shingles and invisible
    globally, so the threshold must be local.  Per-stratum Misra-Gries
    state, per-stratum exact recount, same partitioning-independence
    guarantee; the string-vs-hash tradeoff of heavy_hitters_shingles
    is skipped here because per-source streams are the smaller,
    already-grouped path (and the oracle keeps one string-keyed
    variant honest end-to-end)."""
    from beehive_spark.operators.freq import frequent_items

    d = load(spark, sf_dir, "documents")
    ws = _tokens(F.col("text"))
    toked = d.select("source", ws.alias("w")).filter(F.size("w") >= 3)
    stream = toked.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("w"), i + 1),
                    F.element_at(F.col("w"), i + 2),
                    F.element_at(F.col("w"), i + 3),
                ),
            )
        ).alias("shingle"),
    )
    return frequent_items(stream, "shingle", phi, by=["source"])


# ---------------------------------------------------------------------------
# Vector aggregation — element-wise centroids per group
# ---------------------------------------------------------------------------
@query(
    "embedding_centroids",
    oracle="""
    WITH comps AS (
      SELECT label, i - 1 AS pos, embedding[i] AS x
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label,
           CAST(pos AS INT) AS pos,
           ROUND(AVG(x), 6) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM comps GROUP BY label, pos
    """,
)
def embedding_centroids(spark, sf_dir):
    """Element-wise mean vector per label — the centroid-computation
    primitive under k-means, class prototypes, and topic averaging,
    expressed as relational ops: ``posexplode`` the vectors, then
    aggregate each (group, position) cell.  All JVM; one map-side-
    combined shuffle on (label, pos) — no vector ever sits whole in
    aggregation state, so dimension count scales independently of
    group cardinality (the shape that survives 4096-dim embeddings at
    100 TB, unlike collect_list-of-arrays approaches that buffer whole
    groups).

    Output is one row per (label, pos) cell rather than an assembled
    array column: identical information, but scalar cells let the
    differential harness sort/hash the result (pandas cannot sort
    list-valued columns — round 3's driver check crashed on exactly
    that); a user wanting array form applies the trivial
    ``groupBy(label).agg(array_agg(struct(pos, val)))`` reassembly.

    Cross-engine determinism: per-cell means round to 6 before the
    hash (summation order differs between engines; 24-vector cells at
    float precision stay well inside 1e-6).

    Reference scope: net-new; vector-side sibling of `mixture_stats`."""
    e = load(spark, sf_dir, "embeddings")
    comps = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).withColumnsRenamed({"pos": "pos", "col": "x"})
    return comps.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        F.round(F.avg("x"), 6).alias("centroid_val"),
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints — rolling-hash document signatures (MOSS)
# ---------------------------------------------------------------------------
_WIN_K = 8      # character k-gram length (rolling-hash unit)
_WIN_W = 4      # winnowing window over the hash sequence
_WIN_B = 31     # polynomial base
_WIN_M = 10**9 + 7


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, LENGTH(text) AS L
      FROM documents WHERE LENGTH(text) >= {_WIN_K + _WIN_W - 1}
    ),
    hashes AS (
      SELECT doc_id,
             [ (CAST(ord(substring(text, i + 0, 1)) AS BIGINT) * {_WIN_B ** 7}
              + CAST(ord(substring(text, i + 1, 1)) AS BIGINT) * {_WIN_B ** 6}
              + CAST(ord(substring(text, i + 2, 1)) AS BIGINT) * {_WIN_B ** 5}
              + CAST(ord(substring(text, i + 3, 1)) AS BIGINT) * {_WIN_B ** 4}
              + CAST(ord(substring(text, i + 4, 1)) AS BIGINT) * {_WIN_B ** 3}
              + CAST(ord(substring(text, i + 5, 1)) AS BIGINT) * {_WIN_B ** 2}
              + CAST(ord(substring(text, i + 6, 1)) AS BIGINT) * {_WIN_B}
              + ord(substring(text, i + 7, 1))) % {_WIN_M}
               for i in range(1, L - {_WIN_K} + 2) ] AS h
      FROM base
    ),
    fps AS (
      -- fingerprint (pos, v) packs into one BIGINT pos*M + v so
      -- list_distinct works (DuckDB lacks struct-list distinct)
      SELECT doc_id, len(h) AS n_grams,
             list_distinct([
               (p - 1 + ({_WIN_W} - list_position(
                          list_reverse(h[p:p + {_WIN_W} - 1]),
                          list_min(h[p:p + {_WIN_W} - 1]))))
                 * {_WIN_M} + list_min(h[p:p + {_WIN_W} - 1])
               for p in range(1, len(h) - {_WIN_W} + 2) ]) AS fp
      FROM hashes
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fp) AS BIGINT) AS n_fingerprints,
           CAST(list_sum([x % {_WIN_M} for x in fp]) % {_WIN_M} AS BIGINT)
             AS fp_checksum,
           ROUND(len(fp) / CAST(n_grams AS DOUBLE), 4) AS density
    FROM fps
    """,
)
def doc_winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003
    — the MOSS algorithm): a polynomial ROLLING HASH over character
    8-grams, then the rightmost-minimum of each 4-hash window is
    selected, so matching substrings of length >= k + w - 1 between
    any two documents are GUARANTEED to share a fingerprint while only
    ~2/(w+1) of positions are kept — the locality-guaranteed sampling
    that plain minhash lacks.  Output per doc: gram count, selected
    fingerprint count, their modular checksum (hash-exact across
    engines — every quantity is integer arithmetic) and the selection
    density (~0.4 at w=4, the theoretical 2/(w+1) plus tie effects).

    The fingerprint SET (pos, hash) is what a plagiarism/near-dup
    index stores; an equi-join on the hash then finds shared runs, the
    same inverted-index shape as ``dedup_ngram_jaccard`` with a 2.5x
    smaller index.  Scale: all JVM array expressions, zero joins, zero
    shuffles before the final projection.

    Constant-factor shape (the round-3 bench flagged 15 s): each stage
    materializes what the next one indexes, so nothing quadratic in
    the document length survives — (1) the text splits into a
    char-code ARRAY once (``substr(text, i, 1)`` per position is an
    O(i) UTF-8 boundary walk, O(L^2) per doc in total; ``element_at``
    on an array is O(1)), (2) gram hashes read 8 array cells each,
    (3) window slices materialize once so the min and its rightmost
    position don't re-slice per reference."""
    k, w, B, M = _WIN_K, _WIN_W, _WIN_B, _WIN_M
    d = load(spark, sf_dir, "documents").filter(
        F.length("text") >= k + w - 1
    )

    def winnow(batches):
        # the whole rolling-hash + winnow + distinct + checksum chain
        # as numpy integer ops (guide §4.2: the former JVM formulation
        # evaluated interpreted HOFs — a transform per position, a
        # w-slice materialization per window, an array_distinct and a
        # checksum fold per doc).  ALL-INTEGER arithmetic, so every
        # output value is exactly the JVM expression's; the density
        # round stays a JVM expression below.  Max k-gram accumulator:
        # max codepoint (0x10FFFF) * sum(B^0..B^7) ~ 3.2e16 << 2^63.
        import numpy as np
        import pyarrow as pa
        from numpy.lib.stride_tricks import sliding_window_view

        pows = np.array([B ** (k - 1 - j) for j in range(k)], dtype=np.int64)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            texts = b.column(1)
            n_grams = np.empty(n, dtype=np.int64)
            n_fp = np.empty(n, dtype=np.int64)
            csum = np.empty(n, dtype=np.int64)
            for i in range(n):
                s = texts[i].as_py()
                c = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                ng = len(c) - k + 1
                h = np.zeros(ng, dtype=np.int64)
                for j in range(k):
                    h += c[j : j + ng] * pows[j]
                h %= M
                W = sliding_window_view(h, w)
                mins = W.min(axis=1)
                # rightmost min: first hit in the reversed window,
                # exactly array_position(reverse(win), array_min(win))
                r0 = (W[:, ::-1] == mins[:, None]).argmax(axis=1)
                pos = np.arange(len(mins), dtype=np.int64) + w - (r0 + 1)
                fpu = np.unique(pos * M + mins)
                n_grams[i] = ng
                n_fp[i] = len(fpu)
                csum[i] = int((fpu % M).sum() % M)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(n_grams, pa.int64()),
                    pa.array(n_fp, pa.int64()),
                    pa.array(csum, pa.int64()),
                ],
                names=["doc_id", "n_grams", "n_fingerprints", "fp_checksum"],
            )

    fps = d.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).mapInArrow(
        winnow,
        "doc_id bigint, n_grams bigint, n_fingerprints bigint, "
        "fp_checksum bigint",
    )
    return fps.select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        "fp_checksum",
        F.round(
            F.col("n_fingerprints") / F.col("n_grams").cast("double"), 4
        ).alias("density"),
    )


# ---------------------------------------------------------------------------
# Gram matrix — the X^T X aggregation under PCA / whitening / linear probes
# ---------------------------------------------------------------------------
@query(
    "embedding_gram",
    oracle="""
    WITH comps AS (
      SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT CAST(a.i AS INT) AS i,
           CAST(b.i AS INT) AS j,
           ROUND(SUM(a.x * b.x), 6) AS gram,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM comps a JOIN comps b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
)
def embedding_gram(spark, sf_dir):
    """Distributed Gram matrix X^T X over the embedding corpus — the
    one-pass aggregation under PCA, ZCA whitening, ridge regression
    and linear probing of representation quality (covariance follows
    as gram/n - mean-outer-mean, with the means available from
    ``embedding_centroids``).

    Scale shape — the treeAggregate gram: an Arrow-batched
    ``mapInPandas`` stage computes each batch's PARTIAL X^T X in one
    BLAS call and emits d(d+1)/2 upper-triangle cells per batch; the
    final groupBy merges #batches x d^2/2 cells in one shuffle whose
    volume is independent of row count.  Matrix multiply is exactly
    the case the built-in-functions rule defers to vectorized Python:
    the pure-JVM alternative (explode d^2/2 product structs PER ROW,
    map-side combine) computes the same cells but shuffles
    #rows x d^2/2 structs and measured 8.6x at the 10x stress corpus;
    the BLAS partial turns that into microseconds per batch.  The
    driver-side alternative (collect + numpy) is wrong at any scale.
    The d x d result is then small enough to eigendecompose anywhere.

    Cross-engine determinism: products are computed in double on both
    engines (float32 x float32 ulps differ) and per-cell sums round
    to 6 before the hash — accumulation order differs between engines
    (and across partition boundaries run-to-run), but 2,000-term
    double sums of O(1) values agree well inside 1e-6.  The dimension
    comes from the data on BOTH sides (``len(embedding)`` in the
    oracle, array shape in the batch), so a corpus with a different
    d diverges loudly rather than silently (review finding).

    Reference scope: net-new; the linear-algebra sibling of
    `embedding_centroids`."""
    import pandas as pd

    cell_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("part", T.DoubleType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def partial_gram(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = x.T @ x
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "part": g[iu, ju],
                    "n": np.full(len(iu), len(pdf), dtype="int64"),
                }
            )

    e = load(spark, sf_dir, "embeddings")
    parts = e.select("embedding").mapInPandas(partial_gram, schema=cell_schema)
    return parts.groupBy("i", "j").agg(
        F.round(F.sum("part"), 6).alias("gram"),
        F.sum("n").cast("long").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# MMR diversity rerank — greedy Maximal Marginal Relevance over a top-N pool
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
# the penalty coefficient must be the SAME double on both sides:
# python's 1 - 0.7 is 0.30000000000000004 while the SQL literal 0.3
# parses to the double nearest 0.3 — a 1-ulp coefficient gap that
# could flip an argmax between near-tied candidates (r5 review).
# round(.., 10) lands on the 0.3 double; both the oracle text and the
# driver greedy use this constant.
_MMR_PENALTY = round(1 - _MMR_LAMBDA, 10)
_MMR_POOL = 50
_MMR_K = 5


def _mmr_sim_sql(a: str, b: str) -> str:
    """Pairwise cosine between two candidate CTE aliases (doubles,
    sequential accumulation — the arithmetic Spark's zip_with/aggregate
    and python's left-to-right loop reproduce bit-identically)."""
    return (
        f"list_dot_product({a}.e, {b}.e) / ({a}.nrm * {b}.nrm)"
    )


def _mmr_step(step: int) -> str:
    """One unrolled greedy step: argmax over the pool, excluding prior
    picks, of lambda*rel - (1-lambda)*max(sim to each prior pick)."""
    priors = [f"s{i}" for i in range(1, step)]
    sims = ", ".join(_mmr_sim_sql("c", p) for p in priors)
    not_in = ", ".join(f"{p}.vec_id" for p in priors)
    froms = ", ".join(["cand c"] + priors)
    return f"""
    s{step} AS (
      SELECT c.vec_id, c.e, c.nrm, c.rel,
             {_MMR_LAMBDA} * c.rel
               - {_MMR_PENALTY} * GREATEST({sims}) AS mmr,
             ROUND({_MMR_LAMBDA} * c.rel
               - {_MMR_PENALTY} * GREATEST({sims}), 9) AS mmr_key
      FROM {froms}
      WHERE c.vec_id NOT IN ({not_in})
      ORDER BY mmr_key DESC, c.vec_id LIMIT 1
    )"""


_MMR_ORACLE = (
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e,
             SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE vec_id = 0
    ),
    pool AS (
      SELECT v.vec_id, CAST(v.embedding AS DOUBLE[]) AS e,
             SQRT(list_dot_product(CAST(v.embedding AS DOUBLE[]),
                                   CAST(v.embedding AS DOUBLE[]))) AS nrm
      FROM embeddings v WHERE v.vec_id >= 1
    ),
    scored AS (
      SELECT p.vec_id, p.e, p.nrm,
             list_dot_product(p.e, q.e) / (p.nrm * q.nrm) AS rel
      FROM pool p, q
    ),
    cand AS (SELECT * FROM scored
             ORDER BY ROUND(rel, 9) DESC, vec_id LIMIT """
    + str(_MMR_POOL)
    + """),
    s1 AS (
      SELECT vec_id, e, nrm, rel, """
    + str(_MMR_LAMBDA)
    + """ * rel AS mmr
      FROM cand ORDER BY ROUND(rel, 9) DESC, vec_id LIMIT 1
    ),"""
    + ",".join(_mmr_step(i) for i in range(2, _MMR_K + 1))
    + "\n    "
    + "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS rank, vec_id, ROUND(rel, 6) AS relevance, "
        f"ROUND(mmr, 6) AS mmr_score FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
)


@query("embedding_mmr_rerank", oracle=_MMR_ORACLE)
def embedding_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998)
    — the diversity-aware top-k every retrieval/RAG pipeline bolts
    onto a similarity search: greedily pick the candidate maximizing
    ``lambda*relevance - (1-lambda)*max_sim_to_already_picked``, so
    the final k are relevant AND mutually dissimilar.

    Scale shape: the DISTRIBUTED part is candidate generation — one
    broadcast crossJoin + JVM zip_with/aggregate dot products over all
    vectors, TakeOrdered top-50 (no global window) — after which the
    greedy rerank runs driver-side over the BOUNDED pool (50 rows x
    k=5 steps; like the BPE vocab cap, boundedness is by construction:
    MMR's sequential argmax is inherently iterative, and k*N tiny
    dot products do not warrant a cluster round-trip each).  Driver
    arithmetic replicates the engine arithmetic exactly: sequential
    left-to-right double accumulation, same as Spark's aggregate
    lambda and DuckDB's list_dot_product, so the oracle (the greedy
    UNROLLED as five chained argmax CTEs) is exact — final rounding
    happens IN SPARK so ROUND semantics match the SQL side, and every
    argmax ORDER KEY is discretized at 9 decimals on both engines so
    a sub-ulp accumulation difference cannot flip a near-tied pick
    (scores themselves stay full precision until the display round)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    norm = F.sqrt(
        F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"), norm.alias("qn")
    )
    pool = e.filter(F.col("vec_id") >= 1).withColumn("nrm", norm)
    dot = F.aggregate(
        F.zip_with("e", "qe", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cand = (
        pool.crossJoin(F.broadcast(q))
        .withColumn("rel", dot / (F.col("nrm") * F.col("qn")))
        .select("vec_id", "e", "nrm", "rel")
        .orderBy(F.round(F.col("rel"), 9).desc(), "vec_id")
        .limit(_MMR_POOL)
        .collect()
    )

    def dot_py(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    lam = _MMR_LAMBDA
    picked = []
    remaining = list(cand)
    # step 1: pure relevance (pool is already rel-desc, vec_id-tiebroken)
    first = remaining.pop(0)
    picked.append((1, first["vec_id"], first["rel"], lam * first["rel"], first))
    while len(picked) < _MMR_K and remaining:
        best = None
        for c in remaining:
            max_sim = max(
                dot_py(c["e"], p[4]["e"]) / (c["nrm"] * p[4]["nrm"])
                for p in picked
            )
            score = lam * c["rel"] - _MMR_PENALTY * max_sim
            # argmax key DISCRETIZED at 9 decimals (mirrored in the
            # oracle's ORDER BY ROUND(mmr, 9)): sub-ulp accumulation
            # drift between list_dot_product and the python loop can
            # no longer flip a near-tied greedy pick (r5 advice);
            # displayed scores stay full-precision-then-round-6.
            # Half-away-from-zero (not python round()'s banker's) so
            # an exact tie ON the 1e-9 grid also matches DuckDB ROUND
            # and F.round (both HALF_UP) — sign-safe via copysign.
            key = (
                -math.floor(abs(score) * 1e9 + 0.5) * (-1 if score < 0 else 1),
                c["vec_id"],
            )
            if best is None or key < best[0]:
                best = (key, c, score)
        _, chosen, score = best
        remaining.remove(chosen)
        picked.append(
            (len(picked) + 1, chosen["vec_id"], chosen["rel"], score, chosen)
        )
    out = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(r, v, rel, mmr) for r, v, rel, mmr, _ in picked], 1
        ),
        schema=T.StructType(
            [
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("vec_id", T.LongType(), False),
                T.StructField("relevance", T.DoubleType(), False),
                T.StructField("mmr_score", T.DoubleType(), False),
            ]
        ),
    )
    return out.select(
        "rank", "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# ANN index delete leg — tombstoned probe == compacted probe
# ---------------------------------------------------------------------------
def _link_tree(src: str, dst: str) -> None:
    """Hardlink-clone an index artifact: metadata-only (no byte copy),
    sound because every index mutation is append-new-file (tombstones,
    list appends) or replace-via-rename (``write_meta``'s tmp +
    ``os.replace``) — an existing linked file is never modified in
    place, so the source artifact cannot be corrupted through the
    clone."""
    shutil.copytree(src, dst, copy_function=os.link)


@query("ann_index_delete")  # approximate probe -> rows-only driver check
def ann_index_delete(spark, sf_dir):
    """DELETE leg of the persistent ANN index lifecycle (r5; completes
    build/probe/append): tombstone every corpus vector whose id is
    divisible by 7 (O(|delete|) — no corpus pass), and probe through
    the tombstones.  Returned rows are the probe's top-k with the
    deleted ids provably absent; ``tests/test_ann_index.py``
    additionally pins that the tombstoned probe is row-identical to
    probing after ``compact_ivf_index`` folds the tombstones into a
    rewritten assignments table (same staged-swap publish as a
    rebuild).

    The scratch index this mutates is a HARDLINK CLONE of the
    fingerprint-cached base artifact (``_ensure_ivf_index`` — same
    corpus, same hyper-parameters), reset per execution: the r5 bench
    row was ~85% codebook retraining because the query rebuilt its
    scratch from scratch every run, which misrepresented the delete
    leg's O(|delete| + probe) economics (r5 verdict #3).  Cloning is
    a metadata-only directory walk, so what the bench row now measures
    is tombstone append + masked probe.

    Scale shape: the tombstone set broadcasts into a probe-side
    anti-join until compaction reclaims the dead rows — FAISS's
    remove_ids semantics re-expressed as lakehouse artifacts."""
    from beehive_spark.operators.ann_index import (
        delete_from_ivf_index,
        probe_ivf_index,
    )

    base = _ensure_ivf_index(spark, sf_dir)
    idx = _ann_index_dir(sf_dir, "ivf_del")
    if os.path.exists(idx):
        shutil.rmtree(idx)
    _link_tree(base, idx)
    e = load(spark, sf_dir, "embeddings")
    victims = e.select("vec_id").filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") % 7 == 0)
    )
    delete_from_ivf_index(spark, idx, victims)
    q = e.select("vec_id", "embedding").filter(F.col("vec_id") < 10)
    return probe_ivf_index(spark, idx, q, nprobe=6, k=5)


# ---------------------------------------------------------------------------
# Bigram language-model scoring — train/held-out split, exact micro-nats
# ---------------------------------------------------------------------------
@query(
    "ngram_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS l
      FROM documents
    ),
    bi AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2
      FROM (
        SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
        FROM tok WHERE len(l) >= 2
      )
    ),
    tb AS (
      SELECT w1, w2, COUNT(*) AS c FROM bi WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    tu AS (
      SELECT w1, COUNT(*) AS c FROM bi WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    v AS (
      SELECT COUNT(DISTINCT t) AS v
      FROM (SELECT unnest(l) AS t FROM tok WHERE doc_id % 2 = 0)
    ),
    sc AS (
      SELECT b.doc_id, COUNT(*) AS n_bigrams,
             SUM(CAST(ROUND(
               ln((COALESCE(tb.c, 0) + 1.0) / (COALESCE(tu.c, 0) + v.v))
               * 1000000) AS BIGINT)) AS s
      FROM bi b
      LEFT JOIN tb ON b.w1 = tb.w1 AND b.w2 = tb.w2
      LEFT JOIN tu ON b.w1 = tu.w1
      CROSS JOIN v
      WHERE b.doc_id % 2 = 1
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(-sc.s / 1000000.0 / sc.n_bigrams, 4) AS xent
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def ngram_lm_score(spark, sf_dir):
    """Bigram language-model cross-entropy on a held-out split — the
    history-conditioned upgrade of ``text_perplexity``'s unigram
    scorer and the standard KenLM-style decontaminated quality signal:
    train add-one-smoothed bigram probabilities
    ``p(w2|w1) = (c(w1,w2)+1) / (c(w1,.)+V)`` on even doc_ids, score
    the odd docs the model never saw (unseen histories fall back to
    ``1/V`` through the same formula via COALESCE-to-zero counts).

    Cross-engine determinism: the ``text_perplexity`` micro-nat
    pattern — per-bigram log-probs round to integer micro-nats, sums
    are exact BIGINTs in any aggregation order, only the final
    division rounds.  Docs with fewer than two tokens surface with
    n_bigrams=0 and NULL score.

    Scale shape: bigrams travel as variadic ``xxhash64(w1, w2)`` /
    ``xxhash64(w1)`` keys (8 bytes, never strings); the model tables
    are two map-side-combined aggs over the train stream; scoring is
    two LEFT equi-joins on those keys — deliberately not forced
    broadcasts (a web-scale bigram table need not fit one executor);
    V is a 1-row broadcast.  The 2^-64 hash-collision caveat is
    shared with every hashed-token operator here; the oracle groups
    the real strings and still hash-matches."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("l"))
    n = F.size("l")
    bi = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("l", 1, n - 1).alias("w1"),
                    F.slice("l", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.xxhash64("p.w1").alias("h1"),
            F.xxhash64("p.w1", "p.w2").alias("h12"),
        )
    )
    train = bi.filter(F.col("doc_id") % 2 == 0)
    tb = train.groupBy("h12").agg(F.count(F.lit(1)).alias("cb"))
    tu = train.groupBy("h1").agg(F.count(F.lit(1)).alias("cu"))
    v = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("l").alias("t"))
        .agg(F.countDistinct(F.xxhash64("t")).alias("v"))
    )
    score = bi.filter(F.col("doc_id") % 2 == 1)
    lp = F.round(
        F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
            / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("v"))
        )
        * 1_000_000
    ).cast("long")
    sc = (
        score.join(tb, "h12", "left")
        .join(tu, "h1", "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum(lp).alias("s"))
    )
    return (
        d.select("doc_id")
        .filter(F.col("doc_id") % 2 == 1)
        .join(sc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(-F.col("s") / 1_000_000.0 / F.col("n_bigrams"), 4).alias("xent"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal rank fusion of BM25 and dense cosine
# ---------------------------------------------------------------------------
# The registered oracle is GENERATED from these constants so the SQL can
# never drift from the Spark defaults (ADVICE r8: hard-coded 25/10
# silently broke parity for non-default calls; now only explicitly
# overridden test calls bypass the gate, and they say so).
_RRF_K_LIST = 25
_RRF_K_OUT = 10


@query(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('dup', 'spark', 'merge') GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    t AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
               * ((tf.tf * {_BM25_K1 + 1.0})
                  / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                     + {_BM25_B} * ((dl.dl * s.n) / t.t))))
               * 1000000) AS BIGINT) AS c
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      CROSS JOIN s CROSS JOIN t
    ),
    bm AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
      ORDER BY score_micro DESC, doc_id LIMIT {_RRF_K_LIST}
    ),
    sparse AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS rank_sparse
      FROM bm
    ),
    qv AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0
    ),
    cv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings WHERE vec_id >= 1
    ),
    dsc AS (
      SELECT cv.vec_id AS doc_id,
             list_dot_product(qv.e, cv.e)
               / (SQRT(list_dot_product(qv.e, qv.e))
                  * SQRT(list_dot_product(cv.e, cv.e))) AS sim
      FROM cv CROSS JOIN qv
    ),
    dense AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
                  AS BIGINT) AS rank_dense
      FROM dsc ORDER BY sim DESC, doc_id LIMIT {_RRF_K_LIST}
    ),
    fused AS (
      SELECT COALESCE(sp.doc_id, de.doc_id) AS doc_id,
             sp.rank_sparse, de.rank_dense,
             COALESCE(1000000 // (60 + sp.rank_sparse), 0)
               + COALESCE(1000000 // (60 + de.rank_dense), 0) AS rrf_micro
      FROM sparse sp FULL OUTER JOIN dense de ON sp.doc_id = de.doc_id
    )
    SELECT doc_id, rank_sparse, rank_dense,
           CAST(rrf_micro AS BIGINT) AS rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_K_OUT}
    """,
)
def retrieval_rrf_fusion(spark, sf_dir, k_list: int = _RRF_K_LIST, k_out: int = _RRF_K_OUT):
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher 2009): the sparse BM25 list (:func:`bm25_retrieval`,
    reused verbatim — fusion COMPOSES registered queries) and a dense
    cosine list (query = embedding 0, the :func:`similarity_cosine_topk`
    scoring expression) merge by ``score(d) = sum over lists of
    1/(60 + rank_list(d))`` — the standard two-tower RAG retrieval
    layout where neither scorer's scale has to be calibrated because
    only RANKS fuse.

    Exactness: ranks are discrete (the BM25 list orders on the
    micro-grid score; the dense list orders on the same unrounded
    sim doubles the hash-green ``similarity_cosine_topk`` gate
    already proves identical across engines, ties on id), and each
    RRF contribution is the truncating integer ``1000000 div
    (60 + rank)`` — so the fused score is an exact BIGINT and the
    final top-10 orders on the discrete (rrf_micro, doc_id) key.
    Documents missing from one list contribute 0 from it (the
    rank column stays NULL in the output — faithful RRF, no
    pseudo-rank imputation).

    Scale shape: each side is already TakeOrdered top-k, so fusion
    joins two k-row frames — a broadcast join of bounded lists no
    matter the corpus size; the corpus-scale work lives in the
    composed queries (posting-list BM25, broadcast-query dense scan),
    each audited on its own.

    Reference scope: net-new retrieval capability (no counterpart in
    mhawila/beehive)."""
    from beehive_spark.queries import llm as _llm

    bm = _llm.bm25_retrieval(spark, sf_dir, k=k_list)
    ws = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    sparse = bm.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("rank_sparse")
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("e").alias("qe"))
        .withColumn("qn", norm(F.col("qe")))
    )
    c = emb.filter(F.col("vec_id") >= 1).select(
        F.col("vec_id").alias("doc_id"), F.col("e").alias("ce")
    ).withColumn("cn", norm(F.col("ce")))
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("sim", dot / (F.col("qn") * F.col("cn")))
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(k_list)
    )
    wd = Window.orderBy(F.col("sim").desc(), "doc_id")
    dense = scored.select(
        "doc_id", F.row_number().over(wd).cast("long").alias("rank_dense")
    )
    # outer-merge via union + one k-row groupBy rather than a
    # FULL OUTER join: Spark cannot broadcast a full outer, so the
    # join form sort-merges two already-tiny lists; the union form
    # keeps the whole fusion in one combinable aggregate
    fused = (
        sparse.withColumn("rank_dense", F.lit(None).cast("long"))
        .unionByName(
            dense.withColumn("rank_sparse", F.lit(None).cast("long"))
        )
        .groupBy("doc_id")
        .agg(
            F.max("rank_sparse").alias("rank_sparse"),
            F.max("rank_dense").alias("rank_dense"),
        )
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.call_function(
            "div", F.lit(1_000_000).cast("long"), F.lit(60).cast("long") + F.col(r)
        ),
        F.lit(0).cast("long"),
    )
    return (
        fused.select(
            "doc_id",
            "rank_sparse",
            "rank_dense",
            (contrib("rank_sparse") + contrib("rank_dense")).alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(k_out)
    )


# ---------------------------------------------------------------------------
# RAKE keyphrases — stopword-delimited phrase scoring
# ---------------------------------------------------------------------------
_RAKE_STOPS = ("a", "the", "and", "of", "to", "in", "is", "on")


@query(
    "text_keyphrases",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i, t[i] AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
    ),
    flag AS (
      SELECT doc_id, i, w,
             CASE WHEN w IN ('a','the','and','of','to','in','is','on')
                  THEN 1 ELSE 0 END AS s
      FROM pos
    ),
    isl AS (
      SELECT *, SUM(s) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM flag
    ),
    wip AS (SELECT doc_id, g, i, w FROM isl WHERE s = 0),
    phr AS (
      SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS plen,
             string_agg(w, ' ' ORDER BY i) AS phrase
      FROM wip GROUP BY doc_id, g
    ),
    kept AS (SELECT * FROM phr WHERE plen <= 4),
    member AS (
      SELECT w.doc_id, w.g, w.w, k.plen
      FROM wip w JOIN kept k ON k.doc_id = w.doc_id AND k.g = w.g
    ),
    wscore AS (
      SELECT w, (SUM(plen - 1) * 1000000) // COUNT(*) AS ws
      FROM member GROUP BY w
    ),
    inst AS (
      SELECT m.doc_id, m.g, SUM(s.ws) AS iscore
      FROM member m JOIN wscore s ON s.w = m.w
      GROUP BY m.doc_id, m.g
    )
    SELECT k.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(i.iscore) AS BIGINT) AS score_micro
    FROM kept k JOIN inst i ON i.doc_id = k.doc_id AND i.g = k.g
    GROUP BY k.phrase
    ORDER BY score_micro DESC, phrase LIMIT 30
    """,
)
def text_keyphrases(spark, sf_dir, max_len: int = 4, k: int = 30):
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs (gaps-and-islands over
    token positions — the dedup_substring_spans window trick applied
    to stopword boundaries), each scored by the sum of its member
    words' degree/frequency ratios.  Definitions pinned exactly:
    ``deg(w)`` = sum over kept phrase INSTANCES containing w of
    (len - 1), ``freq(w)`` = instance count, word score =
    ``(deg * 1e6) div freq`` (truncating integer micro-units), phrase
    score = sum of member word scores with multiplicity.  Runs longer
    than ``max_len`` are dropped before scoring (boilerplate guard) —
    on this corpus that keeps ~27% of runs, documented not hidden.

    Exactness: every quantity is an exact BIGINT (counts, truncating
    div, sums) — no floats anywhere; the top-k orders on the discrete
    (score_micro, phrase) key.

    Scale shape: one token explode with per-doc positions, one
    running-sum window PER DOCUMENT (partition-local, never global),
    one (word) aggregate over phrase members (vocab-sized), one
    broadcast-range join back, and a TakeOrdered top-k.  Identical
    partitioning discipline to doc_winnowing_fingerprints — nothing
    touches more than one document's tokens outside the vocab-keyed
    aggregates."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 1
    )
    pos = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t")),
                lambda i: F.struct(
                    i.cast("long").alias("i"),
                    F.element_at(F.col("t"), i).alias("w"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", "x.i", "x.w")
    flag = pos.withColumn(
        "s", F.when(F.col("w").isin(*_RAKE_STOPS), 1).otherwise(0)
    )
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    isl = flag.withColumn("g", F.sum("s").over(w_doc))
    # NOTE (r12, measured and rejected): persisting `wip` and `kept`
    # to kill the ~5x tokenize recompute (10 documents scans in the
    # plan) LOST an interleaved best-of-3 A/B at sf0.1 (3.0-3.7 s
    # un-persisted vs 3.8-8.6 s persisted) — materializing the
    # token-sized frame costs more than the cheap single-partition
    # re-tokenizes it saves, the same economics as the rejected
    # post-scan document spread (r11).  Revisit only if the corpus
    # scan stops being the cheap part.
    wip = isl.filter(F.col("s") == 0).select("doc_id", "g", "i", "w")
    phr = wip.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("long").alias("plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("phrase"),
    )
    kept = phr.filter(F.col("plen") <= max_len)
    member = wip.join(kept.select("doc_id", "g", "plen"), ["doc_id", "g"])
    wscore = member.groupBy("w").agg(
        F.call_function(
            "div",
            (F.sum(F.col("plen") - 1) * F.lit(1_000_000)).cast("long"),
            F.count(F.lit(1)).cast("long"),
        ).alias("ws")
    )
    inst = (
        member.join(wscore, "w")
        .groupBy("doc_id", "g")
        .agg(F.sum("ws").cast("long").alias("iscore"))
    )
    return (
        kept.join(inst, ["doc_id", "g"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("iscore").cast("long").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Crawl novelty — per-document fraction of never-before-seen shingles
# ---------------------------------------------------------------------------
@query(
    "text_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM t WHERE len(w) >= 3
    ),
    first_seen AS (SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST((1000000 * SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM sh JOIN first_seen f USING (s)
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Per-document novelty curve in crawl order: the fraction of a
    document's distinct 3-gram shingles that no EARLIER document
    (smaller doc_id — ingestion order) ever produced.  This is the
    curation dashboard's diminishing-returns metric: when a source's
    novelty collapses toward zero, further crawling it buys no new
    training signal (the corpus-level dedup ROI view that
    per-pair dedup queries cannot give).

    Exactness: pure set arithmetic — a shingle is new iff this doc_id
    IS the min doc_id over the corpus for that shingle; the ratio is
    a truncating ``div`` on exact counts.

    Scale shape: the shingle STRINGS shuffle exactly once (the
    map-side-combinable MIN that finds each shingle's first doc);
    everything else is doc-keyed and slim — per-doc totals are a pure
    projection (``size`` of the distinct-shingle array, no shuffle at
    all), and per-doc new counts come from re-keying the |shingles|
    min table by its OWN fd column (n_new(d) = how many shingles have
    fd = d), a long-keyed combinable count.  The first cut joined the
    full string table back to the min table — a second and third
    string-payload shuffle that measured 23s vs 1.9s for this shape
    at sf0.1.  The min-per-shingle frame is the same artifact an
    incremental crawl persists and merges new batches into
    (run_novelty_stream's store).  Shingles travel as xxhash64 of the
    three token slots (``_ngram_hashes`` — the dedup_ngram_jaccard
    fast path: no concat string is ever built, and the shuffle key is
    8 bytes instead of a phrase; collision odds ~2^-64 per distinct
    pair, the repo-accepted string-equivalence).  The token array
    materializes in its own projection FIRST (the jaccard idiom):
    inlining ``_tokens`` into the n-gram lambda makes Catalyst
    re-evaluate the regex extraction per n-gram slot — measured 30s
    vs 4s for this query at sf0.1 — and CollapseProject rightly
    refuses to merge a non-cheap multiply-referenced alias, so the
    two-step select is both the readable and the fast form."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 3
    )
    hashes = _ngram_hashes(F.col("w"))
    totals = toks.select(
        "doc_id", F.size(hashes).cast("long").alias("n_shingles")
    )
    new_counts = (
        toks.select("doc_id", F.explode(hashes).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    mil = F.lit(1_000_000).cast("long")
    return (
        totals.join(new_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_new", F.lit(0).cast("long")).alias("n_new"),
            F.call_function(
                "div",
                mil * F.coalesce("n_new", F.lit(0).cast("long")),
                F.col("n_shingles"),
            ).alias("novelty_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization — the ANN bandwidth/memory scale lever
# ---------------------------------------------------------------------------
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    x AS (
      SELECT vec_id, u.i AS dim, u.x AS x
      FROM (
        SELECT vec_id,
               unnest([{'i': i, 'x': e[i]}
                       for i in range(1, len(e) + 1)]) AS u
        FROM v
      )
    ),
    st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY dim),
    q AS (
      SELECT x.vec_id, x.dim, x.x, st.mn, st.mx,
             CASE WHEN st.mx = st.mn THEN 0
                  ELSE CAST(ROUND((x.x - st.mn) * 255 / (st.mx - st.mn))
                            AS BIGINT) END AS qv
      FROM x JOIN st USING (dim)
    ),
    e AS (
      SELECT vec_id, qv,
             CAST(ROUND(ABS(
               x - (mn + CAST(qv AS DOUBLE) * (mx - mn) / 255)
             ) * 1000000) AS BIGINT) AS err
      FROM q
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(SUM(err) AS BIGINT) AS recon_err_micro
    FROM e GROUP BY vec_id
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Per-dimension min-max int8 quantization of the embedding
    corpus with exact reconstruction-error accounting — the standard
    4x memory/bandwidth lever for ANN at scale (a 100 TB float32
    embedding store becomes 25 TB of uint8 codes + a 2-row-per-dim
    calibration table; IVF/PQ probes then scan codes and refine on
    floats).  Emits per-vector code sum and total dequantization
    error so a calibration regression is visible corpus-wide.

    Exactness: the float32 payload widens to identical doubles in
    both engines; code = ``round((x - min_d) * 255 / (max_d -
    min_d))`` and the per-value dequantization error micro-round are
    the IDENTICAL double expression on both sides, summed as exact
    BIGINTs.  Degenerate (constant) dimensions quantize to code 0
    with zero error.

    Scale shape: one posexplode scan -> a 64-row per-dimension
    min/max aggregate (map-side combinable) that BROADCASTS back to
    the exploded values -> one vec-keyed sum.  The corpus shuffles
    only on vec_id; the calibration table is dimension-sized
    regardless of corpus rows."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    ex = v.select("vec_id", F.posexplode("e").alias("dim", "x"))
    st = ex.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    j = ex.join(F.broadcast(st), "dim")
    qv = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long")).otherwise(
        F.round(
            (F.col("x") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn"))
        ).cast("long")
    )
    deq = F.col("mn") + qv.cast("double") * (F.col("mx") - F.col("mn")) / 255
    err = F.round(F.abs(F.col("x") - deq) * 1_000_000).cast("long")
    return (
        j.select("vec_id", qv.alias("qv"), err.alias("err"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum("qv").cast("long").alias("q_sum"),
            F.sum("err").cast("long").alias("recon_err_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus statistics — Zipf's-law slope fit over the token frequency spectrum
# ---------------------------------------------------------------------------
_ZIPF_TOP = 1000


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
          FROM toks GROUP BY term),
    r AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      FROM f ORDER BY freq DESC, term LIMIT {_ZIPF_TOP}
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(ln(rank)) AS sx, SUM(ln(freq)) AS sy,
             SUM(ln(rank) * ln(rank)) AS sxx,
             SUM(ln(rank) * ln(freq)) AS sxy
      FROM r
    )
    SELECT n AS n_ranked,
           CAST(ROUND(
             (n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000)
             AS BIGINT) AS slope_micro,
           CAST(ROUND(
             (sy * sxx - sx * sxy) / (n * sxx - sx * sx) * 1000000)
             AS BIGINT) AS intercept_micro
    FROM m
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the corpus token spectrum: OLS slope and
    intercept of ``ln(freq) ~ ln(rank)`` across the top
    ``_ZIPF_TOP`` token ranks — the one-row corpus fingerprint
    curation teams trend across crawl snapshots (natural text sits
    near slope -1; a drifting slope flags boilerplate floods,
    deduplication regressions, or synthetic-text contamination
    upstream of training).

    Exactness: frequencies and ranks are exact integers with a total
    (freq DESC, term) order; the log-moment sums accumulate ~1e3
    bounded doubles, orders of magnitude inside the micro rounding
    grain, and the closed-form OLS expressions are identical both
    sides.

    Scale shape: one token explode + combinable count (the only
    corpus-sized stage, shared shape with text_token_stats), a
    TakeOrdered top-K, then a single-partition window over exactly
    K rows — the spectrum head is driver-bounded no matter how large
    the vocabulary."""
    d = load(spark, sf_dir, "documents")
    f = (
        d.select(F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = f.orderBy(F.col("freq").desc(), "term").limit(_ZIPF_TOP)
    ranked = top.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "term"))
        .cast("long")
        .alias("rank"),
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        F.col("n").alias("n_ranked"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / det
            * 1_000_000
        )
        .cast("long")
        .alias("slope_micro"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
            / det
            * 1_000_000
        )
        .cast("long")
        .alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics — per-token burstiness (Fano factor of doc counts)
# ---------------------------------------------------------------------------
_BURST_TOP = 50


@query(
    "text_burstiness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    tc AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY term, doc_id
    ),
    agg AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(c * c) AS BIGINT) AS sumsq
      FROM tc GROUP BY term
    ),
    top AS (
      SELECT * FROM agg ORDER BY df DESC, term LIMIT {_BURST_TOP}
    )
    SELECT term, df, total,
           CAST(ROUND(
             ((CAST(sumsq AS DOUBLE) / n.n_docs)
              - (CAST(total AS DOUBLE) / n.n_docs)
                * (CAST(total AS DOUBLE) / n.n_docs))
             / (CAST(total AS DOUBLE) / n.n_docs)
             * 1000000) AS BIGINT) AS fano_micro
    FROM top, n
    """,
)
def text_burstiness(spark, sf_dir):
    """Per-token burstiness for the ``_BURST_TOP`` highest-df tokens:
    the Fano factor (variance-to-mean ratio, zeros included) of a
    token's per-document count (Church & Gale 1995) — 1.0 means
    Poisson scatter; content words in natural text are BURSTY (a doc
    that mentions a topic word mentions it repeatedly, Fano >> 1)
    while function words sit near 1.  Next to ``text_zipf_slope``
    this is the second spectrum fingerprint curation teams trend:
    template/boilerplate floods crush burstiness toward uniformity
    while spam inflates it.

    Exactness: df, totals and sums of squares are exact BIGINTs over
    per-(term, doc) counts (absent docs contribute exact zeros
    through the N-normalized moments, no zero-row materialization);
    the Fano expression is the identical double form both sides,
    micro-rounded.

    Scale shape: one token explode feeding a (term, doc) combinable
    count, a term-keyed moment aggregate, a TakeOrdered df head, and
    a 1-row corpus-size broadcast — never a docs-x-vocab frame."""
    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tc = (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = tc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq"),
    )
    top = agg.orderBy(F.col("df").desc(), "term").limit(_BURST_TOP)
    mean = F.col("total").cast("double") / F.col("n_docs")
    var = F.col("sumsq").cast("double") / F.col("n_docs") - mean * mean
    return top.crossJoin(F.broadcast(n)).select(
        "term",
        "df",
        "total",
        F.round(var / mean * 1_000_000).cast("long").alias("fano_micro"),
    )


# ---------------------------------------------------------------------------
# Text analysis — Flesch reading-ease readability profile
# ---------------------------------------------------------------------------
# Flesch (1948) coefficients; interpolated into the oracle so the SQL
# cannot drift from the Spark expression (the BM25 k1/b discipline)
_FLESCH_BASE = 206.835
_FLESCH_WPS = 1.015
_FLESCH_SPW = 84.6
_SENT_RE = "[.!?]+"
_SYL_RE = "[aeiouy]+"


@query(
    "text_readability",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks,
             GREATEST(CAST(1 AS BIGINT),
                      CAST(len(regexp_extract_all(text, '{_SENT_RE}'))
                           AS BIGINT)) AS n_sentences
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_sentences,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(
               toks,
               w -> GREATEST(1, len(regexp_extract_all(w, '{_SYL_RE}')))
             )), 0) AS BIGINT) AS n_syllables
      FROM t
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(ROUND((
             {_FLESCH_BASE}
             - {_FLESCH_WPS} * (CAST(n_words AS DOUBLE) / n_sentences)
             - {_FLESCH_SPW} * (CAST(n_syllables AS DOUBLE) / n_words)
           ) * 1000000) AS BIGINT) AS flesch_micro
    FROM c WHERE n_words > 0
    """,
)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per document (Flesch 1948 — the standard
    readability screen next to the C4/Gopher heuristics in
    ``text_quality_score``): ``206.835 - 1.015*(words/sentences) -
    84.6*(syllables/word)``, with sentences counted as terminal-
    punctuation runs (clamped >= 1 so fragments score) and syllables
    approximated as vowel-group runs per word (clamped >= 1) — the
    deterministic approximation every readability library uses when
    no pronunciation dictionary is loaded.  Zero-word docs are
    excluded (readability of nothing is undefined).

    Exactness: word/sentence/syllable counts are exact integers from
    the SAME regexes both sides; the two ratios and the affine
    combination are evaluated by the identical double expression on
    identical integers, micro-rounded once at the end.

    Scale shape: one scan, all counting in JVM regex expressions
    (whole-stage codegen, no Python); the token array materializes in
    its own projection before the per-word syllable transform (the
    _tokens/CollapseProject lesson), and there is no shuffle at all —
    a pure map job at any corpus size."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        _tokens(F.col("text")).alias("toks"),
        F.greatest(
            F.lit(1).cast("long"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(_SENT_RE), 0)
            ).cast("long"),
        ).alias("n_sentences"),
    )
    syl = F.transform(
        F.col("toks"),
        lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit(_SYL_RE), 0)),
        ),
    )
    c = t.select(
        "doc_id",
        "n_sentences",
        F.size("toks").cast("long").alias("n_words"),
        F.coalesce(
            F.aggregate(syl, F.lit(0), lambda a, x: a + x), F.lit(0)
        )
        .cast("long")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    score = (
        F.lit(_FLESCH_BASE)
        - F.lit(_FLESCH_WPS)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(_FLESCH_SPW)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(score * 1_000_000).cast("long").alias("flesch_micro"),
    )
