"""End-to-end corpus curation: the single pipeline a training run
invokes, composing the individually-verified operators in the order a
real pre-training data build uses them:

    quality gate  ->  exact dedup  ->  near-dup collapse  ->
    PII scrub     ->  deterministic shard export (+ audit report)

Each stage is the operator already registered and oracle/test-verified
on its own (`quality_filter`, `dedup_exact`'s fingerprint rule,
`dedup_clusters`, `pii_scrub`'s pattern ladder,
`export_training_shards`); this module only wires them, so the
pipeline's correctness budget is the join logic between stages —
which the e2e test pins via stage-count conservation (every input doc
is kept or attributed to exactly one drop reason).

Scale notes: the gate and scrub are scan-speed JVM projections; the
two dedup stages are the only shuffling steps and reuse the
skew-bounded shapes audited in PLANS.md; stage sets are slim
(doc_id [, reason]) frames, so the final anti-joins broadcast until
the drop lists outgrow the threshold, then degrade to shuffle joins
with no code change.

Reference scope: the reference's whole program IS a fixed pipeline
(orchestrator.js:67-92 runs gates -> movers -> checks in order); this
is the same orchestration idea over the curation domain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beehive_spark.queries import load
from beehive_spark.queries.curation import _EMAIL_RE, _PHONE_RE
from beehive_spark.queries.curation import quality_filter
from beehive_spark.queries.llm import dedup_clusters
from beehive_spark.sources.layout import export_training_shards


def _fingerprint(col):
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase
    text (same rule as the dedup_exact / dedup_incremental oracles)."""
    return F.md5(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "))


def _scrub(col):
    """pii_scrub's pattern ladder applied to a text column: emails
    first, then phone-shaped runs, then bare digit runs — each later
    pattern sees the previously redacted text."""
    t = F.regexp_replace(col, _EMAIL_RE, "[EMAIL]")
    t = F.regexp_replace(t, _PHONE_RE, "[PHONE]")
    return F.regexp_replace(t, r"\d{4,}", "[NUM]")


def curation_fate(
    spark: SparkSession,
    sf_dir: str,
    survivorship: str = "min_id",
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """The pipeline's decision lineage WITHOUT the write: one row per
    input document with its FIRST-FAILING-STAGE fate
    (``quality:<reasons>`` | ``exact_dup`` | ``near_dup`` | ``kept``)
    and, for the two dup fates, the canonical survivor it collapsed
    into (``dup_of``, NULL otherwise).  ``curate_corpus`` derives its
    audit report and its survivor set from this frame, and the
    registered ``curation_pipeline`` query exposes the same lineage to
    the driver's differential gate — so the STAGE COMPOSITION (not
    just each stage alone) is oracle-verified.

    Attribution partitions the input exactly: exact dedup only sees
    quality survivors, near-dup collapse only sees exact survivors,
    so ``kept + quality:* + exact_dup + near_dup == n_input``.

    Scale shape: the gate is a scan-speed projection; the fingerprint
    dedup groups 16-byte hashes; near-dup reuses the banded-candidate
    + min-label-CC shape audited in PLANS.md; the fate assembly is
    two left joins of slim (doc_id, dup_of) drop lists against the
    (doc_id,)-keyed gate frame.

    ``persisted`` collects the three slim decision frames this call
    persists (the library's out-list convention, as in
    ``operators.ivm``): a caller that materializes the fate frame
    unpersists them after; one that passes no list (the registered
    query) leaves them to the session's cache clearing."""
    if survivorship not in ("min_id", "longest"):
        raise ValueError(f"unknown survivorship policy: {survivorship}")
    docs = load(spark, sf_dir, "documents")

    # stage 1: quality gate (scan-speed signals; audited reasons).
    # Persisted: the gate frame is consumed three times (fingerprint
    # scope, near-dup scope, fate assembly) and each evaluation
    # re-tokenizes the corpus; the persisted projection is the slim
    # (id, keep, reasons) decision frame, not the text (r11 interleaved
    # A/B with the two drop-list persists below: wins every adjacent
    # pair, warm best 6.70 -> 6.25 s, cold 20.8 -> 11.3 s)
    q = quality_filter(spark, sf_dir).select(
        "doc_id", "keep", "fail_reasons"
    ).persist()

    # stage 2: exact dedup among quality survivors — keep min doc_id
    # per fingerprint
    survivors1 = q.filter(F.col("keep")).select("doc_id")
    fp = docs.join(survivors1, "doc_id").select(
        "doc_id", _fingerprint(F.col("text")).alias("fp")
    )
    canonical_exact = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    # slim (doc_id, dup_of) drop list, consumed by the survivor
    # anti-join and the fate assembly — persist so the fingerprint
    # stage computes once
    exact_dropped = (
        fp.join(canonical_exact, "fp")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.col("keep_id").alias("dup_of"))
        .persist()
    )

    # stage 3: near-dup collapse — within each connected component of
    # near-dup pairs, keep the smallest (or longest) doc still alive
    survivors2 = survivors1.join(
        exact_dropped.select("doc_id"), "doc_id", "left_anti"
    )
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    # cluster-members-only frame, consumed by the canonical election
    # AND the drop-list join — persist so the survivor anti-join
    # lineage computes once
    alive_clusters = clusters.join(survivors2, "doc_id").persist()
    if persisted is not None:
        persisted += [q, exact_dropped, alive_clusters]
    if survivorship == "longest":
        from pyspark.sql import Window

        ranked = alive_clusters.join(
            F.broadcast(docs.select("doc_id", "n_chars")), "doc_id"
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
        canon_near = (
            ranked.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("keep_id"))
        )
    else:
        canon_near = alive_clusters.groupBy("cluster_id").agg(
            F.min("doc_id").alias("keep_id")
        )
    near_dropped = (
        alive_clusters.join(canon_near, "cluster_id")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.col("keep_id").alias("dup_of"))
    )

    # fate: one row per input doc, first-failing-stage attribution
    e = exact_dropped.select("doc_id", F.col("dup_of").alias("dup_e"))
    n = near_dropped.select("doc_id", F.col("dup_of").alias("dup_n"))
    return (
        q.join(e, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                ~F.col("keep"),
                F.concat(F.lit("quality:"), F.col("fail_reasons")),
            )
            .when(F.col("dup_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("dup_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("fate"),
            F.coalesce("dup_e", "dup_n").cast("long").alias("dup_of"),
        )
    )


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 8,
    survivorship: str = "min_id",
) -> dict:
    """Run the full curation pipeline over ``{sf_dir}/documents`` and
    write curated, scrubbed, sharded parquet under ``out_dir`` plus a
    per-document audit report.  Returns the stage-count summary.

    Drop attribution is FIRST-FAILING-STAGE (quality, then exact dup,
    then near-dup), so counts partition the input exactly:
    ``kept + dropped_quality + dropped_exact_dup + dropped_near_dup
    == n_input``.  Every decision is deterministic (content hashes,
    canonical policies with doc_id tiebreaks), so re-running over the
    same input reproduces the same corpus bit-for-bit — the property
    that makes ablations and incremental rebuilds trustworthy.

    ``survivorship`` picks the near-dup canonical: ``"min_id"``
    (default, first-seen wins — the reference's keep-the-destination
    behavior) or ``"longest"`` (keep the most complete copy, the
    `dedup_survivorship` policy)."""
    docs = load(spark, sf_dir, "documents")

    # stages 1-3 + attribution live in curation_fate (also the
    # driver-registered `curation_pipeline` query, so the composed
    # lineage is oracle-verified, not just each stage alone)
    held: list[DataFrame] = []
    fate = curation_fate(spark, sf_dir, survivorship, persisted=held)

    # stage 4+5: scrub surviving text, export deterministic shards
    survivors = fate.filter(F.col("fate") == "kept").select("doc_id")
    curated = docs.join(survivors, "doc_id").select(
        "doc_id", _scrub(F.col("text")).alias("text"), "lang", "source"
    )
    manifest = export_training_shards(
        curated, os.path.join(out_dir, "shards"), key_col="doc_id", n_shards=n_shards
    )

    fate.write.mode("overwrite").parquet(os.path.join(out_dir, "report"))
    # the fate frame and the shard export are both on disk now — the
    # slim per-invocation decision caches have served every consumer
    for df in held:
        df.unpersist()

    report = spark.read.parquet(os.path.join(out_dir, "report"))
    counts = {r["fate"]: r["n"] for r in report.groupBy("fate").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n_input = docs.count()
    kept = counts.get("kept", 0)
    return {
        "n_input": n_input,
        "kept": kept,
        "dropped_quality": sum(v for k, v in counts.items() if k.startswith("quality:")),
        "dropped_exact_dup": counts.get("exact_dup", 0),
        "dropped_near_dup": counts.get("near_dup", 0),
        "n_shards": manifest.count(),
        "shard_rows": sum(r["n_rows"] for r in manifest.collect()),
    }
