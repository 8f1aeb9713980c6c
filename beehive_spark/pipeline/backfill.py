"""Idempotent partition backfill — process only what is missing.

The reference reprocesses the entire source database every run
(orchestrator.js:22-121); at 100 TB the only sane recurring job is one
that touches exactly the partitions that do not exist yet (a new day
landing, a gap from an earlier failure) and can be re-run at any time
without duplicating output.

``backfill_partitions`` compares the DISTINCT partition values present
in the source against the partition values already on disk and runs
the supplied transform ONLY for the missing ones, writing with dynamic
partition overwrite so a retry of a half-finished backfill replaces
(never duplicates) the partitions it re-emits.  Partition pruning makes
the incremental read cheap: the missing-value filter is pushed to the
source scan, so a one-day backfill reads one day.

Missing-partition detection reads the partition COLUMN back from the
output dataset (typed values, satisfied from directory metadata plus
footer row counts — no data pages), never by string-comparing raw
``str(value)`` against directory names: Hive URL-escapes special
characters in ``col=value`` paths (space, ``:``, ``%`` … — every
timestamp value), so name comparison would see escaped ``va%20lue`` vs
raw ``va lue``, flag present partitions as missing, and rewrite them on
every run.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _existing_typed(
    spark: SparkSession,
    out_path: str,
    part_col: str,
    source_type: str = "string",
) -> set:
    """Typed partition values present in the output dataset.  Reading
    the partition column back through Spark sidesteps escaping AND type
    formatting entirely: values compare in the column's own domain.

    Partition-column TYPE INFERENCE is disabled for the read and the
    raw string values are cast to ``source_type`` (the SOURCE column's
    type) instead: inference would re-type a string source's
    '2024-01-01' partitions as DATE (or '01' as INT 1), making every
    partition look missing forever — the perpetual-rewrite bug this
    function exists to prevent, reintroduced through the type axis
    (caught by review; pinned in
    test_backfill_string_date_partitions_are_not_retyped)."""
    if not os.path.isdir(out_path):
        return set()
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf_key, "true")
    try:
        spark.conf.set(conf_key, "false")
        rows = (
            spark.read.parquet(out_path)
            .select(F.col(part_col).cast(source_type).alias("v"))
            .distinct()
            .collect()
        )
    except Exception:  # empty/garbled dir: treat as nothing materialized
        return set()
    finally:
        spark.conf.set(conf_key, prev)
    return {r[0] for r in rows if r[0] is not None}


def backfill_partitions(
    spark: SparkSession,
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    part_col: str,
) -> dict:
    """Materialize ``transform(source)`` partitioned by ``part_col``,
    processing ONLY partition values absent from ``out_path``.

    ``transform`` must preserve ``part_col`` in its output.  Writing
    uses dynamic partition overwrite (scoped to the session write via
    ``partitionOverwriteMode``), so re-running after a partial failure
    is idempotent — finished partitions are skipped entirely, the
    interrupted one is replaced whole.

    Returns {"missing": [...], "written": n_rows} (missing values
    rendered as strings for the report; comparison and filtering happen
    on the TYPED values, so escaping-sensitive partition values —
    timestamps, strings with spaces — round-trip correctly and are not
    rewritten on every run).
    """
    source_type = dict(source.dtypes)[part_col]
    have = _existing_typed(spark, out_path, part_col, source_type=source_type)
    want = {
        r[0]
        for r in source.select(part_col).distinct().collect()
        if r[0] is not None
    }
    missing = sorted(want - have, key=str)
    if not missing:
        return {"missing": [], "written": 0}
    todo = source.filter(F.col(part_col).isin(missing))
    result = transform(todo)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            result.write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(out_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # same inference-off + cast-to-source-type discipline as the
    # missing-detection read, or the count would silently be 0 for
    # retyped partition values
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf_key, "true")
    try:
        spark.conf.set(conf_key, "false")
        written = (
            spark.read.parquet(out_path)
            .filter(F.col(part_col).cast(source_type).isin(missing))
            .count()
        )
    finally:
        spark.conf.set(conf_key, prev)
    return {"missing": [str(v) for v in missing], "written": written}
