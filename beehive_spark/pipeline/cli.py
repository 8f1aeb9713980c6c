"""Command-line merge runner — parity with the reference's entry
point ``node --harmony orchestrator.js [--dry-run]``
(orchestrator.js:22-121, README.md:88-97).

    python -m beehive_spark.pipeline.cli \
        --src-dir /data/src --dst-dir /data/dst --out-dir /data/out \
        [--source-tag clinic-7] [--dry-run] [--keep-uuids]

Each directory holds one ``<table>.parquet`` per table.  The run
prints a JSON report (per-table moved counts + reconciliations) to
stdout.  Exit codes mirror the reference's hard aborts: 0 ok,
2 FK-integrity gate failed, 3 source already merged (provenance
guard, preparation.js:60-75).

Provenance lives at ``<out-dir>/provenance.parquet``: a successful
non-dry run appends one row (its source tag) as a new part file, after
the merged tables are published — the Spark stand-in for the
``beehive_merge_source`` table (preparation.js:34-42).  A run whose
publish fails reconciliation appends nothing; dry runs touch nothing,
like the reference's forced ROLLBACK.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from beehive_spark.pipeline.merge import (
    AlreadyMergedError,
    IntegrityError,
    MergePipeline,
)


def _load_dir(spark: SparkSession, path: str):
    tables = {}
    for p in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        tables[name] = spark.read.parquet(p)
    if not tables:
        raise FileNotFoundError(f"no <table>.parquet found under {path}")
    return tables


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="beehive-spark merge runner")
    ap.add_argument("--src-dir", required=True)
    ap.add_argument("--dst-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--source-tag", default="src")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument(
        "--keep-uuids",
        action="store_true",
        help="keep source uuids (runs the collision-fixpoint gate) "
        "instead of generating fresh ones",
    )
    args = ap.parse_args(argv)

    from beehive_spark.session import get_spark

    spark = get_spark(app_name="beehive_merge")
    src = _load_dir(spark, args.src_dir)
    dst = _load_dir(spark, args.dst_dir)

    prov_path = os.path.join(args.out_dir, "provenance.parquet")
    provenance = (
        spark.read.parquet(prov_path) if os.path.exists(prov_path) else None
    )

    pipe = MergePipeline(
        spark,
        generate_new_uuids=not args.keep_uuids,
        source_tag=args.source_tag,
    )
    try:
        res = pipe.run(
            src, dst, provenance=provenance,
            dry_run=args.dry_run, out_dir=args.out_dir,
        )
    except IntegrityError as e:
        print(json.dumps({"error": "integrity", "offenders": e.offenders}))
        return 2
    except AlreadyMergedError as e:
        print(json.dumps({"error": "already_merged", "detail": str(e)}))
        return 3

    if not args.dry_run:
        # one new row, appended as one part file: earlier sources' rows
        # stay as written.  Built on the JVM (no Python rows to ship).
        new_row = spark.range(1, numPartitions=1).select(
            F.lit(args.source_tag).alias("source")
        )
        new_row.write.mode("append").parquet(prov_path)

    print(
        json.dumps(
            {
                "dry_run": args.dry_run,
                "source_tag": args.source_tag,
                "moved": res.moved_counts,
                "reconciliations": [
                    {
                        "table": r.table,
                        "initial": r.initial,
                        "moved": r.moved,
                        "final": r.final,
                        "ok": r.ok,
                    }
                    for r in res.reconciliations
                ],
                "published_to": res.published_to,
            }
        )
    )
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
