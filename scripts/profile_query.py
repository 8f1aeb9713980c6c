"""Per-query profiling harness for the optimization rounds.

Usage:
    python scripts/profile_query.py [--plan-dir history/plans/r11] [--suffix before]
        [--runs 3] name [name ...]

For each named query: captures `.explain("formatted")` to
<plan-dir>/<name>_<suffix>.txt (the judge's evidence file) and times
`--runs` noop-sink materializations (best + all samples printed),
with the job description set so the run is attributable.  Beside each
sample it prints that run's Janino compiles and their total ms, so a
generated-code cache that thrashes shows up per query.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from beehive_spark.session import codegen_counts, get_spark
    from beehive_spark.queries import all_queries

    spark = get_spark(app_name="profile_query")
    qs = all_queries()
    # warm JVM + parquet footers outside any measurement
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()

    for name in args.names:
        fn = qs[name]
        df = fn(spark, args.sf_dir)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.plan_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        samples, codegen = [], []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [{args.suffix}]")
            compiles, compile_ms = codegen_counts(spark)
            t0 = time.time()
            qs[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            after, after_ms = codegen_counts(spark)
            codegen.append(f"{after - compiles} compiles/{after_ms - compile_ms:.0f} ms")
        print(f"{name}: best={min(samples)} samples={samples} codegen={codegen}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
