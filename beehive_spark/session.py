"""SparkSession factory with scale-appropriate defaults.

The reference runs one Node.js thread against two MySQL connections
(reference orchestrator.js:22-121); here a single SparkSession hosts
the whole pipeline.  Defaults below are chosen so the same code runs
unchanged from local[32] tests to a 1000-executor cluster:

- AQE on: runtime coalescing + skew-join splitting replaces any
  hand-tuned partition counts at real scale.
- shuffle.partitions: a *initial* value only — AQE coalesces down;
  on a real cluster this should be ~2-3x total cores.
- Arrow enabled for the (rare) pandas-UDF paths.
- Generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``).  Spark's default of 100 compiled classes
  is smaller than one merge needs, so the LRU evicted every class
  before its next use and each merge recompiled nearly all of them
  (172 Janino compiles, ~15 ms each).  Measured working sets: the
  ``merge_publish`` benchmark merge 177 distinct classes, the
  ``query_suite`` pass 100, the full 15-table ``build_fixture`` merge
  ~680.  Bytecode averages 1.8 KB a class, so a full cache is a few MB;
  it stays an LRU with a bound, so a long-lived session cannot grow it
  without limit.  The setting is static: it takes effect only when the
  SparkContext is created, which is here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries; sized in the module docstring
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "beehive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` fall back to env vars so the
    driver harness and bench.py can steer local parallelism
    (SPARK_GRAFT_CPUS) without code changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("BEEHIVE_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pruning: a selective dim-side filter
        # injects a bloom probe into the fact scan for NON-partition
        # join keys (the runtime analog of dynamic partition pruning —
        # at 100 TB it drops most fact rows before the shuffle).  On
        # by default upstream for creationSideThreshold<=10MB; raise
        # the threshold so warehouse-sized dims still qualify.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("BEEHIVE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_counts(spark: SparkSession) -> tuple[int, float]:
    """Janino compiles and their total milliseconds so far in this JVM.

    The count is Spark's ``CodegenMetrics`` compilation histogram; the
    time is ``CodeGenerator.compileTime``, the cumulative nanoseconds
    the same compile path adds up (the histogram keeps a decaying sample
    of compile times, not their sum).  In ``local[N]`` tasks compile in
    the driver JVM, so the pair covers a whole job.  A cache sized below
    the working set shows as a compile count that does not fall on a
    repeat run.
    """
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiles.getCount(), nanos / 1e6


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver testdata parquet tables as a dict of DataFrames.

    Parquet scans keep Catalyst's column pruning / predicate pushdown
    intact — do not cache here; let each query prune its own scan.
    """
    if names is None:
        names = [
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        ]
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register the testdata tables as temp views for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
