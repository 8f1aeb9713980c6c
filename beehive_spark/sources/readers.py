"""Table sources: parquet (test fixtures) and JDBC (deployment).

Parity targets: the reference's two mysql2 connections and scans
(connection.js:5-22, utils.js:85-87,161-213).  Spark-first: the
paged `LIMIT start,batch` loop becomes a partitioned JDBC read —
`partitionColumn/lowerBound/upperBound/numPartitions` gives the same
"read the table in key ranges" behavior with server-side filter
pushdown, executed in parallel instead of serially through the
driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (session tz UTC).

    The driver's testdata has shipped the events ``ts`` column in two
    physical encodings across rounds — INT64 TIMESTAMP(NANOS) (which
    Spark reads only as raw bigint under nanosAsLong) and plain
    TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4 reads
    as TIMESTAMP_NTZ, a type it refuses to cast to numeric).  Every
    consumer funnels through here so downstream plans always see one
    type regardless of the file's vintage.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # integer `div`, not `/`: epoch-nanos (~8.5e17) exceed double's
        # 53-bit exact range, so float division can land on the wrong µs
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        # value-preserving under the engine's fixed UTC session tz
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


@dataclass
class Endpoint:
    """One database instance (reference config.json source/destination,
    README.md:99-118)."""

    url: str  # jdbc:mysql://host:port/db
    user: str = ""
    password: str = ""
    driver: str = "com.mysql.cj.jdbc.Driver"
    options: dict[str, str] = field(default_factory=dict)
    # identifier quote char for SQL this library builds itself (the
    # bounds probe / partitionColumn).  MySQL resolves bare lowercase
    # identifiers; ANSI engines (Derby, Postgres) fold unquoted
    # identifiers to UPPER/lower case, so Spark-written lowercase
    # columns need quoting.  None = emit bare identifiers.
    identifier_quote: str | None = None
    # catalog-existence probe (S10); {table} is substituted.  Default is
    # MySQL/Postgres information_schema; Derby uses SYS.SYSTABLES.
    exists_probe_sql: str = (
        "(SELECT table_name FROM information_schema.tables "
        "WHERE table_name = '{table}') p"
    )

    def quote(self, ident: str) -> str:
        q = self.identifier_quote
        return f"{q}{ident}{q}" if q else ident

    def reader(self, spark: SparkSession):
        r = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("user", self.user)
            .option("password", self.password)
            .option("driver", self.driver)
        )
        for k, v in self.options.items():
            r = r.option(k, v)
        return r


def read_table(
    spark: SparkSession,
    source: Endpoint | str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    predicate: str | None = None,
) -> DataFrame:
    """Read one table from parquet dir (str source) or JDBC Endpoint.

    With partition_column, bounds are probed with a min/max query
    pushed to the server (replacing the reference's COUNT + LIMIT
    paging, utils.js:28-36,161-213) and the scan runs as
    num_partitions parallel range reads.
    """
    if isinstance(source, str):
        df = spark.read.parquet(f"{source.rstrip('/')}/{table}.parquet")
        return df.where(predicate) if predicate else df

    r = source.reader(spark)
    if partition_column:
        qc = source.quote(partition_column)
        bounds = (
            r.option(
                "dbtable",
                f"(SELECT MIN({qc}) lo, MAX({qc}) hi FROM {table}) b",
            )
            .load()
            .first()
        )
        if bounds and bounds[0] is not None:
            r = (
                r.option("partitionColumn", qc)
                .option("lowerBound", str(bounds[0]))
                .option("upperBound", str(int(bounds[1]) + 1))
                .option("numPartitions", str(num_partitions))
            )
    r = r.option("dbtable", table)
    df = r.load()
    return df.where(predicate) if predicate else df


def table_exists(spark: SparkSession, source: Endpoint | str, table: str) -> bool:
    """Catalog probe (S10, reference gaac.js:163-169 `SHOW TABLES LIKE`,
    preparation.js:48-50)."""
    if isinstance(source, str):
        import os

        return os.path.exists(f"{source.rstrip('/')}/{table}.parquet")
    probe = (
        source.reader(spark)
        .option("dbtable", source.exists_probe_sql.format(table=table))
        .load()
    )
    return not probe.isEmpty()
