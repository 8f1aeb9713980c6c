"""SQL-surface parity: the engine is DataFrame-first, but a reference
user may simply want to write SQL.  `session.register_views` +
`spark.sql` must produce results identical to the DataFrame queries —
same Catalyst plans underneath, so this also guards against the two
APIs drifting apart semantically."""

from pyspark.sql import functions as F

from beehive_spark.queries import all_queries
from beehive_spark.session import register_views


def test_sql_matches_dataframe_q1(spark, sf_dir):
    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                 AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )
    df = all_queries()["q1_pricing_summary"](spark, sf_dir)
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_sql_matches_dataframe_grouped_counts(spark, sf_dir):
    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total
        FROM events GROUP BY event_type
        """
    )
    from beehive_spark.queries import load

    df = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total")
        )
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_sql_window_and_join_parity(spark, sf_dir):
    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT c_mktsegment, c_custkey
        FROM (
          SELECT c.c_mktsegment, c.c_custkey,
                 row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY sum(o.o_totalprice) DESC, c.c_custkey) AS rn
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment, c.c_custkey
        ) WHERE rn <= 3
        """
    )
    from pyspark.sql import Window

    from beehive_spark.queries import load

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("s").desc(), "c_custkey")
    df = (
        spend.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey")
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))
