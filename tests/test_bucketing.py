"""Bucketed layout must elide the shuffle: a join of two tables
bucketed on the join key runs with NO Exchange in the physical plan,
and produces the same rows as the plain shuffled join."""

from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.sources.bucketing import write_bucketed

SF_DIR = "/root/testdata/sf0.01"


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    write_bucketed(orders, "orders_b", "o_custkey", 8, sort_cols="o_custkey")
    write_bucketed(
        customer, "customer_b", "c_custkey", 8, sort_cols="c_custkey"
    )
    # disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob, cb = spark.table("orders_b"), spark.table("customer_b")
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).select(
            "o_orderkey", "c_custkey", "c_acctbal"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # same result as the plain shuffled join
        plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).select("o_orderkey", "c_custkey", "c_acctbal")
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # bucketed groupBy on the key also skips the exchange
        agg_plan = (
            ob.groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")
