"""Partitioning strategies: key-stability guard, salting, bucketed joins."""

from pyspark.sql import functions as F

from ape_dts_spark import demo
from ape_dts_spark.operators.partition import partition_for_apply, salted_join


def test_partition_for_apply_guard(spark, sf_dir):
    stream = demo.users_change_stream(spark, sf_dir)
    parallel, serial = partition_for_apply(stream, ["user_id"], 8)
    assert parallel.count() + serial.count() == stream.count()
    # every key-changing update landed on the serial path
    keych = stream.filter(
        (F.col("row_type") == "update")
        & ~F.col("before.user_id").eqNullSafe(F.col("after.user_id"))
    ).count()
    assert serial.filter(
        (F.col("row_type") == "update")
        & ~F.col("before.user_id").eqNullSafe(F.col("after.user_id"))
    ).count() == keych


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = demo.load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    users = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    )
    plain = ev.join(users, ["user_id"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_events").alias("s")
    ).collect()[0]
    salted = salted_join(ev, users, ["user_id"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_events").alias("s")
    ).collect()[0]
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys at write time: the sort-merge join
    on the bucket column needs NO Exchange on either side — the shuffle is
    pre-paid once, the pattern for repeated big-table joins at 100 TB."""
    orders = demo.load(spark, sf_dir, "orders")
    lineitem = demo.load(spark, sf_dir, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
