"""Skew-mitigation operators: salted shapes must be bit-identical to the
unsalted plans they replace (they are algebraic rewrites, not
approximations)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cinegraph_spark.operators.skew import salted_join, salted_sum_count
from cinegraph_spark.queries.util import T


def test_salted_sum_count_equals_plain_groupby(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    salted = salted_sum_count(li, ["l_returnflag"], "l_extendedprice")
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_extendedprice").alias("total"), F.count("*").alias("n_rows")
    )
    s = {r.l_returnflag: (round(r.total, 4), r.n_rows) for r in salted.collect()}
    p = {r.l_returnflag: (round(r.total, 4), r.n_rows) for r in plain.collect()}
    assert s == p


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    on = li.withColumnRenamed("l_orderkey", "o_orderkey")
    salted = salted_join(on, orders, ["o_orderkey"], salt_buckets=4)
    plain = on.join(orders, "o_orderkey")
    assert salted.count() == plain.count()
    s = salted.groupBy("o_orderpriority").agg(
        F.round(F.sum("l_extendedprice"), 4).alias("t")
    )
    p = plain.groupBy("o_orderpriority").agg(
        F.round(F.sum("l_extendedprice"), 4).alias("t")
    )
    assert {(r.o_orderpriority, r.t) for r in s.collect()} == {
        (r.o_orderpriority, r.t) for r in p.collect()
    }


def test_salted_left_join_preserves_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, lv string")
    right = spark.createDataFrame([(1, "x")], "k long, rv string")
    got = {
        (r.k, r.rv) for r in salted_join(left, right, ["k"], how="left").collect()
    }
    assert got == {(1, "x"), (2, None), (3, None)}
