"""Tests for the manual scale levers: bucketed co-located joins
(no Exchange in the plan) and salted skew joins (result-identical to
the plain join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.operators.scale import (
    bucketed_join,
    salt_expr,
    salted_join,
    write_bucketed_table,
)
from oracle_to_cassandra_spark.plans.explain import formatted_plan
from oracle_to_cassandra_spark.session import scoped_conf
from oracle_to_cassandra_spark.sources import load_table
from tests.conftest import SF_DIR


def test_bucketed_join_has_no_exchange(spark):
    # saveAsTable writes to the default warehouse dir (./spark-warehouse,
    # gitignored); the conf is static per session so we don't relocate it
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8)
    write_bucketed_table(li, "b_lineitem", "o_orderkey", 8)
    # disable broadcast so the co-location (not a broadcast) is what
    # eliminates the exchange
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
            plan = formatted_plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
            # and it's correct
            expected = (
                load_table(spark, SF_DIR, "lineitem")
                .join(
                    load_table(spark, SF_DIR, "orders"),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
                .count()
            )
            assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_suppkey", "l_quantity")
    # rename for the join-key contract
    supp = load_table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = li.join(supp, "l_suppkey")
    # the no-unique_col default must WARN that duplicate rows share a
    # bucket (r11 ADVICE item 3) — correctness is unchanged
    with pytest.warns(UserWarning, match="duplicate rows"):
        salted = salted_join(li, supp, "l_suppkey", salt_buckets=4)
    assert salted.count() == plain.count()
    a = plain.groupBy("l_suppkey").count().collect()
    b = salted.groupBy("l_suppkey").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salted_join_unique_col_matches_and_spreads(spark):
    """With ``unique_col``, the salt is a deterministic function of a
    stable row id — retry-safe (no layout-dependent term anywhere in
    the plan) AND byte-identical duplicate payloads of a hot key still
    spread across buckets."""
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            "l_suppkey",
            "l_quantity",
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
        )
    )
    supp = load_table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = li.join(supp, "l_suppkey")
    salted = salted_join(li, supp, "l_suppkey", salt_buckets=4,
                         unique_col="uid")
    assert salted.count() == plain.count()
    # the salt expression must not contain a layout-dependent term
    plan = salted._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    # identical payloads on ONE hot key, distinct uids → salted_join's
    # own salt path must land the rows in >1 dim replica (observable
    # as >1 distinct exploded-dim partner per payload: count the
    # distinct dim rows consumed, which equals the distinct salts)
    dup = spark.createDataFrame(
        [(1, 1.0, i) for i in range(64)],
        "l_suppkey int, l_quantity double, uid int",
    )
    one_dim = spark.createDataFrame([(1, "S1")], "l_suppkey int, s_name string")
    spread = salted_join(dup, one_dim, "l_suppkey", salt_buckets=4,
                         unique_col="uid")
    assert spread.count() == 64
    # evaluate the OPERATOR's own salt expression (salt_expr is what
    # salted_join stamps on the fact side) over the joined rows: all
    # 4 buckets populated for 64 distinct uids with overwhelming
    # probability — catches a regression that hashes the wrong column
    # (constant payload → 1 bucket) or ignores unique_col
    n_buckets = (
        spread.select(salt_expr(dup.columns, 4, "uid").alias("_s"))
        .distinct()
        .count()
    )
    assert n_buckets > 1
