"""Bucketed layout must eliminate the join shuffle — checked on plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from updating_datasets_data_engineering_spark.operators import bucketing as B
from updating_datasets_data_engineering_spark.plans.audit import analyze
from updating_datasets_data_engineering_spark.tables import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    B.write_bucketed(orders, "orders_b", ["o_orderkey"], n_buckets=8)
    B.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", ["o_orderkey"], 8
    )
    yield "orders_b", "lineitem_b"
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture()
def no_broadcast(spark):
    """Model the at-scale case: fact tables too big to broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables, no_broadcast):
    lt, rt = bucketed_tables
    joined = (
        spark.table(lt)
        .join(spark.table(rt), on=["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    facts = analyze(joined)
    # join itself is exchange-free; only the final tiny aggregate shuffles
    assert facts.n_sortmerge_joins >= 1
    assert facts.n_exchanges <= 1, "bucketed join must not shuffle the fact tables"


def test_unbucketed_join_shuffles_for_contrast(spark, sf_dir, no_broadcast):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    # force SMJ path for an apples-to-apples comparison with the bucketed plan
    joined = (
        orders.hint("merge")
        .join(lineitem, on=["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    facts = analyze(joined)
    assert facts.n_exchanges >= 2, "unbucketed SMJ shuffles both sides"


def test_bucketed_join_correct(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    got = spark.table(lt).join(spark.table(rt), on=["o_orderkey"]).count()
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    want = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
    assert got == want


def test_bucketed_write_emits_one_file_per_bucket(spark, sf_dir):
    """Layout hygiene: without the pre-write repartition every task
    writes a file per bucket it sees (t×b files — measured 512 for a
    6 MB table), taxing every later scan with t× the footer cost."""
    import glob
    import posixpath

    orders = load_table(spark, sf_dir, "orders")
    B.write_bucketed(orders, "orders_fc", ["o_orderkey"], n_buckets=8)
    try:
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = posixpath.join(warehouse.removeprefix("file:"), "orders_fc")
        data_files = [f for f in glob.glob(loc + "/*") if "_SUCCESS" not in f]
        assert len(data_files) <= 8, data_files
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_fc")
