"""Bucketed-table co-located joins: the write-once-shuffle /
join-forever-free contract, asserted at the plan level, plus result
parity with the plain join."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_ORACLE


@pytest.fixture()
def no_broadcast(spark):
    """Force real join planning — a broadcast would hide the
    exchange-elimination this suite asserts."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    from trial_data_ingestion_spark.sinks.bucketed import (
        bucketed_join, write_bucketed_table,
    )
    orders = spark.read.parquet(f"{SF_DIR_ORACLE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR_ORACLE}/lineitem.parquet") \
        .withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8,
                         path=str(tmp_path / "b_orders"))
    write_bucketed_table(lineitem, "b_lineitem", "o_orderkey", 8,
                         path=str(tmp_path / "b_lineitem"))
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem",
                               on="o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the contract: shuffle paid at write time, none at join time
        # (the per-task Sort remains — Spark's scan does not report
        # intra-bucket order, SPARK-19256 — and is local and cheap)
        assert "Exchange" not in plan, plan[:1500]
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan

        # and the result equals the plain (shuffled) join
        plain = orders.join(lineitem, "o_orderkey")
        assert joined.count() == plain.count()
        # rounded: double summation order differs between the plans
        a = joined.agg(F.round(F.sum("o_totalprice"), 2),
                       F.round(F.sum("l_quantity"), 2)).collect()[0]
        b = plain.agg(F.round(F.sum("o_totalprice"), 2),
                      F.round(F.sum("l_quantity"), 2)).collect()[0]
        assert tuple(a) == tuple(b)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_aggregation_skips_exchange(spark, tmp_path,
                                             no_broadcast):
    """groupBy on the bucket key also rides the bucket layout — the
    partial/final aggregate collapses to one stage with no shuffle."""
    from trial_data_ingestion_spark.sinks.bucketed import (
        write_bucketed_table,
    )
    orders = spark.read.parquet(f"{SF_DIR_ORACLE}/orders.parquet")
    write_bucketed_table(orders, "b_orders_agg", "o_custkey", 8,
                         path=str(tmp_path / "b_orders_agg"))
    try:
        agg = (spark.table("b_orders_agg").groupBy("o_custkey")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("o_totalprice").alias("spend")))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
        # value parity with the shuffled aggregate
        want = (orders.groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("o_totalprice").alias("spend")))
        got = {r["o_custkey"]: (r["n"], round(r["spend"], 2))
               for r in agg.collect()}
        exp = {r["o_custkey"]: (r["n"], round(r["spend"], 2))
               for r in want.collect()}
        assert got == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders_agg")


def test_mismatched_bucket_counts_still_correct(spark, tmp_path,
                                                no_broadcast):
    """8 vs 4 buckets: Spark may re-shuffle one side, but results
    must stay correct — the layout is an optimization, never a
    semantics change."""
    from trial_data_ingestion_spark.sinks.bucketed import (
        bucketed_join, write_bucketed_table,
    )
    orders = spark.read.parquet(f"{SF_DIR_ORACLE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR_ORACLE}/lineitem.parquet") \
        .withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed_table(orders, "b_o8", "o_orderkey", 8,
                         path=str(tmp_path / "b_o8"))
    write_bucketed_table(lineitem, "b_l4", "o_orderkey", 4,
                         path=str(tmp_path / "b_l4"))
    try:
        joined = bucketed_join(spark, "b_o8", "b_l4", on="o_orderkey")
        assert joined.count() == orders.join(lineitem,
                                             "o_orderkey").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_o8")
        spark.sql("DROP TABLE IF EXISTS b_l4")


def test_one_file_per_bucket_after_group_by_on_bucket_key(spark,
                                                           tmp_path):
    """An input already hash-partitioned on the bucket key into
    exactly ``n_buckets`` shuffle partitions (a groupBy on the key
    with ``shuffle.partitions == n_buckets``) still writes one file
    per bucket: the sink's repartition may be planned away as equal
    to the aggregate's exchange, and AQE may coalesce that exchange,
    but either way each bucket's rows reach one writer."""
    import glob
    import re

    from trial_data_ingestion_spark.sinks.bucketed import (
        write_bucketed_table,
    )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")
    path = tmp_path / "b_cust"
    try:
        per_cust = (spark.read.parquet(f"{SF_DIR_ORACLE}/orders.parquet")
                    .groupBy("o_custkey")
                    .agg(F.count(F.lit(1)).alias("n")))
        write_bucketed_table(per_cust, "b_cust", "o_custkey", 8,
                             path=str(path))
        files = glob.glob(f"{path}/part-*.parquet")
        buckets = sorted(int(re.search(r"_(\d{5})\.", f).group(1))
                         for f in files)
        assert buckets == list(range(8)), buckets
        assert spark.table("b_cust").count() == per_cust.count()
    finally:
        spark.conf.set(key, before)
        spark.sql("DROP TABLE IF EXISTS b_cust")
