"""Bucketed-table layout: the pay-the-shuffle-once co-location path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otel2pv_spark.sources.catalog import Catalog


@pytest.fixture
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_shuffle_free(spark, cat):
    left = spark.range(0, 1000).select(
        (F.col("id") % 50).cast("string").alias("conv_id"),
        F.col("id").alias("turn"),
    )
    right = spark.range(0, 500).select(
        (F.col("id") % 50).cast("string").alias("conv_id"),
        (F.col("id") * 2).alias("weight"),
    )
    cat.write_bucketed(left, "seq", "conv_id", n_buckets=8,
                       sort_by=("conv_id",))
    cat.write_bucketed(right, "edges", "conv_id", n_buckets=8,
                       sort_by=("conv_id",))
    a = cat.read_bucketed("seq")
    b = cat.read_bucketed("edges")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "conv_id")
        plan = _plan(joined)
        # both sides read bucketed: the join needs NO exchange at all
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        # control: the same files read as plain parquet DO shuffle
        plain = spark.read.parquet(cat.path("seq.bucketed")).join(
            spark.read.parquet(cat.path("edges.bucketed")), "conv_id"
        )
        assert "Exchange" in _plan(plain)

        # and the results agree
        assert joined.count() == plain.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_is_shuffle_free(spark, cat):
    df = spark.range(0, 300).select(
        (F.col("id") % 30).cast("string").alias("conv_id"),
        F.col("id").alias("v"),
    )
    cat.write_bucketed(df, "g", "conv_id", n_buckets=4)
    agg = cat.read_bucketed("g").groupBy("conv_id").agg(F.sum("v"))
    assert "Exchange" not in _plan(agg)
    assert agg.count() == 30


def test_bucketed_roundtrip_values(spark, cat):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "conv_id string, v int"
    )
    cat.write_bucketed(df, "rt", "conv_id", n_buckets=2)
    got = sorted(
        (r.conv_id, r.v) for r in cat.read_bucketed("rt").collect()
    )
    assert got == [("a", 1), ("a", 3), ("b", 2)]


def test_bucketed_overwrite_replaces(spark, cat):
    df1 = spark.createDataFrame([("a", 1)], "conv_id string, v int")
    df2 = spark.createDataFrame([("b", 9)], "conv_id string, v int")
    cat.write_bucketed(df1, "ow", "conv_id", n_buckets=2)
    cat.write_bucketed(df2, "ow", "conv_id", n_buckets=2)
    got = [(r.conv_id, r.v) for r in cat.read_bucketed("ow").collect()]
    assert got == [("b", 9)]
