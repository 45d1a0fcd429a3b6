"""Bucketed layout: assert at the PLAN level that bucketing removes the
shuffle — co-located fact⋈fact join and a pk window (the shape of the
Collapsing FINAL view) both execute without an Exchange node."""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W, functions as F

from synch_spark.sources.bucketed import (
    cobucketed_join,
    plan_has_exchange,
    save_bucketed,
)


@pytest.fixture()
def two_bucketed(spark, tmp_path):
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    save_bucketed(a, "bt_a", ("k",), 8, path=str(tmp_path / "bt_a"))
    save_bucketed(b, "bt_b", ("k",), 8, path=str(tmp_path / "bt_b"))
    yield "bt_a", "bt_b"
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")


def test_cobucketed_join_no_shuffle(spark, two_bucketed):
    left, right = two_bucketed
    joined = cobucketed_join(spark, left, right, ["k"])
    assert joined.count() == 1000
    assert not plan_has_exchange(joined)
    # the same join on unbucketed frames DOES shuffle — the control
    a = spark.table(left).localCheckpoint(eager=False)
    b = spark.table(right).localCheckpoint(eager=False)
    control = a.hint("merge").join(b, ["k"])
    assert plan_has_exchange(control)


def test_bucketed_final_window_no_shuffle(spark, tmp_path):
    """A latest-row-per-pk window (row_number over pk, the Collapsing
    FINAL view's shape) over a pk-bucketed table needs no exchange: the
    scan's bucket distribution satisfies the window's clustering
    requirement."""
    hist = spark.range(0, 2000).select(
        (F.col("id") % 500).alias("pk"),
        F.col("id").alias("version"),
        (F.col("id") * 7).alias("val"),
    )
    save_bucketed(hist, "bt_hist", ("pk",), 8, sort_cols=("pk", "version"),
                  path=str(tmp_path / "bt_hist"))
    try:
        w = W.partitionBy("pk").orderBy(F.col("version").desc())
        final = (
            spark.table("bt_hist")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        assert final.count() == 500
        assert not plan_has_exchange(final)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_hist")
