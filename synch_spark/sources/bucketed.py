"""Bucketed table layout — co-located joins and exchange-free views.

The reference distributes reads/writes by letting ClickHouse shard rows
(`ENGINE = Distributed(cluster, ..., rand())`,
/root/reference/synch/writer/__init__.py:128-131); any key-locality is
lost. Spark's bucketing is the strictly stronger layout: rows are
hash-partitioned by key into a fixed number of bucket files AT WRITE
TIME, and every later key-aligned operation — fact⋈fact joins,
groupBy(pk), a pk window such as the Collapsing-engine FINAL view's —
reads that distribution straight from the catalog and plans WITHOUT a
shuffle exchange.

At 100 TB this is the difference between "every merge/join re-shuffles
the table" and "the table was shuffled once, at load". Pair it with
``sortBy(pk)`` and the sort inside SortMergeJoin / the pk window is
free too.

Scope note: bucket metadata lives in the session catalog (in-memory here;
a Hive metastore or lakehouse format in production). The mechanism and
the plans it produces are what these operators demonstrate — verified by
tests asserting the absence of Exchange nodes in the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` hash-bucketed (and optionally in-bucket sorted) by
    key, registered as catalog table ``name``. Equal ``num_buckets`` on
    two tables + joining on the bucket key = shuffle-free join."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def plan_has_exchange(df: DataFrame) -> bool:
    """True when the physical plan contains a SHUFFLE Exchange (test
    and audit helper — the assertion that bucketing actually removed the
    shuffle, not that we hope it did). Matches the shuffle node
    specifically: a bare 'Exchange' substring would also count
    BroadcastExchange/ReusedExchange, flagging a broadcast join — which
    moves no partitions — as a shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        marker in plan
        for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning",
                       "Exchange RoundRobinPartitioning",
                       "Exchange SinglePartition")
    )


def cobucketed_join(
    spark: SparkSession, left: str, right: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key. The merge
    hint pins SortMergeJoin so the co-located layout (not a broadcast)
    carries the join; with matching bucket counts the plan has no
    Exchange on either side."""
    return spark.table(left).hint("merge").join(spark.table(right), on, how)
