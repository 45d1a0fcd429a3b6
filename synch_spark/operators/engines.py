"""MergeTree-family read semantics, implemented natively.

The reference outsources these to ClickHouse background merges + FINAL
reads (engines created in /root/reference/synch/writer/*.py, enum
/root/reference/synch/enums.py:14-18). Spark has no background merge, so
the semantics are *views*: pure DataFrame transforms applied at read
time (or eagerly at compaction time). SURVEY §2.7 Q1-Q4.

MergeTree and Replacing need no view: their merge keeps one row per pk
(Replacing: the max-version one, cdc_apply._merge), so the stored rows
are the final state. Collapsing tables store signed rows, at most one
cancel and one state row per key and batch (the write folds each batch's
Arrow rows with cdc_apply.fold_rows, no Spark window), so the views
below still cancel across batches. Scale note: the
collapsing views shuffle once on the pk — at 100 TB a single hash-partitioned exchange, skew-safe under
AQE, gone entirely when the table is bucketed by pk; the net-sign
aggregate is a partial-agg (map-side combine) groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from synch_spark.config import Engine, TableSpec


def collapsing_view(
    df: DataFrame,
    pk: tuple[str, ...],
    sign_column: str = "sign",
    version_column: str | None = None,
    order_column: str | None = None,
) -> DataFrame:
    """Q3/Q4 CollapsingMergeTree current-state view.

    +1/-1 rows with equal key cancel; surviving state = keys with net
    sign > 0, attributes from the latest +1 row. With ``version_column``
    (VersionedCollapsing) cancellation is per (pk, version) — same
    grouping with version folded into the latest-row ordering.
    Reference: /root/reference/synch/writer/collapsing_merge_tree.py:9-58,
    versioned_collapsing_merge_tree.py:10-31.
    """
    net = df.groupBy(*pk).agg(F.sum(sign_column).alias("_net")).filter(F.col("_net") > 0)
    order = []
    if version_column:
        order.append(F.col(version_column).desc())
    if order_column:
        order.append(F.col(order_column).desc())
    rest = [c for c in df.columns if c not in pk]
    if rest:  # deterministic final tiebreak, whatever the partitioning
        order.append(F.to_json(F.struct(*rest)).desc())
    w = W.partitionBy(*pk).orderBy(*order)
    latest_pos = (
        df.filter(F.col(sign_column) > 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # both sides are already hash-partitioned by pk; join is co-located
    return latest_pos.join(net.select(*pk), list(pk), "left_semi")


def collapse_aggregate(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str,
    sign_column: str = "sign",
) -> DataFrame:
    """Q3 collapse-aware aggregation: sum(x*sign) / sum(sign) as count.

    The ClickHouse idiom for aggregating a collapsing table without
    FINAL — correct under pending cancellations, and in Spark a single
    partial-aggregated groupBy (no window, no join). Groups that cancel
    to 0 drop (``HAVING sum(Sign) != 0``), whatever the stored layout.
    """
    return df.groupBy(*group_cols).agg(
        F.sum(F.col(value_col) * F.col(sign_column)).alias(f"sum_{value_col}"),
        F.sum(sign_column).alias("net_count"),
    ).filter(F.col("net_count") != 0)


def engine_view(df: DataFrame, spec: TableSpec) -> DataFrame:
    """The read-semantics view of the table's engine (read_current_state
    delegates here). The collapsing views order pending +1 rows by the
    stored ``_event_unixtime`` arrival column when present and drop the
    internal sign/order columns."""
    if spec.engine in (Engine.MERGE_TREE, Engine.REPLACING_MERGE_TREE):
        return df  # the merge stored the final state (one row per pk)
    if spec.engine in (Engine.COLLAPSING_MERGE_TREE,
                       Engine.VERSIONED_COLLAPSING_MERGE_TREE):
        version = (spec.version_column
                   if spec.engine == Engine.VERSIONED_COLLAPSING_MERGE_TREE
                   and spec.version_column in df.columns else None)
        order = ("_event_unixtime" if "_event_unixtime" in df.columns
                 else None)
        out = collapsing_view(df, spec.pk, spec.sign_column, version,
                              order_column=order)
        drop = [c for c in (spec.sign_column, "_event_unixtime")
                if c in out.columns]
        return out.drop(*drop)
    raise ValueError(f"unknown engine {spec.engine}")
