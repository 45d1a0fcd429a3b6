"""Engine-semantics views: Replacing/Collapsing/VersionedCollapsing (SURVEY §2.7)."""

from __future__ import annotations

import pytest

from synch_spark.operators import engines


def test_replacing_view_version_ties(spark, tmp_path):
    """Replacing FINAL keeps the max-version row of each pk, whether the
    rows arrive in one batch or one batch each."""
    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch, read_current_state
    from synch_spark.sources.table import ParquetTable

    rows = [
        (1, 1, 100, "a"),
        (1, 2, 50, "b"),  # higher version wins even with older time
        (2, 1, 10, "c"),
        (2, 1, 20, "d"),  # same version: the later event wins
    ]
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    for name, batches in (("one", [rows]), ("per_row", [[r] for r in rows])):
        t = ParquetTable(spark, str(tmp_path / name))
        for b in batches:
            ev = spark.createDataFrame(
                [("insert", *r, 2) for r in b],
                "action string, id long, version long, event_unixtime long, "
                "v string, action_seq int")
            apply_cdc_batch(t, ev, spec, value_columns=["id", "version", "v"])
        got = {r["id"]: r["v"] for r in read_current_state(t, spec).collect()}
        assert got == {1: "b", 2: "d"}, name


def test_collapsing_view_cancellation(spark):
    rows = [
        (1, 1, "a", 100),
        (1, -1, "a", 200),  # cancelled
        (2, 1, "b", 100),
        (2, -1, "b", 200),
        (2, 1, "b2", 300),  # net +1, latest attrs b2
        (3, -1, "c", 100),  # net negative: absent
    ]
    df = spark.createDataFrame(rows, ["id", "sign", "v", "_event_unixtime"])
    out = engines.collapsing_view(df, ("id",), "sign", order_column="_event_unixtime")
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {2: "b2"}


def test_versioned_collapsing_out_of_order(spark):
    # cancellation pairs matched by (pk, version) regardless of arrival order
    rows = [
        (1, -1, 1, "old"),  # cancel arrives BEFORE its insert
        (1, 1, 1, "old"),
        (1, 1, 2, "new"),
    ]
    df = spark.createDataFrame(rows, ["id", "sign", "version", "v"])
    out = engines.collapsing_view(df, ("id",), "sign", version_column="version")
    got = [(r["id"], r["v"]) for r in out.collect()]
    assert got == [(1, "new")]


def test_collapse_aggregate(spark):
    rows = [(1, 1, 10.0), (1, -1, 10.0), (1, 1, 30.0), (2, 1, 5.0)]
    df = spark.createDataFrame(rows, ["id", "sign", "x"])
    out = {
        r["id"]: (r["sum_x"], r["net_count"])
        for r in engines.collapse_aggregate(df, ("id",), "x").collect()
    }
    assert out == {1: (30.0, 1), 2: (5.0, 1)}
