"""Compaction (OPTIMIZE FINAL analog) + partitioned CDC writes + final views."""

from __future__ import annotations

import json

from pyspark.sql import functions as F, types as T

from synch_spark.config import Engine, TableSpec
from synch_spark.events import RAW_EVENT_SCHEMA, parse_values, split_updates
from synch_spark.operators.cdc_apply import (
    apply_cdc_batch,
    compact_table,
    read_current_state,
    register_final_view,
)
from synch_spark.sources.table import ParquetTable

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("day", T.StringType()),
    ]
)


def _typed(spark, rows):
    data = [
        ("db", "t", a, json.dumps(b) if b else None, json.dumps(af) if af else None, us)
        for (a, b, af, us) in rows
    ]
    raw = spark.createDataFrame(data, RAW_EVENT_SCHEMA)
    return parse_values(split_updates(raw), VALUE_SCHEMA)


def test_collapsing_compaction_preserves_state(spark, tmp_path):
    spec = TableSpec(
        schema="db", table="t", pk=("id",), engine=Engine.COLLAPSING_MERGE_TREE
    )
    t = ParquetTable(spark, str(tmp_path / "t"))
    # pk 1's insert and update in separate batches, so its sign history
    # accumulates; pk 2, inserted and deleted in one batch, keeps its
    # state row and the cancel row after it
    for events in (
        [("insert", None, {"id": 1, "amount": 1.0, "day": "d1"}, 100)],
        [("update", {"id": 1, "amount": 1.0, "day": "d1"}, {"id": 1, "amount": 2.0, "day": "d1"}, 200)],
        [("insert", None, {"id": 2, "amount": 5.0, "day": "d2"}, 300),
         ("delete", {"id": 2, "amount": 5.0, "day": "d2"}, None, 400)],
    ):
        apply_cdc_batch(t, _typed(spark, events), spec)
    before = read_current_state(t, spec).collect()
    assert t.read().count() == 5  # signed rows accumulated
    compact_table(t, spec)
    assert t.read().count() == 1  # folded to surviving state
    after = read_current_state(t, spec).collect()
    assert {(r["id"], r["amount"]) for r in before} == {(r["id"], r["amount"]) for r in after}
    # post-compaction CDC keeps working (delete cancels the +1 row)
    apply_cdc_batch(t, _typed(spark, [
        ("delete", {"id": 1, "amount": 2.0, "day": "d1"}, None, 500),
    ]), spec)
    assert read_current_state(t, spec).count() == 0


def test_replacing_compaction(spark, tmp_path):
    spec = TableSpec(schema="db", table="t", pk=("id",))
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": 1.0, "day": "d1"}, 100),
        ("insert", None, {"id": 2, "amount": 2.0, "day": "d1"}, 100),
    ]), spec)
    compact_table(t, spec)
    assert t.read().count() == 2


def test_partitioned_cdc_apply(spark, tmp_path):
    import os

    spec = TableSpec(schema="db", table="t", pk=("id",), partition_by="day")
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": 1.0, "day": "d1"}, 100),
        ("insert", None, {"id": 2, "amount": 2.0, "day": "d2"}, 100),
    ]), spec)
    dirs = sorted({r.rpartition("/")[0] for r in t.snapshot().files})
    assert dirs == ["day=d1", "day=d2"]
    apply_cdc_batch(t, _typed(spark, [
        ("update", {"id": 1, "amount": 1.0, "day": "d1"}, {"id": 1, "amount": 9.0, "day": "d1"}, 200),
    ]), spec)
    got = {r["id"]: r["amount"] for r in read_current_state(t, spec).collect()}
    assert got == {1: 9.0, 2: 2.0}


def test_register_final_view(spark, tmp_path):
    spec = TableSpec(schema="db", table="tv", pk=("id",))
    t = ParquetTable(spark, str(tmp_path / "tv"))
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": 1.0, "day": "d1"}, 100),
        ("update", {"id": 1, "amount": 1.0, "day": "d1"}, {"id": 1, "amount": 7.0, "day": "d1"}, 200),
    ]), spec)
    register_final_view(t, spec)
    out = spark.sql("SELECT id, amount FROM tv_final").collect()
    assert [(r["id"], r["amount"]) for r in out] == [(1, 7.0)]


def test_zorder_layout_prunes_both_columns(spark, tmp_path):
    """Z-order clustering yields files whose footer min/max ranges are
    selective on BOTH interleaved columns; single-column clustering is
    selective on its sort key only."""
    import os

    from synch_spark.session import read_table
    from synch_spark.sources.table import file_key_range, zorder_layout

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def coverage(path, col, probes):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
        ranges = [file_key_range(f, col) for f in files]
        assert all(r is not None for r in ranges)
        hits = [
            sum(1 for lo, hi in ranges if lo <= p <= hi) / len(ranges)
            for p in probes
        ]
        return sum(hits) / len(hits)

    probes_ok = [r["l_orderkey"] for r in li.select("l_orderkey").distinct().limit(16).collect()]
    probes_pk = [r["l_partkey"] for r in li.select("l_partkey").distinct().limit(16).collect()]

    z = str(tmp_path / "z")
    zorder_layout(li, ["l_orderkey", "l_partkey"], bits=8, num_files=8).write.parquet(z)
    single = str(tmp_path / "s")
    li.repartitionByRange(8, "l_orderkey").sortWithinPartitions(
        "l_orderkey"
    ).write.parquet(single)

    # single-column layout: near-perfect on the sort key, useless on the other
    assert coverage(single, "l_orderkey", probes_ok) <= 0.3
    assert coverage(single, "l_partkey", probes_pk) >= 0.9
    # z-order: selective on BOTH dimensions
    assert coverage(z, "l_orderkey", probes_ok) <= 0.7
    assert coverage(z, "l_partkey", probes_pk) <= 0.7


def test_compact_with_zorder_preserves_state(spark, tmp_path):
    """compact_table(zorder=...) folds CDC history exactly like the pk
    path and leaves the compacted files Morton-ordered instead of
    pk-clustered."""
    spec = TableSpec(
        schema="db", table="t", pk=("id",), engine=Engine.COLLAPSING_MERGE_TREE
    )
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, _typed(spark, [
        ("insert", None, {"id": 1, "amount": 1.0, "day": "d1"}, 100),
        ("update", {"id": 1, "amount": 1.0, "day": "d1"}, {"id": 1, "amount": 2.0, "day": "d1"}, 200),
        ("insert", None, {"id": 2, "amount": 5.0, "day": "d2"}, 300),
        ("insert", None, {"id": 3, "amount": 7.0, "day": "d3"}, 300),
        ("delete", {"id": 2, "amount": 5.0, "day": "d2"}, None, 400),
    ]), spec)
    before = {(r["id"], r["amount"]) for r in read_current_state(t, spec).collect()}
    compact_table(t, spec, zorder=("id", "amount"))
    assert t.read().count() == 2  # folded to surviving state
    after = {(r["id"], r["amount"]) for r in read_current_state(t, spec).collect()}
    assert before == after
    # post-compaction CDC keeps working on the z-ordered base
    apply_cdc_batch(t, _typed(spark, [
        ("delete", {"id": 1, "amount": 2.0, "day": "d1"}, None, 500),
    ]), spec)
    assert read_current_state(t, spec).count() == 1


def test_should_compact_policy(spark, tmp_path):
    """Trigger on many tiny files, stay quiet on a healthy layout."""
    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import maybe_compact, should_compact
    from synch_spark.sources.table import ParquetTable

    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"))
    # 16 tiny files (one row each)
    t.overwrite(spark.range(16).repartition(16))
    assert should_compact(t, target_bytes=128 * 1024 * 1024, min_files=8)
    assert maybe_compact(t, spec)  # compacts: pk-clustered rewrite
    # post-compaction: few files -> below min_files -> healthy
    assert not should_compact(t, target_bytes=128 * 1024 * 1024, min_files=8)
    assert not maybe_compact(t, spec)
    assert t.read().count() == 16
    # nonexistent table: quiet no-op
    t2 = ParquetTable(spark, str(tmp_path / "nope"))
    assert not maybe_compact(t2, spec)


def test_vacuum_removes_crash_debris(spark, tmp_path):
    """A writer killed mid-prepare leaves .staging-*; vacuum reclaims it
    after the TTL but never touches a fresh (in-flight) staging dir,
    the retained previous version, or the current one."""
    import os
    import time

    from synch_spark.sources.table import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5))
    t.overwrite(spark.range(6))  # v0 retained, v1 current
    old = os.path.join(t.root, ".staging-deadbeef0001")
    os.makedirs(old)
    os.utime(old, (time.time() - 7200, time.time() - 7200))
    fresh = os.path.join(t.root, ".staging-cafecafe0002")
    os.makedirs(fresh)
    removed = t.vacuum(staging_ttl_s=3600)
    assert removed == 1
    assert not os.path.exists(old) and os.path.exists(fresh)
    assert t.versions() == [0, 1]
    assert t.read().count() == 6
