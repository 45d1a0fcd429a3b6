"""ReplacingMergeTree(version): the merge keeps each pk's max-version row.

ClickHouse's FINAL keeps the max-version row of every pk; here the merge
decides it once (cdc_apply.compact_batch within a batch, cdc_apply._merge
against the stored row), so the stored rows are the final state. A
delete removes the pk whatever its version (an update's delete half
included), and between deletes the highest-version upsert wins; a tie
goes to the later event and a NULL version loses to any other."""

from __future__ import annotations

import random

import pytest

from synch_spark import pipeline
from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import (
    STALE_IN_MAX, apply_cdc_batch, read_current_state)
from synch_spark.sources.table import ParquetTable

SPEC = TableSpec(schema="db", table="t", pk=("k",),
                 engine=Engine.REPLACING_MERGE_TREE)
COLS = ["k", "version", "v"]
DDL = ("action string, k long, version long, v string, "
       "event_unixtime long, action_seq int")


def _apply(spark, t, rows, spec=SPEC, cols=COLS, ddl=DDL):
    apply_cdc_batch(t, spark.createDataFrame(rows, ddl), spec,
                    value_columns=cols)


def _state(t, spec=SPEC):
    return sorted(tuple(r) for r in read_current_state(t, spec).collect())


def _ins(k, version, v, ts):
    return ("insert", k, version, v, ts, 2)


def _del(k, version, v, ts):
    return ("delete", k, version, v, ts, 1)


def _base(spark, tmp_path):
    """Ten stored rows in one file, so masking one leaves a DV."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(k, 5, f"base{k}") for k in range(10)],
        "k long, version long, v string").coalesce(1), key="k")
    return t


@pytest.mark.parametrize("batches", ["one", "three"])
def test_max_version_wins_over_a_later_lower_one(spark, tmp_path, batches):
    t = _base(spark, tmp_path)
    rows = [_ins(1, 1, "v1", 10), _ins(1, 5, "v5", 11), _ins(1, 3, "v3", 12)]
    for b in ([rows] if batches == "one" else [[r] for r in rows]):
        _apply(spark, t, b)
    assert (1, 5, "v5") in _state(t)
    assert (1, 3, "v3") not in _state(t)
    assert len(_state(t)) == 10


def test_update_that_lowers_the_version_lands(spark, tmp_path):
    """An update is a delete of its before-image plus an insert: the
    delete removes the pk whatever its version."""
    t = _base(spark, tmp_path)
    _apply(spark, t, [_del(2, 5, "base2", 10), _ins(2, 3, "down", 10)])
    assert (2, 3, "down") in _state(t)
    assert len(_state(t)) == 10


def test_reinsert_below_a_deleted_version_is_kept(spark, tmp_path):
    """The deleted row stays in its file, masked by the file's DV; the
    merge finds it again but a masked row never outranks an upsert."""
    t = _base(spark, tmp_path)
    _apply(spark, t, [_del(3, 5, "base3", 10)])
    (rel,) = t.snapshot().files
    assert t.snapshot().dv(rel), "the delete must leave the row masked"
    _apply(spark, t, [_ins(3, 1, "again", 11)])
    assert (3, 1, "again") in _state(t)
    assert len(_state(t)) == 10


def test_stale_upsert_commits_nothing(spark, tmp_path):
    t = _base(spark, tmp_path)
    v = t.current_version()
    _apply(spark, t, [_ins(4, 2, "stale", 10)])
    assert t.current_version() == v
    assert (4, 5, "base4") in _state(t)


def test_null_version_loses_and_ties_go_to_the_later_event(spark, tmp_path):
    t = _base(spark, tmp_path)
    _apply(spark, t, [_ins(5, None, "null", 10), _ins(6, 5, "tie", 10)])
    _apply(spark, t, [_ins(7, None, "n1", 11), _ins(7, None, "n2", 12),
                      _ins(8, 9, "nine", 11), _ins(8, None, "n", 12)])
    got = {r[0]: r[1:] for r in _state(t)}
    assert got[5] == (5, "base5")  # a NULL upsert loses to the stored 5
    assert got[6] == (5, "tie")  # an equal version: the later event
    assert got[7] == (5, "base7")
    assert got[8] == (9, "nine")  # 9 beats the later NULL, then the 5


def test_replacing_without_pk_keeps_every_row(spark, tmp_path):
    """A pk-less Replacing table stores every insert; its FINAL read
    returns them all (a pk window over no columns kept one)."""
    spec = TableSpec(schema="db", table="t", pk=(),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"))
    rows = [_ins(1, 1, "a", 1), _ins(1, 2, "b", 2), _ins(2, 1, "c", 3)]
    _apply(spark, t, rows, spec=spec)
    assert len(read_current_state(t, spec).collect()) == 3
    src = spark.createDataFrame([(1, 1, "a"), (1, 2, "b"), (2, 1, "c")],
                                "k long, version long, v string")
    assert pipeline.check(src, t, checksum=True, spec=spec).ok


def _random_batches(spark, tmp_path, seed, vtype, versions):
    """Seeded inserts, updates and deletes on a composite pk whose rows
    move partition: after every batch the table holds one row per pk,
    equal to a plain-Python replay of the rule. A version is drawn from
    ``versions`` (NULL included) or, as often, ties the pk's current
    row, so NULL, equal and lower versions meet both a row of the same
    batch (compact_batch) and a stored one (_merge)."""
    rng = random.Random(seed)
    spec = TableSpec(schema="db", table="t", pk=("k", "j"),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    cols = ["k", "j", "p", "version", "v"]
    ddl = (f"action string, k long, j string, p string, version {vtype}, "
           "v string, event_unixtime long, action_seq int")
    t = ParquetTable(spark, str(tmp_path / "t"))
    oracle: dict = {}

    def upsert(row):
        cur = oracle.get(row[:2])
        if cur is None or cur[3] is None or (
                row[3] is not None and row[3] >= cur[3]):
            oracle[row[:2]] = row

    ts = 0
    for batch in range(5):
        events = []
        for i in range(30):
            ts += 1  # one stamp per change: the replay order is total
            pk = (rng.randrange(4), f"j{rng.randrange(3)}")
            cur = oracle.get(pk)
            version = (cur[3] if cur and rng.random() < 0.3
                       else rng.choice([None, *versions]))
            row = (*pk, rng.choice("abc"), version, f"b{batch}e{i}")
            kind = rng.random()
            if kind < 0.2:
                events.append(("delete", *row, ts, 1))
                oracle.pop(pk, None)
            elif kind < 0.5:  # an update: its before-half is a delete
                events.append(("delete", *pk, "a", versions[0], "old", ts, 1))
                events.append(("insert", *row, ts, 2))
                oracle.pop(pk, None)
                upsert(row)
            else:
                events.append(("insert", *row, ts, 2))
                upsert(row)
        apply_cdc_batch(t, spark.createDataFrame(events, ddl), spec,
                        value_columns=cols)
        got = [tuple(r[c] for c in cols)
               for r in read_current_state(t, spec).collect()]
        assert len(got) == len({r[:2] for r in got}), f"batch {batch}"
        assert sorted(got, key=repr) == sorted(oracle.values(), key=repr), \
            f"batch {batch}"


@pytest.mark.parametrize("seed", [1, 2])
def test_random_batches_match_the_rule(spark, tmp_path, seed):
    _random_batches(spark, tmp_path, seed, "long", [1, 2, 3, 4, 5])


def test_random_batches_match_the_rule_on_a_string_version(spark, tmp_path):
    """The driver compares collected versions with Python's ordering,
    Spark with its own: on strings both must agree."""
    _random_batches(spark, tmp_path, 3, "string",
                    ["a0", "a1", "b", "b0", "ba", "c"])


def test_stale_upsert_dropped_on_a_timestamp_and_decimal_pk(spark, tmp_path):
    """The stale pk set is matched by value: a collected timestamp and
    decimal must find their upsert again."""
    import datetime as dt
    from decimal import Decimal

    spec = TableSpec(schema="db", table="t", pk=("ts", "d"),
                     engine=Engine.REPLACING_MERGE_TREE)
    cols = ["ts", "d", "version", "v"]
    schema = "ts timestamp, d decimal(8,2), version long, v string"
    t1, t2 = dt.datetime(2024, 1, 1, 12, 30), dt.datetime(2024, 1, 2, 8)
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(t1, Decimal("1.50"), 5, "keep"), (t2, Decimal("2.00"), 5, "old")],
        schema).coalesce(1), key="ts")
    _apply(spark, t, [("insert", t1, Decimal("1.50"), 3, "stale", 10, 2),
                      ("insert", t2, Decimal("2.00"), 7, "win", 10, 2)],
           spec=spec, cols=cols,
           ddl=f"action string, {schema}, event_unixtime long, action_seq int")
    got = {r["ts"]: (r["version"], r["v"]) for r in t.read().collect()}
    assert got == {t1: (5, "keep"), t2: (7, "win")}


@pytest.mark.parametrize("engine, stale", [
    (Engine.MERGE_TREE, 1), (Engine.REPLACING_MERGE_TREE, 1),
    (Engine.REPLACING_MERGE_TREE, STALE_IN_MAX + 1)])
def test_binary_pk_merges(spark, tmp_path, engine, stale):
    """PySpark before 4.1, and 4.1 with binaryAsBytes off, collects
    BinaryType keys as an unhashable bytearray: the merge must still
    match them to their stored rows (an update lands) and, under a
    version, drop the outranked upserts by value, through the IN list
    and through the anti-join."""
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        _binary_pk_merges(spark, tmp_path, engine, stale)
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def _binary_pk_merges(spark, tmp_path, engine, stale):
    spec = TableSpec(schema="db", table="t", pk=("id",), engine=engine)
    cols = ["id", "version", "v"]
    schema = "id binary, version long, v string"
    keys = [b"\x00uuid-%03d" % i for i in range(stale + 2)]
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [(k, 5, "old") for k in keys], schema).coalesce(1), key="id")
    # the first key wins, the second is deleted, the rest are stale
    # under a version and plain updates without one
    _apply(spark, t, [("insert", keys[0], 9, "new", 10, 2),
                      ("delete", keys[1], 5, "old", 10, 1)]
           + [("insert", k, 1, "stale", 10, 2) for k in keys[2:]],
           spec=spec, cols=cols,
           ddl=f"action string, {schema}, event_unixtime long, action_seq int")
    got = {bytes(r["id"]): (r["version"], r["v"]) for r in t.read().collect()}
    later = (5, "old") if engine == Engine.REPLACING_MERGE_TREE else (1, "stale")
    assert got == {keys[0]: (9, "new"), **{k: later for k in keys[2:]}}


def test_replayed_batch_of_old_inserts_keeps_the_stored_versions(spark,
                                                                  tmp_path):
    """At-least-once redelivery of an old batch of inserts makes every
    upsert stale: more than STALE_IN_MAX of them leave the write through
    the anti-join, and only the new key lands."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    n = 3 * STALE_IN_MAX
    t.overwrite(spark.createDataFrame(
        [(k, 5, f"base{k}") for k in range(n)],
        "k long, version long, v string").coalesce(1), key="k")
    _apply(spark, t, [_ins(k, 1, "replay", 10) for k in range(n)]
           + [_ins(n, 1, "new", 10)])
    assert _state(t) == sorted([(k, 5, f"base{k}") for k in range(n)]
                               + [(n, 1, "new")])
