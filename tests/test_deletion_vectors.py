"""Merges mask superseded rows with deletion vectors instead of rewriting
files (sources.dv): the one merge path against a dict oracle over every
table shape, time travel, the change feed across re-masked files, and
the DV's life cycle (expiry, lost race, vacuum, restore, clone)."""

from __future__ import annotations

import glob
import os
import random

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources import bloom, dv
from synch_spark.sources.table import ParquetTable, _file_uri


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-deletion-vectors", cpus=4)


# name -> (pk, partition_by, pk value of an int key, bootstrap with key=)
SHAPES = {
    "unpartitioned": (("k",), None, lambda i: i, True),
    "partition_moves": (("k",), "p", lambda i: i, True),
    "composite": (("k", "j"), None, lambda i: (i % 7, i // 7), True),
    "string_pk": (("s",), None, lambda i: f"key-{i:03d}", True),
    "statless": (("s",), None, lambda i: f"key-{i:03d}", False),
}
SCHEMA = {"k": "k long", "j": "j long", "s": "s string"}


def _dv_files(root: str) -> set[str]:
    return {os.path.relpath(p, os.path.join(root, "data"))
            for p in glob.glob(os.path.join(root, "data", "**", ".*.dv"),
                               recursive=True)}


def _referenced_dvs(t: ParquetTable) -> set[str]:
    return {d for v in t.versions() for r in t.snapshot(v).files
            if (d := t.snapshot(v).dv(r))}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_random_batches_match_dict_oracle(spark, tmp_path, shape):
    pk, part, key_of, keyed = SHAPES[shape]
    rng = random.Random(f"dv-{shape}")
    cols = [*pk, "p", "v"]
    ddl = ", ".join([*(SCHEMA[c] for c in pk), "p string", "v double"])
    spec = TableSpec(schema="db", table="t", pk=pk,
                     engine=Engine.REPLACING_MERGE_TREE, partition_by=part)
    t = ParquetTable(spark, str(tmp_path / shape), retain=50)

    def row(i, p, v):
        k = key_of(i)
        return (*(k if isinstance(k, tuple) else (k,)), p, v)

    oracle = {i: row(i, f"p{i % 3}", float(i)) for i in range(60)}
    t.overwrite(spark.createDataFrame(list(oracle.values()), ddl)
                .repartition(3), part, key=pk[0] if keyed else None)
    states = {t.current_version(): dict(oracle)}
    ts = 10
    for batch in range(4):
        events = []
        for _ in range(25):
            i = rng.randrange(80)  # ids >= 60 start absent
            ts += 1
            if rng.random() < 0.25:
                events.append(("delete", *row(i, "p0", 0.0), ts, 0))
                oracle.pop(i, None)
            else:
                # an update may move the row to another partition
                r = row(i, f"p{rng.randrange(4)}", float(ts))
                events.append(("insert", *r, ts, 0))
                oracle[i] = r
        ev = spark.createDataFrame(
            events, f"action string, {ddl}, event_unixtime long, "
                    f"action_seq int")
        if shape == "statless":
            assert bloom.prune_files(t, "s", [key_of(1)]) is None
        apply_cdc_batch(t, ev, spec, value_columns=cols)
        got = [tuple(r[c] for c in cols) for r in t.read().collect()]
        assert sorted(got) == sorted(oracle.values()), f"batch {batch}"
        states[t.current_version()] = dict(oracle)
    snap = t.snapshot()
    assert any(snap.dv(r) for r in snap.files), "no merge masked a row"
    # time travel: every retained version reads its own masks
    for v, state in states.items():
        got = [tuple(r[c] for c in cols) for r in t.read(v).collect()]
        assert sorted(got) == sorted(state.values()), f"read({v})"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "action string, k long, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0))


SPEC = TableSpec(schema="db", table="t", pk=("k",),
                 engine=Engine.REPLACING_MERGE_TREE)


def _apply(t, spark, rows):
    apply_cdc_batch(t, _events(spark, rows), SPEC, value_columns=["k", "v"])


def _base(spark, tmp_path, retain=10):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=retain)
    t.overwrite(spark.createDataFrame([(k, float(k)) for k in range(10)],
                                      "k long, v double").coalesce(1), key="k")
    return t


def test_change_feed_across_masked_files(spark, tmp_path):
    t = _base(spark, tmp_path)
    v0 = t.current_version()
    _apply(t, spark, [("insert", 1, -1.0, 10), ("delete", 2, 0.0, 10)])
    _apply(t, spark, [("insert", 20, 20.0, 11)])
    _apply(t, spark, [("insert", 20, -20.0, 12), ("insert", 3, -3.0, 12)])
    v3 = t.current_version()
    assert v3 == v0 + 3

    def feed(df):
        return sorted((r["k"], r["v"], r["_change_type"],
                       r.asDict().get("_commit_version"))
                      for r in df.collect())

    # k=20 inserted then updated inside the interval: one insert of
    # its final image; the re-masked base file's other rows cancel
    assert feed(t.changes(v0, v3, pk="k")) == [
        (1, -1.0, "update_postimage", None), (1, 1.0, "update_preimage", None),
        (2, 2.0, "delete", None),
        (3, -3.0, "update_postimage", None), (3, 3.0, "update_preimage", None),
        (20, -20.0, "insert", None)]
    assert feed(t.changes_per_commit(v0, v3, pk="k")) == [
        (1, -1.0, "update_postimage", v0 + 1),
        (1, 1.0, "update_preimage", v0 + 1),
        (2, 2.0, "delete", v0 + 1),
        (3, -3.0, "update_postimage", v3), (3, 3.0, "update_preimage", v3),
        (20, -20.0, "update_postimage", v3),
        (20, 20.0, "insert", v0 + 2),
        (20, 20.0, "update_preimage", v3)]
    # without a pk: multiset difference of the two masked reads
    assert feed(t.changes(v0, v0 + 1)) == [
        (1, -1.0, "insert", None), (1, 1.0, "delete", None),
        (2, 2.0, "delete", None)]


def test_superseded_and_removed_dvs_expire_with_their_version(spark, tmp_path):
    t = _base(spark, tmp_path, retain=2)
    base = next(iter(t.snapshot().files))
    _apply(t, spark, [("delete", 1, 0.0, 10)])
    d1 = t.snapshot().dv(base)
    _apply(t, spark, [("delete", 2, 0.0, 11)])
    d2 = t.snapshot().dv(base)
    assert d1 and d2 and d1 != d2
    # d1 is still read by the retained previous version
    assert _dv_files(t.root) == {d1, d2}
    _apply(t, spark, [("insert", 30, 30.0, 12)])
    assert _dv_files(t.root) == {d2}, "superseded DV outlived its versions"
    # a removed file's DV goes with the file
    compact_table(t, SPEC)
    _apply(t, spark, [("insert", 31, 31.0, 13)])
    assert not os.path.exists(t._abs(base))
    assert _dv_files(t.root) == set()
    assert sorted(r["k"] for r in t.read().collect()) == [
        0, *range(3, 10), 30, 31]


def test_fully_masked_file_is_removed_not_masked(spark, tmp_path):
    t = _base(spark, tmp_path)
    _apply(t, spark, [("insert", 50, 50.0, 10), ("insert", 51, 51.0, 10)])
    new = set(t.snapshot().files) - set(t.snapshot(0).files)
    assert len(new) == 1
    _apply(t, spark, [("delete", 50, 0.0, 11), ("delete", 51, 0.0, 11)])
    snap = t.snapshot()
    assert not new & set(snap.files)
    assert not any(snap.dv(r) for r in snap.files)
    # a pure-delete merge pools no empty upsert file
    assert set(snap.files) < set(t.snapshot(1).files)


def test_lost_race_frees_the_losers_dvs_and_files(spark, tmp_path):
    t = _base(spark, tmp_path)
    other = ParquetTable(spark, t.root, retain=10)
    real = ParquetTable.overwrite_cow_files
    calls = []

    def racing(self, df, remove_rels, **kw):
        calls.append(kw.get("expected_base"))
        if len(calls) == 1:  # a concurrent writer lands first
            other.append(spark.createDataFrame([(99, 99.0)], "k long, v double"))
        return real(self, df, remove_rels, **kw)

    ParquetTable.overwrite_cow_files = racing
    try:
        _apply(t, spark, [("insert", 1, -1.0, 10), ("insert", 40, 40.0, 10)])
    finally:
        ParquetTable.overwrite_cow_files = real
    assert len(calls) == 2 and calls[1] == calls[0] + 1
    assert _dv_files(t.root) == _referenced_dvs(t)
    live = {p for v in t.versions() for p in t.snapshot(v).files}
    pooled = {os.path.relpath(p, t._data)
              for p in glob.glob(os.path.join(t._data, "**", "*.parquet"),
                                 recursive=True)}
    assert pooled == live, f"loser's files left behind: {pooled - live}"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[1] == -1.0 and got[40] == 40.0 and got[99] == 99.0
    assert len(got) == 12


def test_vacuum_keeps_live_dvs_and_files_present_checks_them(spark, tmp_path):
    t = _base(spark, tmp_path, retain=3)
    _apply(t, spark, [("delete", 1, 0.0, 10)])
    _apply(t, spark, [("delete", 2, 0.0, 11)])
    orphan = os.path.join(t._data, ".part-orphan.parquet.abc.dv")
    open(orphan, "wb").close()
    os.utime(orphan, (0, 0))
    live = _referenced_dvs(t)
    assert len(live) == 2
    t.vacuum(staging_ttl_s=0)
    assert _dv_files(t.root) == live and not os.path.exists(orphan)
    assert sorted(r["k"] for r in t.read().collect()) == [0, *range(3, 10)]
    # a version whose DV is gone is not advertised as readable
    oldest = t.versions()[0]
    fresh = ParquetTable(spark, t.root, retain=3)
    assert fresh._files_present(oldest)
    os.remove(fresh._abs(fresh.snapshot(oldest + 1).dv(
        next(iter(fresh.snapshot(oldest + 1).files)))))
    assert not ParquetTable(spark, t.root)._files_present(oldest + 1)


def test_restore_copies_a_differing_dv_and_clone_copies_dvs(spark, tmp_path):
    t = _base(spark, tmp_path, retain=3)
    base = next(iter(t.snapshot().files))
    _apply(t, spark, [("delete", 1, 0.0, 10)])
    v1 = t.current_version()
    want = sorted(r["k"] for r in t.read().collect())
    _apply(t, spark, [("delete", 2, 0.0, 11)])
    d1, d2 = t.snapshot(v1).dv(base), t.snapshot().dv(base)
    v3 = t.restore(v1)
    d3 = t.snapshot(v3).dv(base)
    assert d3 not in (d1, d2), "restore must copy the DV under a fresh name"
    assert sorted(r["k"] for r in t.read().collect()) == want
    # let v1 and v2 expire: their DVs are freed, the restored copy is not
    _apply(t, spark, [("insert", 60, 60.0, 12)])
    _apply(t, spark, [("insert", 61, 61.0, 13)])
    assert not os.path.exists(t._abs(d1)) and not os.path.exists(t._abs(d2))
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        [*want, 60, 61])

    dup = t.clone(str(tmp_path / "dup"))
    assert _dv_files(dup.root) == _referenced_dvs(dup) != set()
    assert sorted(r["k"] for r in dup.read().collect()) == sorted(
        r["k"] for r in t.read().collect())


def test_file_uri_matches_spark_metadata_file_path(spark, tmp_path):
    """The read-side mask joins on ``_metadata.file_path``: the driver's
    rendering of a pool path must be Spark's, for partition values that
    need Hive escaping, URI quoting, or neither."""
    values = ["a b", "x%y", "ü", "a+b", "q#r", "c=d", "[x]", "t|u", "é ñ",
              "}{", None]
    root = str(tmp_path / "weird dir")
    spark.createDataFrame(list(enumerate(values)), "k long, p string") \
        .write.partitionBy("p").parquet(root)
    got = {r["file_path"] for r in spark.read.parquet(root)
           .select("_metadata.file_path").collect()}
    paths = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    assert len(paths) == len(values)
    assert {_file_uri(p) for p in paths} == got


def test_dv_roundtrip_and_write_once(tmp_path):
    import numpy as np

    path = str(tmp_path / ".f.parquet.x.dv")
    rows = np.array([0, 3, 4, 70_000], dtype=np.int64)
    dv.write(path, rows)
    assert dv.read(path).tolist() == rows.tolist()
    with pytest.raises(FileExistsError):
        dv.write(path, rows)
