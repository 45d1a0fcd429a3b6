"""A published log entry is never modified: the committer's
publish-if-absent contract (sources.committer) holds across every store
operation — snapshot, merges (each re-masking files with a new deletion
vector), compaction, lookups, restore and clone."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.pipeline import etl_full
from synch_spark.sources import bloom
from synch_spark.sources.table import ParquetTable


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-log-immutability", cpus=4)


def _fingerprint(path: str) -> tuple[str, int]:
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    return digest, os.stat(path).st_mtime_ns


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "action string, k long, p string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


def test_published_entries_are_never_rewritten(spark, tmp_path, monkeypatch):
    published: dict[str, tuple[str, int]] = {}
    write_entry = ParquetTable._write_entry

    def recording(self, entry, cleanup_rels=None):
        write_entry(self, entry, cleanup_rels)
        path = self._manifest_path(entry["v"])
        published[path] = _fingerprint(path)

    monkeypatch.setattr(ParquetTable, "_write_entry", recording)

    def check(step):
        survivors = [p for p in published if os.path.exists(p)]
        assert survivors, step
        for path in survivors:
            assert _fingerprint(path) == published[path], \
                f"{step}: {os.path.basename(path)} changed after publish"
        on_disk = set(glob.glob(str(tmp_path / "*" / "_v" / "v=*.json")))
        assert on_disk <= set(published), f"{step}: entry not published"

    source = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p"),
        F.col("id").cast("double").alias("v"))
    tables = {}
    for name, part in (("part", "p"), ("flat", None)):
        spec = TableSpec(schema="db", table="t", pk=("k",),
                         engine=Engine.REPLACING_MERGE_TREE,
                         partition_by=part, retain=3)
        t = ParquetTable(spark, str(tmp_path / name), retain=3)
        assert etl_full(source.repartition(4), t, spec)
        tables[name] = (t, spec)
    check("etl_full")

    for i, (name, (t, spec)) in enumerate(tables.items()):
        apply_cdc_batch(t, _events(spark, [("insert", 5, "1", -1.0, 10 + i),
                                           ("delete", 7, "1", 0.0, 10 + i)]),
                        spec, value_columns=["k", "p", "v"])
        check(f"{name} merge")
        # re-mask a file the first merge masked: a NEW DV, named in the
        # new entry, never patched into the old one
        apply_cdc_batch(t, _events(spark, [("insert", 8, "2", -8.0, 30 + i),
                                           ("insert", 4, "1", -4.0, 30 + i)]),
                        spec, value_columns=["k", "p", "v"])
        check(f"{name} second merge")
        snap = t.snapshot()
        assert any(snap.dv(r) for r in snap.files), f"{name}: nothing masked"
        compact_table(t, spec)
        check(f"{name} compact_table")
        got = {r["k"]: r["v"] for r in
               bloom.point_lookup(t, "k", [5, 7, 9]).collect()}
        assert got == {5: -1.0, 9: 9.0}
        check(f"{name} point_lookup")

    t, spec = tables["flat"]
    first = t.versions()[0]  # a masked version: restore copies its DVs
    assert any(t.snapshot(first).dv(r) for r in t.snapshot(first).files)
    t.restore(first)
    check("restore")
    dup = t.clone(str(tmp_path / "dup"))
    check("clone")
    apply_cdc_batch(dup, _events(spark, [("insert", 11, "1", -2.0, 20)]),
                    spec, value_columns=["k", "p", "v"])
    check("merge into clone")
