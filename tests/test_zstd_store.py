"""Table files are written zstd (ParquetTable._stage), and a table whose
older files carry another codec keeps working beside them."""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources.table import ParquetTable

SPEC = TableSpec(schema="db", table="t", pk=("k",),
                 engine=Engine.REPLACING_MERGE_TREE)


def _codecs(t: ParquetTable, rels) -> set[str]:
    out = set()
    for rel in rels:
        meta = pq.ParquetFile(t._abs(rel)).metadata
        out |= {meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)}
    return out


def _added(t: ParquetTable, before: int) -> set[str]:
    return set(t.snapshot().files) - set(t.snapshot(before).files)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "action string, k long, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0))


def _rows(t: ParquetTable, version: int | None = None):
    return sorted((r["k"], r["v"]) for r in t.read(version).collect())


def test_overwrite_merge_and_append_write_zstd(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(i, float(i)) for i in range(20)],
                                      "k long, v double").repartition(2),
                key="k")
    assert _codecs(t, t.snapshot().files) == {"ZSTD"}
    v = t.current_version()
    apply_cdc_batch(t, _events(spark, [("insert", 3, 33.0, 10),
                                       ("insert", 40, 40.0, 10)]),
                    SPEC, value_columns=["k", "v"])
    assert _added(t, v) and _codecs(t, _added(t, v)) == {"ZSTD"}
    c = ParquetTable(spark, str(tmp_path / "c"))
    c.append(spark.createDataFrame([(1, 1.0, 1)], "k long, v double, sign int"))
    assert _codecs(c, c.snapshot().files) == {"ZSTD"}


def _snappy_stage(self, df, partition_by):
    """``_stage`` as earlier versions of the store ran it: Spark's default
    parquet codec, snappy."""
    staging = os.path.join(self.root, f".staging-{uuid.uuid4().hex[:12]}")
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    return self._promote_files(staging)


def test_snappy_files_of_an_older_writer_stay_usable(spark, tmp_path,
                                                     monkeypatch):
    t = ParquetTable(spark, str(tmp_path / "t"), retain=10)
    state = {i: float(i) for i in range(30)}
    with monkeypatch.context() as mp:
        mp.setattr(ParquetTable, "_stage", _snappy_stage)
        t.overwrite(spark.createDataFrame(sorted(state.items()),
                                          "k long, v double").repartition(3),
                    key="k", cluster_by=("k",))
    v0 = t.current_version()
    assert _codecs(t, t.snapshot().files) == {"SNAPPY"}
    # the merge locates rows in the snappy files and masks them with a DV
    apply_cdc_batch(t, _events(spark, [("insert", 2, 22.0, 10),
                                       ("delete", 5, 0.0, 10),
                                       ("insert", 50, 50.0, 10)]),
                    SPEC, value_columns=["k", "v"])
    state.update({2: 22.0, 50: 50.0})
    state.pop(5)
    snap = t.snapshot()
    assert any(snap.dv(r) for r in snap.files), "no DV on a snappy file"
    assert _codecs(t, snap.files) == {"SNAPPY", "ZSTD"}
    assert _rows(t) == sorted(state.items())
    # clone and restore copy the mixed files as they are
    dup = t.clone(str(tmp_path / "dup"))
    assert _rows(dup) == sorted(state.items())
    v_merged = t.current_version()
    t.restore(v0)
    assert _rows(t) == [(i, float(i)) for i in range(30)]
    t.restore(v_merged)
    assert _rows(t) == sorted(state.items())
    # compaction rewrites everything as zstd
    compact_table(t, SPEC)
    assert _codecs(t, t.snapshot().files) == {"ZSTD"}
    assert _rows(t) == sorted(state.items())
