"""Table files are written in one layout (ParquetTable._stage): zstd,
v2 data pages, dictionaries capped at DICTIONARY_PAGE_BYTES and INT64
micros timestamps. A table whose older files carry another codec or
layout keeps working beside them."""

from __future__ import annotations

import json
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources.table import DICTIONARY_PAGE_BYTES, ParquetTable

SPEC = TableSpec(schema="db", table="t", pk=("k",),
                 engine=Engine.REPLACING_MERGE_TREE)
COLLAPSING = TableSpec(schema="db", table="c", pk=("k",),
                       engine=Engine.COLLAPSING_MERGE_TREE)
TS_CONF = "spark.sql.parquet.outputTimestampType"
# parquet PageType values (parquet.thrift)
DATA_PAGE, DICTIONARY_PAGE, DATA_PAGE_V2 = 0, 2, 3


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


def _page_header(f, offset: int) -> tuple[int, int]:
    """(type, uncompressed_page_size) of the page header at ``offset``:
    the first two fields of a thrift-compact PageHeader, both i32 and
    required, so each is a 0x15 field byte and a zigzag varint."""
    f.seek(offset)
    out = []
    for _ in range(2):
        assert f.read(1) == b"\x15"
        n = shift = 0
        while True:
            b = f.read(1)[0]
            n |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        out.append((n >> 1) ^ -(n & 1))
    return out[0], out[1]


def _layout(path: str) -> dict[str, dict]:
    """Per column of the file at ``path``: its physical and logical type,
    the type of every row group's first data page and the size of its
    dictionary page (0 without one)."""
    md = pq.ParquetFile(path).metadata
    out = {}
    with open(path, "rb") as f:
        for c in range(md.num_columns):
            col = md.schema.column(c)
            logical = col.logical_type.to_json()
            info = out[col.name] = {"physical": col.physical_type,
                                    "logical": json.loads(logical),
                                    "pages": set(), "dictionary": 0}
            for g in range(md.num_row_groups):
                ch = md.row_group(g).column(c)
                info["pages"].add(_page_header(f, ch.data_page_offset)[0])
                if ch.has_dictionary_page:
                    kind, size = _page_header(f, ch.dictionary_page_offset)
                    assert kind == DICTIONARY_PAGE
                    info["dictionary"] = max(info["dictionary"], size)
    return out


def _assert_compact(t: ParquetTable, rels) -> None:
    assert rels
    for rel in rels:
        layout = _layout(t._abs(rel))
        assert layout["ts"]["physical"] == "INT64", rel
        assert layout["ts"]["logical"] == {
            "Type": "Timestamp", "isAdjustedToUTC": True,
            "timeUnit": "microseconds", "is_from_converted_type": False,
            "force_set_converted_type": False}, rel
        for name, info in layout.items():
            assert info["pages"] == {DATA_PAGE_V2}, (rel, name)
            assert info["dictionary"] <= DICTIONARY_PAGE_BYTES, (rel, name)


def _ts_events(spark, rows):
    """Typed change events (action, k, ts, v, event_unixtime), ``ts`` a
    timestamp string read in the session's UTC."""
    return spark.createDataFrame(
        rows, "action string, k long, ts string, v double, event_unixtime long"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "action_seq", F.lit(0))


def _ts_frame(spark, state: dict):
    return spark.createDataFrame(
        [(k, ts, v) for k, (ts, v) in sorted(state.items())],
        "k long, ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp"))


def _text(col: str):
    """A timestamp as the text ``_ts`` and the tests write, to the micro."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(col)


def _ts_rows(t: ParquetTable, version: int | None = None):
    return sorted((r["k"], r["ts"], r["v"]) for r in t.read(version).select(
        "k", _text("ts"), "v").collect())


def _ts_state(state: dict):
    return sorted((k, ts, v) for k, (ts, v) in state.items())


def _ts(i: int) -> str:
    return f"2024-05-{1 + i % 28:02d} {i % 24:02d}:{i % 60:02d}:07.{i:06d}"


def test_every_writer_stores_the_compact_layout(spark, tmp_path):
    """overwrite, a merge, a Collapsing append and compaction all write
    INT64 micros timestamps in v2 data pages with capped dictionaries;
    the merge's file is sorted on the pk."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    # notes repeat, so a dictionary would pay off, but 600 of them
    # overflow the dictionary cap
    rows = [(i, _ts(i), float(i), f"note-{i % 600:05d}",
             "ok" if i % 3 else "bad") for i in range(3000)]
    t.overwrite(spark.createDataFrame(
        rows, "k long, ts string, v double, note string, status string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).repartition(2), key="k")
    _assert_compact(t, t.snapshot().files)
    v = t.current_version()
    keys = [2900, 17, 4000, 5, 3500, 1200, 4100, 40]
    events = _ts_events(spark, [("insert", k, _ts(k), -float(k), 10)
                                for k in keys])
    apply_cdc_batch(t, events.withColumn("note", F.lit("n"))
                    .withColumn("status", F.lit("ok")).repartition(3),
                    SPEC, value_columns=["k", "ts", "v", "note", "status"])
    added = _added(t, v)
    _assert_compact(t, added)
    (rel,) = added
    assert pq.read_table(t._abs(rel)).column("k").to_pylist() == sorted(keys)
    c = ParquetTable(spark, str(tmp_path / "c"))
    apply_cdc_batch(c, _ts_events(spark, [("insert", k, _ts(k), 1.0, 10)
                                          for k in range(50)]),
                    COLLAPSING, value_columns=["k", "ts", "v"])
    _assert_compact(c, c.snapshot().files)
    v = t.current_version()
    compact_table(t, SPEC)
    _assert_compact(t, _added(t, v))


def _int96_stage(self, df, partition_by):
    """``_stage`` as earlier versions of the store ran it: zstd with
    parquet-mr's default page version and dictionary size, under a
    session whose timestamp type is Spark's default, INT96."""
    conf = self.spark.conf
    layout = conf.get(TS_CONF)
    conf.set(TS_CONF, "INT96")
    try:
        staging = os.path.join(self.root,
                               f".staging-{uuid.uuid4().hex[:12]}")
        writer = df.write.mode("overwrite").option("compression", "zstd")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
    finally:
        conf.set(TS_CONF, layout)
    return self._promote_files(staging)


def test_int96_files_of_an_older_writer_stay_usable(spark, tmp_path,
                                                    monkeypatch):
    ancient, micro = "1500-03-01 12:00:00.123456", "2024-02-29 23:59:59.999999"
    t = ParquetTable(spark, str(tmp_path / "t"), retain=10)
    state = {i: (_ts(i), float(i)) for i in range(30)}
    state[1] = (ancient, 1.0)
    state[3] = (micro, 3.0)
    with monkeypatch.context() as mp:
        mp.setattr(ParquetTable, "_stage", _int96_stage)
        t.overwrite(_ts_frame(spark, state).repartition(3), key="k",
                    cluster_by=("k",))
    v0, old = t.current_version(), set(t.snapshot().files)
    initial = _ts_state(state)
    for rel in old:
        layout = _layout(t._abs(rel))
        assert layout["ts"]["physical"] == "INT96"
        assert layout["k"]["pages"] == {DATA_PAGE}
    assert _ts_rows(t) == initial
    # the merge masks rows of the INT96 files with a DV and writes the
    # same instants as INT64 beside them
    apply_cdc_batch(t, _ts_events(spark, [("insert", 2, ancient, 22.0, 10),
                                          ("delete", 5, _ts(5), 0.0, 10),
                                          ("insert", 50, micro, 50.0, 10)]),
                    SPEC, value_columns=["k", "ts", "v"])
    state.update({2: (ancient, 22.0), 50: (micro, 50.0)})
    state.pop(5)
    snap = t.snapshot()
    assert any(snap.dv(r) for r in old), "no DV on an INT96 file"
    _assert_compact(t, set(snap.files) - old)
    assert _ts_rows(t) == _ts_state(state)
    rows = {k: ts for k, ts, _ in _ts_rows(t)}
    assert rows[1] == rows[2] == ancient and rows[3] == rows[50] == micro
    # clone and restore copy the mixed files as they are
    dup = t.clone(str(tmp_path / "dup"))
    assert _ts_rows(dup) == _ts_state(state)
    v_merged = t.current_version()
    t.restore(v0)
    assert _ts_rows(t) == initial
    t.restore(v_merged)
    assert _ts_rows(t) == _ts_state(state)
    # compaction rewrites everything in the compact layout
    compact_table(t, SPEC)
    _assert_compact(t, t.snapshot().files)
    assert _ts_rows(t) == _ts_state(state)


def test_timestamp_pk_merges_with_an_exact_key_range(spark, tmp_path):
    """A TIMESTAMP pk is INT64 in the footer, so each file's key range in
    the log is exact (it was null for INT96); merges still read the
    oracle's rows."""
    spec = TableSpec(schema="db", table="ts", pk=("ts",),
                     engine=Engine.REPLACING_MERGE_TREE)

    def events(rows):
        return spark.createDataFrame(
            rows, "action string, ts string, v double, event_unixtime long"
        ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "action_seq", F.lit(0))

    def read():
        return sorted((r["ts"], r["v"]) for r in t.read().select(
            _text("ts"), "v").collect())

    t = ParquetTable(spark, str(tmp_path / "t"))
    state = {_ts(i): float(i) for i in range(20)}
    t.overwrite(spark.createDataFrame(sorted(state.items()),
                                      "ts string, v double")
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .repartition(2), key="ts")
    for stats in t.snapshot().files.values():
        assert stats["ts"] is not None
    new = "1500-03-01 12:00:00.123456"
    apply_cdc_batch(t, events([("update", _ts(3), 33.0, 10),
                               ("delete", _ts(4), 0.0, 10),
                               ("insert", new, 1.5, 10)]),
                    spec, value_columns=["ts", "v"])
    state.update({_ts(3): 33.0, new: 1.5})
    state.pop(_ts(4))
    assert read() == sorted(state.items())
    apply_cdc_batch(t, events([("update", new, 2.5, 20),
                               ("delete", _ts(7), 0.0, 20),
                               ("insert", _ts(40), 40.0, 20)]),
                    spec, value_columns=["ts", "v"])
    state.update({new: 2.5, _ts(40): 40.0})
    state.pop(_ts(7))
    assert read() == sorted(state.items())
