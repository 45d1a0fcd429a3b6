"""Offline binlog-file decoder: byte-level pins against the documented
v4 layout (via the independent spec-built encoder in binlog_builder),
and the distributed binaryFile->mapInPandas path feeding the unchanged
CDC pipeline."""

from __future__ import annotations

import json
import os

import pytest

from synch_spark.sources import binlog_file as B
from decimal import Decimal

import tests.binlog_builder as tb
from tests.binlog_builder import BinlogBuilder

COLS = [
    ("id", B.T_LONG, 0),
    ("amount", B.T_NEWDECIMAL, (10 << 8) | 2),
    ("name", B.T_VARCHAR, 64),
    ("born", B.T_DATE, 0),
    ("ts", B.T_DATETIME2, 6),
]


def _one_table(checksum=True, names_tlv=True, **kw):
    b = BinlogBuilder(checksum=checksum)
    b.table_map(7, "shop", "test", COLS, names_tlv=names_tlv, **kw)
    return b


def test_insert_roundtrip_types():
    """The reference's canonical table is test(id int, amount
    decimal(10,2)) (/root/reference/conftest.py:24-33): the decoder must
    get int + DECIMAL + strings + temporals exactly right."""
    b = _one_table()
    b.insert(7, (1, "123.45", "alice", "1999-12-31", "2024-02-29 13:37:00.123456"),
                (2, "-0.07", "bob", "2000-01-01", "2024-01-01 00:00:00"))
    evs = list(B.iter_binlog_events(b.bytes()))
    assert [e["action"] for e in evs] == ["insert", "insert"]
    r1 = json.loads(evs[0]["after"])
    assert r1 == {"id": 1, "amount": "123.45", "name": "alice",
                  "born": "1999-12-31", "ts": "2024-02-29 13:37:00.123456"}
    r2 = json.loads(evs[1]["after"])
    assert r2["amount"] == "-0.07"
    assert r2["ts"] == "2024-01-01 00:00:00.000000"
    assert evs[0]["schema"] == "shop" and evs[0]["table"] == "test"
    assert evs[0]["event_unixtime"] == 1_700_000_000 * 1_000_000
    assert evs[0]["before"] is None


def test_within_second_events_get_monotone_stamps():
    """The binlog header timestamp is whole seconds; without a
    sub-second tiebreaker, two updates to one pk inside a second tie on
    the (event_unixtime, action_seq) sort and last-wins replay can pick
    the older image. The decoder spreads a per-file monotone counter
    across the microsecond field, reset when the header second
    changes."""
    b = _one_table()
    row = lambda amt: (1, amt, "x", "2020-01-01", "2020-01-01 00:00:00")
    b.update(7, (row("1.00"), row("2.00")))
    b.update(7, (row("2.00"), row("3.00")))
    b.insert(7, (2, "9.99", "y", "2020-01-01", "2020-01-01 00:00:00"))
    evs = list(B.iter_binlog_events(b.bytes()))
    stamps = [e["event_unixtime"] for e in evs]
    assert stamps == sorted(set(stamps)), "stamps must be strictly increasing"
    assert stamps[0] == 1_700_000_000 * 1_000_000
    assert stamps[1] == 1_700_000_000 * 1_000_000 + 1
    # last-wins on (event_unixtime) alone now recovers file order
    latest = max(
        (e for e in evs if json.loads(e["after"] or "{}").get("id") == 1),
        key=lambda e: e["event_unixtime"],
    )
    assert json.loads(latest["after"])["amount"] == "3.00"


def test_update_carries_before_and_after():
    b = _one_table()
    b.update(7, ((1, "5.00", "x", "2020-01-01", "2020-01-01 00:00:00"),
                 (1, "6.00", "x", "2020-01-01", "2020-01-02 00:00:00")))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert ev["action"] == "update"
    assert json.loads(ev["before"])["amount"] == "5.00"
    assert json.loads(ev["after"])["amount"] == "6.00"


def test_delete_and_nulls():
    b = _one_table()
    b.delete(7, (3, None, None, None, None))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert ev["action"] == "delete" and ev["after"] is None
    assert json.loads(ev["before"]) == {
        "id": 3, "amount": None, "name": None, "born": None, "ts": None}


def test_checksum_off_and_v1_rows():
    """5.5-era file: no CRC32 trailers, v1 rows events (no extra-data)."""
    b = BinlogBuilder(server_version="5.5.62", checksum=False)
    b.table_map(7, "shop", "test", COLS)  # no TLV names on 5.5
    b.insert_v1(7, (9, "1.00", "z", "2011-01-01", "2011-01-01 01:02:03"))
    (ev,) = list(B.iter_binlog_events(
        b.bytes(), column_names={("shop", "test"): [c[0] for c in COLS]}))
    assert json.loads(ev["after"])["id"] == 9


def test_column_name_sources():
    """TLV names (8.0 FULL metadata) > caller map > positional col_i."""
    b = _one_table(names_tlv=False)
    b.insert(7, (1, "2.00", "n", "2024-01-01", "2024-01-01 00:00:00"))
    data = b.bytes()
    by_map = json.loads(next(iter(B.iter_binlog_events(
        data, column_names={("shop", "test"): [c[0] for c in COLS]})))["after"])
    assert "amount" in by_map
    positional = json.loads(next(iter(B.iter_binlog_events(data)))["after"])
    assert set(positional) == {f"col_{i}" for i in range(5)}
    wrong = {("shop", "test"): ["a", "b"]}
    with pytest.raises(B.BinlogFormatError, match="column names"):
        list(B.iter_binlog_events(data, column_names=wrong))


def test_signedness_tlv():
    """SIGNEDNESS TLV bit set -> the raw 0xFFFFFFFF decodes as u32, not -1."""
    cols = [("u", B.T_LONG, 0), ("s", B.T_LONG, 0)]
    b = BinlogBuilder()
    b.table_map(7, "d", "t", cols, names_tlv=True, unsigned=(0,))
    b.insert(7, (0xFFFFFFFF, -1))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert json.loads(ev["after"]) == {"u": 4294967295, "s": -1}


def test_query_event_and_tx_framing():
    b = _one_table()
    b.query("shop", "BEGIN")  # transaction framing: skipped
    b.query("shop", "ALTER TABLE test ADD COLUMN note VARCHAR(16)")
    b.query("shop", "ALTER TABLE other.t2 DROP COLUMN x")
    b.query("shop", "COMMIT")
    evs = list(B.iter_binlog_events(b.bytes()))
    assert [e["action"] for e in evs] == ["query", "query"]
    assert "ALTER TABLE" in json.loads(evs[0]["after"])["query"]
    # DDL routes by (schema, table) in the pipeline barrier: the target
    # is recovered from the statement, qualified names override the
    # session db, and table is never NULL (RAW_EVENT_SCHEMA contract)
    assert (evs[0]["schema"], evs[0]["table"]) == ("shop", "test")
    assert (evs[1]["schema"], evs[1]["table"]) == ("other", "t2")


def test_table_filters():
    b = BinlogBuilder()
    b.table_map(7, "shop", "keep", [("id", B.T_LONG, 0)], names_tlv=True)
    b.insert(7, (1,))
    b.table_map(8, "shop", "drop_me", [("id", B.T_LONG, 0)], names_tlv=True)
    b.insert(8, (2,))
    evs = list(B.iter_binlog_events(b.bytes(), only_tables=("keep",)))
    assert [e["table"] for e in evs] == ["keep"]
    evs = list(B.iter_binlog_events(b.bytes(), only_schemas=("elsewhere",)))
    assert evs == []


def test_malformed_inputs():
    with pytest.raises(B.BinlogFormatError, match="magic"):
        list(B.iter_binlog_events(b"not a binlog"))
    b = _one_table()
    b.insert(7, (1, "1.00", "x", "2024-01-01", "2024-01-01 00:00:00"))
    with pytest.raises(B.BinlogFormatError, match="truncated"):
        list(B.iter_binlog_events(b.bytes()[:-3]))
    # rows event whose TABLE_MAP was never seen (truncated rotation)
    b2 = BinlogBuilder()
    b2.table_map(7, "d", "t", [("id", B.T_LONG, 0)], names_tlv=True)
    b2._columns = [("id", B.T_LONG, 0)]
    body = b2._rows_body(99, B.EV_WRITE_ROWS_V2, [(1,)])
    b2._event(B.EV_WRITE_ROWS_V2, body)
    with pytest.raises(B.BinlogFormatError, match="unknown table_id"):
        list(B.iter_binlog_events(b2.bytes()))


def test_decimal_extremes():
    cols = [("d", B.T_NEWDECIMAL, (30 << 8) | 10)]
    b = BinlogBuilder()
    b.table_map(7, "x", "t", cols, names_tlv=True)
    vals = ["0.0000000001", "-99999999999999999999.9999999999",
            "12345678901234567890.0987654321", "0"]
    for v in vals:
        b.insert(7, (v,))
    from decimal import Decimal

    got = [Decimal(json.loads(e["after"])["d"])
           for e in B.iter_binlog_events(b.bytes())]
    assert got == [Decimal(v) for v in vals]


def test_distributed_decode_feeds_cdc_pipeline(spark, tmp_path):
    """binaryFile -> mapInPandas decode -> filter_dml/split_updates/
    parse_values -> merge: the offline file replays to the same final
    state the reference's live tail would produce."""
    from pyspark.sql import functions as F, types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import compact_batch

    b = _one_table()
    b.insert(7, (1, "10.00", "a", "2024-01-01", "2024-01-01 00:00:00"),
                (2, "20.00", "b", "2024-01-02", "2024-01-02 00:00:00"))
    b.ts += 1  # distinct binlog timestamps order the replay
    b.update(7, ((1, "10.00", "a", "2024-01-01", "2024-01-01 00:00:00"),
                 (1, "11.00", "a2", "2024-01-01", "2024-01-03 00:00:00")))
    b.ts += 1
    b.delete(7, (2, "20.00", "b", "2024-01-02", "2024-01-02 00:00:00"))
    b.ts += 1
    b.insert(7, (3, "30.00", "c", "2024-01-03", "2024-01-04 00:00:00"))
    d = tmp_path / "binlogs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(b.bytes())

    raw = B.binlog_files_to_raw(spark, str(d))
    assert raw.schema.fieldNames() == [
        "schema", "table", "action", "before", "after", "event_unixtime"]
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DecimalType(10, 2)),
        T.StructField("name", T.StringType()),
        T.StructField("born", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    typed = parse_values(split_updates(raw), vschema)
    latest = compact_batch(typed, ("id",))
    final = latest.filter(F.col("action") != "delete").orderBy("id")
    rows = [(r["id"], str(r["amount"]), r["name"]) for r in final.collect()]
    assert rows == [(1, "11.00", "a2"), (3, "30.00", "c")]


def test_rotation_within_one_second_keeps_cross_file_order(spark, tmp_path):
    """A binlog rotation INSIDE one wall-clock second must not scramble
    replay: per-file counters alone would restart at the same stamp and
    the cross-file (event_unixtime, action_seq) sort could pick file
    N's stale image over file N+1's. binlog_files_to_raw derives a
    sub-second band from the file's sequence number (10_000 per file),
    so file .000002's events in the shared second sort after
    .000001's."""
    from pyspark.sql import functions as F, types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import compact_batch

    row = lambda amt, nm: (1, amt, nm, "2024-01-01", "2024-01-01 00:00:00")
    b1 = _one_table()
    b1.update(7, (row("1.00", "a"), row("2.00", "mid")))
    b2 = _one_table()  # same builder timestamp: same wall-clock second
    b2.update(7, (row("2.00", "mid"), row("3.00", "final")))
    d = tmp_path / "binlogs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(b1.bytes())
    (d / "binlog.000002").write_bytes(b2.bytes())

    raw = B.binlog_files_to_raw(spark, str(d))
    stamps = sorted(r["event_unixtime"] for r in raw.collect()
                    if r["action"] != "query")
    base = 1_700_000_000 * 1_000_000
    assert stamps[0] >= base + 10_000  # file 1's band
    assert stamps[-1] >= base + 20_000  # file 2's band, strictly above
    assert stamps[0] < base + 20_000

    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DecimalType(10, 2)),
        T.StructField("name", T.StringType()),
        T.StructField("born", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    typed = parse_values(split_updates(raw), vschema)
    latest = compact_batch(typed, ("id",))
    (final,) = latest.filter(F.col("action") != "delete").collect()
    assert final["name"] == "final"  # file 2 wins, deterministically


def test_json_malformed_document_refuses_loudly():
    """A corrupt binary-JSON document (unknown value-type byte) must
    raise BinlogFormatError, not silently produce garbage."""
    cols = [("j", B.T_JSON, 4)]
    b = BinlogBuilder()
    b.table_map(7, "x", "t", cols, names_tlv=True)
    # hand-build: one present column, not null, payload with bogus
    # jsonb type byte 0x7A ('z')
    import struct as _s

    body = (7).to_bytes(6, "little") + _s.pack("<H", 1) + _s.pack("<H", 2)
    body += bytes([1]) + b"\x01" + b"\x00" + b"\x04\x00\x00\x00zzzz"
    b._event(B.EV_WRITE_ROWS_V2, body)
    with pytest.raises(B.BinlogFormatError, match="jsonb"):
        list(B.iter_binlog_events(b.bytes()))


@pytest.mark.slow
def test_cli_replay_binlog_to_consume(spark, tmp_path):
    """CLI e2e: replay-binlog decodes the archive into the spool, then
    consume --available-now applies it — the offline stand-in for the
    reference's `synch consume` fed by a live binlog tail."""
    import yaml
    from pyspark.sql import types as T

    from synch_spark.cli import main

    b = _one_table()
    b.insert(7, (1, "10.00", "a", "2024-01-01", "2024-01-01 00:00:00"),
                (2, "20.00", "b", "2024-01-02", "2024-01-02 00:00:00"))
    b.ts += 1
    b.update(7, ((2, "20.00", "b", "2024-01-02", "2024-01-02 00:00:00"),
                 (2, "21.00", "b2", "2024-01-02", "2024-01-05 00:00:00")))
    d = tmp_path / "archive"
    d.mkdir()
    (d / "binlog.000007").write_bytes(b.bytes())

    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DecimalType(10, 2)),
        T.StructField("name", T.StringType()),
        T.StructField("born", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    cfg = {
        "core": {"insert_num": 1000, "insert_interval": 1},
        "source_dbs": [{"databases": [{"database": "shop", "tables": [
            {"table": "test", "pk": ["id"]}]}]}],
        "spark": {
            "warehouse": str(tmp_path / "wh"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "events_dir": str(tmp_path / "events"),
            "value_schemas": {"shop.test": vschema.jsonValue()},
        },
    }
    p = tmp_path / "synch.yaml"
    p.write_text(yaml.dump(cfg))
    assert main(["--config", str(p), "replay-binlog", "--path", str(d)]) == 0
    assert main(["--config", str(p), "consume", "--available-now"]) == 0

    from synch_spark.sources.table import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "wh" / "shop" / "test"))
    rows = sorted((r["id"], str(r["amount"]), r["name"]) for r in t.read().collect())
    assert rows == [(1, "10.00", "a"), (2, "21.00", "b2")]


def test_time2_negative_with_fraction():
    """TIME(fsp>0) is ONE two's-complement fixed-point over int+frac
    bytes — negatives complement the fraction bits too; signing only
    the 3-byte int part decodes '-00:00:01.50' as garbage."""
    cols = [("t", B.T_TIME2, 2)]
    b = BinlogBuilder()
    b.table_map(7, "x", "t", cols, names_tlv=True)
    vals = ["-00:00:01.50", "00:00:01.50", "-838:59:59.00", "123:45:06.07"]
    for v in vals:
        b.insert(7, (v,))
    got = [json.loads(e["after"])["t"] for e in B.iter_binlog_events(b.bytes())]
    assert got == vals


def test_binlog_roundtrip_property():
    """Hypothesis: random typed rows through the spec-built encoder and
    the decoder round-trip exactly — every int width (signed bounds),
    decimal digit layout (BCD group boundaries at 9/18/27 digits),
    varchar length-prefix width, and null pattern."""
    from decimal import Decimal

    from hypothesis import given, settings, strategies as st

    type_pool = st.sampled_from([
        ("tiny", B.T_TINY, 0, st.integers(-128, 127)),
        ("short", B.T_SHORT, 0, st.integers(-(1 << 15), (1 << 15) - 1)),
        ("i24", B.T_INT24, 0, st.integers(-(1 << 23), (1 << 23) - 1)),
        ("long", B.T_LONG, 0, st.integers(-(1 << 31), (1 << 31) - 1)),
        ("ll", B.T_LONGLONG, 0, st.integers(-(1 << 63), (1 << 63) - 1)),
        ("vc", B.T_VARCHAR, 300,
         st.text(alphabet=st.characters(codec="utf-8",
                                        blacklist_categories=("Cs",)),
                 max_size=40)),
        ("dec", B.T_NEWDECIMAL, (20 << 8) | 4,
         st.decimals(min_value=Decimal("-9999999999999999.9999"),
                     max_value=Decimal("9999999999999999.9999"),
                     places=4, allow_nan=False, allow_infinity=False)),
        ("dbl", B.T_DOUBLE, 8, st.floats(allow_nan=False, allow_infinity=False)),
    ])

    @settings(max_examples=40, deadline=None)
    @given(st.data())
    def run(data):
        cols = data.draw(st.lists(type_pool, min_size=1, max_size=5))
        cols = [(f"c{i}", t, m) for i, (_, t, m, _) in enumerate(cols)], [
            s for _, _, _, s in cols]
        col_defs, strats = cols
        rows = data.draw(st.lists(
            st.tuples(*[st.one_of(st.none(), s) for s in strats]),
            min_size=1, max_size=4))
        b = BinlogBuilder()
        b.table_map(5, "db", "t", col_defs, names_tlv=True)
        for row in rows:
            b.insert(5, tuple(
                str(v) if isinstance(v, Decimal) else v for v in row))
        evs = list(B.iter_binlog_events(b.bytes()))
        assert len(evs) == len(rows)
        for ev, row in zip(evs, rows):
            got = json.loads(ev["after"])
            for (name, t, m), v in zip(col_defs, row):
                g = got[name]
                if v is None:
                    assert g is None
                elif t == B.T_NEWDECIMAL:
                    assert Decimal(g) == v
                elif t == B.T_DOUBLE:
                    assert g == v
                else:
                    assert g == v, (name, t, v, g)

    run()


def test_multi_file_replay_ordering(spark, tmp_path):
    """Events split across TWO binlog files (a rotation): each file
    decodes in its own task, and the apply path's
    (event_unixtime, action_seq) ordering recovers the global order."""
    from pyspark.sql import functions as F, types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import compact_batch

    cols = [("id", B.T_LONG, 0), ("v", B.T_VARCHAR, 32)]
    b1 = BinlogBuilder(timestamp=1_700_000_000)
    b1.table_map(3, "d", "t", cols, names_tlv=True)
    b1.insert(3, (1, "old"), (2, "keep"))
    # second file: later timestamp, same table re-mapped (rotation
    # re-emits FDE + TABLE_MAP), overwrites id=1
    b2 = BinlogBuilder(timestamp=1_700_000_100)
    b2.table_map(9, "d", "t", cols, names_tlv=True)
    b2.update(9, ((1, "old"), (1, "new")))
    d = tmp_path / "logs"
    d.mkdir()
    (d / "binlog.000001").write_bytes(b1.bytes())
    (d / "binlog.000002").write_bytes(b2.bytes())
    raw = B.binlog_files_to_raw(spark, str(d))
    typed = parse_values(
        split_updates(raw),
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("v", T.StringType())]))
    latest = compact_batch(typed, ("id",))
    rows = sorted((r["id"], r["v"]) for r in
                  latest.filter(F.col("action") != "delete").collect())
    assert rows == [(1, "new"), (2, "keep")]


def test_json_column_decodes():
    """MySQL binary-JSON columns (json_binary.h) round-trip through the
    offline decoder — the reference replicates JSON columns via
    python-mysql-replication's equivalent decoder, so a user with JSON
    columns must be able to switch. The encoder here is spec-built and
    independent of the decoder under test."""
    from decimal import Decimal

    doc = {
        "a": 1,
        "neg": -5,
        "wide": -70000,
        "big": 2**40,
        "huge": 2**63 + 7,
        "pi": 2.5,
        "s": "héllo",
        "none": None,
        "t": True,
        "f": False,
        "arr": [1, "two", None, {"deep": [3, 4]}],
        "obj": {"k": "v"},
    }
    cols = [("id", B.T_LONG, 0), ("j", B.T_JSON, 4)]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True)
    from tests.binlog_builder import jsonb_encode
    b.insert(7, (1, doc), (2, None), (3, jsonb_encode(doc, large=True)),
             (4, jsonb_encode([10, 20, 30])), (5, jsonb_encode("bare")),
             (6, jsonb_encode(Decimal("12.34"))))
    evs = list(B.iter_binlog_events(b.bytes()))
    got = {json.loads(e["after"])["id"]: json.loads(e["after"])["j"]
           for e in evs}
    assert got[1] == doc
    assert got[2] is None
    assert got[3] == doc  # large (4-byte-offset) container format
    assert got[4] == [10, 20, 30]
    assert got[5] == "bare"
    assert got[6] == "12.34"  # opaque decimal, stringified by the codec


def test_json_opaque_temporals_decode():
    """Opaque DATE/DATETIME values inside a JSON document (MySQL packs
    CAST('...' AS JSON) temporals as 8-byte packed longlongs)."""
    # packed datetime 2024-02-29 13:37:05.250000:
    ymd = ((2024 * 13 + 2) << 5) | 29
    hms = (13 << 12) | (37 << 6) | 5
    packed = (((ymd << 17) | hms) << 24) | 250_000
    payload = packed.to_bytes(8, "little")
    from tests.binlog_builder import _jsonb_varint_enc
    doc = (bytes([0x0F, B.T_DATETIME2]) + _jsonb_varint_enc(8) + payload)
    cols = [("j", B.T_JSON, 4)]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True)
    b.insert(7, (doc,))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert json.loads(ev["after"])["j"] == "2024-02-29 13:37:05.250000"
    # packed date (time part zero)
    dpacked = ((ymd << 17) << 24)
    ddoc = (bytes([0x0F, B.T_DATE]) + _jsonb_varint_enc(8)
            + dpacked.to_bytes(8, "little"))
    b2 = BinlogBuilder()
    b2.table_map(7, "db", "t", cols, names_tlv=True)
    b2.insert(7, (ddoc,))
    (ev2,) = list(B.iter_binlog_events(b2.bytes()))
    assert json.loads(ev2["after"])["j"] == "2024-02-29"


def test_enum_set_decode_labels_with_full_metadata():
    """8.0 binlog_row_metadata=FULL carries ENUM/SET member strings;
    the decoder maps ordinals/bitmasks to labels like the reference's
    tail (python-mysql-replication) does. Without the TLV the raw
    ordinal/bitmask passes through."""
    cols = [
        ("id", B.T_LONG, 0),
        ("color", B.T_STRING, (B.T_ENUM << 8) | 1),
        ("tags", B.T_STRING, (B.T_SET << 8) | 1),
    ]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True,
                enum_strs={1: ["red", "green", "blue"]},
                set_strs={2: ["a", "b", "c"]})
    b.insert(7, (1, 2, 0b101), (2, 0, 0))
    evs = list(B.iter_binlog_events(b.bytes()))
    r1 = json.loads(evs[0]["after"])
    assert r1 == {"id": 1, "color": "green", "tags": "a,c"}
    r2 = json.loads(evs[1]["after"])
    assert r2["color"] == "" and r2["tags"] == ""  # 0 = invalid/empty

    # no TLV -> ordinals/bitmasks pass through untouched
    b2 = BinlogBuilder()
    b2.table_map(7, "db", "t", cols, names_tlv=True)
    b2.insert(7, (1, 2, 0b101))
    (ev,) = list(B.iter_binlog_events(b2.bytes()))
    assert json.loads(ev["after"]) == {"id": 1, "color": 2, "tags": 5}


def test_enum_set_tlv_codes_match_mysql_wire_layout():
    """Pin the real wire layout with HAND-WRITTEN TLV bytes, independent
    of the builder's encoder (which once mirrored a decoder bug).  Per
    libbinlogevents rows_event.h Optional_metadata_field_type:
    SET_STR_VALUE=5 carries the SET columns' member strings and
    ENUM_STR_VALUE=6 the ENUM columns' — SET first, the reverse of the
    intuitive order."""
    cols = [
        ("id", B.T_LONG, 0),
        ("color", B.T_STRING, (B.T_ENUM << 8) | 1),
        ("tags", B.T_STRING, (B.T_SET << 8) | 1),
    ]
    # type 5 = SET_STR_VALUE: one group (the single SET column "tags"):
    # count=3, then lenenc-prefixed "x","y","z"
    set_val = bytes([3, 1]) + b"x" + bytes([1]) + b"y" + bytes([1]) + b"z"
    # type 6 = ENUM_STR_VALUE: one group (the single ENUM column "color")
    enum_val = (bytes([3, 3]) + b"red" + bytes([5]) + b"green"
                + bytes([4]) + b"blue")
    raw = (bytes([5, len(set_val)]) + set_val
           + bytes([6, len(enum_val)]) + enum_val)
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True, extra_tlvs=raw)
    b.insert(7, (1, 2, 0b101))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    after = json.loads(ev["after"])
    assert after == {"id": 1, "color": "green", "tags": "x,z"}


def test_geometry_column_passes_through_as_bytes():
    """GEOMETRY binlogs like a blob (SRID+WKB); the decoder passes the
    bytes through (base64 in the JSON image) instead of raising."""
    import base64 as b64
    import struct as _s

    # SRID 4326 + WKB POINT(1 2)
    wkb = (4326).to_bytes(4, "little") + b"\x01" + _s.pack("<I", 1) \
        + _s.pack("<dd", 1.0, 2.0)
    cols = [("id", B.T_LONG, 0), ("g", B.T_GEOMETRY, 4)]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True)
    b.insert(7, (1, wkb))
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    got = json.loads(ev["after"])["g"]
    assert b64.b64decode(got) == wkb


from hypothesis import given, settings, strategies as st

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=6),
        st.dictionaries(st.text(min_size=1, max_size=12), kids, max_size=6),
    ),
    max_leaves=24,
)


@settings(max_examples=120, deadline=None)
@given(doc=_json_values, large=st.booleans())
def test_jsonb_roundtrip_property(doc, large):
    """Any JSON value the spec-built encoder can produce decodes back
    bit-exactly, in both container formats (small 2-byte and large
    4-byte offset tables)."""
    from tests.binlog_builder import jsonb_encode

    blob = jsonb_encode(doc, large=large)
    assert B._decode_json_binary(blob) == doc

def test_payload_bearing_events_no_longer_refused():
    """Both payload-bearing 8.0 event types now DECODE instead of
    refusing (TRANSACTION_PAYLOAD and PARTIAL_UPDATE_ROWS tests below);
    structural garbage in them still fails loudly like every other
    corruption path — here a 0x27 whose table_id never had a
    TABLE_MAP."""
    import pytest

    b = BinlogBuilder()
    b._event(0x27, b"\x00" * 16)
    with pytest.raises(B.BinlogFormatError, match="unknown table_id"):
        list(B.iter_binlog_events(b.bytes()))


def _tp_cols():
    return [("id", B.T_LONG, 0), ("amount", B.T_NEWDECIMAL,
                                  (10 << 8) | 2)]


def _tp_txn(b):
    """One full transaction's worth of events (the shape the server
    wraps): BEGIN query, table map, insert, update, delete, commit."""
    b.query("db", "BEGIN")
    b.table_map(7, "db", "t", _tp_cols(), names_tlv=True)
    b.insert(7, (1, Decimal("10.00")), (2, Decimal("20.00")))
    b.update(7, ((1, Decimal("10.00")), (1, Decimal("11.00"))))
    b.delete(7, (2, Decimal("20.00")))
    b.xid(9)


def test_transaction_payload_none_decodes_like_unwrapped():
    """binlog_transaction_compression=ON with an uncompressed (NONE)
    payload: the wrapped file must decode event-for-event identically
    to its unwrapped twin — same actions, images, and within-second
    ordering stamps."""
    plain = BinlogBuilder()
    _tp_txn(plain)
    wrapped = BinlogBuilder()
    wrapped.transaction_payload(_tp_txn)
    want = list(B.iter_binlog_events(plain.bytes()))
    got = list(B.iter_binlog_events(wrapped.bytes()))
    assert want and got == want


def test_transaction_payload_outer_resume_and_checksums():
    """Events BEFORE and AFTER the payload in the (checksummed) outer
    stream decode too: the frame splice must restore the outer cursor
    AND the outer CRC trailer length when the inner frame drains —
    inner events carry no checksum, outer ones still do."""
    b = BinlogBuilder()  # checksum=True: outer events have CRC32
    b.table_map(3, "db", "pre", _tp_cols(), names_tlv=True)
    b.insert(3, (100, Decimal("1.00")))
    b.transaction_payload(_tp_txn)
    b.table_map(4, "db", "post", _tp_cols(), names_tlv=True)
    b.insert(4, (200, Decimal("2.00")))
    got = list(B.iter_binlog_events(b.bytes()))
    tables = [e["table"] for e in got]
    assert tables[0] == "pre" and tables[-1] == "post"
    assert tables.count("t") == 4  # insert x2 rows, update, delete
    # ordering stamps stay strictly increasing across the splice
    stamps = [e["event_unixtime"] for e in got]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)


def test_transaction_payload_size_field_optional():
    """A payload without the SIZE field (everything to end-of-body) and
    without declared uncompressed size still decodes."""
    wrapped = BinlogBuilder()
    wrapped.transaction_payload(_tp_txn, with_size=False)
    plain = BinlogBuilder()
    _tp_txn(plain)
    assert list(B.iter_binlog_events(wrapped.bytes())) == \
        list(B.iter_binlog_events(plain.bytes()))


def test_transaction_payload_zstd_missing_codec_or_roundtrip():
    """The loud-fail surface narrows to exactly 'zstd codec absent':
    with zstandard installed the compressed twin must decode
    identically; without it the error names the codec and the fix."""
    import pytest

    try:
        import zstandard  # noqa: F401
        have = True
    except ImportError:
        have = False
    if have:
        wrapped = BinlogBuilder()
        wrapped.transaction_payload(_tp_txn, comp_type=0)
        plain = BinlogBuilder()
        _tp_txn(plain)
        assert list(B.iter_binlog_events(wrapped.bytes())) == \
            list(B.iter_binlog_events(plain.bytes()))
    else:
        b = BinlogBuilder()
        # hand-rolled "zstd" payload: codec absence must be detected
        # BEFORE any decompress attempt
        b.transaction_payload(None, comp_type=0,
                              raw_payload=b"\x28\xb5\x2f\xfd junk")
        with pytest.raises(B.BinlogFormatError, match="zstandard"):
            list(B.iter_binlog_events(b.bytes()))


def test_transaction_payload_bad_shapes_raise():
    import pytest

    # unknown compression algorithm
    b = BinlogBuilder()
    b.transaction_payload(None, comp_type=7, raw_payload=b"x")
    with pytest.raises(B.BinlogFormatError, match="unknown compression"):
        list(B.iter_binlog_events(b.bytes()))
    # declared payload size exceeds what's present
    b = BinlogBuilder()
    body = (tb._lenenc(2) + tb._lenenc(len(tb._lenenc(255)))
            + tb._lenenc(255)                                  # NONE
            + tb._lenenc(1) + tb._lenenc(1) + tb._lenenc(99)   # size=99
            + tb._lenenc(0) + b"short")
    b._event(0x28, body)
    with pytest.raises(B.BinlogFormatError, match="truncated"):
        list(B.iter_binlog_events(b.bytes()))


def test_query_schema_filter_uses_statement_target_not_session_db():
    """`USE ops; ALTER TABLE app.users ...` must filter/route by the
    statement's own qualifier ('app'), not the session default database
    ('ops') — else cross-schema DDL is dropped or leaks past the
    allow-list."""
    def events(only_schemas):
        b = BinlogBuilder()
        b.query("ops", "ALTER TABLE app.users ADD COLUMN x int")
        return list(B.iter_binlog_events(b.bytes(),
                                         only_schemas=only_schemas))

    got = events(("app",))
    assert len(got) == 1 and got[0]["schema"] == "app" \
        and got[0]["table"] == "users"
    # session db is NOT the target: must not pass an 'ops' allow-list
    assert events(("ops",)) == []


def test_zero_present_bitmap_raises_instead_of_hanging():
    """A corrupt rows event whose columns-present bitmap has no bits set
    consumes zero bytes per row image; the decoder must raise, not spin
    forever in the row loop."""
    import pytest

    cols = [("id", B.T_LONG, 0)]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True)
    # hand-built rows body: table_id(6) flags(2) extra_len(2) ncols=1,
    # all-zero present bitmap, one trailing junk byte to enter the loop
    body = (7).to_bytes(6, "little") + b"\x00\x00" + b"\x02\x00" \
        + b"\x01" + b"\x00" + b"\xAA"
    b._event(B.EV_WRITE_ROWS_V2, body)
    with pytest.raises(B.BinlogFormatError, match="consumed no bytes"):
        list(B.iter_binlog_events(b.bytes()))


def test_legacy_time_is_signed():
    """Pre-5.6.4 TIME binlogs as a SIGNED 3-byte HHMMSS int (MySQL TIME
    ranges to -838:59:59); an unsigned read turns -01:00:00 into
    1676:72:15-style garbage."""
    neg = (-10000).to_bytes(3, "little", signed=True)
    v, p = B._decode_value(neg, 0, B.T_TIME, 0, False)
    assert (v, p) == ("-01:00:00", 3)
    pos = (8385959).to_bytes(3, "little", signed=True)
    v, _ = B._decode_value(pos, 0, B.T_TIME, 0, False)
    assert v == "838:59:59"


def test_binlog_files_to_raw_chunked_decode(spark, tmp_path, monkeypatch):
    """Per-task memory contract: the decoder yields bounded pandas
    chunks, and rows crossing chunk boundaries survive intact."""
    monkeypatch.setattr(B, "_DECODE_CHUNK", 5)
    cols = [("id", B.T_LONG, 0), ("name", B.T_VARCHAR, 64)]
    b = BinlogBuilder()
    b.table_map(7, "db", "t", cols, names_tlv=True)
    b.insert(7, *[(i, f"r{i}") for i in range(23)])
    f = tmp_path / "binlog.000001"
    f.write_bytes(b.bytes())
    df = B.binlog_files_to_raw(spark, str(f)).collect()
    assert len(df) == 23
    got = sorted(json.loads(r["after"])["id"] for r in df)
    assert got == list(range(23))


def test_query_event_truncate_recovers_target():
    """A TRUNCATE statement in a QUERY event must carry its target
    table (statement qualifier winning over the session db), or the
    only_tables filter / DDL routing silently drops the event and the
    target keeps rows the source deleted."""
    b = BinlogBuilder()
    b.query("sess", "TRUNCATE TABLE `app`.`users`")
    b.query("app", "TRUNCATE orders;")
    evs = [e for e in B.iter_binlog_events(b.bytes())
           if e["action"] == "query"]
    assert [(e["schema"], e["table"]) for e in evs] == [
        ("app", "users"), ("app", "orders")]
    # and the allow-list filter sees the recovered names
    evs = [e for e in B.iter_binlog_events(b.bytes(), only_tables=("users",))
           if e["action"] == "query"]
    assert [(e["schema"], e["table"]) for e in evs] == [("app", "users")]


def test_query_event_truncate_ansi_quotes_and_dollar_names():
    """The recovery grammar must match what the pipeline's barrier
    accepts: ANSI_QUOTES double-quoted identifiers and $ in names."""
    b = BinlogBuilder()
    b.query("sess", 'TRUNCATE TABLE "app"."users"')
    b.query("app", "TRUNCATE pay$roll")
    evs = [e for e in B.iter_binlog_events(b.bytes())
           if e["action"] == "query"]
    assert [(e["schema"], e["table"]) for e in evs] == [
        ("app", "users"), ("app", "pay$roll")]


# --- PARTIAL_UPDATE_ROWS (0x27, binlog_row_value_options=PARTIAL_JSON) ----
def _pj_table(b, tid=11):
    b.table_map(tid, "db", "j",
                [("id", B.T_LONG, 0), ("doc", B.T_JSON, 4),
                 ("tags", B.T_JSON, 4)],
                names_tlv=True)


def test_partial_update_rows_reconstructs_after_image():
    """JSON diff sequences (REPLACE / INSERT / REMOVE, object member +
    array index + quoted-key paths) apply against the before image to
    reconstruct the exact after document; non-JSON columns and
    full-value JSON columns in the same row decode as usual."""
    from tests.binlog_builder import JsonDiffs

    before_doc = {"a": 1, "b": {"c": [10, 20, 30]}, "k 1": "x"}
    before_tags = ["t1", "t2"]
    b = BinlogBuilder()
    _pj_table(b)
    b.partial_update(
        11,
        ((1, before_doc, before_tags),
         (1,
          JsonDiffs([(0, "$.a", 2),                 # REPLACE scalar
                     (1, "$.b.c[1]", 15),           # INSERT mid-array
                     (2, "$.b.c[3]", None),         # REMOVE (post-shift)
                     (0, '$."k 1"', "y"),           # quoted key REPLACE
                     (1, "$.new", [1, 2])]),        # INSERT new member
          ["t1", "t2", "t3"])),                     # full JSONB value
    )
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert ev["action"] == "update"
    assert json.loads(ev["before"])["doc"] == before_doc
    after = json.loads(ev["after"])
    assert after["doc"] == {"a": 2, "b": {"c": [10, 15, 20]},
                            "k 1": "y", "new": [1, 2]}
    assert after["tags"] == ["t1", "t2", "t3"]
    assert after["id"] == 1


def test_partial_update_rows_plain_and_null_and_root():
    """value_options=0 (server chose full images), NULL after values,
    root-path REPLACE, empty diff sequence (= unchanged), and multiple
    row pairs in one event."""
    from tests.binlog_builder import JsonDiffs

    b = BinlogBuilder()
    _pj_table(b)
    b.partial_update(
        11,
        ((1, {"a": 1}, ["t"]), (1, {"a": 2}, ["u"])),   # plain images
        ((2, {"z": 9}, ["t"]),
         (2, JsonDiffs([(0, "$", {"whole": "doc"})]), None)),  # root+NULL
        ((3, {"m": 5}, ["v"]),
         (3, JsonDiffs([]), ["v"])),                    # empty seq
    )
    evs = list(B.iter_binlog_events(b.bytes()))
    assert [e["action"] for e in evs] == ["update"] * 3
    a0 = json.loads(evs[0]["after"])
    assert a0["doc"] == {"a": 2} and a0["tags"] == ["u"]
    a1 = json.loads(evs[1]["after"])
    assert a1["doc"] == {"whole": "doc"} and a1["tags"] is None
    a2 = json.loads(evs[2]["after"])
    assert a2["doc"] == {"m": 5}, "empty diff sequence = unchanged"


def test_partial_update_rows_insert_semantics():
    """JSON_INSERT parity: existing member untouched; array index past
    the end appends; REMOVE of a missing member is a no-op."""
    from tests.binlog_builder import JsonDiffs

    b = BinlogBuilder()
    _pj_table(b)
    b.partial_update(
        11,
        ((1, {"a": 1, "arr": [1]}, None),
         (1, JsonDiffs([(1, "$.a", 99),        # exists: no-op
                        (1, "$.arr[9]", 7),    # past end: append
                        (2, "$.gone", None)]),  # missing: no-op
          None)),
    )
    (ev,) = list(B.iter_binlog_events(b.bytes()))
    assert json.loads(ev["after"])["doc"] == {"a": 1, "arr": [1, 7]}


def test_partial_update_rows_corruption_is_loud():
    """Structural mismatches raise: REPLACE of a missing member, a path
    navigating through a scalar, a diff on a NULL before value, an
    unknown op byte."""
    from tests.binlog_builder import JsonDiffs

    cases = [
        ({"a": 1}, [(0, "$.missing", 5)], "REPLACE"),
        ({"a": 1}, [(0, "$.a.b", 5)], "non-object"),
        (None, [(0, "$.a", 5)], "NULL"),
        ({"a": 1}, [(7, "$.a", 5)], "unknown JSON diff"),
    ]
    for before_doc, diffs, marker in cases:
        b = BinlogBuilder()
        _pj_table(b)
        b.partial_update(
            11, ((1, before_doc, None), (1, JsonDiffs(diffs), None)))
        with pytest.raises(B.BinlogFormatError, match=marker):
            list(B.iter_binlog_events(b.bytes()))


def test_json_path_parser():
    assert B._parse_json_path("$") == []
    assert B._parse_json_path("$.a.b[2].c") == ["a", "b", 2, "c"]
    assert B._parse_json_path('$."a.b"[0]') == ["a.b", 0]
    assert B._parse_json_path('$."q\\"uote"') == ['q"uote']
    for bad in ("", "a.b", "$..a", "$."):
        with pytest.raises(B.BinlogFormatError):
            B._parse_json_path(bad)


def test_partial_update_refuses_json_column_absent_from_after_image():
    """partial_bits alignment is only unambiguous when every JSON
    column of the table is in the after image (binlog_row_image=FULL);
    a misread bit would decode a full document as a diff sequence
    SILENTLY, so the ambiguous shape must refuse loudly."""
    from tests.binlog_builder import JsonDiffs, _lenenc as _le

    b = BinlogBuilder()
    _pj_table(b)  # (id, doc JSON, tags JSON)
    # hand-build: after image EXCLUDES 'tags' (present2 bit clear) while
    # value_options marks PARTIAL_JSON for 'doc'
    tid = 11
    body = tid.to_bytes(6, "little") + b"\x01\x00"   # table_id + flags
    body += b"\x02\x00"                               # extra_data_len
    body += _le(3) + bytes([0b111])                   # ncols, present1
    body += bytes([0b011])                            # present2: no tags
    # before image: id=1, doc={"a":1}, tags=null
    from tests.binlog_builder import jsonb_encode

    doc = jsonb_encode({"a": 1})
    body += bytes([0b100])                            # null bm: tags null
    body += (1).to_bytes(4, "little")                 # id (T_LONG)
    body += len(doc).to_bytes(4, "little") + doc      # doc JSONB
    # after image: value_options=1, partial_bits(1 json col in image),
    # null bm, id, doc as empty diff seq
    body += _le(1) + bytes([0b1])
    body += bytes([0b00])
    body += (1).to_bytes(4, "little")
    body += (0).to_bytes(4, "little")                 # empty diff seq
    b._event(B.EV_PARTIAL_UPDATE_ROWS, body)
    with pytest.raises(B.BinlogFormatError, match="binlog_row_image"):
        list(B.iter_binlog_events(b.bytes()))
