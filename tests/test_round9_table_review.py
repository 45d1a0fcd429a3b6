"""Round-9 manifest-store/CDC-apply review regressions: the commit
protocol's lost-update windows (unpinned bootstrap/compaction
overwrites, epoch re-check in the append retry loop) and the merge's
crash shapes."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources.table import ConcurrentWriteError, ParquetTable


def _df(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


def test_compact_table_detects_concurrent_merge(spark, tmp_path):
    """Compaction reads a snapshot, then runs a long re-layout job; a
    merge landing in between was silently REVERTED (its committed rows
    vanished with no error). The overwrite is now pinned to the read
    version, so the race surfaces as ConcurrentWriteError and the
    interloper's rows survive."""
    root = str(tmp_path / "t")
    table = ParquetTable(spark, root)
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    table.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    orig = table.overwrite
    fired = {}

    def racy_overwrite(*a, **k):
        if not fired:
            fired["x"] = True
            ParquetTable(spark, root).append(_df(spark, [(9, "mid")]))
        return orig(*a, **k)

    table.overwrite = racy_overwrite
    with pytest.raises(ConcurrentWriteError):
        compact_table(table, spec)
    table.overwrite = orig
    got = {r["id"] for r in table.read().collect()}
    assert 9 in got, "the concurrent merge's row must survive compaction"


def test_append_epoch_recheck_prevents_double_commit(spark, tmp_path):
    """Two replays of one micro-batch: the loser's retry loop must
    re-check the epoch marker and skip — previously it re-committed the
    same signed rows against the winner's head (net sign 2, one delete
    can never cancel)."""
    root = str(tmp_path / "t")
    seedA = ParquetTable(spark, root)
    seedA.overwrite(_df(spark, [(0, "seed")]))
    tB = ParquetTable(spark, root)
    batch = _df(spark, [(1, "x"), (2, "y")])
    orig_make = tB._make_entry
    fired = {}

    def hooked(*a, **k):
        if not fired:
            fired["x"] = True
            # the concurrent replay commits the SAME epoch first, in a
            # clean interleaving B never directly observes
            ParquetTable(spark, root).append(batch, epoch="batch-7")
        return orig_make(*a, **k)

    tB._make_entry = hooked
    tB.append(batch, epoch="batch-7")
    rows = tB.read().filter(F.col("id") > 0).collect()
    assert len(rows) == 2, "epoch re-check must prevent the double append"


def test_append_bootstrap_race_is_detected(spark, tmp_path):
    """Two writers appending to an EMPTY table: the bootstrap overwrite
    is pinned to expected_base=-1, so a racer's just-created version 0
    surfaces as ConcurrentWriteError and the loser falls through to a
    real append — previously the loser silently truncated the winner's
    rows."""
    root = str(tmp_path / "t")
    tB = ParquetTable(spark, root)
    orig_make = tB._make_entry
    fired = {}

    def hooked(*a, **k):
        if not fired:
            fired["x"] = True
            ParquetTable(spark, root).append(_df(spark, [(100, "winner")]))
        return orig_make(*a, **k)

    tB._make_entry = hooked
    tB.append(_df(spark, [(200, "loser")]))
    got = {r["id"] for r in tB.read().collect()}
    assert got == {100, 200}, "both bootstrap writers' rows must survive"


def test_merge_bootstrap_race_is_detected(spark, tmp_path):
    """Same race on the CDC merge's first-batch bootstrap: the loser
    must fall into the retried merge cycle (both batches present), not
    truncate the winner."""
    root = str(tmp_path / "t")
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    table = ParquetTable(spark, root)

    def ev(rows):
        return spark.createDataFrame(
            [("db", "t", "insert", i, v, 100 + i, 0) for i, v in rows],
            "schema string, table string, action string, id long, "
            "v string, event_unixtime long, action_seq int")

    orig_make = table._make_entry
    fired = {}

    def hooked(*a, **k):
        if not fired:
            fired["x"] = True
            other = ParquetTable(spark, root)
            apply_cdc_batch(other, ev([(100, "winner")]), spec)
        return orig_make(*a, **k)

    table._make_entry = hooked
    apply_cdc_batch(table, ev([(200, "loser")]), spec)
    table._make_entry = orig_make
    got = {r["id"] for r in table.read().collect()}
    assert got == {100, 200}, "both first batches must survive the race"


def test_cow_probe_partition_in_pk_no_ambiguity(spark, tmp_path):
    """The merge with partition_by ALSO a pk column (the dedup-index
    buckets shape, pk=(id, band) partitioned by band) once died with
    AMBIGUOUS_REFERENCE on the duplicated column — the merge must not
    crash the stream on it."""
    root = str(tmp_path / "t")
    spec = TableSpec(schema="db", table="t", pk=("id", "band"),
                     engine=Engine.REPLACING_MERGE_TREE,
                     partition_by="band")
    table = ParquetTable(spark, root)
    table.overwrite(_df(spark, [(1, 0, "a"), (2, 1, "b")],
                        "id long, band int, v string"),
                    partition_by="band")
    events = _df(spark, [("insert", 1, 0, "a2", 10, 0)],
                 "action string, id long, band int, v string, "
                 "event_unixtime long, action_seq int")
    apply_cdc_batch(table, events, spec, value_columns=["id", "band", "v"])
    got = {(r["id"], r["v"]) for r in table.read().collect()}
    assert got == {(1, "a2"), (2, "b")}
    # splinter guard: the touched partition must stay O(1) files
    files = [r for r in table.snapshot().files if r.startswith("band=0/")]
    assert len(files) <= 2


def test_vacuum_sweeps_current_tmp_debris(spark, tmp_path):
    """A writer crashing between writing the _CURRENT tmp hint and the
    rename leaves _CURRENT.tmp-* files forever; vacuum must sweep them
    like the other crash debris."""
    import os
    import time

    root = str(tmp_path / "t")
    table = ParquetTable(spark, root)
    table.overwrite(_df(spark, [(1, "a")]))
    debris = os.path.join(root, "_CURRENT.tmp-deadbeef")
    with open(debris, "w") as f:
        f.write("0")
    old = time.time() - 7200
    os.utime(debris, (old, old))
    table.vacuum(staging_ttl_s=3600)
    assert not os.path.exists(debris)
    assert table.read().count() == 1  # the table itself is untouched


# --------------------------------------------------------------------------
# event-decode core review regressions (round-9 fourth sweep)
# --------------------------------------------------------------------------
def test_null_ts_ddl_segments_apply_once_and_execute_ddl(spark, tmp_path):
    """A 'query' event with NULL event_unixtime made boundaries
    [None, None]: the data batch applied TWICE (distinct epoch markers
    defeated the replay guard) and the DDL silently never ran. It must
    floor to 0 like data rows: one apply, DDL executed."""
    from pyspark.sql import types as T

    from synch_spark.config import Engine, SyncConfig, TableSpec
    from synch_spark.events import RAW_EVENT_SCHEMA
    from synch_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.MERGE_TREE))
    vschema = T.StructType([T.StructField("id", T.LongType()),
                            T.StructField("v", T.StringType())])
    pipe = CdcPipeline(spark=spark, cfg=cfg,
                       warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ckpt"),
                       value_schemas={"db.t": vschema})
    rows = [
        ("db", "t", "query", None,
         '{"query": "ALTER TABLE t ADD COLUMN note VARCHAR(8)"}', None),
        ("db", "t", "insert", None, '{"id": 1, "v": "a"}', 100),
        ("db", "t", "insert", None, '{"id": 2, "v": "b"}', 200),
    ]
    # the FILE SOURCE forces every field nullable, which is exactly how
    # a null event_unixtime reaches apply_batch in production
    nullable = "schema string, table string, action string, " \
               "before string, after string, event_unixtime long"
    batch = spark.createDataFrame(rows, nullable)
    pipe.apply_batch(batch, 0)
    got = pipe.table_for(cfg.tables["db.t"]).read()
    assert got.count() == 2, "data must apply exactly once"
    assert "note" in pipe.value_schemas["db.t"].fieldNames(), \
        "the null-ts DDL must still execute"


@pytest.mark.slow
def test_poison_ddl_payload_dead_letters(spark, tmp_path):
    """A 'query' event whose after is NULL (or lacks the 'query' key)
    previously crash-looped the checkpoint on json.loads(None); it must
    dead-letter like an unparseable ALTER."""
    from pyspark.sql import types as T

    from synch_spark.config import Engine, SyncConfig, TableSpec
    from synch_spark.events import RAW_EVENT_SCHEMA
    from synch_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.MERGE_TREE))
    vschema = T.StructType([T.StructField("id", T.LongType())])
    pipe = CdcPipeline(spark=spark, cfg=cfg,
                       warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ckpt"),
                       value_schemas={"db.t": vschema})
    for bad_after in (None, "not json", '{"no_query_key": 1}',
                      '{"query": 42}'):
        rows = [
            ("db", "t", "query", None, bad_after, 50),
            ("db", "t", "insert", None, '{"id": 1}', 100),
        ]
        pipe.apply_batch(spark.createDataFrame(rows, RAW_EVENT_SCHEMA), 0)
    assert pipe.table_for(cfg.tables["db.t"]).read().count() == 1
    dl = ParquetTable(spark, f"{pipe.warehouse}/_synch_dead_letter_ddl")
    assert dl.exists and dl.read().count() == 4


def test_debezium_ts_overflow_drops_not_kills(spark):
    """A corrupt envelope whose ts_ms is a VALID long near 2^63
    survived try_cast and the plain *1000 ANSI-overflowed the whole
    micro-batch; try_multiply must null it into the drop filter."""
    import json as _json

    from synch_spark.events import debezium_to_raw

    good = {"payload": {"op": "c", "before": None, "after": {"id": 1},
                        "source": {"db": "d", "table": "t",
                                   "ts_ms": 1000}}}
    evil = {"payload": {"op": "c", "before": None, "after": {"id": 2},
                        "source": {"db": "d", "table": "t",
                                   "ts_ms": 9223372036854775807}}}
    df = spark.createDataFrame(
        [(_json.dumps(good),), (_json.dumps(evil),)], "value string")
    rows = debezium_to_raw(df).collect()
    assert len(rows) == 1 and rows[0]["event_unixtime"] == 1_000_000


def test_wal2json_v1_same_commit_updates_resolve_in_wire_order(spark):
    """All changes in one v1 transaction share the commit timestamp;
    with subsecond_tiebreak the LAST update to a pk wins
    deterministically instead of by shuffle order — carried OUT-OF-BAND
    in _wire_seq, never by mutating the real-microsecond stamp."""
    import json as _json

    from synch_spark.events import WIRE_SEQ_COL, wal2json_to_raw

    payload = {"change": [
        {"kind": "update", "schema": "db", "table": "t",
         "columnnames": ["id", "x"], "columnvalues": ["1", str(i)],
         "oldkeys": {"keynames": ["id"], "keyvalues": ["1"]}}
        for i in range(5)
    ], "timestamp": "2024-03-01 12:00:00.000000+00"}
    df = spark.createDataFrame([(_json.dumps(payload),)], "value string")
    rows = wal2json_to_raw(df, subsecond_tiebreak=True).orderBy(
        WIRE_SEQ_COL).collect()
    # the commit stamp is NOT mutated: all five changes keep the exact
    # shared microsecond value
    assert len({r["event_unixtime"] for r in rows}) == 1
    seqs = [r[WIRE_SEQ_COL] for r in rows]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs), \
        "wire seqs must be distinct and ascend in wire order"
    latest = max(rows, key=lambda r: r[WIRE_SEQ_COL])
    assert _json.loads(latest["after"])["x"] == "4", \
        "the LAST wire change must carry the greatest wire seq"
    # default (graded/offline) semantics unchanged: exact shared stamp,
    # plain 6-column schema
    plain = wal2json_to_raw(df)
    assert WIRE_SEQ_COL not in plain.columns
    assert plain.select("event_unixtime").distinct().count() == 1


def test_wal2json_tiebreak_survives_1000_change_transactions(spark):
    """Regression (round-9 advice, high): the old pmod(offset,1000)
    tiebreak WRAPPED inside transactions with >1000 changes, inverting
    event order so last-wins kept a stale row. The wire-seq carry must
    keep the true last change winning end-to-end through
    split_updates -> parse_values -> compact_batch."""
    import json as _json

    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates, wal2json_to_raw
    from synch_spark.operators.cdc_apply import compact_batch

    n = 1203  # > the old 1000-wrap
    payload = {"change": [
        {"kind": "update", "schema": "db", "table": "t",
         "columnnames": ["id", "x"], "columnvalues": ["1", str(i)],
         "oldkeys": {"keynames": ["id"], "keyvalues": ["1"]}}
        for i in range(n)
    ], "timestamp": "2024-03-01 12:00:00.123456+00"}
    df = spark.createDataFrame([(_json.dumps(payload),)], "value string")
    raw = wal2json_to_raw(df, subsecond_tiebreak=True)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("x", T.LongType())])
    typed = parse_values(split_updates(raw), schema, string_values=True)
    net = compact_batch(typed, ("id",)).collect()
    assert len(net) == 1
    assert net[0]["action"] == "insert" and net[0]["x"] == n - 1


def test_wal2json_order_col_dominates_across_lines(spark):
    """Two single-change payloads sharing one commit stamp (a v2-style
    per-row stream): the Kafka offset passed as order_col decides the
    winner — deterministic across micro-batch restarts, unlike the
    in-batch monotonic id."""
    import json as _json

    from synch_spark.events import WIRE_SEQ_COL, wal2json_to_raw

    def line(x):
        return _json.dumps({"change": [
            {"kind": "update", "schema": "db", "table": "t",
             "columnnames": ["id", "x"], "columnvalues": ["1", str(x)],
             "oldkeys": {"keynames": ["id"], "keyvalues": ["1"]}}],
            "timestamp": "2024-03-01 12:00:00.123456+00"})

    # deliberately listed newest-first: only the offset carries order
    df = spark.createDataFrame([(line(9), 207), (line(5), 113)],
                               "value string, offset long")
    rows = wal2json_to_raw(df, subsecond_tiebreak=True,
                           order_col="offset").collect()
    by_seq = sorted(rows, key=lambda r: r[WIRE_SEQ_COL])
    assert _json.loads(by_seq[-1]["after"])["x"] == "9"
    assert len({r["event_unixtime"] for r in rows}) == 1


def test_debezium_tiebreak_uses_offset_not_stamp_mutation(spark):
    """Debezium same-ms updates: _wire_seq carries the Kafka offset;
    event_unixtime keeps the exact wire value (the old +pmod mutation
    inverted order at wrap/restart boundaries)."""
    import json as _json

    from synch_spark.events import WIRE_SEQ_COL, debezium_to_raw

    def env(x):
        return _json.dumps({"payload": {
            "op": "u", "before": {"id": 1}, "after": {"id": 1, "x": x},
            "source": {"db": "d", "table": "t", "ts_ms": 1000}}})

    df = spark.createDataFrame([(env(2), 51), (env(7), 52)],
                               "value string, offset long")
    rows = debezium_to_raw(df, subsecond_tiebreak=True,
                           order_col="offset").collect()
    assert all(r["event_unixtime"] == 1_000_000 for r in rows), \
        "stamps must keep the exact wire value"
    assert sorted(r[WIRE_SEQ_COL] for r in rows) == [51, 52]
    # plain decode: 6-column schema, no seq
    assert WIRE_SEQ_COL not in debezium_to_raw(df).columns


def test_wire_seq_survives_spool_roundtrip(spark, tmp_path):
    """The broker hop (JSON spool write -> RAW_EVENT_WIRE_SCHEMA read)
    must carry the wire-order column; payloads written WITHOUT it must
    still parse (null seq = pre-upgrade contract)."""
    from synch_spark.broker import write_event_spool
    from synch_spark.events import (
        RAW_EVENT_SCHEMA,
        RAW_EVENT_WIRE_SCHEMA,
        WIRE_SEQ_COL,
    )

    spool = str(tmp_path / "spool")
    with_seq = spark.createDataFrame(
        [("db", "t", "insert", None, '{"id":1}', 1_000_000, 7),
         ("db", "t", "insert", None, '{"id":2}', 1_000_000, 8)],
        RAW_EVENT_WIRE_SCHEMA)
    write_event_spool(with_seq, spool, "a")
    without = spark.createDataFrame(
        [("db", "t", "insert", None, '{"id":3}', 2_000_000)],
        RAW_EVENT_SCHEMA)
    write_event_spool(without, spool, "b")
    back = spark.read.schema(RAW_EVENT_WIRE_SCHEMA).json(spool)
    got = {r["after"]: r[WIRE_SEQ_COL] for r in back.collect()}
    assert got == {'{"id":1}': 7, '{"id":2}': 8, '{"id":3}': None}


def test_archive_guard_understands_brace_alternation(spark, tmp_path):
    """Spark globs support {a,b}; fnmatch does not — an archive dir
    inside an alternation-matched source must still be refused."""
    from synch_spark.config import SyncConfig
    from synch_spark.streaming.pipeline import CdcPipeline

    pipe = CdcPipeline(spark=spark, cfg=SyncConfig(),
                       warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ckpt"))
    src = str(tmp_path / "{cdc,cdc2}")
    with pytest.raises(ValueError, match="re-ingest"):
        pipe.start_file_stream(src, clean_source="archive",
                               archive_dir=str(tmp_path / "cdc" / "arch"))
    # a sibling outside both alternatives passes validation
    (tmp_path / "cdc").mkdir()
    q = pipe.start_file_stream(str(tmp_path / "{cdc,cdc2}"),
                               available_now=True,
                               clean_source="archive",
                               archive_dir=str(tmp_path / "elsewhere"))
    q.awaitTermination(60)
