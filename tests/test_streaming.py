"""End-to-end continuous CDC: file event stream -> foreachBatch -> tables.

Mirrors the reference's consumer tests but replayable: JSON event files
stand in for the broker; availableNow processes everything then stops.
Covers: update-split, last-wins dedup, delete, DDL barrier mid-stream,
checkpoint resume, the per-batch monitor record in the commit."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from synch_spark.config import Engine, SyncConfig, TableSpec
from synch_spark.sources.table import ParquetTable
from synch_spark.streaming.pipeline import CdcPipeline

VALUE_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("amount", T.DoubleType())]
)


def _write_events(path, events):
    with open(path, "w") as f:
        for schema, table, action, before, after, us in events:
            f.write(
                json.dumps(
                    {
                        "schema": schema,
                        "table": table,
                        "action": action,
                        "before": json.dumps(before) if before else None,
                        "after": json.dumps(after) if after else None,
                        "event_unixtime": us,
                    }
                )
                + "\n"
            )


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = SyncConfig()
    cfg.add_table(
        TableSpec(schema="db", table="t", pk=("id",), engine=Engine.REPLACING_MERGE_TREE)
    )
    return CdcPipeline(
        spark=spark,
        cfg=cfg,
        warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": VALUE_SCHEMA},
    )


def _run(pipeline, events_dir):
    q = pipeline.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)


def test_stream_cdc_end_to_end(spark, tmp_path, pipeline):
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(
        events_dir / "batch1.json",
        [
            ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
            ("db", "t", "insert", None, {"id": 2, "amount": 2.0}, 101),
            ("db", "t", "update", {"id": 1, "amount": 1.0}, {"id": 1, "amount": 9.0}, 102),
            ("db", "t", "delete", {"id": 2, "amount": 2.0}, None, 103),
            ("db", "t", "insert", None, {"id": 3, "amount": 3.0}, 104),
        ],
    )
    _run(pipeline, events_dir)
    table = ParquetTable(spark, f"{pipeline.warehouse}/db/t")
    rows = {r["id"]: r["amount"] for r in table.read().select("id", "amount").collect()}
    assert rows == {1: 9.0, 3: 3.0}
    # the batch's monitor record rides in the commit it made (5 events
    # in, stream batch 0); no separate monitor table is written
    assert table.history()[-1]["info"] == {
        "alias": "default", "batch": 0, "num": 5, "type": 2}
    assert not os.path.exists(f"{pipeline.warehouse}/_synch_log")


def test_stream_resume_from_checkpoint(spark, tmp_path, pipeline):
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(
        events_dir / "b1.json",
        [("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100)],
    )
    _run(pipeline, events_dir)
    # second run: only the new file is processed (checkpointed offsets)
    _write_events(
        events_dir / "b2.json",
        [("db", "t", "update", {"id": 1, "amount": 1.0}, {"id": 1, "amount": 5.0}, 200)],
    )
    _run(pipeline, events_dir)
    table = ParquetTable(spark, f"{pipeline.warehouse}/db/t")
    rows = {r["id"]: r["amount"] for r in table.read().select("id", "amount").collect()}
    assert rows == {1: 5.0}


def test_multi_table_single_stream(spark, tmp_path):
    """Two tables interleaved on ONE stream route to their own targets —
    the reference's consumer-per-schema model collapsed into one query."""
    from synch_spark.config import SyncConfig

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t1", pk=("id",)))
    cfg.add_table(TableSpec(schema="db", table="t2", pk=("id",)))
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        value_schemas={"db.t1": VALUE_SCHEMA, "db.t2": VALUE_SCHEMA},
    )
    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    _write_events(events_dir / "b.json", [
        ("db", "t1", "insert", None, {"id": 1, "amount": 1.0}, 100),
        ("db", "t2", "insert", None, {"id": 1, "amount": 10.0}, 101),
        ("db", "t1", "update", {"id": 1, "amount": 1.0}, {"id": 1, "amount": 2.0}, 102),
        ("db", "t2", "delete", {"id": 1, "amount": 10.0}, None, 103),
        ("db", "t2", "insert", None, {"id": 2, "amount": 20.0}, 104),
    ])
    q = pipe.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)
    t1 = {r["id"]: r["amount"] for r in ParquetTable(spark, f"{pipe.warehouse}/db/t1").read().select("id", "amount").collect()}
    t2 = {r["id"]: r["amount"] for r in ParquetTable(spark, f"{pipe.warehouse}/db/t2").read().select("id", "amount").collect()}
    assert t1 == {1: 2.0}
    assert t2 == {2: 20.0}


def test_ddl_barrier_mid_stream(spark, tmp_path, pipeline):
    """Insert -> ALTER ADD COLUMN -> insert with the new column: the DDL
    splits the batch; post-DDL events parse with the evolved schema."""
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(
        events_dir / "b1.json",
        [
            ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
            (
                "db", "t", "query", None,
                {"query": "ALTER TABLE db.t ADD COLUMN note varchar(16) DEFAULT 'x'"},
                150,
            ),
            ("db", "t", "insert", None, {"id": 2, "amount": 2.0, "note": "hi"}, 200),
        ],
    )
    _run(pipeline, events_dir)
    table = ParquetTable(spark, f"{pipeline.warehouse}/db/t")
    out = {r["id"]: r["note"] for r in table.read().select("id", "note").collect()}
    assert out == {1: "x", 2: "hi"}


def test_pipeline_maintains_blooms_for_partitioned_tables(spark, tmp_path):
    """Every micro-batch commit leaves its new merge files indexed (key
    range in the entry, bloom beside the file), so later batches can
    prune them instead of rewriting on every range overlap (rewrite
    amplification until compaction)."""
    import os

    from pyspark.sql import types as T

    from synch_spark.sources.bloom import sidecar_path

    from synch_spark.config import Engine, SyncConfig, TableSpec

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="pt", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE, partition_by="part"))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("part", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    pipe = CdcPipeline(spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ck"),
                       value_schemas={"db.pt": schema})
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(events_dir / "e1.json", [
        ("db", "pt", "insert", None, {"id": i, "part": "a" if i % 2 else "b",
                                      "amount": float(i)}, 100 + i)
        for i in range(50)
    ])
    q = pipe.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)
    table = pipe.table_for(cfg.tables["db.pt"])
    files = table.snapshot().files
    assert files
    for rel, stats in files.items():
        assert "id" in stats, "every current data file must carry its range"
        assert os.path.exists(sidecar_path(table._abs(rel))), \
            "every current data file must carry a bloom"
    assert table.read().count() == 50


def test_kafka_stream_reports_missing_connector(spark, tmp_path):
    """No kafka connector jar in this container: the consumer must fail
    with an actionable message (mirror of the producer-side contract)."""
    from synch_spark.config import SyncConfig

    pipe = CdcPipeline(spark=spark, cfg=SyncConfig(),
                       warehouse=str(tmp_path / "wh"),
                       checkpoint_dir=str(tmp_path / "ck"), value_schemas={})
    with pytest.raises(RuntimeError, match="spark-sql-kafka connector"):
        pipe.start_kafka_stream("localhost:9092", "synch.db")


def test_one_row_append_adds_exactly_one_data_file(spark, tmp_path):
    """A one-row append pools one data file: the empty part files
    Spark writes for the frame's empty tasks are dropped at promotion
    instead of joining every later read."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    row = "alias string, num long"
    t.append(spark.createDataFrame([("a1", 0)], row))
    before = set(t.snapshot().files)
    t.append(spark.createDataFrame([("a1", 1)], row))
    added = set(t.snapshot().files) - before
    assert len(added) == 1, f"one row pooled {len(added)} files"
    assert t.read().count() == 2


def test_kafka_source_options_assign_passthrough():
    """B4 parity contract (no broker needed): subscribe by default;
    assign_partitions switches to Kafka manual assignment with the
    source's JSON shape ({topic: [partitions]}, the reference pins
    partition = database-index, synch/broker/kafka.py:40-61); explicit
    startingOffsets passes through as string or JSON-encoded dict."""
    from synch_spark.streaming.pipeline import kafka_source_options

    base = kafka_source_options("k:9092", "synch.db", 1000)
    assert base == {"kafka.bootstrap.servers": "k:9092",
                    "maxOffsetsPerTrigger": "1000",
                    "subscribe": "synch.db"}
    a = kafka_source_options("k:9092", "synch.db", 500,
                             assign_partitions={"synch.db": [2, 0]})
    assert "subscribe" not in a
    assert a["assign"] == '{"synch.db":[0,2]}'
    s = kafka_source_options("k:9092", "t", 1, starting_offsets="earliest")
    assert s["startingOffsets"] == "earliest"
    s2 = kafka_source_options(
        "k:9092", "t", 1, assign_partitions={"t": [0]},
        starting_offsets={"t": {"0": 42}})
    assert s2["startingOffsets"] == '{"t":{"0":42}}'


@pytest.mark.slow
def test_warm_streaming_idempotent(spark):
    """warm_streaming pays the streaming machinery spin-up once in the
    shared sub-session (bench setup path): first call does real work,
    second call is a no-op returning 0.0, and no warm-up temp views
    leak into the sub-session catalog."""
    from synch_spark.plans.advanced import _stream_session, warm_streaming

    first = warm_streaming(spark)
    assert first > 0.0
    assert warm_streaming(spark) == 0.0
    sub = _stream_session(spark)
    leaked = [v.name for v in sub.catalog.listTables()
              if v.name.startswith("_synch_warm_")]
    assert leaked == []


def test_rocksdb_state_store_backend(spark):
    """spark.synch.stream.statestore=rocksdb switches the streaming
    sub-session to Spark's bundled RocksDB provider (the bounded-memory
    deployment setting for large state) and stateful results are
    identical to the default heap-backed store."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    q102 = m.queries()["q102_streaming_dedup"]
    base = sorted(tuple(r) for r in q102(spark, sf).collect())

    from synch_spark.plans.advanced import _stream_session

    parent = spark.newSession()
    parent.conf.set("spark.synch.stream.statestore", "rocksdb")
    sub = _stream_session(parent)
    assert "RocksDBStateStoreProvider" in sub.conf.get(
        "spark.sql.streaming.stateStore.providerClass")
    got = sorted(tuple(r) for r in q102(parent, sf).collect())
    assert got == base


@pytest.mark.slow
def test_stream_session_bench_knobs(spark):
    """The bench-path knobs — tmpfs checkpoint root and skipping the
    terminal watermark-only micro-batch — change WHERE checkpoints live
    and how many batches run, never the emitted rows: every suite query
    emits on arrival (complete-mode aggs, inner stream-stream join,
    arrival-emitting custom state), so the no-data batch is pure state
    eviction for a checkpoint a one-shot run discards."""
    import os
    import tempfile

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    qs = m.queries()
    names = ["q58_streaming_sessions", "q71_stream_stream_join"]
    base = {n: sorted(tuple(r) for r in qs[n](spark, sf).collect()) for n in names}

    from synch_spark.plans.advanced import _stream_session

    ckpt = tempfile.mkdtemp(prefix="synch-knob-ckpt-")
    parent = spark.newSession()
    parent.conf.set("spark.synch.stream.checkpoint.dir", ckpt)
    parent.conf.set("spark.synch.stream.nodata", "false")
    sub = _stream_session(parent)
    assert sub.conf.get("spark.sql.streaming.checkpointLocation") == ckpt
    assert sub.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled") == "false"
    for n in names:
        got = sorted(tuple(r) for r in qs[n](parent, sf).collect())
        assert got == base[n], n
    # the checkpoint root was actually used
    assert os.listdir(ckpt)


def test_first_per_key_skips_null_ts(spark, tmp_path):
    """A NULL event-time row must not win 'first per key': NaT maps to
    int64 MIN in the numpy view, so an unmasked argmin would emit the
    null row and permanently suppress the real first event."""
    from pyspark.sql import functions as F

    from synch_spark.plans.advanced import _stream_session
    from synch_spark.streaming.stateful import streaming_first_per_key

    sub = _stream_session(spark)
    src = tmp_path / "ev"
    (sub.createDataFrame(
        [(1, "2024-01-02 00:00:00", "b"), (1, None, "nullrow"),
         (1, "2024-01-01 00:00:00", "a"), (2, None, "only-null")],
        "user_id long, ts_s string, event_type string")
     .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
     .coalesce(1).write.parquet(str(src)))
    schema = sub.read.parquet(str(src)).schema
    stream = sub.readStream.schema(schema).parquet(str(src))
    out = streaming_first_per_key(
        stream, "user_id", "ts", "user_id long, ts timestamp, event_type string")
    name = "first_null_ts"
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["user_id"]: r["event_type"] for r in sub.table(name).collect()}
    sub.catalog.dropTempView(name)
    assert rows[1] == "a"  # real earliest, not the NaT row
    assert rows[2] == "only-null"  # all-null key falls back to first row


def test_decimal_mode_defaults_precise_on_debezium_stream(pipeline):
    """Unset debezium_decimal_mode must resolve to the connector's own
    default ("precise") on a Debezium-format stream — "auto"'s
    plain-first read silently misdecodes base64 payloads that also
    parse numerically ('9999', '1e10') — and to plain-first "auto" on
    native streams, whose producer never emits base64. An explicit
    setting always wins."""
    assert pipeline.debezium_decimal_mode is None
    assert pipeline._decimal_mode(debezium_types=True) == "precise"
    assert pipeline._decimal_mode(debezium_types=False) == "auto"
    pipeline.debezium_decimal_mode = "string"
    assert pipeline._decimal_mode(debezium_types=True) == "string"
    assert pipeline._decimal_mode(debezium_types=False) == "string"

def _raw_df(spark, events):
    from synch_spark.events import RAW_EVENT_SCHEMA

    rows = [
        (s, t, a,
         json.dumps(b) if isinstance(b, dict) else b,
         json.dumps(af) if isinstance(af, dict) else af,
         us)
        for s, t, a, b, af, us in events
    ]
    return spark.createDataFrame(rows, RAW_EVENT_SCHEMA)


def test_unparseable_ddl_dead_letters_instead_of_wedging(spark, tmp_path, pipeline):
    """A DDL the parser can't handle (e.g. RENAME TO) must dead-letter
    with the stream advancing — a crash loop on the same checkpointed
    event can never self-heal."""
    batch = _raw_df(spark, [
        ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
        ("db", "t", "query", None, {"query": "ALTER TABLE db.t RENAME TO t2"}, 150),
        ("db", "t", "insert", None, {"id": 2, "amount": 2.0}, 200),
    ])
    pipeline.apply_batch(batch, 0)  # must not raise
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert {r["id"] for r in t.read().collect()} == {1, 2}
    dl = ParquetTable(spark, str(tmp_path / "wh" / "_synch_dead_letter_ddl"))
    assert dl.exists and dl.read().count() == 1
    assert "unparseable" in dl.read().collect()[0]["_reason"]


def test_layout_drop_refused_and_rename_followed(spark, tmp_path, pipeline):
    """Dropping the pk column dead-letters (the pipeline keys on it);
    renaming it is followed in-memory so later merges still work."""
    spec = pipeline.cfg.tables["db.t"]
    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
    ]), 0)
    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "query", None, {"query": "ALTER TABLE db.t DROP COLUMN id"}, 150),
    ]), 1)
    dl = ParquetTable(spark, str(tmp_path / "wh" / "_synch_dead_letter_ddl"))
    assert dl.exists and "pk/partition" in dl.read().collect()[0]["_reason"]
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert "id" in t.read().columns  # drop NOT applied

    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "query", None,
         {"query": "ALTER TABLE db.t CHANGE id doc_id bigint"}, 160),
    ]), 2)
    assert spec.pk == ("doc_id",)
    assert "doc_id" in t.read().columns and "id" not in t.read().columns
    # merges keyed on the NEW name work (value schema evolved too)
    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "update", {"doc_id": 1, "amount": 1.0},
         {"doc_id": 1, "amount": 5.0}, 200),
    ]), 3)
    got = {r["doc_id"]: r["amount"] for r in t.read().collect()}
    assert got == {1: 5.0}


def test_ddl_rewrite_indexes_its_files_on_the_renamed_key(spark, tmp_path,
                                                         pipeline):
    """A layout ALTER rewrites the table: every file it publishes
    carries its key range in the entry and its bloom beside it, under
    the key's new name, so later merges can prune it."""
    from synch_spark.sources.bloom import sidecar_path

    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "insert", None, {"id": i, "amount": float(i)}, 100 + i)
        for i in range(20)
    ]), 0)
    pipeline.apply_batch(_raw_df(spark, [
        ("db", "t", "query", None,
         {"query": "ALTER TABLE db.t CHANGE id doc_id bigint"}, 160),
    ]), 1)
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert t.history()[-1]["op"] == "overwrite", "the ALTER must rewrite"
    files = t.snapshot().files
    assert files
    for rel, stats in files.items():
        assert stats.get("doc_id"), f"{rel} has no key range"
        assert os.path.exists(sidecar_path(t._abs(rel))), f"{rel} has no bloom"


def test_null_event_unixtime_applies_even_with_ddl_in_batch(spark, tmp_path, pipeline):
    """A NULL-stamped row used to fail BOTH sides of every DDL-segment
    filter and vanish silently; it must apply (earliest segment). The
    batch arrives via a JSON read like the real source — the declared
    non-nullability of event_unixtime is advisory there, so a missing
    field really does yield NULL."""
    from synch_spark.events import RAW_EVENT_SCHEMA

    p = tmp_path / "nullts.json"
    with open(p, "w") as f:
        f.write(json.dumps({
            "schema": "db", "table": "t", "action": "insert",
            "after": json.dumps({"id": 7, "amount": 7.0}),
        }) + "\n")
        f.write(json.dumps({
            "schema": "db", "table": "t", "action": "query",
            "after": json.dumps(
                {"query": "ALTER TABLE db.t ADD COLUMN note varchar(8)"}),
            "event_unixtime": 150,
        }) + "\n")
        f.write(json.dumps({
            "schema": "db", "table": "t", "action": "insert",
            "after": json.dumps({"id": 8, "amount": 8.0}),
            "event_unixtime": 200,
        }) + "\n")
    batch = spark.read.schema(RAW_EVENT_SCHEMA).json(str(p))
    pipeline.apply_batch(batch, 0)
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    assert {r["id"] for r in t.read().collect()} == {7, 8}


def test_batch_bookkeeping_dead_letter_skip_ddl_segments_and_num(spark,
                                                                 tmp_path):
    """One batch holding every kind of bookkeeping the micro-batch
    prologue does: an unroutable row (NULL table), two tables, a delete
    skipped through skip_delete_tables, and an ADD COLUMN between data
    rows. The bad row is dead-lettered with its _epoch, the ALTER lands
    between the two segments, each segment's commit records the source
    events it kept as its monitor ``num``, and nothing else is
    written."""
    cfg = SyncConfig(skip_delete_tables=("db.t",))
    # a window wide enough for history() to list every commit
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE, retain=8))
    cfg.add_table(TableSpec(schema="db", table="u", pk=("id",),
                            engine=Engine.COLLAPSING_MERGE_TREE, retain=8))
    wh = tmp_path / "wh"
    pipe = CdcPipeline(spark=spark, cfg=cfg, warehouse=str(wh),
                       checkpoint_dir=str(tmp_path / "ckpt"),
                       value_schemas={"db.t": VALUE_SCHEMA,
                                      "db.u": VALUE_SCHEMA})

    def row(k, note):
        return {"id": k, "amount": float(k), "note": note}

    def raw_df(events):
        # a parsed source marks nothing non-nullable (see the JSON read
        # above); the declared schema would refuse the unroutable row
        from synch_spark.events import RAW_EVENT_SCHEMA

        nullable = T.StructType([T.StructField(f.name, f.dataType)
                                 for f in RAW_EVENT_SCHEMA.fields])
        return spark.createDataFrame([
            (s, t, a, json.dumps(b) if b else None,
             json.dumps(af) if af else None, us)
            for s, t, a, b, af, us in events], nullable)

    pipe.apply_batch(raw_df([
        ("db", "t", "insert", None, row(1, "a"), 100),
        ("db", "t", "insert", None, row(3, "a"), 100),
        ("db", "u", "insert", None, row(1, "a"), 100),
        ("db", "t", "delete", row(1, "a"), None, 110),  # skipped
        ("db", None, "insert", None, row(9, "a"), 120),  # unroutable
        ("db", "t", "query", None,
         {"query": "ALTER TABLE db.t ADD COLUMN note varchar(8)"}, 150),
        ("db", "t", "insert", None, row(2, "b"), 200),
        ("db", "t", "update", row(1, "a"), row(1, "c"), 210),
        ("db", "u", "delete", row(1, "a"), None, 200),
        ("db", "u", "insert", None, row(2, "b"), 210),
    ]), 7)

    dead = ParquetTable(spark, str(wh / "_synch_dead_letter")).read()
    assert [(r["schema"], r["table"], r["_epoch"]) for r in dead.collect()] \
        == [("db", None, "7")]
    t = ParquetTable(spark, str(wh / "db" / "t"), retain=8)
    # rows before the ALTER parsed without the column; rows after, with it
    assert sorted((r["id"], r["note"]) for r in t.read().collect()) == [
        (1, "c"), (2, "b"), (3, None)]
    rec = {"alias": "default", "batch": 7, "type": 2}
    assert [(h["op"], h["info"]) for h in t.history()] == [
        ("overwrite", {**rec, "num": 2}), ("ddl", None),
        ("merge", {**rec, "num": 2})]
    u = ParquetTable(spark, str(wh / "db" / "u"), retain=8)
    assert [h["info"] for h in u.history()] == [
        {**rec, "num": 1}, {**rec, "num": 2}]
    assert sorted(os.listdir(wh)) == ["_synch_dead_letter", "db"]
    assert sorted(os.listdir(wh / "db")) == ["t", "u"]


def test_collapsing_replay_same_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch replays the whole micro-batch after a late failure;
    the collapsing append is NOT last-wins, so without the epoch marker
    the +1 rows would land twice (net sign 2 — a later delete could
    never cancel the row)."""
    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="c", pk=("id",),
                            engine=Engine.COLLAPSING_MERGE_TREE))
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.c": VALUE_SCHEMA},
    )
    batch = _raw_df(spark, [
        ("db", "c", "insert", None, {"id": 1, "amount": 1.0}, 100),
    ])
    pipe.apply_batch(batch, 5)
    pipe.apply_batch(batch, 5)  # replay of the SAME epoch
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "c"))
    assert t.read().count() == 1, "replayed append duplicated signed rows"
    # a delete can still cancel
    pipe.apply_batch(_raw_df(spark, [
        ("db", "c", "delete", {"id": 1, "amount": 1.0}, None, 200),
    ]), 6)
    from synch_spark.operators.cdc_apply import read_current_state

    assert read_current_state(t, cfg.tables["db.c"]).count() == 0
    # a NEW epoch still applies
    pipe.apply_batch(_raw_df(spark, [
        ("db", "c", "insert", None, {"id": 2, "amount": 2.0}, 300),
    ]), 7)
    assert read_current_state(t, cfg.tables["db.c"]).count() == 1


def test_mv_replay_same_epoch_does_not_double_count(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE))
    view = MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", group_cols=["id"],
        sum_cols=["amount"])
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": VALUE_SCHEMA}, views=[view],
    )
    batch = _raw_df(spark, [
        ("db", "t", "insert", None, {"id": 1, "amount": 3.0}, 100),
    ])
    pipe.apply_batch(batch, 9)
    pipe.apply_batch(batch, 9)  # replay: table merge idempotent, fold must skip
    got = view.table.read().collect()
    assert len(got) == 1 and float(got[0]["amount_delta"]) == 3.0, got


def test_value_schema_restored_from_table_after_restart(spark, tmp_path):
    """DDL evolves value_schemas in memory; a RESTARTED pipeline rebuilt
    from static YAML config must recover the evolved schema from the
    stored table, or every post-DDL column silently NULLs."""
    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE))

    def mk():
        return CdcPipeline(
            spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            value_schemas={"db.t": VALUE_SCHEMA},  # static config schema
        )

    p1 = mk()
    p1.apply_batch(_raw_df(spark, [
        ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
        ("db", "t", "query", None,
         {"query": "ALTER TABLE db.t ADD COLUMN note varchar(16)"}, 150),
        ("db", "t", "insert", None,
         {"id": 2, "amount": 2.0, "note": "pre-restart"}, 200),
    ]), 0)

    p2 = mk()  # RESTART: fresh value_schemas from config
    p2.apply_batch(_raw_df(spark, [
        ("db", "t", "insert", None,
         {"id": 3, "amount": 3.0, "note": "post-restart"}, 300),
    ]), 1)
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"))
    got = {r["id"]: r["note"] for r in t.read().collect()}
    assert got[3] == "post-restart", f"note column silently dropped: {got}"
    assert got[2] == "pre-restart"


def test_truncate_empties_target_under_barrier(spark, tmp_path):
    """TRUNCATE arrives as a 'query' action (MySQL binlog QUERY event /
    pgoutput Truncate message) and rides the DDL barrier: rows before
    it apply, the target empties, rows after it repopulate. The
    pre-truncate version stays reachable through time travel (with
    retention deep enough to hold it — the default retain=2 ages it
    out after the truncate + repopulate commits, as it would any other
    superseded version)."""
    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",),
                            engine=Engine.REPLACING_MERGE_TREE, retain=5))
    pipeline = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": VALUE_SCHEMA},
    )
    batch = _raw_df(spark, [
        ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100),
        ("db", "t", "insert", None, {"id": 2, "amount": 2.0}, 101),
        ("db", "t", "query", None, {"query": "TRUNCATE TABLE db.t"}, 150),
        ("db", "t", "insert", None, {"id": 9, "amount": 9.0}, 200),
    ])
    pipeline.apply_batch(batch, 0)
    # read handle needs the same retention window, or versions() clips
    # to the default retain=2 and the pre-truncate version is invisible
    t = ParquetTable(spark, str(tmp_path / "wh" / "db" / "t"), retain=5)
    assert {r["id"] for r in t.read().collect()} == {9}
    # nothing dead-lettered: the statement APPLIED
    dl = ParquetTable(spark, str(tmp_path / "wh" / "_synch_dead_letter_ddl"))
    assert not dl.exists
    # the pre-truncate state survives in history (destructive ops on
    # the store are always version-reversible)
    pre = [v for v in t.versions() if
           {r["id"] for r in t.read(version=v).collect()} == {1, 2}]
    assert pre, "no version holds the pre-truncate rows"


def test_truncate_statement_forms(spark, tmp_path, pipeline):
    """MySQL emits `TRUNCATE TABLE `db`.`t``, pgoutput synthesizes
    `TRUNCATE db.t`, bare `TRUNCATE t` is also legal — all must apply,
    while TRUNCATE-prefixed non-statements must not."""
    from synch_spark.streaming.pipeline import _TRUNCATE_RE

    for sql in ("TRUNCATE TABLE db.t", "TRUNCATE db.t", "truncate t;",
                "TRUNCATE TABLE `db`.`t`", 'TRUNCATE "db"."t"'):
        assert _TRUNCATE_RE.match(sql), sql
    for sql in ("TRUNCATE TABLE db.t CASCADE RESTART IDENTITY EXTRA junk",
                "ALTER TABLE db.t ADD COLUMN x int"):
        assert not _TRUNCATE_RE.match(sql), sql
    # a truncate for an untracked table is ignored (spec is None)
    batch = _raw_df(spark, [
        ("db", "other", "query", None, {"query": "TRUNCATE db.other"}, 100),
    ])
    pipeline.apply_batch(batch, 0)  # must not raise


def test_file_stream_clean_source_delete_bounds_spool(spark, tmp_path, pipeline):
    """clean_source='delete': a consumed spool file is removed after
    its batch commits — the spool stays bounded instead of growing
    forever. (The file source's own cleanSource machinery: cleanup is
    post-commit, so at-least-once is unchanged.)"""
    import os
    import time

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(events_dir / "b1.json", [
        ("db", "t", "insert", None, {"id": 1, "amount": 1.0}, 100)])
    q = pipeline.start_file_stream(str(events_dir), available_now=True,
                                   clean_source="delete")
    q.awaitTermination(120)
    t = ParquetTable(spark, f"{pipeline.warehouse}/db/t")
    assert {r["id"] for r in t.read().collect()} == {1}
    # the source cleans a COMPLETED batch's files while processing a
    # subsequent batch — drive a second drain and poll
    _write_events(events_dir / "b2.json", [
        ("db", "t", "insert", None, {"id": 2, "amount": 2.0}, 200)])
    q = pipeline.start_file_stream(str(events_dir), available_now=True,
                                   clean_source="delete")
    q.awaitTermination(120)
    deadline = time.time() + 30
    while time.time() < deadline and os.path.exists(events_dir / "b1.json"):
        time.sleep(0.2)
    assert not os.path.exists(events_dir / "b1.json"), \
        "consumed spool file must be deleted by cleanSource"
    assert {r["id"] for r in t.read().collect()} == {1, 2}


def test_file_stream_clean_source_validation(spark, tmp_path, pipeline):
    with pytest.raises(ValueError, match="delete | archive"):
        pipeline.start_file_stream(str(tmp_path), clean_source="nuke")
    with pytest.raises(ValueError, match="archive_dir"):
        pipeline.start_file_stream(str(tmp_path), clean_source="archive")


def test_wal2json_kafka_format_requires_string_parse(spark, tmp_path):
    """value_format=wal2json without spark.value_parse: string would
    silently null quoted numerics through the typed from_json — the
    conflict must surface at stream START."""
    cfg = SyncConfig()
    cfg.add_table(TableSpec(schema="db", table="t", pk=("id",)))
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        value_schemas={"db.t": VALUE_SCHEMA}, string_values=False,
    )
    with pytest.raises(ValueError, match="value_parse: string"):
        pipe.start_kafka_stream("localhost:9", "topic",
                                value_format="wal2json")


def test_inference_hidden_set_matches_restore_hidden_set(spark, tmp_path):
    """ONE definition of pipeline-internal target columns: consume's
    value-schema inference must strip exactly what schema restore
    strips (a divergence crash-loops collapsing tables on a duplicated
    _event_unixtime)."""
    from synch_spark.streaming.pipeline import hidden_target_columns

    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    assert hidden_target_columns(spec) == {"sign", "_event_unixtime",
                                           "_sgen"}


def test_wal2json_fallback_accepts_column_expression(spark):
    """A Column fallback (unix_micros(current_timestamp())) must be
    accepted so STREAMING decode restamps per micro-batch instead of
    freezing the plan-build instant for the stream's lifetime."""
    import json as _json

    from pyspark.sql import functions as F

    from synch_spark.events import wal2json_to_raw

    payload = _json.dumps({
        "action": "I", "schema": "db", "table": "t",
        "columns": [{"name": "id", "value": 1}]})  # NO timestamp field
    df = spark.createDataFrame([(payload,)], "value string")
    before_us = int(__import__("time").time() * 1_000_000)
    got = wal2json_to_raw(
        df, fallback_unixtime_us=F.unix_micros(F.current_timestamp())
    ).collect()[0]
    assert got["event_unixtime"] >= before_us - 5_000_000


def test_file_stream_archive_dir_inside_source_refused(spark, tmp_path,
                                                       pipeline):
    """clean_source='archive' with archive_dir under the source glob's
    reach: Spark would re-ingest every archived file as new input (an
    infinite loop). The overlap must be refused at configure time, not
    discovered in production."""
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    with pytest.raises(ValueError, match="re-ingest"):
        pipeline.start_file_stream(
            str(events_dir), clean_source="archive",
            archive_dir=str(events_dir / "archive"))
    # same dir entirely
    with pytest.raises(ValueError, match="re-ingest"):
        pipeline.start_file_stream(
            str(events_dir), clean_source="archive",
            archive_dir=str(events_dir))
    # a glob source: refused iff the archive dir (or an ancestor)
    # MATCHES the pattern — files under a matched dir are input
    with pytest.raises(ValueError, match="re-ingest"):
        pipeline.start_file_stream(
            str(events_dir / "*"), clean_source="archive",
            archive_dir=str(events_dir / "done"))
    with pytest.raises(ValueError, match="re-ingest"):
        pipeline.start_file_stream(
            str(tmp_path / "ev-*" / "cdc"), clean_source="archive",
            archive_dir=str(tmp_path / "ev-1" / "cdc" / "arch"))
    # a shared static prefix WITHOUT a pattern match is legal (the
    # overlap check must not reduce a glob to its prefix dir): archive
    # /…/events/done can never match /…/events/*.json
    q = pipeline.start_file_stream(
        str(events_dir / "*.json"), available_now=True,
        clean_source="archive", archive_dir=str(events_dir / "done"))
    q.awaitTermination(60)
    # a sibling dir is fine — the stream starts (and is stopped at once)
    ok_dir = tmp_path / "archive"
    q = pipeline.start_file_stream(str(events_dir), available_now=True,
                                   clean_source="archive",
                                   archive_dir=str(ok_dir))
    q.awaitTermination(60)


def test_kafka_security_options_mapping():
    """The portable spark.kafka security keys (the socket transport's
    native vocabulary) translate to spark-sql-kafka CONNECTOR client
    options, so one config block drives both transports — pure,
    contract-tested without the jar."""
    import pytest

    from synch_spark.streaming.pipeline import kafka_security_options

    # plaintext, no auth: NO options injected (existing configs inert)
    assert kafka_security_options({"bootstrap_servers": "b:9092"}) == {}
    # SASL_SSL SCRAM — the managed-cluster shape
    opts = kafka_security_options({
        "ssl_mode": "verify-full", "ssl_ca": "/etc/ca.pem",
        "sasl_mechanism": "SCRAM-SHA-512",
        "sasl_username": "cdc", "sasl_password": 'p"w\\d'})
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    assert opts["kafka.sasl.mechanism"] == "SCRAM-SHA-512"
    assert opts["kafka.ssl.truststore.type"] == "PEM"
    assert opts["kafka.ssl.truststore.location"] == "/etc/ca.pem"
    # JAAS quoting: the password's quote and backslash escape
    assert opts["kafka.sasl.jaas.config"] == (
        "org.apache.kafka.common.security.scram.ScramLoginModule "
        'required username="cdc" password="p\\"w\\\\d";')
    # verify-full keeps hostname checking (no algorithm override)
    assert "kafka.ssl.endpoint.identification.algorithm" not in opts
    # require/verify-ca disable hostname checking only
    opts2 = kafka_security_options({"ssl_mode": "require"})
    assert opts2["kafka.security.protocol"] == "SSL"
    assert opts2["kafka.ssl.endpoint.identification.algorithm"] == ""
    # SASL without TLS -> SASL_PLAINTEXT; PLAIN -> PlainLoginModule
    opts3 = kafka_security_options({
        "sasl_mechanism": "PLAIN", "sasl_username": "u",
        "sasl_password": "p"})
    assert opts3["kafka.security.protocol"] == "SASL_PLAINTEXT"
    assert "plain.PlainLoginModule" in opts3["kafka.sasl.jaas.config"]
    # verbatim passthrough, auto-prefixed
    opts4 = kafka_security_options({"options": {
        "ssl.keystore.location": "/etc/client.p12",
        "kafka.request.timeout.ms": 5000}})
    assert opts4["kafka.ssl.keystore.location"] == "/etc/client.p12"
    assert opts4["kafka.request.timeout.ms"] == "5000"
    # config mistakes are loud
    with pytest.raises(ValueError, match="sasl_username"):
        kafka_security_options({"sasl_mechanism": "PLAIN"})
    with pytest.raises(ValueError, match="unsupported"):
        kafka_security_options({"sasl_mechanism": "GSSAPI",
                                "sasl_username": "u",
                                "sasl_password": "p"})


def test_kafka_writer_options_carry_security():
    """The connector writers configure exactly kafka_writer_options —
    a pure map, contract-testable without the jar (the
    kafka_source_options pattern); reader options merge the same
    security map after the source options."""
    from synch_spark.broker import kafka_writer_options
    from synch_spark.streaming.pipeline import (
        kafka_security_options,
        kafka_source_options,
    )

    sec = kafka_security_options({
        "sasl_mechanism": "SCRAM-SHA-256", "sasl_username": "u",
        "sasl_password": "p", "ssl_mode": "verify-full"})
    w = kafka_writer_options("b:9092", sec)
    assert w["kafka.bootstrap.servers"] == "b:9092"
    assert w["kafka.security.protocol"] == "SASL_SSL"
    assert "ScramLoginModule" in w["kafka.sasl.jaas.config"]
    r = kafka_source_options("b:9092", "t", 100)
    r.update(sec)
    assert r["kafka.security.protocol"] == "SASL_SSL"
    assert r["subscribe"] == "t"
