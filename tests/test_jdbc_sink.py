"""JDBC sink (sinks.jdbc_sink) — the reference's delete+insert flush
live-tested against embedded Derby."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.sinks.jdbc_sink import JdbcSink, delete_statements


def test_delete_statements_shapes():
    one = delete_statements("db.t", ("id",), [(1,), (2,), (3,)], chunk=2)
    assert one == [
        ("DELETE FROM db.t WHERE id IN (?, ?)", [1, 2]),
        ("DELETE FROM db.t WHERE id IN (?)", [3]),
    ]
    comp = delete_statements("db.t", ("a", "b"), [(1, "x"), (2, "y'z")])
    assert comp == [
        ("DELETE FROM db.t WHERE (a = ? AND b = ?) OR (a = ? AND b = ?)",
         [1, "x", 2, "y'z"]),
    ]
    # values never enter the SQL text (dialect-proof against hostile keys)
    sql, params = delete_statements("db.t", ("id",), [("x'; DROP TABLE t --",)])[0]
    assert "DROP" not in sql and params == ["x'; DROP TABLE t --"]


def _events(spark, rows):
    # (action, k, v, us)
    return spark.createDataFrame(
        rows, "action string, K long, V double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


def test_jdbc_sink_delete_insert_roundtrip(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    spec = TableSpec(schema="db", table="t", pk=("K",),
                     engine=Engine.REPLACING_MERGE_TREE)
    try:
        spark.range(10).select(
            F.col("id").alias("K"), (F.col("id") * 1.0).alias("V")
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "APP.TARGET"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")

    sink = JdbcSink(spark, url, "APP.TARGET")
    # batch: update K=3, delete K=4, insert K=100, and an
    # insert-then-delete of K=101 that must net to nothing
    batch = _events(spark, [
        ("update", 3, 33.0, 10),
        ("delete", 4, None, 11),
        ("insert", 100, 100.0, 12),
        ("insert", 101, 1.0, 13),
        ("delete", 101, None, 14),
    ])
    sink.apply_batch(batch, spec, value_columns=["K", "V"])

    back = {
        r["K"]: r["V"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.TARGET").load().collect()
    }
    assert back[3] == 33.0
    assert 4 not in back and 101 not in back
    assert back[100] == 100.0
    assert len(back) == 10  # 10 - deleted(4) + inserted(100)

    # replay idempotence (at-least-once redelivery converges)
    sink.apply_batch(batch, spec, value_columns=["K", "V"])
    back2 = {
        r["K"]: r["V"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.TARGET").load().collect()
    }
    assert back2 == back


def test_jdbc_sink_keeps_the_batch_max_version(spark, tmp_path):
    """A Replacing table with its version column keeps the batch's
    max-version upsert, as the parquet merge does."""
    url = f"jdbc:derby:{tmp_path}/sinkdbv;create=true"
    spec = TableSpec(schema="db", table="t", pk=("K",),
                     engine=Engine.REPLACING_MERGE_TREE, version_column="V")
    try:
        spark.range(3).select(
            F.col("id").alias("K"), (F.col("id") * 1.0).alias("V")
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "APP.TV"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.TV")
    sink.apply_batch(_events(spark, [
        ("insert", 7, 5.0, 10), ("insert", 7, 3.0, 11),
    ]), spec, value_columns=["K", "V"])
    back = {
        r["K"]: r["V"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.TV").load().collect()
    }
    assert back == {0: 0.0, 1: 1.0, 2: 2.0, 7: 5.0}


def test_jdbc_sink_composite_pk(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/sinkdb2;create=true"
    spec = TableSpec(schema="db", table="t", pk=("A", "B"),
                     engine=Engine.REPLACING_MERGE_TREE)
    try:
        # Derby maps Spark strings to CLOB, which can't compare to CHAR
        # literals — pin VARCHAR (MySQL/ClickHouse map strings natively)
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0), (2, "x", 3.0)], "A long, B string, V double"
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "APP.CT"
        ).option("createTableColumnTypes", "B VARCHAR(32)").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.CT")
    batch = spark.createDataFrame(
        [("update", 1, "y", 22.0, 10), ("delete", 2, "x", None, 11)],
        "action string, A long, B string, V double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))
    sink.apply_batch(batch, spec, value_columns=["A", "B", "V"])
    back = {
        (r["A"], r["B"]): r["V"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.CT").load().collect()
    }
    assert back == {(1, "x"): 1.0, (1, "y"): 22.0}


def test_stream_to_jdbc_sink_end_to_end(spark, tmp_path):
    """File event stream -> foreachBatch -> Derby over JDBC: the
    'Structured Streaming with a ClickHouse-shaped JDBC sink' deployment
    form, live end-to-end."""
    import json as _json

    from pyspark.sql import types as T

    from synch_spark.config import SyncConfig
    from synch_spark.streaming.pipeline import CdcPipeline

    url = f"jdbc:derby:{tmp_path}/e2edb;create=true"
    try:
        spark.range(0).select(
            F.col("id").alias("ID"), F.lit(0.0).alias("AMOUNT")
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "APP.T"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")

    spec = TableSpec(schema="db", table="t", pk=("ID",),
                     engine=Engine.REPLACING_MERGE_TREE)
    cfg = SyncConfig()
    cfg.add_table(spec)
    vschema = T.StructType([T.StructField("ID", T.LongType()),
                            T.StructField("AMOUNT", T.DoubleType())])
    pipe = CdcPipeline(
        spark=spark, cfg=cfg, warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ck"),
        value_schemas={"db.t": vschema},
        jdbc_sinks={"db.t": JdbcSink(spark, url, "APP.T")},
    )
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    evs = [
        {"schema": "db", "table": "t", "action": "insert", "before": None,
         "after": _json.dumps({"ID": i, "AMOUNT": float(i)}),
         "event_unixtime": 100 + i}
        for i in range(20)
    ] + [
        {"schema": "db", "table": "t", "action": "delete",
         "before": _json.dumps({"ID": 5, "AMOUNT": 5.0}), "after": None,
         "event_unixtime": 300},
        {"schema": "db", "table": "t", "action": "update",
         "before": _json.dumps({"ID": 6, "AMOUNT": 6.0}),
         "after": _json.dumps({"ID": 6, "AMOUNT": 66.0}),
         "event_unixtime": 301},
    ]
    with open(events_dir / "e1.json", "w") as f:
        for e in evs:
            f.write(_json.dumps(e) + "\n")
    q = pipe.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)
    back = {
        r["ID"]: r["AMOUNT"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.T").load().collect()
    }
    assert len(back) == 19 and 5 not in back and back[6] == 66.0


def test_jdbc_sink_ddl_channel(spark, tmp_path):
    """ALTER for a JDBC-sunk table executes on the target (the
    reference's to_clickhouse + execute) — live on Derby: ADD, widening
    MODIFY, DROP, and the statement forms themselves."""
    from synch_spark.ddl import parse_alter
    from synch_spark.sinks.jdbc_sink import alter_statements

    ops = parse_alter(
        "alter table db.t add column tag varchar(8), drop column old, "
        "modify column v bigint"
    )
    stmts = alter_statements("APP.D", ops)
    assert stmts == [
        "ALTER TABLE APP.D ADD COLUMN tag VARCHAR(1024)",
        "ALTER TABLE APP.D DROP COLUMN old",
        "ALTER TABLE APP.D ALTER COLUMN v SET DATA TYPE BIGINT",
    ]

    url = f"jdbc:derby:{tmp_path}/ddldb;create=true"
    try:
        spark.range(3).select(
            F.col("id").alias("ID"), F.col("id").cast("int").alias("V")
        ).write.format("jdbc").option("url", url).option(
            "dbtable", "APP.D"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.D")
    # Derby accepts ADD/DROP live; it forbids column TYPE changes
    # entirely (a dialect limitation — ClickHouse/MySQL support MODIFY),
    # so the MODIFY form is covered by the statement assertion above
    sink.apply_ddl(parse_alter("alter table db.t add column TAG varchar(8)"))
    sink.apply_ddl(parse_alter("alter table db.t drop column V"))
    back = spark.read.format("jdbc").option("url", url).option(
        "dbtable", "APP.D").load()
    assert "TAG" in back.columns and "V" not in back.columns
    assert back.count() == 3


def test_alter_statements_dialects_and_default():
    from synch_spark.ddl import parse_alter
    from synch_spark.sinks.jdbc_sink import alter_statements

    ops = parse_alter("alter table db.t add column c int default '7'")
    assert alter_statements("T", ops) == [
        "ALTER TABLE T ADD COLUMN c INTEGER DEFAULT '7'"
    ]
    mod = parse_alter("alter table db.t modify column v bigint")
    assert alter_statements("T", mod, "mysql") == ["ALTER TABLE T MODIFY v BIGINT"]
    assert alter_statements("T", mod, "clickhouse") == [
        "ALTER TABLE T MODIFY COLUMN v Int64"
    ]
    assert alter_statements("T", mod) == [
        "ALTER TABLE T ALTER COLUMN v SET DATA TYPE BIGINT"
    ]
    dec = parse_alter("alter table db.t modify column d decimal(10,2)")
    assert alter_statements("T", dec, "clickhouse") == [
        "ALTER TABLE T MODIFY COLUMN d Decimal(10,2)"
    ]


def test_apply_ddl_is_replay_idempotent(spark, tmp_path):
    """A crash between the ALTER and the checkpoint commit replays the
    DDL; the 'already applied' dialect error must be swallowed so the
    stream converges instead of crash-looping."""
    from synch_spark.ddl import parse_alter

    url = f"jdbc:derby:{tmp_path}/replaydb;create=true"
    try:
        spark.range(2).select(F.col("id").alias("ID")).write.format("jdbc") \
            .option("url", url).option("dbtable", "APP.R").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.R")
    ops = parse_alter("alter table db.t add column TAG varchar(8)")
    sink.apply_ddl(ops)
    sink.apply_ddl(ops)  # replay: duplicate-column error swallowed
    drops = parse_alter("alter table db.t drop column TAG")
    sink.apply_ddl(drops)
    sink.apply_ddl(drops)  # replay: missing-column error swallowed
    back = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", "APP.R").load()
    assert back.columns == ["ID"] and back.count() == 2


def test_jdbc_sink_collapsing_engine_signed_append(spark, tmp_path):
    """Collapsing-engine tables append sign-annotated rows (the
    reference's CollapsingMergeTree insert), never delete+insert."""
    url = f"jdbc:derby:{tmp_path}/colldb;create=true"
    spec = TableSpec(schema="db", table="t", pk=("K",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    try:
        spark.range(0).select(
            F.col("id").alias("K"), F.lit(0.0).alias("V"),
            F.lit(0).cast("int").alias("sign"),
        ).write.format("jdbc").option("url", url) \
            .option("dbtable", "APP.C").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.C")
    batch = _events(spark, [("insert", 1, 1.0, 10), ("delete", 1, 1.0, 11),
                            ("insert", 2, 2.0, 12)])
    sink.apply_batch(batch, spec, value_columns=["K", "V"])
    rows = [(r["K"], r["sign"]) for r in
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "APP.C").load().collect()]
    assert sorted(rows) == [(1, -1), (1, 1), (2, 1)]  # all three, signed

    # an insert and three updates of one key: the store's fold ships the
    # last state row only
    sink.apply_batch(spark.createDataFrame([
        ("insert", 3, 1.0, 20, 2), ("delete", 3, 1.0, 21, 1),
        ("insert", 3, 2.0, 21, 2), ("delete", 3, 2.0, 22, 1),
        ("insert", 3, 3.0, 22, 2), ("delete", 3, 3.0, 23, 1),
        ("insert", 3, 4.0, 23, 2),
    ], "action string, K long, V double, event_unixtime long, action_seq int"),
        spec, value_columns=["K", "V"])
    rows = [(r["K"], r["V"], r["sign"]) for r in
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "APP.C").load().filter("K = 3").collect()]
    assert rows == [(3, 4.0, 1)]


from hypothesis import HealthCheck, given, settings, strategies as st

_event_strategy = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=0, max_value=999),
    ),
    min_size=1,
    max_size=25,
)


def _sequential_replay(events):
    state = {}
    for action, pk, amount in events:
        if action == "delete":
            state.pop(pk, None)
        else:
            state[pk] = amount
    return state


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_event_strategy,
       batch_splits=st.lists(st.integers(min_value=1, max_value=24), max_size=2))
@pytest.mark.slow
def test_jdbc_sink_matches_sequential_replay(spark, tmp_path_factory, events,
                                             batch_splits):
    """Arbitrary event sequences through the JDBC sink (live Derby) must
    land the same final state as the reference's single-threaded replay
    — the same gate the parquet engine carries, for the sink path."""
    import json as _json

    from synch_spark.events import RAW_EVENT_SCHEMA, parse_values, split_updates

    tmp = tmp_path_factory.mktemp("jsink")
    url = f"jdbc:derby:{tmp}/propdb;create=true"
    spec = TableSpec(schema="db", table="p", pk=("ID",),
                     engine=Engine.REPLACING_MERGE_TREE)
    try:
        spark.range(0).select(
            F.col("id").alias("ID"), F.lit(0).cast("long").alias("AMOUNT")
        ).write.format("jdbc").option("url", url) \
            .option("dbtable", "APP.P").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")

    from pyspark.sql import types as T

    vschema = T.StructType([T.StructField("ID", T.LongType()),
                            T.StructField("AMOUNT", T.LongType())])
    sink = JdbcSink(spark, url, "APP.P")
    batches, prev = [], 0
    for cut in sorted(batch_splits) + [len(events)]:
        if cut > prev:
            batches.append(events[prev:cut])
            prev = cut
    us = 0
    for batch in batches:
        rows = []
        for action, pk, amount in batch:
            us += 1
            img = _json.dumps({"ID": pk, "AMOUNT": amount})
            rows.append(("db", "p", action, img, img, us))
        raw = spark.createDataFrame(rows, RAW_EVENT_SCHEMA)
        typed = parse_values(split_updates(raw), vschema)
        sink.apply_batch(typed, spec, value_columns=["ID", "AMOUNT"])
    got = {
        r["ID"]: r["AMOUNT"]
        for r in spark.read.format("jdbc").option("url", url)
        .option("dbtable", "APP.P").load().collect()
    }
    assert got == _sequential_replay(events)


def test_delete_statements_param_budget_composite_pk():
    """``chunk`` is a PARAMETER budget: a composite pk of c columns gets
    chunk//c keys per statement, so bind-parameter counts stay bounded
    on targets that cap them (SQL Server ~2100) regardless of pk arity."""
    keys = [(i, f"s{i}", i * 2) for i in range(10)]
    stmts = delete_statements("db.t", ("a", "b", "c"), keys, chunk=9)
    # 9 // 3 = 3 keys (9 params) per statement
    assert len(stmts) == 4
    for sql, params in stmts[:-1]:
        assert len(params) == 9 and sql.count("?") == 9
    assert len(stmts[-1][1]) == 3
    # flat param order matches the OR-of-conjunctions column order
    assert stmts[0][1] == [0, "s0", 0, 1, "s1", 2, 2, "s2", 4]
    # degenerate budget still makes progress (1 key per statement)
    tiny = delete_statements("db.t", ("a", "b", "c"), keys[:2], chunk=1)
    assert len(tiny) == 2 and all(len(p) == 3 for _s, p in tiny)


def test_default_literal_backslash_and_quote_escaping():
    """Backslashes are ESCAPED per dialect, never stripped: an ANSI
    target stores them verbatim, a backslash-escaping dialect (MySQL /
    ClickHouse) gets them doubled — either way the stored value equals
    the source default, so backfilled rows cannot diverge."""
    from synch_spark.sinks.jdbc_sink import _default_literal

    assert _default_literal(r"C:\tmp\x", "ansi") == r"'C:\tmp\x'"
    assert _default_literal(r"C:\tmp\x", "mysql") == r"'C:\\tmp\\x'"
    assert _default_literal(r"a\'b", "clickhouse") == r"'a\\''b'"
    assert _default_literal("it's", "ansi") == "'it''s'"
    assert _default_literal("plain", "mysql") == "'plain'"


def test_derby_rename_dialect_statement_form():
    from synch_spark.ddl import parse_alter
    from synch_spark.sinks.jdbc_sink import alter_statements

    ops = parse_alter("alter table db.t change column a b bigint")
    assert alter_statements("APP.T", ops, "derby") == [
        "RENAME COLUMN APP.T.a TO b"
    ]
    assert alter_statements("APP.T", ops, "ansi") == [
        "ALTER TABLE APP.T RENAME COLUMN a TO b"
    ]


def test_cluster_mode_contract(spark):
    """Cluster parity with the reference's ClickHouse topology
    (/root/reference/synch.yaml clickhouse.hosts/cluster_name/
    distributed_suffix, writer/__init__.py:129-131): multiple urls are
    chosen at random per connection (insert-by-random shard fan-out),
    DDL carries ON CLUSTER so ClickHouse propagates it, and the
    Distributed-table DDL matches the reference's shape."""
    from synch_spark.ddl import parse_alter

    urls = [f"jdbc:clickhouse://host{i}:8123/db" for i in range(3)]
    sink = JdbcSink(spark, urls, "db.t", dialect="clickhouse",
                    cluster_name="c1")
    # every configured shard host is eventually picked
    seen = {sink.url for _ in range(200)}
    assert seen == set(urls)
    # DDL target carries the cluster clause
    ops = parse_alter("ALTER TABLE db.t ADD COLUMN x INT")
    stmts = [s for s in __import__(
        "synch_spark.sinks.jdbc_sink", fromlist=["alter_statements"]
    ).alter_statements(sink._ddl_table(), ops, "clickhouse")]
    assert stmts and "ON CLUSTER c1" in stmts[0]
    # distributed proxy table DDL: reference shape
    ddl = sink.distributed_table_sql("db", "t")
    assert "db.t_all" in ddl and "on cluster c1" in ddl
    assert "ENGINE = Distributed(c1,db,t,rand())" in ddl
    # single-url string keeps working; non-cluster DDL is undecorated
    plain = JdbcSink(spark, urls[0], "db.t", dialect="clickhouse")
    assert plain.url == urls[0]
    assert plain._ddl_table() == "db.t"
    with pytest.raises(ValueError):
        plain.distributed_table_sql("db", "t")
    with pytest.raises(ValueError):
        JdbcSink(spark, [], "db.t")


def test_jdbc_sink_truncate(spark, tmp_path):
    """A source-side TRUNCATE reaches the JDBC target as the dialect
    statement; replaying it on the already-empty table is a no-op."""
    url = f"jdbc:derby:{tmp_path}/truncdb;create=true"
    try:
        spark.range(3).select(F.col("id").alias("ID")).write.format("jdbc") \
            .option("url", url).option("dbtable", "APP.TR").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.TR")
    sink.truncate()
    sink.truncate()  # at-least-once replay: truncating empty is a no-op
    back = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", "APP.TR").load()
    assert back.count() == 0
