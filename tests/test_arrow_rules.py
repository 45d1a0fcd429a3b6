"""The batch's row rules on Arrow (cdc_apply.net_rows, fold_rows): a
plain-Python oracle on random streams, and the two placements of one
rule — on the driver and per pk-hash group (applyInArrow) — agree.

A count above ``DRIVER_EVENTS_MAX`` places a small batch in groups."""

from __future__ import annotations

import datetime
import decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from synch_spark.config import WIRE_SEQ_COL, Engine, TableSpec
from synch_spark.operators import cdc_apply
from synch_spark.operators.cdc_apply import (
    DRIVER_EVENTS_MAX, apply_cdc_batch, compacted, fold_rows, folded,
    net_rows, read_current_state)
from synch_spark.sources.table import ParquetTable

#: a count that places a batch in the grouped placement
GROUPED = DRIVER_EVENTS_MAX + 1

UTC = datetime.timezone.utc
PK_TYPES = {
    "long": (pa.int64(), st.integers(min_value=-2, max_value=3)),
    "binary": (pa.binary(), st.sampled_from([b"", b"\x00", b"a", b"ab"])),
    "decimal": (pa.decimal128(12, 2), st.sampled_from(
        [decimal.Decimal(x) for x in ("-1.50", "0.00", "0.01", "7.25")])),
    "timestamp": (pa.timestamp("us", tz="UTC"), st.sampled_from(
        [datetime.datetime(2024, 1, 1, tzinfo=UTC)
         + datetime.timedelta(microseconds=u) for u in (0, 1, 10**6)])),
}


@st.composite
def _stream(draw):
    """A random batch: few pks of one type (a NULL pk too), few stamps so
    that arrival ties are common, NULL wire seqs and NULL versions."""
    ptype, keys = PK_TYPES[draw(st.sampled_from(sorted(PK_TYPES)))]
    with_wire = draw(st.booleans())
    rows = draw(st.lists(st.fixed_dictionaries({
        "pk": st.one_of(st.none(), keys) if draw(st.booleans()) else keys,
        "action": st.sampled_from(["insert", "delete"]),
        "event_unixtime": st.integers(min_value=1, max_value=3),
        WIRE_SEQ_COL: st.one_of(st.none(), st.integers(-1, 2)),
        "action_seq": st.integers(min_value=1, max_value=2),
        "version": st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        "amount": st.decimals(min_value=-100, max_value=100, places=2),
    }), max_size=24))
    cols = {
        "pk": pa.array([r["pk"] for r in rows], ptype),
        "action": pa.array([r["action"] for r in rows], pa.string()),
        "event_unixtime": pa.array([r["event_unixtime"] for r in rows],
                                   pa.int64()),
        "action_seq": pa.array([r["action_seq"] for r in rows], pa.int32()),
        "version": pa.array([r["version"] for r in rows], pa.int64()),
        "amount": pa.array([r["amount"] for r in rows], pa.decimal128(12, 2)),
        "ts": pa.array([datetime.datetime(2024, 5, 1, tzinfo=UTC)] * len(rows),
                       pa.timestamp("us", tz="UTC")),
        "sign": pa.array([-1 if r["action"] == "delete" else 1 for r in rows],
                         pa.int32()),
        "_pos": pa.array(range(len(rows)), pa.int64()),
    }
    if with_wire:
        cols[WIRE_SEQ_COL] = pa.array([r[WIRE_SEQ_COL] for r in rows],
                                      pa.int64())
    return pa.table(cols)


def _rows(t: pa.Table) -> list[dict]:
    return t.to_pylist()


def _arrival(r: dict) -> tuple:
    return (r["event_unixtime"], r.get(WIRE_SEQ_COL) or 0, r["action_seq"])


def _groups(rows: list[dict], key) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(key(r), []).append(r)
    return out


def _sort_key(k):
    """Arrow's key order: NULL first, then ascending."""
    return (k is not None, k)


def _oracle_net(rows: list[dict], version: bool) -> list[tuple]:
    """Per pk, the latest row in arrival order (a tie: the later input
    row); under ``version`` the latest delete, else the highest-version
    upsert after the last delete, a NULL version losing."""
    out = []
    for k, rs in sorted(_groups(rows, lambda r: r["pk"]).items(),
                        key=lambda kv: _sort_key(kv[0])):
        if not version:
            win = max(rs, key=lambda r: (_arrival(r), r["_pos"]))
            out.append((win["_pos"], None))
            continue
        last = max(_arrival(r) for r in rs)
        dels = [_arrival(r) for r in rs if r["action"] == "delete"]
        gone = max(dels) if dels else None
        cand = [r for r in rs if (_arrival(r) == last
                                  if r["action"] == "delete"
                                  else gone is None or _arrival(r) > gone)]
        win = max(cand, key=lambda r: (r["version"] is not None,
                                       r["version"] or 0, _arrival(r),
                                       r["_pos"]))
        out.append((win["_pos"], gone is not None))
    return out


def _oracle_fold(rows: list[dict]) -> list[int]:
    """Per pk: the first row if a cancel, the last if a state, and for a
    key inserted then deleted its last state and its last row; a group
    whose first or last position ties, or whose kept Σ sign differs,
    stays whole. Sorted by (pk, arrival, input row)."""
    out = []
    for k, rs in sorted(_groups(rows, lambda r: r["pk"]).items(),
                        key=lambda kv: _sort_key(kv[0])):
        first = min(_arrival(r) for r in rs)
        last = max(_arrival(r) for r in rs)
        s_first = min(r["sign"] for r in rs if _arrival(r) == first)
        s_last = max(r["sign"] for r in rs if _arrival(r) == last)
        states = [_arrival(r) for r in rs if r["sign"] > 0]
        state = max(states) if states else None

        def keep(r):
            a, s = _arrival(r), r["sign"]
            return ((a == first and s < 0) or (a == last and s > 0)
                    or (s_first > 0 and s_last < 0
                        and (a == last or (s > 0 and a == state))))

        folds = (sum(_arrival(r) == first for r in rs) == 1
                 and sum(_arrival(r) == last for r in rs) == 1
                 and sum(r["sign"] for r in rs if keep(r))
                 == sum(r["sign"] for r in rs))
        out += [r["_pos"] for r in sorted(
            rs, key=lambda r: (_arrival(r), r["_pos"]))
            if keep(r) or not folds]
    return out


@settings(max_examples=300, deadline=None)
@given(t=_stream(), version=st.booleans())
def test_net_rows_match_the_oracle(t, version):
    got = net_rows(t, ("pk",), "version" if version else None)
    assert got.schema.equals(t.schema.append(pa.field("_deleted", pa.bool_()))
                             if version else t.schema)
    pairs = list(zip(got["_pos"].to_pylist(),
                     got["_deleted"].to_pylist() if version
                     else [None] * got.num_rows))
    assert pairs == _oracle_net(_rows(t), version)
    # a row's values come through as they went in
    by_pos = {r["_pos"]: r for r in _rows(t)}
    for r in _rows(got):
        assert {c: r[c] for c in t.column_names} == by_pos[r["_pos"]]


@settings(max_examples=300, deadline=None)
@given(t=_stream())
def test_fold_rows_match_the_oracle(t):
    got = fold_rows(t, ["pk"], "sign")
    assert got.schema.equals(t.schema)
    assert got["_pos"].to_pylist() == _oracle_fold(_rows(t))


# -- the two placements, through Spark --------------------------------

VALUE_SCHEMA = T.StructType([
    T.StructField("id", T.BinaryType()),
    T.StructField("amount", T.DecimalType(12, 2)),
    T.StructField("at", T.TimestampType()),
    T.StructField("version", T.LongType()),
])
COLS = [f.name for f in VALUE_SCHEMA]


def _batch(spark):
    """Typed events: binary pks, decimals, timestamps, NULL and tied
    versions, same-stamp updates ordered only by the wire seq."""
    def row(k, amount, version, second=0):
        return (k, decimal.Decimal(amount),
                datetime.datetime(2024, 5, 1, 0, 0, second), version)

    events = [
        ("insert", b"a", "1.10", 1, 100, 1, 1),
        ("delete", b"a", "1.10", 1, 200, 2, 1),
        ("insert", b"a", "1.20", 2, 200, 2, 2),
        ("insert", b"b", "2.00", None, 100, 3, 2),
        ("insert", b"b", "2.50", 0, 100, 4, 2),
        ("insert", b"c", "3.00", 5, 100, None, 2),
        ("delete", b"c", "3.00", 5, 300, None, 1),
        ("insert", b"\x00", "9.99", 1, 100, 5, 2),
        ("delete", b"d", "4.00", 1, 100, 6, 1),
    ]
    return spark.createDataFrame(
        [(a, *row(k, amt, v, i), us, w, seq)
         for i, (a, k, amt, v, us, w, seq) in enumerate(events)],
        T.StructType([T.StructField("action", T.StringType()), *VALUE_SCHEMA,
                      T.StructField("event_unixtime", T.LongType()),
                      T.StructField(WIRE_SEQ_COL, T.LongType()),
                      T.StructField("action_seq", T.IntegerType())]))


@pytest.mark.parametrize("version", [None, "version"])
def test_compaction_is_the_same_on_the_driver_and_grouped(spark, version):
    events = _batch(spark)
    got = {}
    for num in (None, GROUPED):
        with compacted(events, ("id",), version, COLS, num) as (net, keys):
            got[num] = (net.schema, sorted(map(tuple, net.collect())),
                        sorted(tuple(r.values()) for r in keys.to_pylist()))
    (driver, grouped) = got.values()
    assert driver == grouped
    assert [f.dataType for f in driver[0] if f.name in COLS] == [
        f.dataType for f in VALUE_SCHEMA]
    assert len(driver[1]) == 5


def test_fold_is_the_same_on_the_driver_and_grouped(spark):
    events = _batch(spark)
    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.COLLAPSING_MERGE_TREE)
    driver, grouped = (folded(events, spec, COLS, num)
                       for num in (None, GROUPED))
    assert driver.schema == grouped.schema
    assert sorted(map(tuple, driver.collect())) == sorted(
        map(tuple, grouped.collect()))


def test_a_bulk_backfill_above_the_cap_runs_the_grouped_rule(
        spark, tmp_path, monkeypatch):
    """backfill_missing passes each chunk's count: a chunk above the cap
    runs the rule per pk-hash group, and fills only the missing keys."""
    from pyspark.sql import GroupedData

    from synch_spark.pipeline import backfill_missing

    spec = TableSpec(schema="db", table="t", pk=("id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, spark.createDataFrame(
        [("insert", 1, "live", 10, 1)],
        "action string, id long, v string, event_unixtime long, "
        "action_seq int"), spec, value_columns=["id", "v"], num=1)
    grouped, apply_in_arrow = [], GroupedData.applyInArrow

    def spy(self, *a, **k):
        grouped.append(1)
        return apply_in_arrow(self, *a, **k)

    monkeypatch.setattr(GroupedData, "applyInArrow", spy)
    monkeypatch.setattr(cdc_apply, "DRIVER_EVENTS_MAX", 8)
    source = spark.createDataFrame([(k, f"snap{k}") for k in range(40)],
                                   "id long, v string")
    assert backfill_missing(source, t, spec, num_chunks=2) == 39
    assert len(grouped) == 2
    got = {r["id"]: r["v"] for r in read_current_state(t, spec).collect()}
    assert got == {**{k: f"snap{k}" for k in range(40)}, 1: "live"}


def test_a_backfill_chunk_spreads_over_every_group(spark):
    """The groups hash the pk apart from backfill_missing's chunks: the
    keys of one chunk fall in every group."""
    keys = spark.range(4000).withColumnRenamed("id", "k")
    chunk = keys.filter(F.pmod(F.xxhash64("k"), F.lit(4)) == 0)
    groups = chunk.select(F.pmod(F.hash("k"), F.lit(4)).alias("g"))
    assert sorted(r["g"] for r in groups.distinct().collect()) == [0, 1, 2, 3]


def test_a_counted_streaming_batch_starts_no_python_worker(spark, tmp_path,
                                                           monkeypatch):
    """The driver placement runs no applyInArrow, for a counted batch
    and for one the apply counts itself."""
    from pyspark.sql import GroupedData

    def refuse(*a, **k):
        raise AssertionError("a Python worker was asked for")

    monkeypatch.setattr(GroupedData, "applyInArrow", refuse)
    for engine in (Engine.REPLACING_MERGE_TREE, Engine.COLLAPSING_MERGE_TREE):
        spec = TableSpec(schema="db", table="t", pk=("id",), engine=engine)
        t = ParquetTable(spark, str(tmp_path / engine.value))
        for us, num in ((1, 9), (2, None)):
            ev = _batch(spark).withColumn(
                "event_unixtime", F.col("event_unixtime") + us * 1000)
            apply_cdc_batch(t, ev, spec, value_columns=COLS, num=num)
        ids = sorted(r["id"] for r in read_current_state(t, spec).collect())
        assert ids == [b"\x00", b"a", b"b"], engine


def test_a_null_wire_seq_sorts_as_zero_on_both_placements(spark):
    events = spark.createDataFrame(
        [("insert", 1, "null seq", 5, None, 2),
         ("insert", 1, "seq -1", 5, -1, 3)],
        f"action string, id long, v string, event_unixtime long, "
        f"{WIRE_SEQ_COL} long, action_seq int")
    for num in (2, GROUPED):
        with compacted(events, ("id",), None, ["id", "v"], num) as (net, _):
            assert [r["v"] for r in net.collect()] == ["null seq"]


@pytest.mark.parametrize("num", [None, GROUPED])
def test_a_version_column_in_the_pk_merges(spark, tmp_path, num):
    """A Replacing table whose version column is also a pk column: each
    (id, version) is its own key, on both placements."""
    spec = TableSpec(schema="db", table="t", pk=("id", "version"),
                     engine=Engine.REPLACING_MERGE_TREE)
    ddl = ("action string, id long, version long, v string, "
           "event_unixtime long, action_seq int")
    t = ParquetTable(spark, str(tmp_path / "t"))
    for rows in ([("insert", 1, 1, "a", 1, 2), ("insert", 1, 2, "b", 1, 2),
                  ("insert", 2, 1, "c", 1, 2)],
                 [("insert", 1, 1, "a2", 5, 2), ("delete", 2, 1, "c", 5, 1),
                  ("insert", 3, 0, "d", 5, 2)],
                 [("insert", 1, 2, "b2", 9, 2)]):
        apply_cdc_batch(t, spark.createDataFrame(rows, ddl), spec,
                        value_columns=["id", "version", "v"], num=num)
    got = {(r["id"], r["version"]): r["v"]
           for r in read_current_state(t, spec).collect()}
    assert got == {(1, 1): "a2", (1, 2): "b2", (3, 0): "d"}


def test_a_version_column_in_the_pk_through_the_jdbc_sink(spark, tmp_path):
    from synch_spark.sinks.jdbc_sink import JdbcSink

    # upper case: Derby folds the sink's unquoted names to it
    url = f"jdbc:derby:{tmp_path}/sinkdbpk;create=true"
    spec = TableSpec(schema="db", table="t", pk=("K", "VERSION"),
                     engine=Engine.REPLACING_MERGE_TREE,
                     version_column="VERSION")
    try:
        spark.createDataFrame([(1, 1, 1.0), (1, 2, 2.0), (2, 1, 3.0)],
                              "K long, VERSION long, V double").write.format(
            "jdbc").option("url", url).option("dbtable", "APP.VP").mode(
            "overwrite").save()
    except Exception as e:  # noqa: BLE001
        pytest.skip(f"embedded Derby unavailable: {str(e).splitlines()[0]}")
    sink = JdbcSink(spark, url, "APP.VP")
    for num in (None, GROUPED):
        sink.apply_batch(spark.createDataFrame(
            [("insert", 1, 2, 22.0, 10, 2), ("delete", 2, 1, None, 10, 1),
             ("insert", 3, 0, 30.0, 10, 2)],
            "action string, K long, VERSION long, V double, "
            "event_unixtime long, action_seq int"),
            spec, value_columns=["K", "VERSION", "V"], num=num)
        back = {(r["K"], r["VERSION"]): r["V"]
                for r in spark.read.format("jdbc").option("url", url)
                .option("dbtable", "APP.VP").load().collect()}
        assert back == {(1, 1): 1.0, (1, 2): 22.0, (3, 0): 30.0}, num
