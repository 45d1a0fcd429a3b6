"""The Collapsing write fold (cdc_apply.fold_collapsing): a batch lands at
most one cancel row and one state row per key, and the fold never
changes what a read of the table answers."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import types as T

from synch_spark.config import WIRE_SEQ_COL, Engine, TableSpec
from synch_spark.events import (RAW_EVENT_SCHEMA, annotate_sign, parse_values,
                                split_updates)
from synch_spark.operators import cdc_apply
from synch_spark.operators.cdc_apply import (apply_cdc_batch, fold_collapsing,
                                             read_current_state)
from synch_spark.operators.engines import collapse_aggregate
from synch_spark.sources.table import ParquetTable

VALUE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("g", T.StringType()),
    T.StructField("amount", T.LongType()),
    T.StructField("version", T.LongType()),
])
COLS = ["id", "g", "amount", "version"]
COLLAPSING = TableSpec(schema="db", table="t", pk=("id",),
                       engine=Engine.COLLAPSING_MERGE_TREE)
VERSIONED = TableSpec(schema="db", table="t", pk=("id",),
                      engine=Engine.VERSIONED_COLLAPSING_MERGE_TREE)


def _row(pk, amount, g="x", version=1):
    return {"id": pk, "g": g, "amount": amount, "version": version}


def _ins(pk, amount, us, **kw):
    return ("insert", None, _row(pk, amount, **kw), us)


def _upd(pk, old, new, us, **kw):
    return ("update", _row(pk, old, **kw), _row(pk, new, **kw), us)


def _del(pk, amount, us, **kw):
    return ("delete", _row(pk, amount, **kw), None, us)


def _batch(spark, events, wire=None):
    """Typed change events from (action, before, after, us) tuples; with
    ``wire``, one decoder wire seq per event."""
    data = [("db", "t", a, json.dumps(b) if b else None,
             json.dumps(af) if af else None, us) for a, b, af, us in events]
    schema = RAW_EVENT_SCHEMA
    if wire is not None:
        schema = T.StructType(RAW_EVENT_SCHEMA.fields
                              + [T.StructField(WIRE_SEQ_COL, T.LongType())])
        data = [d + (w,) for d, w in zip(data, wire)]
    raw = spark.createDataFrame(data, schema)
    return parse_values(split_updates(raw), VALUE_SCHEMA)


def _signed(df, spec=COLLAPSING):
    return sorted((r["id"], r["amount"], r[spec.sign_column])
                  for r in df.select("id", "amount", spec.sign_column).collect())


def _fold(spark, events, spec=COLLAPSING):
    return _signed(fold_collapsing(_batch(spark, events), spec, COLS), spec)


def _unfolded(spark, events):
    return _signed(annotate_sign(_batch(spark, events), "sign"))


@pytest.mark.parametrize("events, kept", [
    # first row a cancel, last a cancel: the cancel of the stored state
    ([_upd(1, 10, 11, 100), _del(1, 11, 200)], [(1, 10, -1)]),
    # first row a state, last a state: the last state
    ([_ins(1, 10, 100), _upd(1, 10, 11, 200), _upd(1, 11, 12, 300)],
     [(1, 12, 1)]),
    # cancel first, state last: both
    ([_upd(1, 10, 11, 100), _upd(1, 11, 12, 200), _upd(1, 12, 13, 300)],
     [(1, 10, -1), (1, 13, 1)]),
    # inserted then deleted: the last state and the cancel after it
    ([_ins(1, 10, 100), _upd(1, 10, 11, 200), _del(1, 11, 300)],
     [(1, 11, -1), (1, 11, 1)]),
], ids=["cancel-cancel", "state-state", "cancel-state", "insert-delete"])
def test_each_keep_case(spark, events, kept):
    assert _fold(spark, events) == kept


def test_sign_sum_per_key_is_kept_for_ill_formed_streams(spark):
    """A duplicate insert and a double delete cannot be folded to the
    kept rows without changing the key's Σ sign: they land unfolded,
    next to well-formed keys that do fold."""
    events = [_ins(1, 10, 100), _ins(1, 11, 200),            # Σ +2
              _del(2, 20, 100), _del(2, 20, 200),            # Σ -2
              _ins(3, 30, 100), _del(3, 30, 200), _del(3, 30, 300),  # Σ -1
              _ins(4, 40, 100), _upd(4, 40, 41, 200)]        # folds
    folded, unfolded = _fold(spark, events), _unfolded(spark, events)

    def net(rows):
        out = {}
        for pk, _amount, sign in rows:
            out[pk] = out.get(pk, 0) + sign
        return out

    assert net(folded) == net(unfolded) == {1: 2, 2: -2, 3: -1, 4: 1}
    assert [r for r in folded if r[0] != 4] == [
        r for r in unfolded if r[0] != 4]
    assert [r for r in folded if r[0] == 4] == [(4, 41, 1)]


def test_collapse_aggregate_is_unchanged_for_update_chains(spark, tmp_path):
    seed = [_ins(1, 10, 10, g="a"), _ins(2, 20, 10, g="b"),
            _ins(3, 30, 10, g="a")]
    chain = [_upd(1, 10, 11, 100, g="a"), _upd(1, 11, 12, 200, g="a"),
             _upd(2, 20, 21, 100, g="b"), _del(2, 21, 300, g="b"),
             _ins(4, 40, 100, g="b"), _upd(4, 40, 41, 200, g="b"),
             _del(4, 41, 300, g="b"), _del(3, 30, 100, g="a"),
             _ins(3, 31, 200, g="a")]
    t = ParquetTable(spark, str(tmp_path / "t"))
    for events in (seed, chain):
        apply_cdc_batch(t, _batch(spark, events), COLLAPSING)
    unfolded = annotate_sign(_batch(spark, seed + chain), "sign")

    def agg(df):
        return sorted(tuple(r) for r in
                      collapse_aggregate(df, ("g",), "amount").collect())

    assert agg(t.read()) == agg(unfolded) == [("a", 12 + 31, 2)]
    assert t.read().count() < unfolded.count()


def test_collapse_aggregate_drops_groups_that_cancel(spark, tmp_path):
    """One batch moves pk 1 from group b to group a: the unfolded rows
    cancel to 0 in group b, the folded table holds no row of it. Both
    layouts answer the same."""
    events = [_ins(1, 10, 100, g="b"), ("update", _row(1, 10, g="b"),
                                        _row(1, 11, g="a"), 200)]
    t = ParquetTable(spark, str(tmp_path / "t"))
    apply_cdc_batch(t, _batch(spark, events), COLLAPSING)
    unfolded = annotate_sign(_batch(spark, events), "sign")
    for df in (t.read(), unfolded):
        assert [tuple(r) for r in collapse_aggregate(
            df, ("g",), "amount").collect()] == [("a", 11, 1)]


def test_a_group_whose_arrival_order_ties_is_written_unfolded(spark):
    """Two updates of one pk at one stamp, with no wire seq to order
    them: which row is first is undecided, so nothing is dropped. The
    other pk still folds."""
    events = [_upd(1, 10, 11, 100), _upd(1, 11, 12, 100),
              _ins(2, 20, 100), _upd(2, 20, 21, 200)]
    folded = _fold(spark, events)
    assert [r for r in folded if r[0] == 1] == [
        r for r in _unfolded(spark, events) if r[0] == 1]
    assert [r for r in folded if r[0] == 2] == [(2, 21, 1)]


def test_versioned_collapsing_folds_per_pk_and_version(spark):
    events = [_ins(1, 10, 100, version=1), _upd(1, 10, 11, 200, version=1),
              _del(1, 11, 300, version=1), _ins(1, 12, 400, version=2)]
    # per (pk, version): version 1 is inserted then deleted (state and
    # cancel kept), version 2 keeps its state; per pk alone only the
    # last state would stay
    assert _fold(spark, events, VERSIONED) == [
        (1, 11, -1), (1, 11, 1), (1, 12, 1)]
    assert _fold(spark, events, COLLAPSING) == [(1, 12, 1)]


def test_same_epoch_replay_stays_idempotent(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    events = [_ins(1, 10, 100), _upd(1, 10, 11, 200), _ins(2, 20, 100)]
    for _ in range(2):
        apply_cdc_batch(t, _batch(spark, events), COLLAPSING, epoch="ck:0")
    assert _signed(t.read()) == [(1, 11, 1), (2, 20, 1)]
    apply_cdc_batch(t, _batch(spark, [_del(1, 11, 300)]), COLLAPSING,
                    epoch="ck:1")
    assert [r["id"] for r in read_current_state(t, COLLAPSING).collect()] == [2]


def test_same_stamp_updates_read_the_last_state(spark, tmp_path):
    """Insert a, update a->z, update z->b at one event time, ordered only
    by the decoder's wire seq: Collapsing reads b, as Replacing does.
    Unfolded, the read-time tiebreak among the equal stamps picked the
    largest row image, z."""
    events = [("insert", None, {"id": 1, "g": "a"}, 100),
              ("update", {"id": 1, "g": "a"}, {"id": 1, "g": "z"}, 100),
              ("update", {"id": 1, "g": "z"}, {"id": 1, "g": "b"}, 100)]
    got = {}
    for engine in (Engine.REPLACING_MERGE_TREE, Engine.COLLAPSING_MERGE_TREE):
        spec = TableSpec(schema="db", table="t", pk=("id",), engine=engine)
        t = ParquetTable(spark, str(tmp_path / engine.value))
        apply_cdc_batch(t, _batch(spark, events, wire=[1, 2, 3]), spec)
        got[engine] = [r["g"] for r in read_current_state(t, spec).collect()]
    assert got == {Engine.REPLACING_MERGE_TREE: ["b"],
                   Engine.COLLAPSING_MERGE_TREE: ["b"]}


@st.composite
def _stream(draw):
    """A well-formed change stream over a few pks, one event per stamp,
    cut into batches."""
    state, events = {}, []
    for i in range(draw(st.integers(min_value=1, max_value=30))):
        pk = draw(st.integers(min_value=1, max_value=4))
        g = draw(st.sampled_from(["a", "b"]))
        amount = draw(st.integers(min_value=0, max_value=99))
        us = 1000 + i
        if pk not in state:
            events.append(_ins(pk, amount, us, g=g))
            state[pk] = (g, amount)
        elif draw(st.booleans()):
            old = state.pop(pk)
            events.append(_del(pk, old[1], us, g=old[0]))
        else:
            old = state[pk]
            events.append(("update", _row(pk, old[1], g=old[0]),
                           _row(pk, amount, g=g), us))
            state[pk] = (g, amount)
    cuts = sorted(set(draw(st.lists(
        st.integers(min_value=1, max_value=len(events)), max_size=2))))
    bounds = [0, *cuts, len(events)]
    return [events[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]


@pytest.mark.slow
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(batches=_stream())
def test_folding_never_changes_a_read(spark, tmp_path_factory, batches):
    """Random well-formed streams in random batches read the same current
    state and the same collapse-aware aggregate, folded or not, over
    every group the aggregate returns."""
    def run(name):
        t = ParquetTable(spark, str(tmp_path_factory.mktemp(name)))
        for events in batches:
            apply_cdc_batch(t, _batch(spark, events), COLLAPSING)
        state = sorted(tuple(r) for r in read_current_state(t, COLLAPSING)
                       .select("id", "g", "amount").collect())
        agg = sorted(tuple(r) for r in collapse_aggregate(
            t.read(), ("g",), "amount").collect())
        return state, agg, t.read().count()

    folded = run("folded")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cdc_apply, "fold_collapsing",
                   lambda events, spec, cols: annotate_sign(
                       events, spec.sign_column))
        unfolded = run("unfolded")
    assert folded[:2] == unfolded[:2]
    assert folded[2] <= unfolded[2]

