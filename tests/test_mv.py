"""Incremental materialized-view maintenance (operators.mv).

The contract: folding CDC chunks into the view one at a time reaches
exactly the state a one-shot aggregate over all events computes, for ANY
split of the stream — signed count/sum deltas are commutative and
associative, and fully-deleted groups vanish rather than linger as
zeros (SummingMergeTree-collapse semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from synch_spark.operators import mv

def _sign():
    return F.when(F.col("action") == "delete", F.lit(-1)).otherwise(F.lit(1))


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, action=a, v=float(v)) for k, a, v in rows],
        "k string, action string, v double",
    )


def _maintain(spark, rows, n_chunks):
    view = None
    size = max(1, (len(rows) + n_chunks - 1) // n_chunks)
    for i in range(0, len(rows), size):
        batch = _events(spark, rows[i : i + size])
        delta = mv.delta_aggregate(batch, ["k"], ["v"], _sign())
        view = mv.merge_delta(view, delta, ["k"], ["v"])
    return {
        r["k"]: (r["n"], float(r["v_sum"]))
        for r in mv.read_view(view, ["v"]).collect()
    }


ROWS = [
    ("a", "insert", 10.0),
    ("a", "insert", 5.0),
    ("b", "insert", 7.0),
    ("a", "delete", 10.0),
    ("c", "insert", 1.0),
    ("c", "delete", 1.0),
    ("b", "insert", 3.0),
]


@pytest.mark.parametrize("n_chunks", [1, 2, 3, 7])
@pytest.mark.slow
def test_chunked_equals_batch(spark, n_chunks):
    got = _maintain(spark, ROWS, n_chunks)
    # one-shot truth: a nets to 1 row / 5.0, b to 2 rows / 10.0, c cancels
    assert got == {"a": (1, 5.0), "b": (2, 10.0)}


def test_fully_deleted_group_dropped(spark):
    rows = [("x", "insert", 2.0), ("x", "delete", 2.0)]
    view = mv.merge_delta(
        None, mv.delta_aggregate(_events(spark, rows), ["k"], ["v"], _sign()), ["k"], ["v"]
    )
    assert view.count() == 0


def test_update_as_delete_insert_pair(spark):
    # the T1 update-split arrives as delete(old)+insert(new): net count
    # stays, sum moves by the difference
    base = [("u", "insert", 100.0)]
    upd = [("u", "delete", 100.0), ("u", "insert", 42.0)]
    got = _maintain(spark, base + upd, 2)
    assert got == {"u": (1, 42.0)}


def test_mv_refreshes_inside_cdc_pipeline(spark, tmp_path):
    """End-to-end: an MV registered on a replicated table is folded in the
    same micro-batch as the CDC apply, and after the stream drains its
    state equals a fresh aggregate over the final table — including the
    update that MOVED a row between groups."""
    import json

    from pyspark.sql import types as T

    from synch_spark.config import Engine, SyncConfig, TableSpec
    from synch_spark.operators.mv import MaterializedView
    from synch_spark.sources.table import ParquetTable
    from synch_spark.streaming.pipeline import CdcPipeline

    vschema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cat", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    cfg = SyncConfig()
    cfg.add_table(
        TableSpec(schema="db", table="t", pk=("id",), engine=Engine.REPLACING_MERGE_TREE)
    )
    view = MaterializedView.create(
        spark, str(tmp_path / "mv_cat"), "db.t", ["cat"], ["amount"]
    )
    pipe = CdcPipeline(
        spark=spark,
        cfg=cfg,
        warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.t": vschema},
        views=[view],
    )
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    rows = [
        ("insert", None, {"id": 1, "cat": "a", "amount": 10.0}, 100),
        ("insert", None, {"id": 2, "cat": "a", "amount": 5.0}, 101),
        ("insert", None, {"id": 3, "cat": "b", "amount": 7.0}, 102),
        # update moves id=2 from cat a to cat b: MV must shift 5.0 across
        ("update", {"id": 2, "cat": "a", "amount": 5.0},
         {"id": 2, "cat": "b", "amount": 5.0}, 103),
        ("delete", {"id": 3, "cat": "b", "amount": 7.0}, None, 104),
    ]
    with open(events_dir / "b1.json", "w") as f:
        for action, before, after, us in rows:
            f.write(json.dumps({
                "schema": "db", "table": "t", "action": action,
                "before": json.dumps(before) if before else None,
                "after": json.dumps(after) if after else None,
                "event_unixtime": us,
            }) + "\n")
    q = pipe.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)

    got = {r["cat"]: (r["n"], float(r["amount_sum"])) for r in view.read().collect()}
    assert got == {"a": (1, 10.0), "b": (1, 5.0)}
    # cross-check vs a fresh aggregate over the final replicated table
    final = (
        ParquetTable(spark, f"{pipe.warehouse}/db/t")
        .read().groupBy("cat").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("amount").alias("s"))
    )
    truth = {r["cat"]: (r["n"], float(r["s"])) for r in final.collect()}
    assert got == truth


# --- property: MV state equals replay aggregate for ANY legal stream -------
import json as _json

from hypothesis import HealthCheck, given, settings, strategies as st

from synch_spark.events import RAW_EVENT_SCHEMA, parse_values, split_updates

_MV_SCHEMA = "id bigint, cat string, amount bigint"

mv_event_strategy = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=1, max_value=4),        # pk: heavy collision
        st.sampled_from(["a", "b", "c"]),             # group (updates can move it)
        st.integers(min_value=0, max_value=99),
    ),
    min_size=1,
    max_size=20,
)


def _legalize_with_images(events):
    """OLTP-legal stream with CORRECT before-images (the part that makes
    signed folding subtract the right group): returns rows of
    (action, before|None, after|None)."""
    state, out = {}, []
    for action, pk, cat, amount in events:
        if pk not in state:
            after = {"id": pk, "cat": cat, "amount": amount}
            state[pk] = after
            out.append(("insert", None, after))
        elif action == "delete":
            out.append(("delete", state.pop(pk), None))
        else:
            after = {"id": pk, "cat": cat, "amount": amount}
            out.append(("update", state[pk], after))
            state[pk] = after
    return out, state


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=mv_event_strategy,
    batch_splits=st.lists(st.integers(min_value=1, max_value=19), max_size=2),
)
@pytest.mark.slow
def test_mv_matches_replay_aggregate(spark, tmp_path_factory, events, batch_splits):
    from pyspark.sql import types as T

    from synch_spark.operators.mv import MaterializedView

    legal, final = _legalize_with_images(events)
    truth = {}
    for row in final.values():
        n, s = truth.get(row["cat"], (0, 0))
        truth[row["cat"]] = (n + 1, s + row["amount"])

    view = MaterializedView.create(
        spark, str(tmp_path_factory.mktemp("mvprop")), "db.t", ["cat"], ["amount"]
    )
    vschema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cat", T.StringType()),
            T.StructField("amount", T.LongType()),
        ]
    )
    cuts = sorted(set(c for c in batch_splits if c < len(legal)))
    bounds = [0] + cuts + [len(legal)]
    us = 0
    for lo, hi in zip(bounds, bounds[1:]):
        rows = []
        for action, before, after in legal[lo:hi]:
            us += 1
            rows.append(
                ("db", "t", action,
                 _json.dumps(before) if before else None,
                 _json.dumps(after) if after else None, us)
            )
        raw = spark.createDataFrame(rows, RAW_EVENT_SCHEMA)
        view.refresh_from_batch(parse_values(split_updates(raw), vschema))
    got = {
        r["cat"]: (r["n"], int(r["amount_sum"]))
        for r in view.read().collect()
    }
    assert got == truth


# --- min/max maintenance with partial recompute ----------------------------
def _typed(spark, rows):
    # rows: (action, k, v)
    return spark.createDataFrame(
        [Row(action=a, k=k, v=float(v)) for a, k, v in rows],
        "action string, k string, v double",
    )


def test_minmax_insert_only_folds_without_base(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "mm1"), "db.t", ["k"], ["v"], minmax_cols=["v"]
    )
    view.refresh_from_batch(_typed(spark, [("insert", "a", 3.0), ("insert", "a", 9.0)]))
    view.refresh_from_batch(_typed(spark, [("insert", "a", 5.0)]))
    r = view.read().collect()[0]
    assert (r["v_min"], r["v_max"], r["n"]) == (3.0, 9.0, 3)


def test_minmax_delete_of_max_recomputes_from_base(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "mm2"), "db.t", ["k"], ["v"], minmax_cols=["v"]
    )
    view.refresh_from_batch(
        _typed(spark, [("insert", "a", 3.0), ("insert", "a", 9.0), ("insert", "b", 1.0)])
    )
    # base AFTER applying the delete of the max: only (a,3.0) and (b,1.0)
    base = spark.createDataFrame(
        [Row(k="a", v=3.0), Row(k="b", v=1.0)], "k string, v double"
    )
    view.refresh_from_batch(_typed(spark, [("delete", "a", 9.0)]), base=base)
    got = {r["k"]: (r["n"], r["v_min"], r["v_max"]) for r in view.read().collect()}
    # a's max fell back to the runner-up; b untouched (kept folded values)
    assert got == {"a": (1, 3.0, 3.0), "b": (1, 1.0, 1.0)}


def test_minmax_delete_without_base_raises(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "mm3"), "db.t", ["k"], ["v"], minmax_cols=["v"]
    )
    view.refresh_from_batch(_typed(spark, [("insert", "a", 3.0)]))
    with pytest.raises(ValueError, match="post-apply base"):
        view.refresh_from_batch(_typed(spark, [("delete", "a", 3.0)]))


# --- join-MV: aggregate-over-join via join-aggregate decomposition ----------
def _jmv_truth(fact_rows, dim_map, dim_group_of):
    """Driver-side truth: net per-FK fold, then dim grouping."""
    from collections import defaultdict

    per_fk = defaultdict(lambda: [0, 0.0])
    for k, a, v in fact_rows:
        s = -1 if a == "delete" else 1
        per_fk[k][0] += s
        per_fk[k][1] += s * v
    out = defaultdict(lambda: [0, 0.0])
    for k, (n, sv) in per_fk.items():
        if n == 0:
            continue
        if k not in dim_map:
            continue  # inner-join read drops dangling FKs
        g = dim_group_of(dim_map[k])
        out[g][0] += n
        out[g][1] += sv
    return {g: (n, round(sv, 2)) for g, (n, sv) in out.items()}


def test_join_mv_incremental_matches_truth_and_dim_change(spark, tmp_path):
    from synch_spark.operators.mv import JoinMaterializedView

    fact_rows = [
        ("u1", "insert", 10.0), ("u2", "insert", 5.0), ("u3", "insert", 7.0),
        ("u1", "delete", 10.0), ("u1", "insert", 12.0), ("u4", "insert", 2.0),
        ("u2", "delete", 5.0),  # u2 fully deleted -> vanishes
    ]
    dim = {"u1": "gold", "u3": "silver", "u4": "gold"}  # u2 dangling anyway
    jmv = JoinMaterializedView.create(
        spark, str(tmp_path / "jmv"), "fact", ["k"], ["v"],
        dim_source="dim", dim_key_cols=["dk"], dim_group_cols=["segment"],
    )
    for i in range(0, len(fact_rows), 3):  # arbitrary 3-row micro-batches
        jmv.refresh_from_batch(_events(spark, fact_rows[i : i + 3]))
    dim_df = spark.createDataFrame(
        [Row(dk=k, segment=s) for k, s in dim.items()], "dk string, segment string"
    )
    got = {
        r["segment"]: (r["n"], round(float(r["v_sum"]), 2))
        for r in jmv.read(dim_df).collect()
    }
    assert got == _jmv_truth(fact_rows, dim, lambda s: s)
    # dim change: u3 moves silver -> gold; NO refresh, next read reflects it
    dim2 = dict(dim, u3="gold")
    dim2_df = spark.createDataFrame(
        [Row(dk=k, segment=s) for k, s in dim2.items()], "dk string, segment string"
    )
    got2 = {
        r["segment"]: (r["n"], round(float(r["v_sum"]), 2))
        for r in jmv.read(dim2_df).collect()
    }
    assert got2 == _jmv_truth(fact_rows, dim2, lambda s: s)


def test_join_mv_persists_and_reloads(spark, tmp_path):
    from synch_spark.operators.mv import JoinMaterializedView

    root = str(tmp_path / "jmv2")
    jmv = JoinMaterializedView.create(
        spark, root, "fact", ["k"], ["v"],
        dim_source="dim", dim_key_cols=["dk"], dim_group_cols=["segment"],
    )
    jmv.refresh_from_batch(_events(spark, [("a", "insert", 4.0)]))
    re = JoinMaterializedView.load(spark, root)
    dim_df = spark.createDataFrame([Row(dk="a", segment="s")])
    assert [(r["segment"], r["n"], float(r["v_sum"])) for r in re.read(dim_df).collect()] == [
        ("s", 1, 4.0)
    ]
    with pytest.raises(ValueError):
        # a plain MV spec must not load as a join MV
        from synch_spark.operators.mv import MaterializedView

        plain = str(tmp_path / "plain")
        MaterializedView.create(spark, plain, "t", ["k"], ["v"])
        JoinMaterializedView.load(spark, plain)


def test_join_mv_refreshes_inside_cdc_pipeline(spark, tmp_path):
    """End-to-end: a JOIN-MV registered on the fact table folds per-FK
    partials in the same micro-batch as the CDC apply; read joins a dim
    and equals a fresh join+aggregate over the final fact table —
    including after a dim re-label with NO further refresh."""
    import json

    from pyspark.sql import types as T

    from synch_spark.config import Engine, SyncConfig, TableSpec
    from synch_spark.operators.mv import JoinMaterializedView
    from synch_spark.sources.table import ParquetTable
    from synch_spark.streaming.pipeline import CdcPipeline

    vschema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("uid", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    cfg = SyncConfig()
    cfg.add_table(
        TableSpec(schema="db", table="f", pk=("id",), engine=Engine.REPLACING_MERGE_TREE)
    )
    view = JoinMaterializedView.create(
        spark, str(tmp_path / "jmv_seg"), "db.f", ["uid"], ["amount"],
        dim_source="db.users", dim_key_cols=["uid"], dim_group_cols=["segment"],
    )
    pipe = CdcPipeline(
        spark=spark,
        cfg=cfg,
        warehouse=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        value_schemas={"db.f": vschema},
        views=[view],
    )
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    rows = [
        ("insert", None, {"id": 1, "uid": 10, "amount": 10.0}, 100),
        ("insert", None, {"id": 2, "uid": 11, "amount": 5.0}, 101),
        ("insert", None, {"id": 3, "uid": 10, "amount": 7.0}, 102),
        ("update", {"id": 2, "uid": 11, "amount": 5.0},
         {"id": 2, "uid": 12, "amount": 5.0}, 103),  # re-keyed FK
        ("delete", {"id": 3, "uid": 10, "amount": 7.0}, None, 104),
    ]
    with open(events_dir / "b1.json", "w") as f:
        for action, before, after, us in rows:
            f.write(json.dumps({
                "schema": "db", "table": "f", "action": action,
                "before": json.dumps(before) if before else None,
                "after": json.dumps(after) if after else None,
                "event_unixtime": us,
            }) + "\n")
    q = pipe.start_file_stream(str(events_dir), available_now=True)
    q.awaitTermination(120)

    dim = spark.createDataFrame(
        [(10, "gold"), (11, "gold"), (12, "silver")], "uid long, segment string"
    )
    got = {
        r["segment"]: (r["n"], float(r["amount_sum"]))
        for r in view.read(dim).collect()
    }
    fact = ParquetTable(spark, f"{pipe.warehouse}/db/f").read()
    truth = {
        r["segment"]: (r["n"], float(r["s"]))
        for r in fact.join(dim, "uid").groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
        .collect()
    }
    assert got == truth == {"gold": (1, 10.0), "silver": (1, 5.0)}
    # dim change, no refresh: uid 12 moves silver -> bronze
    dim2 = spark.createDataFrame(
        [(10, "gold"), (11, "gold"), (12, "bronze")], "uid long, segment string"
    )
    got2 = {
        r["segment"]: (r["n"], float(r["amount_sum"]))
        for r in view.read(dim2).collect()
    }
    assert got2 == {"gold": (1, 10.0), "bronze": (1, 5.0)}


# --- HLL distinct-count MV columns ------------------------------------------
def _hev(spark, rows):
    return spark.createDataFrame(
        [Row(k=k, action=a, v=float(v), u=u) for k, a, v, u in rows],
        "k string, action string, v double, u string",
    )


def test_hll_insert_only_folds_exact_at_small_cardinality(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "hmv"), "t", ["k"], ["v"], hll_cols=["u"]
    )
    batches = [
        [("a", "insert", 1.0, "u1"), ("a", "insert", 2.0, "u2")],
        [("a", "insert", 3.0, "u1"), ("b", "insert", 4.0, "u9")],
        [("a", "insert", 5.0, "u3")],
    ]
    for b in batches:
        view.refresh_from_batch(_hev(spark, b))
    got = {r["k"]: (r["n"], r["u_ndv"]) for r in view.read().collect()}
    # HLL is exact at these cardinalities: a saw {u1,u2,u3}, b saw {u9}
    assert got == {"a": (4, 3), "b": (1, 1)}


def test_hll_delete_rescetches_affected_group_from_base(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "hmv2"), "t", ["k"], ["v"], hll_cols=["u"]
    )
    view.refresh_from_batch(_hev(spark, [
        ("a", "insert", 1.0, "u1"), ("a", "insert", 2.0, "u2"),
        ("b", "insert", 3.0, "u5"),
    ]))
    # delete the only u2 row of group a; base AFTER apply has a:{u1}, b:{u5}
    base = _hev(spark, [("a", "insert", 1.0, "u1"), ("b", "insert", 3.0, "u5")]) \
        .select("k", "v", "u")
    view.refresh_from_batch(
        _hev(spark, [("a", "delete", 2.0, "u2")]), base=base
    )
    got = {r["k"]: (r["n"], r["u_ndv"]) for r in view.read().collect()}
    # group a re-sketched from base (ndv 2 -> 1); untouched b kept its fold
    assert got == {"a": (1, 1), "b": (1, 1)}


def test_hll_delete_without_base_raises(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    view = MaterializedView.create(
        spark, str(tmp_path / "hmv3"), "t", ["k"], ["v"], hll_cols=["u"]
    )
    view.refresh_from_batch(_hev(spark, [("a", "insert", 1.0, "u1")]))
    with pytest.raises(ValueError):
        view.refresh_from_batch(_hev(spark, [("a", "delete", 1.0, "u1")]))


def test_hll_full_build_and_reload(spark, tmp_path):
    from synch_spark.operators.mv import MaterializedView

    root = str(tmp_path / "hmv4")
    view = MaterializedView.create(spark, root, "t", ["k"], ["v"], hll_cols=["u"])
    base = _hev(spark, [
        ("a", "insert", 1.0, "u1"), ("a", "insert", 2.0, "u2"),
        ("a", "insert", 3.0, "u2"), ("b", "insert", 4.0, "u7"),
    ]).select("k", "v", "u")
    view.full_build(base)
    re = MaterializedView.load(spark, root)
    assert re.hll_cols == ["u"]
    got = {r["k"]: (r["n"], r["u_ndv"]) for r in re.read().collect()}
    assert got == {"a": (3, 2), "b": (1, 1)}


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=mv_event_strategy,
    batch_splits=st.lists(st.integers(min_value=1, max_value=19), max_size=2),
)
@pytest.mark.slow
def test_join_mv_matches_replay_join_aggregate(
    spark, tmp_path_factory, events, batch_splits
):
    """Property: chunked join-MV maintenance (per-FK partials, read-time
    dim join) equals the one-shot join+aggregate over the final table
    state, for ANY legal CDC stream (correct before-images, update-split)
    and ANY batch split. The 'cat' field doubles as the FK; the dim maps
    it to a segment — including one FK the dim lacks (dangling, dropped
    by the inner-join read)."""
    from pyspark.sql import types as T

    from synch_spark.operators.mv import JoinMaterializedView

    dim = {"a": "hot", "b": "cold"}  # "c" is dangling on purpose
    legal, final = _legalize_with_images(events)
    truth = {}
    for row in final.values():
        if row["cat"] not in dim:
            continue
        seg = dim[row["cat"]]
        n, s = truth.get(seg, (0, 0))
        truth[seg] = (n + 1, s + row["amount"])

    jmv = JoinMaterializedView.create(
        spark, str(tmp_path_factory.mktemp("jmvprop")), "db.t", ["cat"],
        ["amount"], dim_source="db.d", dim_key_cols=["dk"],
        dim_group_cols=["segment"],
    )
    vschema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cat", T.StringType()),
            T.StructField("amount", T.LongType()),
        ]
    )
    cuts = sorted(set(c for c in batch_splits if c < len(legal)))
    bounds = [0] + cuts + [len(legal)]
    us = 0
    for lo, hi in zip(bounds, bounds[1:]):
        rows = []
        for action, before, after in legal[lo:hi]:
            us += 1
            rows.append(
                ("db", "t", action,
                 _json.dumps(before) if before else None,
                 _json.dumps(after) if after else None, us)
            )
        raw = spark.createDataFrame(rows, RAW_EVENT_SCHEMA)
        jmv.refresh_from_batch(parse_values(split_updates(raw), vschema))
    dim_df = spark.createDataFrame(
        [Row(dk=k, segment=s) for k, s in dim.items()], "dk string, segment string"
    )
    got = {
        r["segment"]: (r["n"], int(r["amount_sum"]))
        for r in jmv.read(dim_df).collect()
    }
    assert got == truth


# --- change-feed-driven maintenance (refresh_from_changes) -----------------
def _cdc_table(spark, root, retain=4):
    from synch_spark.config import Engine, TableSpec
    from synch_spark.sources.table import ParquetTable

    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, root, retain=retain)
    t.overwrite(
        spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
            F.col("id").cast("double").alias("v"))
        .repartitionByRange(4, "k")
    )
    return t, spec


def _apply(spark, t, spec, rows):
    from synch_spark.operators.cdc_apply import apply_cdc_batch

    batch = spark.createDataFrame(
        rows, "action string, k long, g string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["k", "g", "v"])


def _truth(t):
    return {
        r["g"]: (r["n"], float(r["v_sum"]))
        for r in t.read().groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("v_sum"),
        ).collect()
    }


def test_mv_sync_from_change_feed_matches_truth(spark, tmp_path):
    """MV built once, then maintained purely from the TABLE's change
    feed (never seeing the event stream): after every sync the state
    equals a fresh aggregate over the current table."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"))
    view = mv.MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"])
    v = view.refresh_from_changes(t, pk="k")
    assert v == t.current_version()
    got = {r["g"]: (r["n"], float(r["v_sum"])) for r in view.read().collect()}
    assert got == _truth(t)

    _apply(spark, t, spec, [("insert", 5, "9", -100.0, 10),   # group move 1->9
                            ("delete", 8, "0", 0.0, 10),
                            ("insert", 1000, "9", 50.0, 10)])
    _apply(spark, t, spec, [("delete", 1000, "9", 0.0, 11)])
    view.refresh_from_changes(t, pk="k")
    got = {r["g"]: (r["n"], float(r["v_sum"])) for r in view.read().collect()}
    assert got == _truth(t)
    # idempotent no-op when already current: state version unchanged
    mv_v = view.table.current_version()
    assert view.refresh_from_changes(t, pk="k") == t.current_version()
    assert view.table.current_version() == mv_v


def test_mv_sync_crash_before_state_commit_replays_not_doubles(spark, tmp_path, monkeypatch):
    """Crash AFTER the intent write but BEFORE the state commit: the
    re-run must re-apply the same feed once — never double-fold it."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"))
    view = mv.MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"])
    view.refresh_from_changes(t, pk="k")
    _apply(spark, t, spec, [("insert", 7, "9", 1.0, 10)])

    orig = view.refresh_from_batch

    def boom(*a, **kw):
        raise RuntimeError("crash between intent and state commit")

    monkeypatch.setattr(view, "refresh_from_batch", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        view.refresh_from_changes(t, pk="k")
    monkeypatch.setattr(view, "refresh_from_batch", orig)

    view.refresh_from_changes(t, pk="k")
    got = {r["g"]: (r["n"], float(r["v_sum"])) for r in view.read().collect()}
    assert got == _truth(t)


def test_mv_sync_past_retention_falls_back_to_full_build(spark, tmp_path):
    """A consumer that lags past the source's retention window can't
    replay the feed — sync must rebuild from the snapshot, and the
    result must still match truth."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"), retain=2)
    view = mv.MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"])
    view.refresh_from_changes(t, pk="k")
    for i in range(4):  # push the synced version out of the window
        _apply(spark, t, spec, [("insert", 5000 + i, "9", float(i), 10 + i)])
    view.refresh_from_changes(t, pk="k")
    got = {r["g"]: (r["n"], float(r["v_sum"])) for r in view.read().collect()}
    assert got == _truth(t)


def test_mv_sync_minmax_delete_recomputes_from_base(spark, tmp_path):
    """min/max columns through the change-feed path: a delete of the
    group max triggers the semi-join-pruned recompute (sync passes the
    post-apply base automatically)."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"))
    view = mv.MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"], minmax_cols=["v"])
    view.refresh_from_changes(t, pk="k")
    # k=199 is the max of group "3" (199 % 4 == 3); delete it
    _apply(spark, t, spec, [("delete", 199, "3", 0.0, 10)])
    view.refresh_from_changes(t, pk="k")
    got = {r["g"]: (r["v_min"], r["v_max"]) for r in view.read().collect()}
    assert got["3"] == (3.0, 195.0)


def test_join_mv_sync_from_change_feed(spark, tmp_path):
    """Join MV maintained from the FACT table's change feed: partials
    fold from the feed with zero joins, a dim change needs no refresh
    at all, and the read equals a fresh join-aggregate over truth."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"))
    dim = spark.createDataFrame(
        [("0", "even"), ("1", "odd"), ("2", "even"), ("3", "odd"),
         ("9", "hot")],
        "gk string, label string")
    view = mv.JoinMaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"],
        "db.dim", ["gk"], ["label"])
    view.refresh_from_changes(t, pk="k")

    def truth():
        return {
            r["label"]: (r["n"], float(r["v_sum"]))
            for r in t.read().join(dim, F.col("g") == F.col("gk"))
            .groupBy("label").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).alias("v_sum"),
            ).collect()
        }

    got = {r["label"]: (r["n"], float(r["v_sum"]))
           for r in view.read(dim).collect()}
    assert got == truth()

    _apply(spark, t, spec, [("insert", 5, "9", -100.0, 10),
                            ("delete", 8, "0", 0.0, 10)])
    view.refresh_from_changes(t, pk="k")
    got = {r["label"]: (r["n"], float(r["v_sum"]))
           for r in view.read(dim).collect()}
    assert got == truth()


def test_mv_full_rebuild_rebaselines_sync_cursor(spark, tmp_path):
    """The double-count regression: sync to v_a, then an out-of-band
    full_build (the CLI refresh path) + mark_synced, then more merges
    and another sync. Without the re-baseline the second sync would
    re-fold the (v_a, rebuild] interval the rebuild already contains."""
    t, spec = _cdc_table(spark, str(tmp_path / "t"))
    view = mv.MaterializedView.create(
        spark, str(tmp_path / "mv"), "db.t", ["g"], ["v"])
    view.refresh_from_changes(t, pk="k")

    _apply(spark, t, spec, [("insert", 5, "9", -100.0, 10),
                            ("delete", 8, "0", 0.0, 10)])
    # out-of-band anti-entropy rebuild (what `mv refresh` does)
    src_v = t.current_version()
    view.full_build(t.read())
    view.mark_synced(src_v)

    _apply(spark, t, spec, [("insert", 9, "9", 42.0, 11)])
    view.refresh_from_changes(t, pk="k")
    got = {r["g"]: (r["n"], float(r["v_sum"])) for r in view.read().collect()}
    assert got == _truth(t), "sync after rebuild double-folded the feed"
